"""Continuous-trigger streaming evidence: the AvailableNow bounded-replay
twins prove batch equivalence; these tests prove the SAME operators run
correctly under a real ``trigger(processingTime=...)`` — multiple live
micro-batches, advancing watermark, late-data drop — i.e. the production
posture SCALE.md's Kafka recipe maps onto (swap the source, keep the
operator).

Reference tie-in: the reference's index is written continuously and queried
at request time (SURVEY.md §7.5); Structured Streaming with a processing-time
trigger is the Spark-native continuous half of that split.
"""

import time

import pytest
from pyspark.sql import functions as F

from elasticsearch_drift_plugin_spark import proportional_sum
from elasticsearch_drift_plugin_spark.streaming import proportional_sum_stream
from elasticsearch_drift_plugin_spark.streaming.flow_sessions import (
    flow_sessions_stream,
)

SCHEMA = "start_ms long, end_ms long, value double, sampling double"
HOUR = 3_600_000
BASE = 1_704_067_200_000  # 2024-01-01 (epoch-0 buckets sit on the initial watermark)


def _wait_for(pred, timeout=120.0, poll=0.3):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(poll)
    return False


def _nonempty_batches(progress, q):
    """Ids of the batches that actually ingested rows (idle triggers emit
    0-row progress records)."""
    return [b for b, n in progress.input_rows(q).items() if n > 0]


def test_psum_processing_time_trigger_multi_batch(spark, progress):
    """proportional_sum_stream under trigger(processingTime=...): the
    rate-micro-batch source emits a fixed row count PER TRIGGER, so reaching
    the expected aggregate state requires >=2 live micro-batches — asserted
    from the query's progress log, along with an advancing event-time
    watermark."""
    rows_per_batch = 32
    n_vals = 64  # rows 0..63 contribute => exactly 2 ingesting micro-batches
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", BASE)
        .load()
        .where(F.col("value") < n_vals)
        .select(
            (F.lit(BASE) + (F.col("value") % 24) * 1_800_000).alias("start_ms"),
            (F.lit(BASE) + (F.col("value") % 24) * 1_800_000 + 5_400_000).alias(
                "end_ms"
            ),
            F.lit(2.0).alias("value"),
            F.lit(None).cast("double").alias("sampling"),
        )
    )
    # quantize: streaming accumulates per-bucket sums in micro-batch arrival
    # order, batch in scan order — quantized contributions sum as exact
    # integers, so the comparison is bit-for-bit instead of ulp-fuzzy
    agg = proportional_sum_stream(
        stream, "start_ms", "end_ms", "value", "sampling",
        interval=HOUR, watermark_delay="1 day",  # wide: accumulation, not lateness
        quantize=6,
    )
    q = (
        agg.writeStream.outputMode("update")
        .trigger(processingTime="300 milliseconds")
        .format("memory")
        .queryName("trig_psum")
        .start()
    )
    try:
        batch_rows = [
            (
                BASE + (v % 24) * 1_800_000,
                BASE + (v % 24) * 1_800_000 + 5_400_000,
                2.0,
                None,
            )
            for v in range(n_vals)
        ]
        expected = {
            r.key: (r.doc_count, r.value)
            for r in proportional_sum(
                spark.createDataFrame(batch_rows, SCHEMA),
                "start_ms", "end_ms", "value", "sampling", interval=HOUR,
                quantize=6,
            ).collect()
        }

        def converged():
            got = {
                r.key: (r.doc_count, r.value)
                for r in spark.sql("SELECT * FROM trig_psum").collect()
            }
            return got == expected

        assert _wait_for(converged), (
            "streaming state never reached the batch-operator result under "
            "the processingTime trigger"
        )
        # >=2 micro-batches actually ingested rows under the live trigger
        assert _wait_for(lambda: len(_nonempty_batches(progress, q)) >= 2)
        # the event-time watermark advanced off the epoch once batches flowed
        def watermark_advanced():
            p = q.lastProgress
            wm = (p or {}).get("eventTime", {}).get("watermark", "")
            return wm.startswith("2023-12-31") or wm.startswith("2024-01-01")

        assert _wait_for(watermark_advanced, timeout=30)
    finally:
        q.stop()


def test_psum_processing_time_trigger_drops_late(spark, progress, tmp_path):
    """Watermark correctness under a live trigger: after the watermark passes
    a bucket, a file landing later that credits it is dropped (the documented
    divergence from batch; batch replay reconciles)."""
    src = f"{tmp_path}/trig_late"
    spark.createDataFrame(
        [(BASE, BASE + 3 * HOUR, 9.0, None)], SCHEMA
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = proportional_sum_stream(
        stream, "start_ms", "end_ms", "value", "sampling",
        interval=HOUR, watermark_delay="10 minutes",
    )
    q = (
        agg.writeStream.outputMode("update")
        .trigger(processingTime="300 milliseconds")
        .format("memory")
        .queryName("trig_late")
        .start()
    )
    try:
        # batch 1: the 3h flow lands and the watermark moves to ~BASE+3h-10m
        assert _wait_for(
            lambda: spark.sql("SELECT count(*) c FROM trig_late").collect()[0].c >= 3
        )
        assert _wait_for(
            lambda: (q.lastProgress or {})
            .get("eventTime", {})
            .get("watermark", "")
            >= "2024-01-01T02:50:00.000Z"
        )
        # batch 2 (a later trigger): flow crediting only already-closed buckets
        spark.createDataFrame(
            [(BASE, BASE + HOUR, 100.0, None)], SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        assert _wait_for(lambda: len(_nonempty_batches(progress, q)) >= 2)
        # give the trigger one more cycle to (not) emit the late update
        time.sleep(1.0)
        rows = spark.sql(
            f"SELECT * FROM trig_late WHERE key = {BASE}"
        ).collect()
        assert rows and all(r.doc_count == 1 for r in rows)
    finally:
        q.stop()


def test_flow_sessions_processing_time_trigger(spark, progress, tmp_path):
    """applyInPandasWithState sessionization under a live processingTime
    trigger: session merges within a micro-batch, then a later micro-batch
    closes the idle session and opens a new one — same assertions as the
    processAllAvailable twin, but driven by the real trigger clock."""
    schema = "k string, start_ms long, end_ms long, value double"
    src = f"{tmp_path}/trig_sess"
    spark.createDataFrame(
        [("A", 0, 10, 1.0), ("A", 15, 20, 2.0), ("B", 0, 5, 9.0)], schema
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    agg = flow_sessions_stream(stream, ["k"], "start_ms", "end_ms", "value", gap_ms=100)
    q = (
        agg.writeStream.outputMode("update")
        .trigger(processingTime="300 milliseconds")
        .format("memory")
        .queryName("trig_sess")
        .start()
    )
    try:
        def first_batch_done():
            rows = spark.sql("SELECT * FROM trig_sess").collect()
            got = {
                (r.k, r.session_start): (r.session_end, r.n_flows, r.value, r.open)
                for r in rows
            }
            return got.get(("A", 0)) == (20, 2, 3.0, True) and got.get(
                ("B", 0)
            ) == (5, 1, 9.0, True)

        assert _wait_for(first_batch_done)
        # a later trigger's file: far fragment closes A's session, opens a new one
        spark.createDataFrame([("A", 500, 510, 5.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        def second_batch_done():
            rows = spark.sql("SELECT * FROM trig_sess WHERE k = 'A'").collect()
            by = {
                (r.session_start, r.open): (r.session_end, r.n_flows, r.value)
                for r in rows
            }
            return by.get((0, False)) == (20, 2, 3.0) and by.get((500, True)) == (
                510,
                1,
                5.0,
            )

        assert _wait_for(second_batch_done)
        assert _wait_for(lambda: len(_nonempty_batches(progress, q)) >= 2)
    finally:
        q.stop()


def test_psum_append_mode_emits_finalized_buckets_once(spark, tmp_path):
    """APPEND output mode: a bucket is emitted exactly once, only after the
    watermark passes it — the mode a downstream sink (parquet/Kafka)
    consumes. File 1's early buckets finalize when file 2's later data
    advances the watermark; the terminal open buckets stay unemitted."""
    src = f"{tmp_path}/append_src"
    spark.createDataFrame(
        [(BASE, BASE + 2 * HOUR, 8.0, None)], SCHEMA
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = proportional_sum_stream(
        stream, "start_ms", "end_ms", "value", "sampling",
        interval=HOUR, watermark_delay="10 minutes", quantize=6,
    )
    q = (
        agg.writeStream.outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .format("memory").queryName("append_out").start()
    )
    try:
        # after batch 1 the watermark is BASE+1h50m (max event key_ts
        # BASE+2h minus the 10m delay): buckets keyed BASE and BASE+1h are
        # final and emitted by the follow-up no-data micro-batch; the
        # terminal bucket BASE+2h (key_ts == 2h > watermark) stays open
        assert _wait_for(
            lambda: {r.key for r in spark.sql("SELECT * FROM append_out").collect()}
            == {BASE, BASE + HOUR},
            timeout=60,
        )
        # later file pushes the watermark past bucket BASE+1h
        spark.createDataFrame(
            [(BASE + 4 * HOUR, BASE + 5 * HOUR, 3.0, None)], SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        assert _wait_for(
            lambda: {r.key for r in spark.sql("SELECT * FROM append_out").collect()}
            >= {BASE, BASE + HOUR, BASE + 2 * HOUR},
            timeout=60,
        )
        rows = spark.sql("SELECT * FROM append_out").collect()
        by = {}
        for r in rows:
            by.setdefault(r.key, []).append((r.doc_count, r.value))
        # exactly once per finalized bucket, with the final accumulated value
        assert all(len(v) == 1 for v in by.values()), by
        assert by[BASE] == [(1, 4.0)]
        assert by[BASE + HOUR] == [(1, 4.0)]
        assert by[BASE + 2 * HOUR] == [(1, 0.0)]  # terminal zero-overlap
    finally:
        q.stop()
