"""Streaming proportional_sum: drive a bounded file stream through the
watermarked aggregation and compare against the batch operator (same data ⇒
same buckets), plus late-data drop behavior."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_drift_plugin_spark import proportional_sum
from elasticsearch_drift_plugin_spark.sources.flows import parse_flow_json
from elasticsearch_drift_plugin_spark.sources.netflow import parse_netflow_v5
from elasticsearch_drift_plugin_spark.streaming import proportional_sum_stream

SCHEMA = "start_ms long, end_ms long, value double, sampling double"

HOUR = 3_600_000
# 2024-01-01: buckets at epoch 0 sit exactly on Spark's initial watermark and
# are treated as late — degenerate input, so anchor test flows in real time.
BASE = 1_704_067_200_000


@pytest.fixture()
def flow_rows():
    # flows across 3 hourly buckets incl. zero-duration + boundary-end
    return [
        (BASE, BASE + 2 * HOUR, 10.0, None),
        (BASE + HOUR, BASE + HOUR + 1800_000, 4.0, 2.0),
        (BASE + 2 * HOUR, BASE + 2 * HOUR, 7.0, None),
        (BASE, BASE + HOUR, 6.0, None),
    ]


def _run_stream(spark, rows, tmpdir, **kw):
    src = f"{tmpdir}/src"
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = proportional_sum_stream(
        stream, "start_ms", "end_ms", "value", "sampling", **kw
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("psum_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return {r.key: (r.doc_count, r.value) for r in spark.sql("SELECT * FROM psum_out").collect()}


def test_stream_matches_batch(spark, flow_rows, tmp_path):
    got = _run_stream(spark, flow_rows, tmp_path, interval=HOUR)
    batch = proportional_sum(
        spark.createDataFrame(flow_rows, SCHEMA),
        "start_ms",
        "end_ms",
        "value",
        "sampling",
        interval=HOUR,
    ).collect()
    expected = {r.key: (r.doc_count, r.value) for r in batch}
    assert got == expected
    assert got[BASE + 2 * HOUR][0] == 2  # terminal zero-overlap + zero-duration doc


def test_stream_update_accumulates_across_batches(spark, tmp_path):
    src = f"{tmp_path}/src2"
    spark.createDataFrame([(BASE, BASE + HOUR, 2.0, None)], SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    # the flow's own terminal bucket advances the watermark past its first
    # bucket, so a tight delay would drop the second batch's update as late
    # (that behavior is covered below) — widen it to observe accumulation
    agg = proportional_sum_stream(
        stream, "start_ms", "end_ms", "value", "sampling", interval=HOUR,
        watermark_delay="2 hours",
    )
    q = agg.writeStream.outputMode("update").format("memory").queryName("acc_out").start()
    try:
        q.processAllAvailable()
        spark.createDataFrame([(BASE, BASE + HOUR, 3.0, None)], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM acc_out WHERE key = 1704067200000 ORDER BY doc_count DESC LIMIT 1"
    ).collect()
    # update mode re-emits the bucket with the accumulated state
    assert rows[0].doc_count == 2 and rows[0].value == pytest.approx(5.0)


def test_parse_flow_json_shapes_stream_input(spark):
    raw = spark.createDataFrame(
        [
            (
                '{"netflow": {"first_switched": 100, "last_switched": 450,'
                ' "bytes": 350.0, "sampling_interval": 1.0}}',
            )
        ],
        "value string",
    )
    flows = parse_flow_json(raw)
    assert flows.columns == ["start_ms", "end_ms", "value", "sampling"]
    out = proportional_sum(
        flows, "start_ms", "end_ms", "value", "sampling", interval=100, start=0, end=500
    ).collect()
    assert [(r.key, r.value) for r in out] == [(100, 100.0), (200, 100.0), (300, 100.0), (400, 50.0)]


def test_stream_drops_late_bucket_updates(spark, tmp_path):
    """Documented divergence from batch: once the watermark passes a bucket,
    later flows crediting it are dropped (batch replay reconciles)."""
    src = f"{tmp_path}/src3"
    spark.createDataFrame([(BASE, BASE + 3 * HOUR, 9.0, None)], SCHEMA).coalesce(1).write.parquet(
        src
    )
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = proportional_sum_stream(
        stream, "start_ms", "end_ms", "value", "sampling", interval=HOUR,
        watermark_delay="10 minutes",
    )
    q = agg.writeStream.outputMode("update").format("memory").queryName("late_out").start()
    try:
        q.processAllAvailable()
        # watermark is now ~BASE+3h-10min; this flow's buckets are all older
        spark.createDataFrame([(BASE, BASE + HOUR, 100.0, None)], SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM late_out WHERE key = 1704067200000").collect()
    # only the first flow's contribution ever lands in bucket BASE
    assert all(r.doc_count == 1 for r in rows)


def test_streaming_netflow_v5_end_to_end(spark, tmp_path):
    """Binary v5 datagrams through a file stream → native parse →
    watermarked proportional_sum: the full reference ingestion north star."""
    from tests.test_netflow import v5_packet

    pkt = v5_packet(
        [{"src": 1, "dst": 2, "octets": 350, "first": 0, "last": 3 * HOUR}],
        sys_uptime=0, unix_secs=BASE // 1000, unix_nsecs=0,
    )
    src = f"{tmp_path}/nf"
    spark.createDataFrame([(pkt,)], "value binary").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("value binary").parquet(src)
    flows = parse_netflow_v5(stream)
    agg = proportional_sum_stream(flows, "start_ms", "end_ms", "value", interval=HOUR)
    q = agg.writeStream.outputMode("update").format("memory").queryName("nf_out").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.key: r.value for r in spark.sql("SELECT * FROM nf_out").collect()}
    third = pytest.approx(350.0 / 3)
    assert got[BASE] == third and got[BASE + HOUR] == third and got[BASE + 2 * HOUR] == third
    assert got[BASE + 3 * HOUR] == 0.0  # zero-overlap terminal bucket


def test_keyed_json_serving_edge(spark):
    import json

    from elasticsearch_drift_plugin_spark import keyed_json

    df = spark.createDataFrame(
        [(100, 450, 350.0, None)], SCHEMA
    )
    res = proportional_sum(
        df, "start_ms", "end_ms", "value", "sampling", interval=100, start=0, end=500
    )
    obj = json.loads(keyed_json(res).collect()[0]["keyed"])
    assert list(obj) == ["100", "200", "300", "400"]
    assert obj["400"]["value"] == 50.0 and obj["400"]["doc_count"] == 1


def test_flow_sessions_stream_merges_and_closes(spark, tmp_path):
    from elasticsearch_drift_plugin_spark.streaming.flow_sessions import (
        flow_sessions_stream,
    )

    schema = "k string, start_ms long, end_ms long, value double"
    src = f"{tmp_path}/sess"
    spark.createDataFrame(
        [("A", 0, 10, 1.0), ("A", 15, 20, 2.0), ("B", 0, 5, 9.0)], schema
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    agg = flow_sessions_stream(stream, ["k"], "start_ms", "end_ms", "value", gap_ms=100)
    q = agg.writeStream.outputMode("update").format("memory").queryName("sess_out").start()
    try:
        q.processAllAvailable()
        first = {
            (r.k, r.session_start): (r.session_end, r.n_flows, r.value, r.open)
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
        # both fragments of A merged into one open session; B open too
        assert first[("A", 0)] == (20, 2, 3.0, True)
        assert first[("B", 0)] == (5, 1, 9.0, True)
        # second batch: far-away fragment closes A's session and opens a new one
        spark.createDataFrame([("A", 500, 510, 5.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sess_out WHERE k = 'A'").collect()
    by = {(r.session_start, r.open): (r.session_end, r.n_flows, r.value) for r in rows}
    assert by[(0, False)] == (20, 2, 3.0)  # closed with final totals
    assert by[(500, True)] == (510, 1, 5.0)  # new open session


def test_bounded_replay_equals_batch(spark):
    """The driver-visible bounded-replay queries equal their batch twins on
    the same sf0.001 data — the streaming/batch equivalence contract."""
    from elasticsearch_drift_plugin_spark.operators.sessionize import sessionize
    from elasticsearch_drift_plugin_spark.sources.flows import events_flows
    from elasticsearch_drift_plugin_spark.streaming import bounded

    sf = "/root/testdata/sf0.001"
    got_psum = [tuple(r) for r in bounded.stream_psum_6h(spark, sf).collect()]
    batch = proportional_sum(
        events_flows(spark, sf), "start_ms", "end_ms", "value", "sampling",
        interval=6 * HOUR, offset=1, quantize=4,
    ).select("key", "doc_count", "value").orderBy("key")
    assert got_psum == [tuple(r) for r in batch.collect()]
    assert len(got_psum) > 0

    got_sess = [tuple(r) for r in bounded.stream_flow_sessions(spark, sf).collect()]
    batch_sess = sessionize(
        events_flows(spark, sf), ["event_type", "user_id"],
        "start_ms", "end_ms", "value", gap_ms=HOUR, order_tiebreak=("flow_id",),
    )
    assert got_sess == [tuple(r) for r in batch_sess.collect()]
    assert len(got_sess) > 0


def test_append_replay_emits_buckets_the_last_batch_finalized(spark, tmp_path):
    """A watermarked append-mode replay: the one data batch moves the
    watermark to BASE+5h-10m, and the buckets it finalizes are emitted by
    the no-data batch that follows, which the replay must not skip."""
    from elasticsearch_drift_plugin_spark.streaming.bounded import run_available_now

    src = f"{tmp_path}/flows"
    spark.createDataFrame(
        [(BASE, BASE + 2 * HOUR, 8.0, None), (BASE + 4 * HOUR, BASE + 5 * HOUR, 3.0, None)],
        SCHEMA,
    ).coalesce(1).write.parquet(src)
    agg = proportional_sum_stream(
        spark.readStream.schema(SCHEMA).parquet(src),
        "start_ms", "end_ms", "value", "sampling",
        interval=HOUR, watermark_delay="10 minutes", quantize=6,
    )
    got = {r.key for r in run_available_now(agg, "append").collect()}
    assert got == {BASE, BASE + HOUR, BASE + 2 * HOUR, BASE + 4 * HOUR}


def test_replay_leaves_no_sink_view(spark, tmp_path):
    """No ``__bounded_`` memory-sink view outlives a replay, and the frame
    the replay returns, and a frame derived from it, still read the sink's
    rows on every action."""
    from elasticsearch_drift_plugin_spark.streaming.bounded import run_available_now

    src = f"{tmp_path}/flows"
    spark.createDataFrame(
        [(BASE, BASE + 2 * HOUR, 8.0, None), (BASE + 4 * HOUR, BASE + 5 * HOUR, 3.0, None)],
        SCHEMA,
    ).coalesce(1).write.parquet(src)
    agg = proportional_sum_stream(
        spark.readStream.schema(SCHEMA).parquet(src),
        "start_ms", "end_ms", "value", "sampling", interval=HOUR, quantize=6,
    )
    tbl = run_available_now(agg, "complete")
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("__bounded_")]
    rows = tbl.orderBy("key").collect()
    assert len(rows) == 5 and rows == tbl.orderBy("key").collect()
    assert tbl.where(F.col("key") > BASE).count() == 4


def test_batch_sessionize_golden(spark):
    from elasticsearch_drift_plugin_spark.operators.sessionize import sessionize

    schema = "k string, start_ms long, end_ms long, value double, fid long"
    df = spark.createDataFrame(
        [
            ("A", 0, 10, 1.0, 1),
            ("A", 15, 20, 2.0, 2),   # within gap of session 1
            ("A", 500, 510, 5.0, 3),  # new session
            ("A", 5, 300, 1.5, 4),    # overlaps session 1, extends its end
            ("B", 0, 5, 9.0, 5),
        ],
        schema,
    )
    out = sessionize(df, ["k"], "start_ms", "end_ms", "value", gap_ms=100, order_tiebreak=("fid",))
    got = [(r.k, r.session_id, r.session_start, r.session_end, r.n_flows, r.value) for r in out.collect()]
    # sorted A fragments: (0,10),(5,300),(15,20) chain into session 1 (running
    # max end 300); (500,510) starts past 300+gap so it opens session 2
    assert got == [
        ("A", 1, 0, 300, 3, 4.5),
        ("A", 2, 500, 510, 1, 5.0),
        ("B", 1, 0, 5, 1, 9.0),
    ]


def test_stream_rate_source_update_mode(spark):
    """Beyond bounded file replay: drive proportional_sum_stream from the
    built-in rate-micro-batch source (deterministic rows per trigger) in
    UPDATE mode — the continuous-ingest shape SCALE.md's Kafka recipe maps
    onto (`readStream.format('kafka')` swaps in for the source with zero
    change to the operator)."""
    import time

    rows_per_batch = 64
    n_vals = 128  # only values < n_vals contribute (fixed expected state)
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", BASE)
        .load()
        .where(F.col("value") < n_vals)
        .select(
            (F.lit(BASE) + (F.col("value") % 48) * 1_800_000).alias("start_ms"),
            (F.lit(BASE) + (F.col("value") % 48) * 1_800_000 + 5_400_000).alias("end_ms"),
            F.lit(3.0).alias("value"),
            F.lit(None).cast("double").alias("sampling"),
        )
    )
    agg = proportional_sum_stream(
        stream, "start_ms", "end_ms", "value", "sampling",
        interval=HOUR, watermark_delay="1 day",  # wide: accumulation, not lateness
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("rate_out")
        .start()
    )
    try:
        batch_rows = [
            (BASE + (v % 48) * 1_800_000, BASE + (v % 48) * 1_800_000 + 5_400_000,
             3.0, None)
            for v in range(n_vals)
        ]
        expected = {
            r.key: (r.doc_count, r.value)
            for r in proportional_sum(
                spark.createDataFrame(batch_rows, SCHEMA),
                "start_ms", "end_ms", "value", "sampling", interval=HOUR,
            ).collect()
        }
        deadline = time.time() + 120
        got = {}
        while time.time() < deadline:
            # update mode re-emits a key on each revision; latest wins
            got = {
                r.key: (r.doc_count, r.value)
                for r in spark.sql("SELECT * FROM rate_out").collect()
            }
            if got == expected:
                break
            time.sleep(0.5)
        assert got == expected
    finally:
        q.stop()


def test_stream_cardinality_sketch_equals_batch(spark, tmp_path):
    """DataSketches HLL aggregates under Structured Streaming; sketches are
    deterministic, so a bounded replay must produce the exact same estimate
    as the batch aggregation over the same rows."""
    from elasticsearch_drift_plugin_spark.operators import sketches

    src = f"{tmp_path}/hll_src"
    rows = spark.range(5000).selectExpr(
        "id % 5 AS grp", "(id * 2654435761) % 1200 AS uid"
    )
    rows.coalesce(2).write.parquet(src)
    batch = {
        r["grp"]: r["est"]
        for r in sketches.cardinality_approx(
            spark.read.parquet(src), ["grp"], "uid"
        ).collect()
    }
    st = spark.readStream.schema("grp long, uid long").parquet(src)
    agg = st.groupBy("grp").agg(
        F.expr(f"hll_sketch_estimate(hll_sketch_agg(uid, {sketches.LG_K}))").alias("est")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hll_stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["grp"]: r["est"]
        for r in spark.sql("SELECT * FROM hll_stream_out").collect()
    }
    assert got == batch


def test_stream_vector_percolate_matches_batch(spark, tmp_path):
    # stateless map-only stream: fired alerts == the batch twin exactly
    import shutil

    from elasticsearch_drift_plugin_spark.operators.similarity import (
        vector_percolate,
    )
    from elasticsearch_drift_plugin_spark.streaming.bounded import (
        stream_vector_percolate,
    )

    d = str(tmp_path / "sf")
    shutil.copytree("/root/testdata/sf0.001", d)
    batch = vector_percolate(
        spark.read.parquet(f"{d}/embeddings.parquet")
    ).collect()
    stream = stream_vector_percolate(spark, d).collect()
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]
    assert len(batch) > 0  # the threshold actually fires on this corpus
