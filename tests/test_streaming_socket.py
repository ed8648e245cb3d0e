"""Round-7: the streaming twins against a LIVE push source — a real TCP
socket feed (the one unbounded network source available without a
broker), not file replay. A local server thread writes CSV lines in two
waves; the query ingests them through ≥2 micro-batches and the stateful
counter-rate twin produces exactly the batch-equivalent fold.

The socket source is at-most-once and non-recoverable (documented in
streaming/sources.py) — recovery evidence stays with the file-replay
checkpoint-kill tests; this adds the live-push dimension.
"""

import socket
import threading
import time

DAY = 1_704_067_200_000
SCHEMA = "event_id long, event_type string, t_ms long, value double"


class _Feed:
    """One-client TCP server: accepts, then sends whatever lines are
    queued via send(); close() ends the stream."""

    def __init__(self):
        self.srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(1)
        self.port = self.srv.getsockname()[1]
        self.conn = None
        self._accept_thread = threading.Thread(target=self._accept, daemon=True)
        self._accept_thread.start()

    def _accept(self):
        self.conn, _ = self.srv.accept()

    def send(self, rows):
        deadline = time.time() + 30
        while self.conn is None:
            if time.time() > deadline:
                raise TimeoutError("no client connected")
            time.sleep(0.05)
        payload = "".join(
            f"{eid},{et},{t},{v}\n" for eid, et, t, v in rows
        )
        self.conn.sendall(payload.encode())

    def close(self):
        try:
            if self.conn is not None:
                self.conn.close()
        finally:
            self.srv.close()


def _drain_until(progress, q, want_inputs, timeout_s=60):
    """Socket batches arrive asynchronously — wait until the query's
    OWN progress events show ``want_inputs`` source rows processed
    (processAllAvailable does not apply: the socket source always
    reports 'more may come'). Gating on progress rather than counting
    sink rows kills the r7 flake risk: if a wave splits across
    micro-batches, the sink briefly holds MORE update rows than one
    per wave and a row-count gate would release the next wave early
    (ADVICE r7). Progress is emitted after the batch commits — sink
    side effects are durable by the time the count clears. The count
    comes from the session's progress listener, not the bounded
    ``recentProgress`` ring, which idle triggers evict batches from."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        done = sum(progress.input_rows(q).values())
        if done >= want_inputs:
            return
        time.sleep(0.25)
    raise TimeoutError(f"query never processed {want_inputs} input rows")


def test_counter_rate_over_live_socket(spark, progress, tmp_path):
    from elasticsearch_drift_plugin_spark.streaming.counter_rate import (
        counter_rate_stream,
    )
    from elasticsearch_drift_plugin_spark.streaming.sources import (
        socket_flows,
    )

    feed = _Feed()
    out_dir = f"{tmp_path}/out"

    def sink(batch_df, _bid):
        if batch_df.count():
            batch_df.coalesce(1).write.mode("append").parquet(out_dir)

    stream = socket_flows(spark, "127.0.0.1", feed.port, SCHEMA)
    q = (
        counter_rate_stream(stream, dims=("event_type",), reset_mod=10)
        .writeStream.outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ck")
        .trigger(processingTime="250 milliseconds")
        .foreachBatch(sink)
        .start()
    )
    try:
        # wave 1: two in-order samples -> inc 0 + 5
        feed.send([(1, "s", DAY + 1000, 0.004), (2, "s", DAY + 2000, 0.005)])
        _drain_until(progress, q, 2)
        # wave 2 (a later micro-batch): cum 14 -> counter 4 < 9 => reset,
        # inc 4; plus one cross-batch LATE sample that must drop loudly
        feed.send([(3, "s", DAY + 3000, 0.005), (4, "s", DAY + 1500, 0.009)])
        _drain_until(progress, q, 4)
    finally:
        q.stop()
        feed.close()

    rows = spark.read.parquet(out_dir).collect()
    folded = {}
    for r in rows:
        n, inc, late = folded.get(r.bucket, (0, 0, 0))
        folded[r.bucket] = (n + r.n_samples, inc + r.increase, late + r.n_late)
    # identical to the file-replay twin's fold: 3 processed samples,
    # increases 0+5+4, the late arrival counted, never merged
    assert folded == {DAY: (3, 9, 1)}
    # and the live feed really spanned >= 2 micro-batches (cross-batch
    # state, not one big batch): the sink appended one update per wave
    assert len(rows) >= 2


def test_socket_continuous_bounded_state(spark, tmp_path):
    """~15 s mini continuous soak (the full 3-minute run lives in
    tools/soak_socket.py; SCALE.md records its numbers): a steady live
    push over a FIXED key space must show (a) strictly monotone batchIds
    and (b) stateful-operator rows bounded by the KEY cardinality — one
    state row per series, never per sample — while input keeps growing.
    Gates on the query's own progress log only (no wall-clock row
    expectations), so host load cannot flake it."""
    import threading

    from elasticsearch_drift_plugin_spark.streaming.counter_rate import (
        counter_rate_stream,
    )
    from elasticsearch_drift_plugin_spark.streaming.sources import (
        socket_flows,
    )

    n_keys = 8
    feed = _Feed()
    stop = threading.Event()
    sent = {"n": 0}

    def pump():
        eid = 0
        t_ms = DAY
        while not stop.is_set():
            try:
                feed.send(
                    [
                        (eid + i, f"k{(eid + i) % n_keys}", t_ms + i * 5,
                         float((eid + i) % 97))
                        for i in range(100)
                    ]
                )
            except (OSError, TimeoutError):
                return
            sent["n"] += 100
            eid += 100
            t_ms += 500
            time.sleep(0.1)

    q = (
        counter_rate_stream(
            socket_flows(spark, "127.0.0.1", feed.port, SCHEMA),
            dims=("event_type",),
            bucket_ms=86_400_000,
            reset_mod=1_000_000_000,
        )
        .writeStream.outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ck")
        .trigger(processingTime="300 milliseconds")
        .foreachBatch(lambda df, bid: df.count())
        .start()
    )
    pump_t = threading.Thread(target=pump, daemon=True)
    pump_t.start()
    progress = {}
    try:
        deadline = time.time() + 90
        # run until the query has committed >= 2000 input rows across
        # >= 4 distinct batches — enough to observe state settling
        while time.time() < deadline:
            for p in q.recentProgress:
                progress[int(p["batchId"])] = p
            done = sum(int(p["numInputRows"]) for p in progress.values())
            if done >= 2000 and len(progress) >= 4:
                break
            time.sleep(0.25)
        else:
            raise TimeoutError("query never processed 2000 rows / 4 batches")
    finally:
        stop.set()
        pump_t.join(timeout=5)
        q.stop()
        feed.close()

    bids = sorted(progress)
    # monotone, gapless-enough progress (batch ids strictly increase)
    assert bids == sorted(set(bids)) and len(bids) >= 4
    # bounded state: every batch's state rows <= key cardinality (one
    # 1-day bucket by construction), and the LAST batch is no bigger
    # than the first warm batch — growth stopped once keys were seen
    srows = [
        int(p["stateOperators"][0]["numRowsTotal"])
        for p in (progress[b] for b in bids)
        if p.get("stateOperators")
    ]
    assert srows and max(srows) <= n_keys
    warm = [s for s in srows if s == n_keys]
    assert warm, f"state never reached the key count: {srows}"
    assert srows[-1] <= n_keys
