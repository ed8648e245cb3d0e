"""NetFlow v5 and IPFIX export windows through the streaming path: the write
family of the ``flows`` workload.

Set-up writes seeded datagram files built from the public wire formats
(NetFlow v5's fixed 24-byte header and 48-byte records; IPFIX per RFC 7011
with the template set ahead of the data set in each message), one
directory per export window. Each op ingests one window:
``parse_flows`` over a file stream -> ``proportional_sum_stream`` ->
``run_available_now`` -> ``write_histogram(mode="append")``, and then
range-reads the window back from the sink with ``read_histogram``, the
read a dashboard makes right after ingest. The read-back rows are checked
against ``oracle.psum_oracle_sql`` over the generator's ground-truth flow
table.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import tables

MIN = 60_000
V5_PER_DATAGRAM = 30
IPFIX_PER_MESSAGE = 25
V5_SHARE = 2 / 3
# flows per export window and windows generated per run
SCALES = {"full": (12_000, 6), "warm": (12_000, 2), "tiny": (300, 3)}
# export windows per cycle: the windows get cheaper as the JVM warms, and
# the cycle's total holds steadier than any one of them
CYCLE = 3
WINDOW_MS = 5 * MIN
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
INTERVAL = MIN
IPFIX_TEMPLATE = [(152, 8), (153, 8), (1, 4), (34, 4), (4, 1)]


V5_HEADER = np.dtype([
    ("version", ">u2"), ("count", ">u2"), ("sys_uptime", ">u4"), ("unix_secs", ">u4"),
    ("unix_nsecs", ">u4"), ("flow_seq", ">u4"), ("engine_type", "u1"), ("engine_id", "u1"),
    ("sampling", ">u2"),
])
V5_RECORD = np.dtype([
    ("src", ">u4"), ("dst", ">u4"), ("nexthop", ">u4"), ("input", ">u2"), ("output", ">u2"),
    ("pkts", ">u4"), ("octets", ">u4"), ("first", ">u4"), ("last", ">u4"),
    ("sport", ">u2"), ("dport", ">u2"), ("pad1", "u1"), ("tcp_flags", "u1"), ("proto", "u1"),
    ("tos", "u1"), ("src_as", ">u2"), ("dst_as", ">u2"), ("src_mask", "u1"),
    ("dst_mask", "u1"), ("pad2", ">u2"),
])
IPFIX_HEADER = np.dtype([("version", ">u2"), ("length", ">u2"), ("export_s", ">u4"),
                         ("seq", ">u4"), ("domain", ">u4")])
# data record of IPFIX_TEMPLATE: flowStart/EndMilliseconds, octetDeltaCount,
# samplingInterval, protocolIdentifier — packed, 25 bytes
IPFIX_RECORD = np.dtype([("start", ">u8"), ("end", ">u8"), ("octets", ">u4"),
                         ("sampling", ">u4"), ("proto", "u1")])
assert V5_HEADER.itemsize == 24 and V5_RECORD.itemsize == 48 and IPFIX_RECORD.itemsize == 25


def _ipfix_template_set() -> bytes:
    tmpl = struct.pack(">HH", 256, len(IPFIX_TEMPLATE)) + b"".join(
        struct.pack(">HH", ie, ln) for ie, ln in IPFIX_TEMPLATE)
    return struct.pack(">HH", 2, 4 + len(tmpl)) + tmpl


def _window(r, k: int, n: int):
    """Datagrams of export window ``k`` and the ground-truth flows they
    encode, as ``(start_ms, end_ms, octets, sampling or 0)`` arrays."""
    export_ms = T0_MS + (k + 1) * WINDOW_MS
    start = export_ms - WINDOW_MS - r.integers(0, 2 * WINDOW_MS, n)
    dur = r.integers(0, 4 * MIN, n)
    dur[r.random(n) < 0.05] = 0  # instantaneous flows
    end = start + dur
    octets = r.integers(40, 1_500_000, n)
    proto = r.choice(np.array([6, 17]), n)
    is_v5 = r.random(n) < V5_SHARE
    sampling = np.zeros(n, dtype=np.int64)
    payloads = []

    v5 = np.flatnonzero(is_v5)
    n_dgram = -(-len(v5) // V5_PER_DATAGRAM)
    dgram_sampling = r.choice(np.array([0, 10, 100]), n_dgram)
    uptime = 500_000_000 + r.integers(0, 1_000_000, n_dgram)
    rec = np.zeros(len(v5), dtype=V5_RECORD)
    rec["src"] = r.integers(1, 2**32, len(v5))
    rec["dst"] = r.integers(1, 2**32, len(v5))
    rec["pkts"] = r.integers(1, 1000, len(v5))
    rec["octets"] = octets[v5]
    rec["sport"] = r.integers(1024, 65536, len(v5))
    rec["dport"] = r.choice(np.array([53, 80, 443]), len(v5))
    rec["proto"] = proto[v5]
    which = np.arange(len(v5)) // V5_PER_DATAGRAM
    base = export_ms - uptime[which]  # sysuptime-relative switch times
    rec["first"] = start[v5] - base
    rec["last"] = end[v5] - base
    sampling[v5] = dgram_sampling[which]
    for d in range(n_dgram):
        hdr = np.zeros(1, dtype=V5_HEADER)
        chunk = rec[d * V5_PER_DATAGRAM:(d + 1) * V5_PER_DATAGRAM]
        hdr["version"], hdr["count"], hdr["sys_uptime"] = 5, len(chunk), uptime[d]
        hdr["unix_secs"], hdr["unix_nsecs"] = export_ms // 1000, (export_ms % 1000) * 1_000_000
        # high two bits: sampling mode 1; low 14 bits: the interval
        hdr["sampling"] = (1 << 14) | dgram_sampling[d] if dgram_sampling[d] else 0
        payloads.append(hdr.tobytes() + chunk.tobytes())

    ipf = np.flatnonzero(~is_v5)
    sampling[ipf] = r.choice(np.array([0, 0, 8]), len(ipf))
    rec = np.zeros(len(ipf), dtype=IPFIX_RECORD)
    rec["start"], rec["end"], rec["octets"] = start[ipf], end[ipf], octets[ipf]
    rec["sampling"], rec["proto"] = sampling[ipf], proto[ipf]
    domains = r.integers(1, 9, -(-len(ipf) // IPFIX_PER_MESSAGE))
    tset = _ipfix_template_set()
    for m, domain in enumerate(domains):
        chunk = rec[m * IPFIX_PER_MESSAGE:(m + 1) * IPFIX_PER_MESSAGE].tobytes()
        dset = struct.pack(">HH", 256, 4 + len(chunk)) + chunk
        hdr = np.zeros(1, dtype=IPFIX_HEADER)
        hdr["version"], hdr["length"] = 10, IPFIX_HEADER.itemsize + len(tset) + len(dset)
        hdr["export_s"], hdr["domain"] = export_ms // 1000, domain
        payloads.append(hdr.tobytes() + tset + dset)

    order = r.permutation(len(payloads))
    return [payloads[i] for i in order], (start, end, octets, sampling)


def generate(seed: int, scale: str, root: str) -> dict:
    n, n_windows = SCALES[scale]
    r = tables.rng_for(seed, "ingest")
    truth = []
    ops, datagrams = [], 0
    for k in range(n_windows):
        payloads, (start, end, octets, sampling) = _window(r, k, n)
        datagrams += len(payloads)
        d = os.path.join(root, "windows", f"w{k:03d}")
        os.makedirs(d)
        pq.write_table(pa.table({"value": pa.array(payloads, type=pa.binary())}),
                       os.path.join(d, "part-0.parquet"))
        truth.append(pa.table({
            "win": np.full(n, k, dtype=np.int64), "start_ms": start, "end_ms": end,
            "value": octets.astype(np.float64),
            "sampling": pa.array(sampling.astype(np.float64), mask=sampling == 0),
        }))
        lo, hi = int(start.min()), int(end.max())
        ops.append({"id": f"w{k}", "kind": "ingest", "window": k, "dir": d, "records": n,
                    "lo": lo - lo % INTERVAL, "hi": hi})
    pq.write_table(pa.concat_tables(truth), os.path.join(root, "truth.parquet"))
    return {
        "cycle": CYCLE,
        "ops": ops,
        "warm_ops": ops[:2],
        "properties": {
            "flows_per_window": n,
            "windows": n_windows,
            "datagrams_per_window": round(datagrams / n_windows, 1),
            "v5_share": V5_SHARE,
            "interval_ms": INTERVAL,
            "window_ms": WINDOW_MS,
        },
    }


class Runner:
    def __init__(self, spark, root: str, manifest: dict, tr):
        self.spark, self.root, self.tr = spark, root, tr
        self.sink = os.path.join(root, "sink")
        self._sink_bytes = 0
        self._batches = 0

    def run(self, spec: dict):
        from pyspark.sql import functions as F

        from elasticsearch_drift_plugin_spark.sources import parse_flows
        from elasticsearch_drift_plugin_spark.sources.sinks import (
            read_histogram,
            write_histogram,
        )
        from elasticsearch_drift_plugin_spark.streaming import proportional_sum_stream
        from elasticsearch_drift_plugin_spark.streaming.bounded import run_available_now

        tr, spark = self.tr, self.spark
        # each ingest appends under its own batch id, so the read-back sees
        # this ingest only, even when a long run ingests a window again
        self._batches += 1
        with tr.span("sources.netflow.parse_construct"):
            raw = spark.readStream.schema("value binary").parquet(spec["dir"])
            flows = parse_flows(raw)
        with tr.span("operators.proportional_sum.construct"):
            agg = proportional_sum_stream(flows, "start_ms", "end_ms", "value", "sampling",
                                          interval=INTERVAL, quantize=4)
        with tr.span("streaming.replay"):
            table = run_available_now(agg, "complete")
        with tr.span("sources.sinks.write"):
            write_histogram(table.withColumn("batch", F.lit(self._batches)), self.sink,
                            mode="append")
        with tr.span("sources.sinks.read"):
            back = read_histogram(spark, self.sink, spec["lo"], spec["hi"])
            out = back.where(F.col("batch") == self._batches)
            rows = out.collect()
        if tr.enabled:
            tr.count("sources.sinks.bytes_written", self._grow())
        return {"out": out, "rows": rows}

    def _grow(self) -> int:
        total = sum(os.path.getsize(os.path.join(d, f))
                    for d, _, files in os.walk(self.sink) for f in files)
        grown, self._sink_bytes = total - self._sink_bytes, total
        return grown


def duck_setup(con, root: str, manifest: dict) -> None:
    con.sql(f"CREATE OR REPLACE VIEW truth AS SELECT * FROM '{root}/truth.parquet'")


def oracle(con, root: str, spec: dict):
    from elasticsearch_drift_plugin_spark.oracle import psum_oracle_sql

    sql = psum_oracle_sql(
        f"SELECT start_ms, end_ms, value, sampling FROM truth WHERE win = {spec['window']}",
        interval=INTERVAL, quantize=4,
    )
    res = con.sql(sql)
    return res.columns, res.fetchall(), ["key", "doc_count", "value"]
