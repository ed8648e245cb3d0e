"""Sources: testdata table loading and flow-record derivation.

The reference's input is an ES index of netflow/ipfix flow documents with
``[first_switched, last_switched, bytes, sampling]`` fields (README.md:58-84).
Here the equivalent is any DataFrame with range-start / range-end / value /
sampling columns; this module derives such flow tables deterministically from
the driver's synthetic tables (FIXTURES.md §6) so the Spark engine and the
DuckDB oracle agree bit-for-bit, and provides the JSON flow-record parser for
the streaming path.

Scale note: the derivations are pure column expressions over the parquet
scan — column pruning and predicate pushdown stay intact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Expected logical types per table column, as sets of acceptable Spark
# simpleString dtypes. The driver owns the testdata and HAS changed physical
# types between rounds (events.ts: INT64 TIMESTAMP(NANOS) -> timestamp[us]);
# every accepted alternative must be handled downstream (see ts_ms_sql).
# A load-time check makes the next silent regeneration fail loudly in ONE
# place with the offending column named, instead of 28 AnalysisExceptions.
_TIME_TYPES = frozenset({"bigint", "timestamp", "timestamp_ntz", "date"})
_EXPECTED_COLS: dict[str, dict[str, frozenset[str]]] = {
    "events": {
        "event_id": frozenset({"bigint"}),
        "ts": _TIME_TYPES,
        "user_id": frozenset({"bigint"}),
        "event_type": frozenset({"string"}),
        "value": frozenset({"double"}),
        "props": frozenset({"string"}),
    },
    "lineitem": {
        "l_orderkey": frozenset({"bigint"}),
        "l_shipdate": _TIME_TYPES,
        "l_extendedprice": frozenset({"double"}),
        "l_quantity": frozenset({"double"}),
    },
    "orders": {"o_orderkey": frozenset({"bigint"}), "o_orderdate": _TIME_TYPES},
    "documents": {"doc_id": frozenset({"bigint"}), "text": frozenset({"string"})},
    "embeddings": {
        "vec_id": frozenset({"bigint"}),
        "embedding": frozenset({"array<float>", "array<double>"}),
    },
}


def _check_schema(name: str, df: DataFrame) -> None:
    expected = _EXPECTED_COLS.get(name)
    if not expected:
        return
    dtypes = dict(df.dtypes)
    for col, ok in expected.items():
        if col not in dtypes:
            raise TypeError(
                f"testdata table '{name}' is missing expected column '{col}' "
                f"(has: {sorted(dtypes)})"
            )
        if dtypes[col] not in ok:
            raise TypeError(
                f"testdata table '{name}' column '{col}' has dtype "
                f"'{dtypes[col]}', expected one of {sorted(ok)} — the driver's "
                "parquet physical types changed; update the load/convert path"
            )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table, asserting the expected logical schema.

    ``nanosAsLong`` stays on defensively: if the driver ever regenerates
    ``events.ts`` as INT64 TIMESTAMP(NANOS) again the scan still succeeds
    (column arrives as epoch-ns long) and :func:`ts_ms_sql` branches on the
    observed dtype — never assume the physical type of driver-owned data.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The engine's NTZ->epoch-ms conversions are only exact under UTC; the
    # grading driver calls these queries with ITS OWN session, so pin the TZ
    # here rather than trusting whoever built the session (runtime-settable).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"

    def read() -> DataFrame:
        df = spark.read.parquet(path)
        _check_schema(name, df)
        return df

    # spark.read.parquet re-lists files and re-reads footers on every call
    # (~0.2 s of driver latency per table); one scan per table version
    # serves every query
    return memo.get_or_compute("scan", memo.path_key(spark, path), spark, read)


def ts_ms_sql(dtype: str, col: str = "ts") -> str:
    """Epoch-ms SQL expression for a raw event-time column, branching on the
    *observed* Spark dtype:

    - ``bigint``  — epoch-ns longs (nanosAsLong read of INT64 TIMESTAMP(NANOS));
      exact integer ``div`` — epoch-ns exceeds 2^53, double division would
      round half the rows 1 ms off the DuckDB oracle's ``epoch_ms``.
    - ``timestamp`` / ``timestamp_ntz`` — ``unix_millis`` after a cast; the
      session TZ is pinned UTC (session.py) so the NTZ->instant cast is exact
      integer epoch math matching DuckDB ``epoch_ms(ts)``.
    """
    if dtype == "bigint":
        return f"({col} div 1000000)"
    if dtype in ("timestamp", "timestamp_ntz", "date"):
        return f"unix_millis(CAST({col} AS TIMESTAMP))"
    raise TypeError(f"cannot convert dtype '{dtype}' of column '{col}' to epoch-ms")


def ts_ms_col(df: DataFrame, col: str = "ts") -> Column:
    """Column form of :func:`ts_ms_sql` for DataFrame-API call sites."""
    return F.expr(ts_ms_sql(dict(df.dtypes)[col], col))


def parquet_ts_bounds_ms(sf_dir: str, name: str = "events", col: str = "ts"):
    """Epoch-ms ``(lo, hi)`` of an event-time column read from parquet
    FOOTER statistics only — zero data pages touched, zero Spark jobs.

    This is the scale-correct way to seed span-based planning (e.g.
    ``auto_date_histogram``'s ladder walk): at 100 TB an extra min/max
    aggregation is a full-corpus scan, while row-group stats are a few KB
    of metadata per file. Handles both driver-era physical types (epoch-ns
    INT64 and timestamp[us]; naive timestamps are UTC per the pinned
    session TZ). Returns ``None`` when any row group lacks stats — callers
    fall back to the aggregation path.
    """
    import datetime as _dt
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    files = (
        sorted(_glob.glob(f"{path}/*.parquet")) if _os.path.isdir(path) else [path]
    )
    if not files:
        return None

    def to_ms(v):
        if isinstance(v, _dt.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            # exact integer math (float .timestamp() can round microseconds)
            delta = v - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            us = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
            return us // 1_000
        return int(v) // 1_000_000  # epoch-ns long

    lo = hi = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mn, mx = to_ms(st.min), to_ms(st.max)
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
    return None if lo is None else (lo, hi)


def widen_narrow_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition ``df`` to the cluster's parallelism iff the source scan
    has fewer splits than cores — a small parquet arrives as ONE split, so
    any CPU-heavy map step downstream (gram hashing, char explode, regex
    batteries) would run single-threaded.

    The split estimate uses only analysis-phase metadata (``inputFiles`` +
    file sizes vs ``maxPartitionBytes``) — no ``.rdd`` materialization, no
    job. At real scale the input has plenty of splits and this returns
    ``df`` unchanged (no shuffle added)."""
    import math
    import os

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b").lower()
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        for suf, mult in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("b", 1)):
            if raw.endswith(suf):
                max_bytes = int(raw.removesuffix(suf)) * mult
                break
        else:
            max_bytes = int(raw[:-1]) * units[raw[-1]] if raw[-1] in units else int(raw)
        total = sum(
            os.path.getsize(f.removeprefix("file:")) for f in files if f.startswith(("file:", "/"))
        )
        splits = max(len(files), math.ceil(total / max_bytes)) if files else par
    except Exception:  # non-file scans (views over streams, in-memory) — assume wide
        splits = par
    if splits < par:
        return df.repartition(par, *key_cols) if key_cols else df.repartition(par)
    return df


def pin_result(df: DataFrame) -> DataFrame:
    """Pin a result frame whose lineage is expensive to replay before a
    global sort (r14, guide §7.2): Spark's range-partitioned sort exchange
    executes its child TWICE — once for the range-boundary sampling job,
    once for the shuffle — and a map-only lineage (Arrow/Python kernels,
    codegen'd projections) has no shuffle files for the second pass to
    reuse, so the whole chain re-runs. A lazy ``localCheckpoint``
    materializes the rows on the sampling pass and the shuffle pass reads
    them back. Built fresh per DataFrame construction — nothing persists
    across query invocations.

    Cost model: one in-memory/disk materialization of the RESULT rows
    (post-projection, usually narrow) versus a full re-execution of the
    producing chain — the same trade a shuffle write makes. Lineages that
    already end in a shuffle mostly reuse their map outputs across the two
    passes; this helper is for the shuffle-free tails."""
    return df.localCheckpoint(eager=False)


# --- deterministic flow derivations (shared with the DuckDB oracle) --------
#
# FIXTURES.md §6: events is point-in-time; a flow fixture derives as
# start = ts, end = ts + seeded-per-row duration, plus seeded sampling and
# NULL-value edge rows. The formulas below use only integer arithmetic and
# CASE so both engines compute identical rows. event_id % 97 == 0 yields
# zero-duration flows; % 11 == 0 yields NULL values; sampling cycles through
# {NULL, 1, 10, 0 (ignored), 2.5} with % 7 == 3 rows NaN (ignored).

EVENTS_FLOWS_SQL = """
SELECT
  event_id AS flow_id,
  {ts_ms} AS start_ms,
  {ts_ms} + (event_id % 97) * 60000 AS end_ms,
  CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS value,
  CASE
    WHEN event_id % 7 = 3 THEN CAST('NaN' AS DOUBLE)
    WHEN event_id % 5 = 0 THEN NULL
    WHEN event_id % 5 = 1 THEN 1.0
    WHEN event_id % 5 = 2 THEN 10.0
    WHEN event_id % 5 = 3 THEN 0.0
    ELSE 2.5
  END AS sampling,
  event_type,
  user_id
FROM {src}
"""

LINEITEM_FLOWS_SQL = """
SELECT
  l_orderkey * 10 + l_linenumber AS flow_id,
  {ship_ms} AS start_ms,
  {ship_ms} + (l_partkey % 120) * 86400000 AS end_ms,
  l_extendedprice AS value,
  CASE WHEN l_suppkey % 3 = 0 THEN NULL ELSE 1.0 + (l_suppkey % 4) END AS sampling,
  l_returnflag,
  l_suppkey
FROM {src}
"""


def events_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flow table derived from ``events`` (``ts`` converted per its dtype)."""

    def derive() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        ev.createOrReplaceTempView("__ev_src")
        ts_ms = ts_ms_sql(dict(ev.dtypes)["ts"])
        return spark.sql(EVENTS_FLOWS_SQL.format(ts_ms=ts_ms, src="__ev_src"))

    key = memo.path_key(spark, f"{sf_dir}/events.parquet", "events_flows")
    return memo.get_or_compute("scan", key, spark, derive)


def events_flows_duckdb_sql(sf_dir: str) -> str:
    """The byte-identical DuckDB twin (ts is TIMESTAMP_NS there)."""
    return EVENTS_FLOWS_SQL.format(ts_ms="epoch_ms(ts)", src="events")


def events_flows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of :func:`events_flows`: the same derivation SQL over a
    file-source ``readStream`` of the events parquet (temp views work on
    streaming DataFrames, so the SQL is shared verbatim — no drift)."""
    schema = load_table(spark, sf_dir, "events").schema
    # glob form: with a plain single-file path the file source injects that
    # file as partition-discovery basePath and rejects it (must be a dir);
    # a glob pattern keeps the parent dir as the base
    stream = spark.readStream.schema(schema).parquet(f"{sf_dir}/events.parquet*")
    stream.createOrReplaceTempView("__ev_stream_src")
    ts_ms = ts_ms_sql(schema["ts"].dataType.simpleString())
    return spark.sql(EVENTS_FLOWS_SQL.format(ts_ms=ts_ms, src="__ev_stream_src"))


def lineitem_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Larger-scale flow proxy from ``lineitem`` (FIXTURES.md §6): day-scale
    durations spanning many buckets at month granularity.

    The ~120-day ranges mean a large explode fan-out in any downstream
    proportional_sum (60x at day granularity), so a narrow scan is widened
    here — the fan-out is a property of THIS fixture's durations, which is
    why the widen lives in the derivation and not in the operator (the
    minute-scale ``events_flows`` fans out 2-3x and a forced shuffle there
    costs more than it buys; measured at sf0.1: psum_day_lineitem
    3.2 s -> 1.7 s widened, psum_fixed_1h 0.9 s -> 1.3 s if events were
    widened too). No-op when the scan already has enough splits."""

    def derive() -> DataFrame:
        raw = load_table(spark, sf_dir, "lineitem")
        li = widen_narrow_scan(raw)
        df = _lineitem_flows_over(spark, li, "__li_src")
        if li is not raw:
            # un-widened twin for bounded head probes (r15): a LocalLimit
            # cannot push below the widening round-robin Exchange, so a
            # "first 1024 rows" control-plane sample against the widened
            # frame scans AND shuffles the whole table (measured ~0.9 s at
            # sf0.1). Same rows, same derivation — only the repartition
            # is absent, so the limit pushes into the parquet scan.
            df._spark_graft_probe_twin = _lineitem_flows_over(spark, raw, "__li_src_nw")
        return df

    key = memo.path_key(spark, f"{sf_dir}/lineitem.parquet", "lineitem_flows")
    return memo.get_or_compute("scan", key, spark, derive)


def _lineitem_flows_over(spark: SparkSession, src: DataFrame, view: str) -> DataFrame:
    """The lineitem flow derivation over ``src`` (registered as ``view``)."""
    src.createOrReplaceTempView(view)
    return spark.sql(
        LINEITEM_FLOWS_SQL.format(
            ship_ms="unix_millis(CAST(l_shipdate AS TIMESTAMP))", src=view
        )
    )


def lineitem_flows_duckdb_sql(sf_dir: str) -> str:
    return LINEITEM_FLOWS_SQL.format(ship_ms="epoch_ms(l_shipdate)", src="lineitem")


# --- flow-record JSON parsing (streaming ingestion edge) -------------------

FLOW_JSON_SCHEMA = (
    "netflow STRUCT<first_switched: BIGINT, last_switched: BIGINT, "
    "bytes: DOUBLE, sampling_interval: DOUBLE>"
)


def parse_flow_json(raw: DataFrame, json_col: str = "value") -> DataFrame:
    """Parse netflow-style JSON records (shape of reference README.md:58-68)
    into the engine's flow schema. Works identically on static and streaming
    DataFrames (``from_json`` is streaming-safe)."""
    parsed = raw.select(
        F.from_json(F.col(json_col).cast("string"), FLOW_JSON_SCHEMA).alias("r")
    )
    return parsed.select(
        F.col("r.netflow.first_switched").alias("start_ms"),
        F.col("r.netflow.last_switched").alias("end_ms"),
        F.col("r.netflow.bytes").alias("value"),
        F.col("r.netflow.sampling_interval").alias("sampling"),
    )
