"""Relational surface demonstrations: joins and set operations.

The reference itself has neither (SURVEY.md §2.2 — its host ES provides
document filtering only); in this engine they are Spark built-ins. These
queries pin the two patterns that matter at 100 TB:

- **broadcast-join enrichment** — flow records enriched through two small
  dimension hops (customer → nation), both sides broadcast so the fact
  stream is never shuffled;
- **set ops** — key intersection across partitions of the fact table.

Value sums are quantized (floor 1e-6 units) for cross-engine hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sql_literal import literal_frame
from ..sources.flows import load_table

QUANT = 1_000_000


def flows_by_nation(events: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """(n_name, n_events, value_q): event value totals by the nation of the
    synthetic owning customer (user_id mapped onto the customer key space).
    Both dimension sides are broadcast — the events scan never shuffles;
    the only exchange is the final small groupBy."""
    n_cust = customer.count()  # dimension size: driver-side scalar, O(1)
    ev = events.select(
        (F.pmod(F.col("user_id"), F.lit(n_cust)) + 1).alias("__ck"), "value"
    )
    cust = customer.select(F.col("c_custkey").alias("__ck"), "c_nationkey")
    nat = nation.select("n_nationkey", "n_name")
    return (
        ev.join(F.broadcast(cust), "__ck")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(
                F.sum(F.floor(F.col("value") * F.lit(float(QUANT)))), F.lit(0)
            ).alias("value_q"),
        )
        .orderBy("n_name")
    )


FLOWS_BY_NATION_SQL = f"""
WITH ev AS (
  SELECT (((user_id % (SELECT COUNT(*) FROM customer))
           + (SELECT COUNT(*) FROM customer)) % (SELECT COUNT(*) FROM customer)) + 1 AS ck,
         value
  FROM events
)
SELECT n_name, COUNT(*) AS n_events,
       CAST(COALESCE(SUM(CAST(FLOOR(value * {float(QUANT)}) AS BIGINT)), 0) AS BIGINT)
         AS value_q
FROM ev
JOIN customer ON c_custkey = ck
JOIN nation ON n_nationkey = c_nationkey
GROUP BY n_name ORDER BY n_name
"""


def users_in_both(events: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """(user_id): users present in BOTH event types — Spark ``intersect``."""
    a = events.where(F.col("event_type") == type_a).select("user_id")
    b = events.where(F.col("event_type") == type_b).select("user_id")
    return a.intersect(b).orderBy("user_id")


def users_in_both_sql(type_a: str, type_b: str) -> str:
    return f"""
SELECT user_id FROM events WHERE event_type = '{type_a}'
INTERSECT
SELECT user_id FROM events WHERE event_type = '{type_b}'
ORDER BY user_id
"""


def json_props_stats(events: DataFrame) -> DataFrame:
    """(event_type, n, n_with_k, sum_k, n_distinct_k): aggregates over a
    field EXTRACTED from the semi-structured ``props`` JSON column — the
    documents-are-JSON surface of the reference's host (ES source docs;
    README.md:58-68 shows the netflow JSON shape). ``get_json_object`` is
    a native Catalyst expression: the extraction runs codegen'd in the
    scan projection, and column pruning still reaches parquet (only
    ``event_type``/``props`` are read)."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("__k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("__k").alias("n_with_k"),
            F.coalesce(F.sum("__k"), F.lit(0)).alias("sum_k"),
            F.countDistinct("__k").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


JSON_PROPS_SQL = """
WITH e AS (
  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(k) AS n_with_k,
       CAST(COALESCE(SUM(k), 0) AS BIGINT) AS sum_k,
       COUNT(DISTINCT k) AS n_distinct_k
FROM e GROUP BY event_type ORDER BY event_type
"""



def rollup_report(lineitem: DataFrame) -> DataFrame:
    """(l_returnflag, l_linestatus, gid, n, sum_price_q): multi-level
    subtotals via Spark's native ``rollup`` — per (flag, status), per flag,
    and grand total in ONE aggregation pass (Catalyst expands the grouping
    sets; partial aggregation still applies below the single shuffle).
    ``gid`` is ``grouping_id()`` so subtotal rows are distinguishable from
    data rows with NULL-looking keys; sums are 1e-2-quantized (prices have
    two decimals) exact integers. Oracle: DuckDB ``GROUP BY ROLLUP`` with
    ``GROUPING()`` — the standard-SQL twin.
    """
    q = F.floor(F.col("l_extendedprice") * F.lit(100.0))
    return (
        lineitem.select("l_returnflag", "l_linestatus", q.alias("__q"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum("__q").alias("sum_price_q"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_price_q
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
"""


def cidr_rollup(
    events: DataFrame, prefix_len: int = 16, size: int = 20
) -> DataFrame:
    """(prefix, n_flows, value_q): netflow-style top-talkers rolled up to a
    CIDR prefix — THE everyday query over flow data the reference's users
    run around the drift agg (top /16s by traffic).

    The testdata has no address column, so a deterministic source IP
    derives from ``user_id`` by Knuth multiplicative hashing into the IPv4
    space — pure integer arithmetic, byte-identical in the DuckDB twin
    (the same discipline as every flow fixture in sources/flows.py). The
    rollup itself is what matters for parity: prefix = integer
    ``div``-floor on the 32-bit address, dotted-quad formatting at the
    serving edge, one partial+final aggregation, top-``size`` by traffic.
    """
    if not 1 <= prefix_len <= 32:
        raise ValueError("prefix_len must be in [1, 32]")
    block = 2 ** (32 - prefix_len)
    # Knuth hash in BIGINT: user_id * 2654435761 fits int64 up to
    # user_id ~3.47e9, and under the session's ANSI mode an overflow
    # THROWS (loud, never a silent wrap) — while per-row DECIMAL(38,0)
    # math costs ~1.5 s per million rows (r11 measurement). The DuckDB
    # twin stays HUGEINT; values agree exactly when nothing overflows.
    ip = F.expr(
        "CAST(pmod(user_id * 2654435761, 4294967296) AS BIGINT)"
    )
    net = (ip - F.pmod(ip, F.lit(block))).alias("__net")
    q = F.floor(F.col("value") * F.lit(1_000_000)).alias("__q")
    agg = (
        events.where(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(net, q)
        .groupBy("__net")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.sum("__q").alias("value_q"),
        )
    )
    prefix = F.concat_ws(
        ".",
        (F.col("__net") / 16777216).cast("long"),
        F.pmod((F.col("__net") / 65536).cast("long"), F.lit(256)),
        F.pmod((F.col("__net") / 256).cast("long"), F.lit(256)),
        F.pmod(F.col("__net"), F.lit(256)),
    )
    return (
        agg.select(
            F.concat(prefix, F.lit(f"/{prefix_len}")).alias("prefix"),
            "n_flows",
            "value_q",
        )
        .orderBy(F.col("value_q").desc(), F.col("prefix").asc())
        .limit(size)
    )


def _ip_to_int(ip: str) -> int:
    parts = [int(p) for p in ip.split(".")]
    if len(parts) != 4 or any(not 0 <= p <= 255 for p in parts):
        raise ValueError(f"bad IPv4 address {ip!r}")
    return (parts[0] << 24) | (parts[1] << 16) | (parts[2] << 8) | parts[3]


# ES ip_range fixture ranges over the hash-derived address space
IP_RANGES: tuple = (
    ("low", None, "64.0.0.0"),
    ("mid", "64.0.0.0", "160.0.0.0"),
    ("high", "160.0.0.0", None),
    ("mixed", "32.0.0.0", "192.0.0.0"),
)


def ip_range_agg(events: DataFrame, ranges=IP_RANGES) -> DataFrame:
    """(key, from_ip, to_ip, doc_count, value_q): ES ``ip_range`` — each
    range is an independent half-open [from, to) bucket over the derived
    source address (ranges may overlap, like the ES agg; a row lands in
    every matching range). Same plan shape as ``es_aggs.range_agg``:
    literal membership fan-out collapsed map-side by the partial agg —
    fan-out ≤ #ranges, one shuffle of #ranges rows."""
    ip = F.expr(
        "CAST(pmod(user_id * 2654435761, 4294967296) AS BIGINT)"
    )
    q = F.floor(F.col("value") * F.lit(1_000_000))
    matches = F.array(
        *[
            F.when(
                ((ip >= F.lit(_ip_to_int(lo))) if lo else F.lit(True))
                & ((ip < F.lit(_ip_to_int(hi))) if hi else F.lit(True)),
                F.lit(i),
            )
            for i, (_, lo, hi) in enumerate(ranges)
        ]
    )
    hit = (
        events.where(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(q.alias("__q"), F.explode(F.array_compact(matches)).alias("__r"))
        .groupBy("__r")
        .agg(F.count(F.lit(1)).alias("doc_count"), F.sum("__q").alias("value_q"))
    )
    meta = literal_frame(
        events.sparkSession,
        [(i, k, lo, hi) for i, (k, lo, hi) in enumerate(ranges)],
        "__r int, key string, from_ip string, to_ip string",
    )
    return (
        F.broadcast(meta)
        .join(hit, "__r", "left")
        .select(
            "key", "from_ip", "to_ip",
            F.coalesce("doc_count", F.lit(0)).alias("doc_count"),
            F.coalesce("value_q", F.lit(0)).alias("value_q"),
        )
        .orderBy("key")
    )


def ip_range_sql(ranges=IP_RANGES) -> str:
    conds, meta = [], []
    for i, (k, lo, hi) in enumerate(ranges):
        cond = []
        if lo:
            cond.append(f"ip >= {_ip_to_int(lo)}")
        if hi:
            cond.append(f"ip < {_ip_to_int(hi)}")
        conds.append(
            f"SELECT {i} AS r, q FROM f WHERE {' AND '.join(cond) or 'TRUE'}"
        )
        lo_s = f"'{lo}'" if lo else "CAST(NULL AS VARCHAR)"
        hi_s = f"'{hi}'" if hi else "CAST(NULL AS VARCHAR)"
        meta.append(f"({i}, '{k}', {lo_s}, {hi_s})")
    return f"""
WITH f AS (
  SELECT CAST(((CAST(user_id AS HUGEINT) * 2654435761) % 4294967296
               + 4294967296) % 4294967296 AS BIGINT) AS ip,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
hits AS ({' UNION ALL '.join(conds)}),
agg AS (SELECT r, COUNT(*) AS doc_count, CAST(SUM(q) AS BIGINT) AS value_q
        FROM hits GROUP BY r),
meta(r, key, from_ip, to_ip) AS (VALUES {', '.join(meta)})
SELECT key, from_ip, to_ip,
       COALESCE(doc_count, 0) AS doc_count, COALESCE(value_q, 0) AS value_q
FROM meta LEFT JOIN agg USING (r) ORDER BY key
"""


def cidr_rollup_sql(prefix_len: int = 16, size: int = 20) -> str:
    block = 2 ** (32 - prefix_len)
    return f"""
WITH f AS (
  SELECT CAST(((CAST(user_id AS HUGEINT) * 2654435761) % 4294967296
               + 4294967296) % 4294967296 AS BIGINT) AS ip,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
agg AS (
  SELECT ip - (ip % {block}) AS net, COUNT(*) AS n_flows,
         CAST(SUM(q) AS BIGINT) AS value_q
  FROM f GROUP BY 1
)
SELECT CAST(net // 16777216 AS VARCHAR) || '.' ||
       CAST((net // 65536) % 256 AS VARCHAR) || '.' ||
       CAST((net // 256) % 256 AS VARCHAR) || '.' ||
       CAST(net % 256 AS VARCHAR) || '/{prefix_len}' AS prefix,
       n_flows, value_q
FROM agg
ORDER BY value_q DESC, prefix ASC LIMIT {size}
"""


def ip_prefix_agg(
    events: DataFrame, prefix_len: int = 8, min_doc_count: int = 1
) -> DataFrame:
    """(key, prefix_length, doc_count, value_q): ES 8.x ``ip_prefix`` agg —
    one bucket per /``prefix_len`` network containing ≥ ``min_doc_count``
    docs, keyed by the network address, ordered by the network (the ES
    key order for IP buckets). Same plan as ``cidr_rollup`` (one partial +
    final agg over the integer-floored network) with the ES serving
    contract instead of top-k-by-traffic; ``is_ipv6`` is always false here
    (the fixture address space is IPv4).
    """
    if not 1 <= prefix_len <= 32:
        raise ValueError("prefix_len must be in [1, 32]")
    block = 2 ** (32 - prefix_len)
    ip = F.expr(
        "CAST(pmod(user_id * 2654435761, 4294967296) AS BIGINT)"
    )
    net = (ip - F.pmod(ip, F.lit(block))).alias("__net")
    q = F.floor(F.col("value") * F.lit(1_000_000)).alias("__q")
    agg = (
        events.where(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(net, q)
        .groupBy("__net")
        .agg(F.count(F.lit(1)).alias("doc_count"), F.sum("__q").alias("value_q"))
        .where(F.col("doc_count") >= min_doc_count)
    )
    key = F.concat_ws(
        ".",
        (F.col("__net") / 16777216).cast("long"),
        F.pmod((F.col("__net") / 65536).cast("long"), F.lit(256)),
        F.pmod((F.col("__net") / 256).cast("long"), F.lit(256)),
        F.pmod(F.col("__net"), F.lit(256)),
    )
    return (
        agg.select(
            "__net",
            key.alias("key"),
            F.lit(prefix_len).cast("long").alias("prefix_length"),
            "doc_count",
            "value_q",
        )
        .orderBy("__net")
        .drop("__net")
    )


# --- ip_prefix over IPv6 (r11, SCOPE.md §E — VERDICT r10 item 3) ----------
#
# 128-bit lattice math without 128-bit integers: an address is 8 sixteen-bit
# groups, and masking to /plen FACTORIZES per group — group j keeps
# clamp(plen − 16j, 0, 16) top bits (g − g % 2^(16−keep)), exactly the
# 128-bit network floor. Fixture discipline mirrors the v4 path: addresses
# are hash-derived from user_id (documentation-prefix-shaped, 2001:… — the
# leading group is fixed so the rendered keys read like real v6).

_V6_G0 = 0x2001
# odd multiplicative-hash constants per group (distinct streams per group)
_V6_MULT = (0, 40503, 48271, 16807, 69621, 30269, 30307, 30323)


def _v6_groups(events: DataFrame):
    """8 int columns g0..g7 deriving the fixture address from user_id.
    BIGINT hash arithmetic — user_id * 69621 stays far inside int64, and
    per-row DECIMAL(38,0) math costs ~1.5 s/1M rows (r11 measurement);
    DuckDB's HUGEINT twin agrees exactly when nothing overflows."""
    gs = [F.lit(_V6_G0).cast("int").alias("g0")]
    for j in range(1, 8):
        gs.append(
            F.expr(
                f"CAST(pmod(user_id * {_V6_MULT[j]}, 65536) AS INT)"
            ).alias(f"g{j}")
        )
    return gs


def _v6_mask_expr(j: int, prefix_len: int):
    """Masked group j under /prefix_len — the per-group factor of the
    128-bit network floor."""
    keep = max(0, min(16, prefix_len - 16 * j))
    if keep == 16:
        return F.col(f"g{j}")
    if keep == 0:
        return F.lit(0)
    block = 1 << (16 - keep)
    return F.col(f"g{j}") - F.pmod(F.col(f"g{j}"), F.lit(block))


def ipv6_canonical(groups) -> "F.Column":
    """RFC 5952 text form of an 8-group IPv6 address column (array<int>):
    lowercase hex, no leading zeros, the LEFTMOST LONGEST run of ≥2 zero
    groups compressed to ``::`` — the rendering ES's DocValueFormat.IP
    (Guava ``toAddrString``) applies to ip_prefix keys. One Catalyst
    ``aggregate`` fold over the fixed-size group array (pure codegen, no
    Python): state (best_start, best_len, cur_start, cur_len), then a
    slice-and-join render in the fold's finish lambda."""
    arr = groups
    hexs = F.transform(arr, lambda g: F.lower(F.hex(g)))
    acc0 = F.struct(
        F.lit(-1).alias("bs"), F.lit(0).alias("bl"),
        F.lit(-1).alias("cs"), F.lit(0).alias("cl"),
    )

    def step(acc, i):
        is0 = F.element_at(arr, i + 1) == 0
        ncs = F.when(is0 & (acc.cl == 0), i).otherwise(acc.cs)
        ncl = F.when(is0, acc.cl + 1).otherwise(F.lit(0))
        better = ncl > acc.bl  # strict: leftmost run of equal length wins
        return F.struct(
            F.when(better, ncs).otherwise(acc.bs).alias("bs"),
            F.when(better, ncl).otherwise(acc.bl).alias("bl"),
            ncs.alias("cs"),
            ncl.alias("cl"),
        )

    def finish(acc):
        head = F.array_join(F.slice(hexs, 1, acc.bs), ":")
        tail = F.array_join(
            F.slice(hexs, acc.bs + acc.bl + 1, 8 - acc.bs - acc.bl), ":"
        )
        return F.when(
            acc.bl >= 2, F.concat(head, F.lit("::"), tail)
        ).otherwise(F.array_join(hexs, ":"))

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(7)), acc0, step, finish
    )


def ip_prefix_v6_agg(
    events: DataFrame, prefix_len: int = 28, min_doc_count: int = 1
) -> DataFrame:
    """(key, prefix_length, is_ipv6, doc_count, value_q): ES 8.x
    ``ip_prefix`` over IPv6 (``is_ipv6: true`` — es-8.18.2 host surface;
    the v4 twin is :func:`ip_prefix_agg`). One partial+final aggregation
    over the per-group-masked network, keys rendered in RFC 5952 canonical
    form, buckets ordered by the network address ascending (= the group
    tuple ascending — the ES key order for IP buckets)."""
    if not 1 <= prefix_len <= 128:
        raise ValueError("ipv6 prefix_len must be in [1, 128]")
    q = F.floor(F.col("value") * F.lit(1_000_000)).alias("__q")
    base = events.where(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).select(*_v6_groups(events), q)
    nets = [
        _v6_mask_expr(j, prefix_len).cast("int").alias(f"n{j}") for j in range(8)
    ]
    agg = (
        base.select(*nets, "__q")
        .groupBy(*[f"n{j}" for j in range(8)])
        .agg(F.count(F.lit(1)).alias("doc_count"), F.sum("__q").alias("value_q"))
        .where(F.col("doc_count") >= min_doc_count)
    )
    key = ipv6_canonical(F.array(*[F.col(f"n{j}") for j in range(8)]))
    return (
        agg.select(
            key.alias("key"),
            F.lit(prefix_len).cast("long").alias("prefix_length"),
            F.lit(True).alias("is_ipv6"),
            "doc_count",
            "value_q",
            *[f"n{j}" for j in range(8)],
        )
        .orderBy(*[f"n{j}" for j in range(8)])
        .drop(*[f"n{j}" for j in range(8)])
    )


def _v6_render_sql_parts() -> tuple[str, str, str]:
    """(hex_list_expr, best_len_expr, key_case_expr) of the DuckDB-side
    RFC 5952 renderer over masked group columns n0..n7 (+ computed hx /
    __bl) — shared by :func:`ip_prefix_v6_sql` and its pytest pin against
    Python's ipaddress reference, so the pinned SQL IS the shipped SQL."""
    # run length of zero groups starting at position s (1-based), nested
    rl = {}
    for s in range(8, 0, -1):
        inner = f"(1 + {rl[s + 1]})" if s < 8 else "1"
        rl[s] = f"(CASE WHEN n{s - 1} = 0 THEN {inner} ELSE 0 END)"
    bl = "GREATEST(" + ", ".join(rl[s] for s in range(1, 9)) + ")"
    bs = (
        "(CASE "
        + " ".join(f"WHEN {rl[s]} = __bl THEN {s}" for s in range(1, 9))
        + " END)"
    )
    hexs = "[" + ", ".join(f"printf('%x', n{j})" for j in range(8)) + "]"
    # DuckDB array_to_string([]) is NULL, not '' — coalesce both ends
    case_expr = f"""CASE WHEN __bl >= 2 THEN
      COALESCE(array_to_string(list_slice(hx, 1, {bs} - 1), ':'), '')
        || '::' ||
      COALESCE(array_to_string(list_slice(hx, {bs} + __bl, 8), ':'), '')
    ELSE array_to_string(hx, ':') END"""
    return hexs, bl, case_expr


def ip_prefix_v6_sql(prefix_len: int = 28, min_doc_count: int = 1) -> str:
    """DuckDB twin of :func:`ip_prefix_v6_agg` — deliberately a DIFFERENT
    RFC 5952 implementation (generated run-length CASE chain instead of a
    fold), so the canonical-form agreement is a real cross-check."""
    group_exprs = [f"CAST({_V6_G0} AS INT) AS g0"] + [
        f"CAST(((CAST(user_id AS HUGEINT) * {_V6_MULT[j]}) % 65536"
        f" + 65536) % 65536 AS INT) AS g{j}"
        for j in range(1, 8)
    ]
    masks = []
    for j in range(8):
        keep = max(0, min(16, prefix_len - 16 * j))
        if keep == 16:
            masks.append(f"g{j} AS n{j}")
        elif keep == 0:
            masks.append(f"0 AS n{j}")
        else:
            block = 1 << (16 - keep)
            masks.append(f"g{j} - (g{j} % {block}) AS n{j}")
    hexs, bl, case_expr = _v6_render_sql_parts()
    return f"""
WITH f AS (
  SELECT {', '.join(group_exprs)},
         CAST(FLOOR(value * 1000000) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
m AS (
  SELECT {', '.join(masks)}, q FROM f
),
agg AS (
  SELECT n0, n1, n2, n3, n4, n5, n6, n7,
         CAST(COUNT(*) AS BIGINT) AS doc_count,
         CAST(SUM(q) AS BIGINT) AS value_q
  FROM m GROUP BY ALL HAVING COUNT(*) >= {int(min_doc_count)}
),
runs AS (
  SELECT *, {hexs} AS hx, {bl} AS __bl FROM agg
),
rendered AS (
  SELECT *, {case_expr} AS key
  FROM runs
)
SELECT key, CAST({int(prefix_len)} AS BIGINT) AS prefix_length,
       TRUE AS is_ipv6, doc_count, value_q
FROM rendered
ORDER BY n0, n1, n2, n3, n4, n5, n6, n7
"""


def ip_prefix_sql(prefix_len: int = 8, min_doc_count: int = 1) -> str:
    block = 2 ** (32 - prefix_len)
    return f"""
WITH f AS (
  SELECT CAST(((CAST(user_id AS HUGEINT) * 2654435761) % 4294967296
               + 4294967296) % 4294967296 AS BIGINT) AS ip,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
agg AS (
  SELECT ip - (ip % {block}) AS net, COUNT(*) AS doc_count,
         CAST(SUM(q) AS BIGINT) AS value_q
  FROM f GROUP BY 1 HAVING COUNT(*) >= {min_doc_count}
)
SELECT CAST(net // 16777216 AS VARCHAR) || '.' ||
       CAST((net // 65536) % 256 AS VARCHAR) || '.' ||
       CAST((net // 256) % 256 AS VARCHAR) || '.' ||
       CAST(net % 256 AS VARCHAR) AS key,
       CAST({prefix_len} AS BIGINT) AS prefix_length, doc_count, value_q
FROM agg ORDER BY net
"""


_DAY_MS = 86_400_000


def interval_join(
    events_df: DataFrame,
    grain_ms: int = 6 * 3_600_000,
    top_days: int = 10,
    pre_ms: int = 6 * 3_600_000,
    post_ms: int = 30 * 3_600_000,
) -> DataFrame:
    """(window_key, n_events, value_q): events joined into OVERLAPPING
    analysis windows ``[day−6h, day+30h)`` anchored on the ``top_days``
    busiest UTC days — a Flink-style interval join (no equality key)
    expressed as a Spark composition.

    Scale shape: a naive ``t >= ws AND t < we`` join has no equi-key, so
    Spark plans a BroadcastNestedLoopJoin — O(N·W) comparisons. This
    operator quantizes BOTH sides to a coarse grain: each window explodes
    into the ≤ len/grain + 1 grains it covers, each event maps to one
    grain, and the join becomes an equi-join on the grain followed by the
    exact range filter. That is the standard bucketed range join —
    shuffle-partitionable on the grain key (broadcast here because the
    window side is tiny), no nested loop, skew bounded by events-per-grain.
    All boundary math is 64-bit integer (``div`` on nonnegative epoch-ms ==
    floor division in both engines), so no float reaches the join keys.
    """
    from ..sources.flows import ts_ms_col

    ev = events_df.select(ts_ms_col(events_df).alias("t_ms"), "value")
    days = (
        ev.groupBy(F.expr(f"t_ms div {_DAY_MS} * {_DAY_MS}").alias("day_ms"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "day_ms")
        .limit(top_days)
    )
    win = days.select(
        F.col("day_ms").alias("window_key"),
        (F.col("day_ms") - F.lit(pre_ms)).alias("ws"),
        (F.col("day_ms") + F.lit(post_ms)).alias("we"),
    )
    wing = win.withColumn(
        "grain",
        F.explode(F.expr(f"sequence(ws div {grain_ms}, (we - 1) div {grain_ms})")),
    )
    evg = ev.withColumn("grain", F.expr(f"t_ms div {grain_ms}"))
    vq = F.when(
        F.col("value").isNotNull() & ~F.isnan(F.col("value")),
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long"),
    )
    return (
        evg.join(F.broadcast(wing), "grain")
        .where((F.col("t_ms") >= F.col("ws")) & (F.col("t_ms") < F.col("we")))
        .groupBy("window_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.coalesce(F.sum(vq), F.lit(0)).cast("long").alias("value_q"),
        )
        .orderBy("window_key")
    )


def interval_join_sql(
    top_days: int = 10,
    pre_ms: int = 6 * 3_600_000,
    post_ms: int = 30 * 3_600_000,
) -> str:
    return f"""
WITH ev AS (SELECT epoch_ms(ts) AS t_ms, value FROM events),
days AS (
  SELECT t_ms // {_DAY_MS} * {_DAY_MS} AS day_ms, COUNT(*) AS c
  FROM ev GROUP BY 1 ORDER BY c DESC, day_ms LIMIT {top_days}
),
win AS (
  SELECT day_ms AS window_key, day_ms - {pre_ms} AS ws, day_ms + {post_ms} AS we
  FROM days
)
SELECT w.window_key,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(CASE WHEN e.value IS NOT NULL AND NOT isnan(e.value)
                              THEN CAST(FLOOR(e.value * 1000000.0) AS BIGINT)
                              END), 0) AS BIGINT) AS value_q
FROM win w JOIN ev e ON e.t_ms >= w.ws AND e.t_ms < w.we
GROUP BY w.window_key ORDER BY w.window_key
"""


def has_child_agg(
    orders: DataFrame,
    lineitem: DataFrame,
    child_where: str = "l_quantity >= 45",
) -> DataFrame:
    """(o_orderpriority, n_parents, n_children, max_child_q1000): ES
    parent/child ``join`` field semantics — the ``has_child`` query
    (parents with ≥1 matching child) with a children sub-aggregation,
    re-expressed relationally: ES colocates parent+child docs on one
    shard via routing and walks a per-segment ordinal map; Spark's
    equivalent is a shuffle equi-join on the parent key (the same
    colocation, per-query instead of at-rest — bucketing lineitem+orders
    on orderkey makes it at-rest too, see SCALE.md).

    Counts both sides of the ES response: ``n_parents`` = parents whose
    child set matches (has_child), ``n_children`` = matching children
    under those parents (children agg), plus a child metric rollup.
    """
    kids = lineitem.where(child_where).select(
        "l_orderkey", F.round(F.col("l_quantity") * F.lit(1000)).cast("long").alias("q1000")
    )
    return (
        orders.select("o_orderkey", "o_orderpriority")
        .join(kids, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").cast("long").alias("n_parents"),
            F.count(F.lit(1)).cast("long").alias("n_children"),
            F.max("q1000").alias("max_child_q1000"),
        )
        .orderBy("o_orderpriority")
    )


HAS_CHILD_SQL = """
SELECT o.o_orderpriority,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_parents,
       CAST(COUNT(*) AS BIGINT) AS n_children,
       CAST(MAX(CAST(ROUND(l.l_quantity * 1000) AS BIGINT)) AS BIGINT) AS max_child_q1000
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_quantity >= 45
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
"""


def nested_parent_docs(
    orders: DataFrame,
    lineitem: DataFrame,
    parent_where: str | None = None,
    item_where: str | None = None,
) -> DataFrame:
    """The ES ``nested``-mapping document shape: each parent row carries an
    ``items array<struct<...>>`` column of its sub-documents — exactly how
    a nested index (or a 100 TB parquet lake with nested columns) stores
    them. Fixture builder for :func:`nested_agg` / :func:`reverse_nested_agg`;
    at rest this shape needs no build step (parquet holds the arrays), and
    Spark's nested-schema pruning reads only the struct fields touched.

    ``parent_where`` (optional): a parent-side predicate the CALLER will
    apply anyway (e.g. the nested agg's own filter). Supplying it here
    restricts the build to those parents AND semi-join-prefilters the
    child side BEFORE its collect_list shuffle (guide §3.2: reduce the
    big side before shuffling it) — Catalyst pushes a parent filter to
    the orders scan on its own, but it cannot prune the other join
    input below an aggregate; the explicit semi-join can. With a
    selective predicate this drops most child rows from the shuffle;
    the surviving document set is identical because the inner join
    discards those parents' arrays regardless.

    ``item_where`` (optional): a CHILD-side predicate the caller's nested
    ``exists`` query will apply anyway. Parents owning at least one
    matching item keep their FULL item arrays (so the caller's predicate
    evaluates identically); parents with none are dropped here instead of
    after the collect_list shuffle — both sides semi-join-prefilter on
    the matching parent keys, so a selective nested query stops paying to
    assemble arrays it immediately discards (guide §3.2).
    """
    if item_where is not None:
        matching = lineitem.where(item_where).select("l_orderkey")
        orders = orders.join(
            matching.withColumnRenamed("l_orderkey", "o_orderkey"),
            "o_orderkey",
            "left_semi",
        )
        lineitem = lineitem.join(matching, "l_orderkey", "left_semi")
    if parent_where is not None:
        orders = orders.where(parent_where)
        # small filtered key set → planner picks a broadcast semi join;
        # at lake scale with a non-broadcastable key set the bloom-filter
        # variant (guide §3.2) replaces this line
        lineitem = lineitem.join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_semi",
        )
    items = lineitem.select(
        "l_orderkey",
        F.struct("l_returnflag", "l_quantity", "l_extendedprice").alias("item"),
    )
    return orders.select("o_orderkey", "o_orderpriority").join(
        items.groupBy("l_orderkey").agg(F.collect_list("item").alias("items")),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select("o_orderkey", "o_orderpriority", "items")


def nested_agg(
    parents: DataFrame,
    parent_where: str = "o_orderpriority = '1-URGENT'",
) -> DataFrame:
    """(key, n_items, qty1000): ES ``nested`` aggregation — switch the
    aggregation context from parent documents to their nested sub-documents
    (es-8.18.2 exposes this as the ``nested`` bucket agg; ``doc_count`` is
    the NESTED doc count, and sub-aggs read nested fields). Spark-native:
    a parent-level filter, one ``explode`` of the item array (narrow map —
    no shuffle; nested-schema pruning keeps unread struct fields out of the
    scan), then an ordinary partial+final aggregation by the nested term.
    """
    ex = (
        parents.where(parent_where)
        .select(F.explode("items").alias("it"))
        .select(
            F.col("it.l_returnflag").alias("key"),
            F.round(F.col("it.l_quantity") * F.lit(1000)).cast("long").alias("q1000"),
        )
    )
    return (
        ex.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("q1000").cast("long").alias("qty1000"),
        )
        .orderBy("key")
    )


def reverse_nested_agg(
    parents: DataFrame,
    parent_where: str = "o_orderpriority = '1-URGENT'",
) -> DataFrame:
    """(key, n_items, n_parents): ES ``reverse_nested`` — inside a nested
    bucket, jump back OUT to the parent-document context, so each nested
    term bucket also reports how many PARENT docs contain it (the classic
    "comments by user → how many posts" shape). Spark-native: carry the
    parent key through the explode and add ``count(DISTINCT parent)``
    alongside the nested count — one aggregation, no second pass.
    """
    ex = (
        parents.where(parent_where)
        .select("o_orderkey", F.explode("items").alias("it"))
        .select("o_orderkey", F.col("it.l_returnflag").alias("key"))
    )
    return (
        ex.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.countDistinct("o_orderkey").cast("long").alias("n_parents"),
        )
        .orderBy("key")
    )


# Relational twins: the nested mapping is just a pre-joined parent/child
# pair, so the oracle re-derives both answers from the flat tables.
NESTED_SQL = """
SELECT l.l_returnflag AS key, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l.l_quantity * 1000) AS BIGINT)) AS BIGINT) AS qty1000
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_returnflag ORDER BY key
"""

REVERSE_NESTED_SQL = """
SELECT l.l_returnflag AS key, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_parents
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_returnflag ORDER BY key
"""


def queries() -> dict:
    return {
        "rel_cidr_top_talkers": lambda s, d: cidr_rollup(
            load_table(s, d, "events")
        ),
        "es_ip_prefix": lambda s, d: ip_prefix_agg(load_table(s, d, "events")),
        "es_ip_prefix_v6": lambda s, d: ip_prefix_v6_agg(
            load_table(s, d, "events")
        ),
        "es_ip_range": lambda s, d: ip_range_agg(load_table(s, d, "events")),
        "rel_flows_by_nation": lambda s, d: flows_by_nation(
            load_table(s, d, "events"),
            load_table(s, d, "customer"),
            load_table(s, d, "nation"),
        ),
        "rel_users_intersect": lambda s, d: users_in_both(
            load_table(s, d, "events"), "click", "purchase"
        ),
        "rel_rollup_report": lambda s, d: rollup_report(
            load_table(s, d, "lineitem")
        ),
        "rel_json_props": lambda s, d: json_props_stats(load_table(s, d, "events")),
        "rel_interval_join": lambda s, d: interval_join(load_table(s, d, "events")),
        "es_has_child": lambda s, d: has_child_agg(
            load_table(s, d, "orders"), load_table(s, d, "lineitem")
        ),
        # parent_where here mirrors the aggs' own default filter — it only
        # prunes the fixture build (child semi-join before collect_list);
        # the aggregated result is bit-identical (pytest-pinned)
        "es_nested": lambda s, d: nested_agg(
            nested_parent_docs(
                load_table(s, d, "orders"), load_table(s, d, "lineitem"),
                parent_where="o_orderpriority = '1-URGENT'",
            )
        ),
        "es_reverse_nested": lambda s, d: reverse_nested_agg(
            nested_parent_docs(
                load_table(s, d, "orders"), load_table(s, d, "lineitem"),
                parent_where="o_orderpriority = '1-URGENT'",
            )
        ),
    }


def oracle_sql() -> dict:
    return {
        "rel_cidr_top_talkers": cidr_rollup_sql(),
        "es_ip_prefix": ip_prefix_sql(),
        "es_ip_prefix_v6": ip_prefix_v6_sql(),
        "es_ip_range": ip_range_sql(),
        "rel_flows_by_nation": FLOWS_BY_NATION_SQL,
        "rel_users_intersect": users_in_both_sql("click", "purchase"),
        "rel_json_props": JSON_PROPS_SQL,
        "rel_rollup_report": ROLLUP_SQL,
        "rel_interval_join": interval_join_sql(),
        "es_has_child": HAS_CHILD_SQL,
        "es_nested": NESTED_SQL,
        "es_reverse_nested": REVERSE_NESTED_SQL,
    }
