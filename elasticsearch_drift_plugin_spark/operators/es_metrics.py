"""Second batch of host-Elasticsearch aggregations, engine-native:
``missing``, ``median_absolute_deviation``, ``boxplot``, ``string_stats``,
``rate``, ``date_range``, ``multi_terms``, ``rare_terms``.

Like ``es_aggs.py``, these complete the porting surface around the
reference's one custom operator: a real search body that contains
`proportional_sum` (registered `DriftPlugin.java:29-35`) routinely mixes in
these stock aggs, which the host ES provides (SURVEY.md §2.2). Public ES
contracts implemented:

- ``missing``: single bucket counting docs whose field is NULL; here
  grouped per dimension so the result is a table, with the ``value_count``
  metric (# docs with a value) as the natural sibling.
- ``median_absolute_deviation``: ES computes an approximate
  ``median(|x - median(x)|)`` (TDigest); we compute it exactly via two
  sort-based percentile passes.
- ``boxplot``: min/max/q1/q2/q3 plus whiskers at the most extreme data
  points inside the 1.5·IQR Tukey fences (the same fence rule ES documents
  for its boxplot agg).
- ``string_stats``: count / min / max / sum of lengths plus the Shannon
  entropy of the character distribution. Entropy is computed in integer
  quanta (one floored ``log2`` per distinct character count — the same
  discipline as corpus TF-IDF) so cross-engine float drift cannot flip the
  hash: ``H_q = floor(log2(N)·Q) - (Σ c·floor(log2(c)·Q)) div N``.
- ``rate``: per calendar-month bucket, the quantized value sum divided by
  the number of rate-unit intervals (days) in THAT bucket — month lengths
  vary, matching ES's calendar-aware rate scaling.
- ``date_range``: half-open ``[from, to)`` buckets over epoch-ms with ISO
  keys; every requested range is returned (zero-filled), docs may land in
  several overlapping ranges.
- ``multi_terms``: composite term buckets over several fields, doc_count
  desc with per-field key asc tie-break, top ``size``.
- ``rare_terms``: buckets with ``doc_count <= max_doc_count``, ordered
  count asc then key asc (exact; ES trades exactness for a CuckooFilter —
  same contract, no false positives here).

Scale: every agg is one partial+final hash aggregation (single shuffle on
the group key). ``string_stats`` explodes characters map-side — fan-out =
chars/doc, collapsed by the partial agg before the shuffle, so shuffle rows
are #(group, char) pairs, not #chars. MAD and boxplot are two aggregation
passes with a broadcast join of per-group medians/fences (O(#groups) rows —
the legitimate broadcast-small pattern); exact percentiles shuffle values
by group (unavoidable for exact results — ``percentile_approx`` is the
documented 100 TB swap, see stats.py).

NaN/NULL: metric aggs skip docs whose numeric field is NULL or NaN, both
engines filtering identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sql_literal import literal_frame
from ..sources.flows import load_table, ts_ms_col

QUANT = 1_000_000
_VALID = "value IS NOT NULL AND NOT isnan(value)"


def _valid(field: str) -> str:
    return f"{field} IS NOT NULL AND NOT isnan({field})"


def _bjoin(left: DataFrame, right: DataFrame, keys: list[str], broadcast: bool = True):
    """Equi-join on ``keys``, degrading to the 1×N cross join when the
    group list is empty (the compiler's scalar form — the right side is a
    single global-aggregate row, so the cross join is a broadcast of one
    row, not a real cartesian)."""
    r = F.broadcast(right) if broadcast else right
    return left.join(r, keys) if keys else left.crossJoin(r)


# --------------------------------------------------------------------------
# missing + value_count
# --------------------------------------------------------------------------

def missing_agg(df: DataFrame, field: str, group_by: list[str]) -> DataFrame:
    """(group..., missing_count, value_count): ES ``missing`` bucket
    doc_count and the ``value_count`` metric per group. NULL is missing;
    NaN is a present (if unusable) value — both engines agree because
    ``count(field)`` counts NaN rows and skips NULL rows. An empty
    ``group_by`` gives the whole-index single-bucket form (ES's ungrouped
    ``missing`` agg)."""
    out = df.groupBy(*group_by).agg(
        (F.count(F.lit(1)) - F.count(field)).alias("missing_count"),
        F.count(field).alias("value_count"),
    )
    return out.orderBy(*group_by) if group_by else out


def missing_sql(src: str, field: str, group_by: list[str]) -> str:
    g = ", ".join(group_by)
    return f"""
SELECT {g}, COUNT(*) - COUNT({field}) AS missing_count,
       COUNT({field}) AS value_count
FROM {src} GROUP BY {g} ORDER BY {g}
"""


# --------------------------------------------------------------------------
# median_absolute_deviation
# --------------------------------------------------------------------------

def mad_agg(df: DataFrame, field: str, group_by: list[str]) -> DataFrame:
    """(group..., mad_q): exact median absolute deviation per group.

    Two percentile passes: per-group median, broadcast back (O(#groups)
    rows), then the median of absolute deviations. ES's TDigest version is
    approximate; exactness here is what makes the oracle hashable."""
    valid = df.where(_valid(field))
    med = valid.groupBy(*group_by).agg(
        F.expr(f"percentile({field}, 0.5)").alias("__med")
    )
    dev = _bjoin(valid, med, group_by).select(
        *group_by, F.abs(F.col(field) - F.col("__med")).alias("__dev")
    )
    return (
        dev.groupBy(*group_by)
        .agg(
            F.floor(F.expr("percentile(__dev, 0.5)") * F.lit(float(QUANT))).alias(
                "mad_q"
            )
        )
        .orderBy(*(group_by or [F.lit(1)]))
    )


def mad_sql(src: str, field: str, group_by: list[str]) -> str:
    g = ", ".join(group_by)
    return f"""
WITH valid AS (SELECT * FROM {src} WHERE {_valid(field)}),
med AS (SELECT {g}, quantile_cont({field}, 0.5) AS m FROM valid GROUP BY {g})
SELECT v.{g}, CAST(FLOOR(quantile_cont(ABS(v.{field} - med.m), 0.5)
                         * {float(QUANT)}) AS BIGINT) AS mad_q
FROM valid v JOIN med USING ({g})
GROUP BY v.{g} ORDER BY v.{g}
"""


# --------------------------------------------------------------------------
# boxplot
# --------------------------------------------------------------------------

def boxplot_agg(df: DataFrame, field: str, group_by: list[str]) -> DataFrame:
    """(group..., n, vmin, vmax, q1_q, q2_q, q3_q, lo_whisker, hi_whisker):
    ES ``boxplot``. Quartiles are exact interpolated percentiles
    (quantized); whiskers are the most extreme DATA values inside the
    Tukey fences ``[q1 - 1.5·IQR, q3 + 1.5·IQR]`` — raw doubles, safe to
    hash because both engines pick an actual input value."""
    valid = df.where(_valid(field))
    q = valid.groupBy(*group_by).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(field).alias("vmin"),
        F.max(field).alias("vmax"),
        F.expr(f"percentile({field}, array(0.25, 0.5, 0.75))").alias("__q"),
    )
    q = q.select(
        *group_by,
        "n",
        "vmin",
        "vmax",
        F.col("__q")[0].alias("__q1"),
        F.col("__q")[1].alias("__q2"),
        F.col("__q")[2].alias("__q3"),
    )
    fenced = _bjoin(valid, q, group_by)
    iqr = F.col("__q3") - F.col("__q1")
    lo_f = F.col("__q1") - 1.5 * iqr
    hi_f = F.col("__q3") + 1.5 * iqr
    wh = fenced.groupBy(*group_by).agg(
        F.min(F.when(F.col(field) >= lo_f, F.col(field))).alias("lo_whisker"),
        F.max(F.when(F.col(field) <= hi_f, F.col(field))).alias("hi_whisker"),
    )
    out = _bjoin(q, wh, group_by, broadcast=False).select(
        *group_by,
        "n",
        "vmin",
        "vmax",
        F.floor(F.col("__q1") * F.lit(float(QUANT))).alias("q1_q"),
        F.floor(F.col("__q2") * F.lit(float(QUANT))).alias("q2_q"),
        F.floor(F.col("__q3") * F.lit(float(QUANT))).alias("q3_q"),
        "lo_whisker",
        "hi_whisker",
    )
    return out.orderBy(*(group_by or [F.lit(1)]))


def boxplot_sql(src: str, field: str, group_by: list[str]) -> str:
    g = ", ".join(group_by)
    return f"""
WITH valid AS (SELECT * FROM {src} WHERE {_valid(field)}),
q AS (
  SELECT {g}, COUNT(*) AS n, MIN({field}) AS vmin, MAX({field}) AS vmax,
         quantile_cont({field}, 0.25) AS q1,
         quantile_cont({field}, 0.5)  AS q2,
         quantile_cont({field}, 0.75) AS q3
  FROM valid GROUP BY {g}
),
wh AS (
  SELECT v.{g},
         MIN(CASE WHEN v.{field} >= q.q1 - 1.5 * (q.q3 - q.q1)
                  THEN v.{field} END) AS lo_whisker,
         MAX(CASE WHEN v.{field} <= q.q3 + 1.5 * (q.q3 - q.q1)
                  THEN v.{field} END) AS hi_whisker
  FROM valid v JOIN q USING ({g}) GROUP BY v.{g}
)
SELECT q.{g}, q.n, q.vmin, q.vmax,
       CAST(FLOOR(q.q1 * {float(QUANT)}) AS BIGINT) AS q1_q,
       CAST(FLOOR(q.q2 * {float(QUANT)}) AS BIGINT) AS q2_q,
       CAST(FLOOR(q.q3 * {float(QUANT)}) AS BIGINT) AS q3_q,
       wh.lo_whisker, wh.hi_whisker
FROM q JOIN wh USING ({g}) ORDER BY {g}
"""


# --------------------------------------------------------------------------
# string_stats
# --------------------------------------------------------------------------

def string_stats_agg(df: DataFrame, text_col: str, group_by: list[str]) -> DataFrame:
    """(group..., count, min_len, max_len, sum_len, distinct_chars,
    entropy_q): ES ``string_stats`` with ``show_distribution`` folded into
    one integer-quantized Shannon entropy over the per-group character
    distribution.

    ``H = log2(N) - (Σ c·log2 c)/N`` over character counts ``c``; each
    ``log2`` is floored to 1e-6 quanta BEFORE the sum so both engines do
    identical integer arithmetic. Fan-out (1 row per character) is
    collapsed by the partial aggregation before any shuffle; the
    char-explode map step widens a too-narrow scan first (a small parquet
    is one split — single-threaded otherwise)."""
    from ..sources.flows import widen_narrow_scan

    base = widen_narrow_scan(df.where(F.col(text_col).isNotNull()))
    lens = base.groupBy(*group_by).agg(
        F.count(F.lit(1)).alias("count"),
        F.min(F.length(text_col)).alias("min_len"),
        F.max(F.length(text_col)).alias("max_len"),
        F.sum(F.length(text_col)).alias("sum_len"),
    )
    chars = base.select(
        *group_by,
        F.explode(F.expr(f"sequence(1, length({text_col}))")).alias("__i"),
        F.col(text_col).alias("__t"),
    ).select(*group_by, F.expr("substring(__t, __i, 1)").alias("__ch"))
    per_char = chars.groupBy(*group_by, "__ch").agg(F.count(F.lit(1)).alias("__c"))
    ent = per_char.groupBy(*group_by).agg(
        F.count(F.lit(1)).alias("distinct_chars"),
        F.sum(
            F.col("__c") * F.floor(F.log2("__c") * F.lit(float(QUANT)))
        ).alias("__s"),
        F.sum("__c").alias("__n"),
    )
    ent = ent.select(
        *group_by,
        "distinct_chars",
        (
            F.floor(F.log2("__n") * F.lit(float(QUANT)))
            - F.expr("__s div __n")
        ).alias("entropy_q"),
    )
    return _bjoin(lens, ent, group_by, broadcast=False).orderBy(
        *(group_by or [F.lit(1)])
    )


def string_stats_sql(src: str, text_col: str, group_by: list[str]) -> str:
    g = ", ".join(group_by)
    return f"""
WITH base AS (SELECT * FROM {src} WHERE {text_col} IS NOT NULL),
lens AS (
  SELECT {g}, COUNT(*) AS count, MIN(LENGTH({text_col})) AS min_len,
         MAX(LENGTH({text_col})) AS max_len,
         CAST(SUM(LENGTH({text_col})) AS BIGINT) AS sum_len
  FROM base GROUP BY {g}
),
chars AS (
  SELECT {g}, SUBSTRING({text_col}, i, 1) AS ch
  FROM (SELECT {g}, {text_col},
               UNNEST(GENERATE_SERIES(1, LENGTH({text_col}))) AS i
        FROM base)
),
per_char AS (SELECT {g}, ch, COUNT(*) AS c FROM chars GROUP BY {g}, ch),
ent AS (
  SELECT {g}, COUNT(*) AS distinct_chars,
         SUM(c * CAST(FLOOR(LOG2(c) * {float(QUANT)}) AS BIGINT)) AS s,
         SUM(c) AS n
  FROM per_char GROUP BY {g}
)
SELECT lens.{g}, lens.count, lens.min_len, lens.max_len, lens.sum_len,
       ent.distinct_chars,
       CAST(CAST(FLOOR(LOG2(ent.n) * {float(QUANT)}) AS BIGINT) - ent.s // ent.n
         AS BIGINT) AS entropy_q
FROM lens JOIN ent USING ({g}) ORDER BY {g}
"""


# --------------------------------------------------------------------------
# rate (calendar-aware)
# --------------------------------------------------------------------------

# months contain an integer number of these units — rate stays exact
# integer math. week/quarter/year are NOT integer multiples of a month
# and would force fractional division, so they raise.
RATE_UNITS_PER_DAY = {
    "second": 86_400, "minute": 1_440, "hour": 24, "day": 1, "month": None
}


def rate_agg(
    df: DataFrame, t_ms: str, value_col: str, unit: str = "day"
) -> DataFrame:
    """(key, doc_count, unit_intervals, rate_q): ES ``rate`` with a monthly
    date_histogram bucket — the quantized value sum per bucket divided by
    how many ``unit``s that month holds (second/minute/hour/day exact per
    actual month length; ``month`` → 1), all in integer math. ``key`` is
    the bucket start in epoch ms."""
    if unit not in RATE_UNITS_PER_DAY:
        raise ValueError(
            f"rate unit {unit!r} is not an integer divisor of a month"
            f" (have {sorted(RATE_UNITS_PER_DAY)})"
        )
    bucket = F.date_trunc("month", F.timestamp_millis(F.col(t_ms)))
    agg = (
        df.withColumn("__b", bucket)
        .groupBy("__b")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col(value_col).isNotNull() & ~F.isnan(value_col),
                        F.floor(F.col(value_col) * F.lit(float(QUANT))),
                    )
                ),
                F.lit(0),
            ).alias("__sum_q"),
        )
    )
    per_day = RATE_UNITS_PER_DAY[unit]
    if per_day is None:
        days = F.lit(1).cast("long")
    else:
        days = (
            F.datediff(F.add_months(F.col("__b"), 1), F.col("__b"))
            * F.lit(per_day)
        ).cast("long")
    return (
        agg.select(
            F.unix_millis("__b").alias("key"),
            "doc_count",
            days.alias("unit_intervals"),
            F.expr("__sum_q").alias("__sq"),
        )
        # floor (not truncate): a negative month-sum must match the twin's `//`
        .withColumn("rate_q", F.expr("(__sq - pmod(__sq, unit_intervals)) div unit_intervals"))
        .drop("__sq")
        .orderBy("key")
    )


def rate_sql(src: str, t_ms: str, value_col: str, unit: str = "day") -> str:
    per_day = RATE_UNITS_PER_DAY[unit]
    ui = (
        "1" if per_day is None
        else f"(date_diff('day', b, b + INTERVAL 1 MONTH) * {per_day})"
    )
    return f"""
WITH agg AS (
  SELECT date_trunc('month', make_timestamp(({t_ms}) * 1000)) AS b,
         COUNT(*) AS doc_count,
         COALESCE(SUM(CASE WHEN {value_col} IS NOT NULL AND NOT isnan({value_col})
                      THEN CAST(FLOOR({value_col} * {float(QUANT)}) AS BIGINT)
                      END), 0) AS sum_q
  FROM {src} GROUP BY 1
)
SELECT epoch_ms(b) AS key, doc_count,
       CAST({ui} AS BIGINT) AS unit_intervals,
       -- exact FLOOR (DuckDB integer // truncates): strip the nonneg remainder
       CAST((sum_q - ((sum_q % {ui} + {ui}) % {ui})) // {ui} AS BIGINT) AS rate_q
FROM agg ORDER BY key
"""


# --------------------------------------------------------------------------
# date_range
# --------------------------------------------------------------------------

def date_range_agg(
    df: DataFrame,
    t_ms: str,
    ranges: list[tuple[str | None, str | None]],
    value_col: str | None = None,
    extra_aggs: dict | None = None,
    time_zone: str | None = None,
    now_ms: int | None = None,
) -> DataFrame:
    """(key, range_from, range_to, doc_count[, value_q]): ES ``date_range``
    over epoch-ms. ``ranges`` are ISO date/datetime strings, full ES date
    MATH (``now-1d/d``, ``2024-01-01||+1M``; now-anchored forms need
    ``now_ms`` — the engine's reproducibility contract), or epoch-ms
    numbers; bounds resolve in ``time_zone`` (default UTC) through the
    SAME rounding engine as the range query clause
    (functions.es_dsl.resolve_range_bounds: ``from`` is an inclusive
    round-down ``gte``, ``to`` an exclusive round-down ``lt`` — ES
    DateRangeAggregationBuilder parses both with roundUp=false).
    Half-open ``[from, to)``, ``None`` = unbounded; keys are ``"from-to"``
    with ``*`` for an open bound (the RAW spelling — stable regardless of
    zone); every requested range is returned, zero-filled. Overlapping
    ranges double-count by design.

    Same plan as ``range_agg``: without ``extra_aggs``, ONE map-side pass
    of #ranges conditional counters collapsed to a single row and
    unfolded into bucket rows (no membership explode, no bucket-key
    exchange, no zero-fill join — r14, the ip_range recipe); with
    ``extra_aggs``, the exploded membership formulation."""
    from ..functions.es_dsl import resolve_range_bounds

    def _ms(v, op: str) -> int:
        bounds: dict = {op: v}
        if time_zone:
            bounds["time_zone"] = time_zone
        if now_ms is not None:
            bounds["now"] = int(now_ms)
        out = resolve_range_bounds(bounds)[op]
        if not isinstance(out, (int, float)):
            raise ValueError(
                f"date_range bound {v!r} did not resolve to an instant"
            )
        return int(out)

    rows = []
    for lo, hi in ranges:
        key = f"{lo or '*'}-{hi or '*'}"
        rows.append((
            key,
            None if lo is None else _ms(lo, "gte"),
            None if hi is None else _ms(hi, "lt"),
        ))

    if not extra_aggs:
        conds = []
        for _, lo, hi in rows:
            c = F.col(t_ms).isNotNull()
            if lo is not None:
                c = c & (F.col(t_ms) >= F.lit(int(lo)))
            if hi is not None:
                c = c & (F.col(t_ms) < F.lit(int(hi)))
            conds.append(c)
        counters = []
        for i, c in enumerate(conds):
            counters.append(F.count(F.when(c, 1)).alias(f"__dc{i}"))
            if value_col is not None:
                counters.append(
                    F.coalesce(
                        F.sum(
                            F.when(
                                c
                                & F.col(value_col).isNotNull()
                                & ~F.isnan(value_col),
                                F.floor(F.col(value_col) * F.lit(float(QUANT))),
                            )
                        ),
                        F.lit(0),
                    ).alias(f"__vq{i}")
                )
        buckets = F.array(
            *[
                F.struct(
                    F.lit(k).alias("key"),
                    F.lit(lo).cast("long").alias("range_from"),
                    F.lit(hi).cast("long").alias("range_to"),
                    F.col(f"__dc{i}").alias("doc_count"),
                    *(
                        [F.col(f"__vq{i}").alias("value_q")]
                        if value_col is not None
                        else []
                    ),
                )
                for i, (k, lo, hi) in enumerate(rows)
            ]
        )
        return (
            df.agg(*counters)
            .select(F.explode(buckets).alias("b"))
            .select("b.*")
            .orderBy("key")
        )

    structs = ",".join(
        "named_struct('key', '{k}', 'lo', {lo}, 'hi', {hi})".format(
            k=k,
            lo="CAST(NULL AS BIGINT)" if lo is None else f"{lo}L",
            hi="CAST(NULL AS BIGINT)" if hi is None else f"{hi}L",
        )
        for k, lo, hi in rows
    )
    member = (
        f"filter(array({structs}), r ->"
        f" (r.lo IS NULL OR {t_ms} >= r.lo) AND (r.hi IS NULL OR {t_ms} < r.hi))"
    )
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    if value_col is not None:
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col(value_col).isNotNull() & ~F.isnan(value_col),
                        F.floor(F.col(value_col) * F.lit(float(QUANT))),
                    )
                ),
                F.lit(0),
            ).alias("value_q")
        )
    aggs.extend((extra_aggs or {}).values())
    hit = (
        df.where(F.col(t_ms).isNotNull())
        .withColumn("r", F.explode(F.expr(member)))
        .groupBy(F.col("r.key").alias("key"))
        .agg(*aggs)
    )
    spine = literal_frame(
        df.sparkSession, rows, "key string, range_from long, range_to long"
    )
    fill = [F.coalesce(F.col("doc_count"), F.lit(0)).alias("doc_count")] + (
        [F.coalesce(F.col("value_q"), F.lit(0)).alias("value_q")] if value_col else []
    ) + [F.col(n) for n in (extra_aggs or {})]  # NULL on empty ranges
    return (
        F.broadcast(spine)
        .join(hit, "key", "left")
        .select("key", "range_from", "range_to", *fill)
        # order by the unique string key: NULL bounds sort differently in
        # Spark (NULLS FIRST) vs DuckDB (NULLS LAST)
        .orderBy("key")
    )


def date_range_sql(
    src: str,
    t_ms: str,
    ranges: list[tuple[str | None, str | None]],
    value_col: str | None = None,
) -> str:
    from datetime import datetime, timezone

    def _ms(iso: str) -> int:
        return int(
            datetime.fromisoformat(iso).replace(tzinfo=timezone.utc).timestamp() * 1000
        )

    rows = ", ".join(
        "('{k}', {lo}, {hi})".format(
            k=f"{lo or '*'}-{hi or '*'}",
            lo="CAST(NULL AS BIGINT)" if lo is None else _ms(lo),
            hi="CAST(NULL AS BIGINT)" if hi is None else _ms(hi),
        )
        for lo, hi in ranges
    )
    val_sel = (
        f", COALESCE(SUM(CASE WHEN {value_col} IS NOT NULL AND NOT isnan({value_col})"
        f" THEN CAST(FLOOR({value_col} * {float(QUANT)}) AS BIGINT) END), 0) AS value_q"
        if value_col
        else ""
    )
    val_out = ", CAST(COALESCE(h.value_q, 0) AS BIGINT) AS value_q" if value_col else ""
    return f"""
WITH r(key, range_from, range_to) AS (VALUES {rows}),
hit AS (
  SELECT r.key, COUNT(*) AS doc_count{val_sel}
  FROM {src} s JOIN r
    ON (r.range_from IS NULL OR ({t_ms}) >= r.range_from)
   AND (r.range_to IS NULL OR ({t_ms}) < r.range_to)
  WHERE ({t_ms}) IS NOT NULL
  GROUP BY r.key
)
SELECT r.key, r.range_from, r.range_to, COALESCE(h.doc_count, 0) AS doc_count{val_out}
FROM r LEFT JOIN hit h USING (key)
ORDER BY r.key
"""


# --------------------------------------------------------------------------
# multi_terms / rare_terms
# --------------------------------------------------------------------------

def multi_terms_agg(df: DataFrame, fields: list[str], size: int = 10) -> DataFrame:
    """(field..., doc_count): ES ``multi_terms`` — composite term buckets,
    doc_count desc with per-field asc tie-break, top ``size``. One hash
    aggregation; the final top-``size`` sorts #distinct-combination rows,
    the same coordinator reduce ES runs."""
    cond = None
    for f_ in fields:
        c = F.col(f_).isNotNull()
        cond = c if cond is None else (cond & c)
    return (
        df.where(cond)
        .groupBy(*fields)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), *[F.col(f_).asc() for f_ in fields])
        .limit(size)
    )


def multi_terms_sql(src: str, fields: list[str], size: int = 10) -> str:
    g = ", ".join(fields)
    notnull = " AND ".join(f"{f_} IS NOT NULL" for f_ in fields)
    order = ", ".join(f"{f_} ASC" for f_ in fields)
    return f"""
SELECT {g}, COUNT(*) AS doc_count FROM {src}
WHERE {notnull}
GROUP BY {g} ORDER BY doc_count DESC, {order} LIMIT {size}
"""


def rare_terms_agg(df: DataFrame, field: str, max_doc_count: int = 1) -> DataFrame:
    """(key, doc_count): ES ``rare_terms`` — the long tail: every term with
    ``doc_count <= max_doc_count``, count asc then key asc. ES accepts
    CuckooFilter false positives to bound memory; this is the exact
    contract (one hash agg + HAVING — at 100 TB the agg state is
    #distinct-terms, spillable, and the filter prunes before the sort)."""
    return (
        df.where(F.col(field).isNotNull())
        .groupBy(F.col(field).alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .where(F.col("doc_count") <= max_doc_count)
        .orderBy(F.col("doc_count").asc(), F.col("key").asc())
    )


def rare_terms_sql(src: str, field: str, max_doc_count: int = 1) -> str:
    return f"""
SELECT {field} AS key, COUNT(*) AS doc_count FROM {src}
WHERE {field} IS NOT NULL
GROUP BY {field} HAVING COUNT(*) <= {max_doc_count}
ORDER BY doc_count ASC, key ASC
"""


# --------------------------------------------------------------------------
# adjacency_matrix
# --------------------------------------------------------------------------

def adjacency_matrix_agg(df: DataFrame, filters: dict[str, str]) -> DataFrame:
    """(key, doc_count): ES ``adjacency_matrix`` — one bucket per named
    filter plus one per pairwise intersection (key ``"a&b"`` in name
    order), empty buckets omitted (the ES contract).

    Same shape as ``filters_agg``: every predicate is evaluated per row in
    codegen into a literal key array, exploded (fan-out ≤ n + n(n-1)/2),
    then one hash aggregation — the corpus is scanned once."""
    names = sorted(filters)
    singles = [
        f"CASE WHEN {filters[n]} THEN '{n}' END" for n in names
    ]
    pairs = [
        f"CASE WHEN ({filters[a]}) AND ({filters[b]}) THEN '{a}&{b}' END"
        for i, a in enumerate(names)
        for b in names[i + 1 :]
    ]
    arr = ", ".join(singles + pairs)
    return (
        df.select(
            F.explode(
                F.expr(f"filter(array({arr}), x -> x IS NOT NULL)")
            ).alias("key")
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("key")
    )


def adjacency_matrix_sql(src: str, filters: dict[str, str]) -> str:
    names = sorted(filters)
    parts = [
        f"SELECT '{n}' AS key, COUNT(*) AS doc_count FROM {src} WHERE {filters[n]}"
        for n in names
    ] + [
        f"SELECT '{a}&{b}' AS key, COUNT(*) AS doc_count FROM {src}"
        f" WHERE ({filters[a]}) AND ({filters[b]})"
        for i, a in enumerate(names)
        for b in names[i + 1 :]
    ]
    union = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({union}) WHERE doc_count > 0 ORDER BY key"


# --------------------------------------------------------------------------
# diversified_sampler -> sub-aggregation
# --------------------------------------------------------------------------

def diversified_sampler_terms(
    df: DataFrame,
    diversify_col: str,
    sub_terms_col: str,
    max_docs_per_value: int = 3,
    shard_size: int = 200,
    id_col: str = "event_id",
) -> DataFrame:
    """(key, doc_count): ES ``diversified_sampler`` feeding a ``terms``
    sub-agg — cap docs per ``diversify_col`` value, take the best
    ``shard_size`` overall, then aggregate the SAMPLE.

    ES ranks by relevance score; an engine query has none, so the rank is
    the deterministic content hash (md5-60 of the doc id) — reproducible
    on any engine and any parallelism, like ``corpus.hash_sample``. One
    ranking window applies the per-value cap; the global top-N over the
    capped survivors is ``orderBy().limit()`` — Spark plans it as
    TakeOrderedAndProject (per-partition top-N + driver merge of N·#parts
    rows), never a single-partition sort."""
    from ..functions.hashing import md5_hash60
    from pyspark.sql import Window

    h = md5_hash60(F.col(id_col).cast("string"))
    wv = Window.partitionBy(diversify_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__r", F.row_number().over(wv))
        .where(F.col("__r") <= max_docs_per_value)
        .orderBy(h.asc(), F.col(id_col).asc())
        .limit(shard_size)
        .groupBy(F.col(sub_terms_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col("key").asc())
    )


def diversified_sampler_terms_sql(
    src: str,
    diversify_col: str,
    sub_terms_col: str,
    max_docs_per_value: int = 3,
    shard_size: int = 200,
    id_col: str = "event_id",
) -> str:
    from ..functions.hashing import HEX15_SQL_FN

    h = HEX15_SQL_FN.format(expr=f"CAST({id_col} AS VARCHAR)")
    return f"""
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {diversify_col}
                               ORDER BY {h} ASC, {id_col} ASC) AS r
  FROM {src}
),
capped AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY {h} ASC, {id_col} ASC) AS g
  FROM ranked WHERE r <= {max_docs_per_value}
)
SELECT {sub_terms_col} AS key, COUNT(*) AS doc_count
FROM capped WHERE g <= {shard_size}
GROUP BY {sub_terms_col} ORDER BY doc_count DESC, key ASC
"""


# --------------------------------------------------------------------------
# t_test (Welch)
# --------------------------------------------------------------------------

_T_QUANT = 100  # 1e-2 value quanta: sum of squares stays exact in a double


def t_test_agg(df: DataFrame, field: str, filter_a: str, filter_b: str) -> DataFrame:
    """(n_a, n_b, t_q): ES ``t_test`` (heteroscedastic / Welch) between two
    predicate populations.

    Determinism discipline: values are floored to 1e-2 quanta so Σx and
    Σx² are EXACT 64-bit integers (≤ 5e12 here — inside double's 2^53
    integer range, so the int→double conversions are exact too). The final
    ``t`` is then one fixed double expression over exactly-representable
    integers — identical bits in any IEEE-754 engine — floored to 1e-6:

        t = (Σa/n_a − Σb/n_b) / sqrt(v_a/(n_a²(n_a−1)) + v_b/(n_b²(n_b−1)))
        v_i = n_i·Σx² − (Σx)²   (exact integers)
    """
    def _side(pred: str, tag: str):
        x = F.floor(F.col(field) * F.lit(float(_T_QUANT))).cast("long")
        side = df.where(F.expr(pred)).where(_valid(field)).select(x.alias("x"))
        return side.agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum("x").alias(f"s_{tag}"),
            F.sum(F.col("x") * F.col("x")).alias(f"ss_{tag}"),
        )

    joined = _side(filter_a, "a").crossJoin(_side(filter_b, "b"))
    t_expr = (
        "(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b) / "
        "sqrt(CAST(n_a * ss_a - s_a * s_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1)) + "
        "     CAST(n_b * ss_b - s_b * s_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)))"
    )
    return joined.select(
        "n_a", "n_b", F.floor(F.expr(t_expr) * F.lit(float(QUANT))).alias("t_q")
    )


def t_test_sql(src: str, field: str, filter_a: str, filter_b: str) -> str:
    def _side(pred: str, tag: str) -> str:
        return f"""
{tag} AS (
  SELECT COUNT(*) AS n_{tag}, SUM(x) AS s_{tag}, SUM(x * x) AS ss_{tag}
  FROM (SELECT CAST(FLOOR({field} * {float(_T_QUANT)}) AS BIGINT) AS x
        FROM {src} WHERE ({pred}) AND {_valid(field)})
)"""

    t_expr = (
        "(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b) / "
        "sqrt(CAST(n_a * ss_a - s_a * s_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1)) + "
        "     CAST(n_b * ss_b - s_b * s_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)))"
    )
    return f"""
WITH {_side(filter_a, "a")}, {_side(filter_b, "b")}
SELECT n_a, n_b, CAST(FLOOR(({t_expr}) * {float(QUANT)}) AS BIGINT) AS t_q
FROM a, b
"""


# --------------------------------------------------------------------------
# driver-contract registry
# --------------------------------------------------------------------------

_ADJ_FILTERS = {
    "big": "value >= 100",
    "click": "event_type = 'click'",
    "odd": "user_id % 2 = 1",
}

_DATE_RANGES: list[tuple[str | None, str | None]] = [
    (None, "2024-01-08"),
    ("2024-01-08", "2024-01-15"),
    ("2024-01-12", "2024-01-25"),
    ("2024-01-25", None),
]


# --------------------------------------------------------------------------
# variable_width_histogram
# --------------------------------------------------------------------------
def variable_width_histogram(
    df: DataFrame, value_col: str, buckets: int = 8, quantize: int = 4
) -> DataFrame:
    """(key, min_q, max_q, doc_count): ES ``variable_width_histogram`` —
    ``buckets`` clusters of the value distribution. ES runs an online
    1-pass clusterer whose result depends on shard doc order; this engine
    uses the deterministic equivalent: split the sorted DISTINCT quantized
    values at the ``buckets − 1`` largest gaps (tie-break on value), which
    is the optimal 1-D clustering under the max-gap criterion and identical
    on every engine.

    Scale note (honest): the gap ranking runs a window over the sorted
    distinct-value set. Quantization bounds that set (≤ value-range ·
    10^quantize rows), and the heavy lifting — collapsing raw rows to
    distinct values with counts — is a partial+final hash agg; only the
    distinct spine (not the data) passes through the single-partition
    window, the same shape as the psum empty-fill spine."""
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    from pyspark.sql import Window

    scale = float(10**quantize)
    q = F.floor(F.col(value_col) * F.lit(scale))
    vals = (
        df.where(F.col(value_col).isNotNull() & ~F.isnan(value_col))
        .select(q.alias("vq"))
        .groupBy("vq")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wo = Window.orderBy("vq")
    gapped = vals.select(
        "vq", "n", (F.col("vq") - F.lag("vq").over(wo)).alias("gap")
    )
    wg = Window.orderBy(F.col("gap").desc_nulls_last(), F.col("vq").asc())
    ranked = gapped.select(
        "vq", "n", F.when(F.row_number().over(wg) <= buckets - 1, 1).otherwise(0).alias("cut")
    )
    wc = Window.orderBy("vq").rowsBetween(Window.unboundedPreceding, 0)
    clustered = ranked.select("vq", "n", F.sum("cut").over(wc).alias("key"))
    return (
        clustered.groupBy("key")
        .agg(
            F.min("vq").alias("min_q"),
            F.max("vq").alias("max_q"),
            F.sum("n").alias("doc_count"),
        )
        .orderBy("key")
    )


def variable_width_histogram_sql(
    src: str, value_col: str, buckets: int = 8, quantize: int = 4
) -> str:
    scale = float(10**quantize)
    return f"""
WITH vals AS (
  SELECT CAST(FLOOR({value_col} * {scale}) AS BIGINT) AS vq, COUNT(*) AS n
  FROM {src} WHERE {value_col} IS NOT NULL AND NOT isnan({value_col})
  GROUP BY 1
),
gapped AS (
  SELECT vq, n, vq - lag(vq) OVER (ORDER BY vq) AS gap FROM vals
),
ranked AS (
  SELECT vq, n,
         CASE WHEN ROW_NUMBER() OVER (ORDER BY gap DESC NULLS LAST, vq ASC)
                   <= {int(buckets) - 1} THEN 1 ELSE 0 END AS cut
  FROM gapped
),
clustered AS (
  SELECT vq, n, SUM(cut) OVER (ORDER BY vq
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS key
  FROM ranked
)
SELECT CAST(key AS BIGINT) AS key, MIN(vq) AS min_q, MAX(vq) AS max_q,
       CAST(SUM(n) AS BIGINT) AS doc_count
FROM clustered GROUP BY key ORDER BY key
"""


# --------------------------------------------------------------------------
# categorize_text
# --------------------------------------------------------------------------
def categorize_text(
    df: DataFrame, text_col: str, size: int = 20, tokens: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """(key, doc_count, example_id): ES ``categorize_text`` — group
    semi-structured messages by token pattern. ES's version drains a
    proprietary ML tokenizer; the engine-neutral equivalent: lowercase,
    collapse every digit run to ``#``, keep the first ``tokens``
    whitespace tokens as the category key. Deterministic, pure codegen,
    one hash agg; top-``size`` by count (key tie-break), lowest doc_id as
    the exemplar the way ES surfaces a sample message."""
    skel = F.concat_ws(
        " ",
        F.slice(
            F.split(
                F.regexp_replace(F.lower(F.col(text_col)), "[0-9]+", "#"),
                "\\s+",
            ),
            1,
            tokens,
        ),
    )
    return (
        df.select(skel.alias("key"), F.col(id_col).alias("__id"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.min("__id").alias("example_id"),
        )
        .orderBy(F.col("doc_count").desc(), F.col("key").asc())
        .limit(size)
    )


def categorize_text_sql(src: str, text_col: str, size: int = 20, tokens: int = 4) -> str:
    return f"""
WITH keyed AS (
  SELECT array_to_string(
           list_slice(regexp_split_to_array(
             regexp_replace(lower({text_col}), '[0-9]+', '#', 'g'), '\\s+'),
             1, {int(tokens)}), ' ') AS key,
         doc_id
  FROM {src}
)
SELECT key, COUNT(*) AS doc_count, MIN(doc_id) AS example_id
FROM keyed GROUP BY key
ORDER BY doc_count DESC, key ASC LIMIT {int(size)}
"""


def _events_t_ms(s, d) -> DataFrame:
    ev = load_table(s, d, "events")
    return ev.select(ts_ms_col(ev).alias("t_ms"), "value")


def random_sampler_agg(
    events: DataFrame,
    group_cols: list[str],
    inv_probability: int = 4,
    seed_salt: str = "sampler-v1",
) -> DataFrame:
    """(group…, n_sampled, doc_count_est, sum_value_q_est): ES
    ``random_sampler`` — run the sub-aggregation on a p = 1/k document
    sample and scale doc_count (and here the value sum) back up by k.

    ES samples with a seeded RNG per shard; this engine uses the
    deterministic salted-hash membership every sampling surface here uses
    (``corpus.hash_sample`` discipline): reproducible across runs/engines
    and monotone in p. ``inv_probability`` is an integer so the scale-up
    is exact integer multiplication — no float estimate drift.

    The sample predicate evaluates in the scan projection (map-side), so
    at 100 TB the aggregation touches 1/k of the rows — the entire point
    of the agg. One partial+final aggregation after the filter.
    """
    from ..functions.hashing import md5_hash60

    if inv_probability < 1:
        raise ValueError("inv_probability must be >= 1")
    h = F.pmod(
        md5_hash60(
            F.concat_ws("#", F.lit(seed_salt), F.col("event_id").cast("string"))
        ),
        F.lit(inv_probability),
    )
    q = F.floor(F.col("value") * F.lit(1_000_000))
    return (
        events.where(F.col("value").isNotNull() & ~F.isnan("value"))
        .where(h == 0)
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.sum(q).alias("__sq"))
        .select(
            *group_cols,
            "n_sampled",
            (F.col("n_sampled") * inv_probability).alias("doc_count_est"),
            (F.col("__sq") * inv_probability).alias("sum_value_q_est"),
        )
        .orderBy(*(group_cols or [F.lit(1)]))
    )


def random_sampler_sql(
    group_cols: list[str], inv_probability: int = 4, seed_salt: str = "sampler-v1"
) -> str:
    from ..functions.hashing import HEX15_SQL_FN

    g = ", ".join(group_cols)
    h = HEX15_SQL_FN.format(expr=f"'{seed_salt}' || '#' || CAST(event_id AS VARCHAR)")
    return f"""
SELECT {g}, COUNT(*) AS n_sampled,
       COUNT(*) * {inv_probability} AS doc_count_est,
       CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) * {inv_probability}
            AS BIGINT) AS sum_value_q_est
FROM events
WHERE value IS NOT NULL AND NOT isnan(value) AND ({h}) % {inv_probability} = 0
GROUP BY {g} ORDER BY {g}
"""


def top_hits_agg(
    df: DataFrame,
    group_cols: list[str],
    sort_col: str = "value",
    id_col: str = "event_id",
    carry_cols: tuple[str, ...] = ("user_id",),
    size: int = 3,
    order: str = "desc",
) -> DataFrame:
    """(group..., rank, id, carry..., ``<sort>_q``): ES ``top_hits``
    sub-agg — the ``size`` best documents per bucket by sort value
    (``order`` desc/asc — r10 adds asc; id-asc tie-break), projecting a
    subset of ``_source`` fields.

    ES keeps a per-shard top-``size`` heap and merges heaps at reduce
    (``TopHitsAggregator``); the Spark twin is a ranking window over the
    bucket key — one shuffle on the key, partition-local sort, rows with a
    missing/NaN sort value skipped (ES sorts them last; with real hits
    present they never reach a small ``size``). At 100 TB the refinement is
    a map-side per-partition top-``size`` (``slice(sort_array(
    collect_list(struct)))`` partial agg, the same shard-heap bound ES
    enforces) before the window, so the shuffle carries ≤ size rows per
    (input partition, bucket) instead of the full bucket.
    """
    if order not in ("desc", "asc"):
        raise ValueError(f"top_hits sort order must be asc/desc, got {order!r}")
    keep = F.col(sort_col).isNotNull() & ~F.isnan(F.col(sort_col))
    skey = F.col(sort_col).desc() if order == "desc" else F.col(sort_col).asc()
    w = Window.partitionBy(*group_cols).orderBy(skey, F.col(id_col))
    return (
        df.where(keep)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= size)
        .select(
            *group_cols,
            "rank",
            id_col,
            *carry_cols,
            F.floor(F.col(sort_col) * F.lit(1000000.0)).cast("long").alias(f"{sort_col}_q"),
        )
        .orderBy(*group_cols, "rank")
    )


def top_hits_sql(
    table: str,
    group_cols: list[str],
    sort_col: str = "value",
    id_col: str = "event_id",
    carry_cols: tuple[str, ...] = ("user_id",),
    size: int = 3,
    order: str = "desc",
) -> str:
    g = ", ".join(group_cols)
    carry = "".join(f", {c}" for c in carry_cols)
    return f"""
WITH ranked AS (
  SELECT {g}, {id_col}{carry},
         CAST(FLOOR({sort_col} * 1000000.0) AS BIGINT) AS {sort_col}_q,
         ROW_NUMBER() OVER (PARTITION BY {g}
                            ORDER BY {sort_col} {order.upper()}, {id_col}) AS rank
  FROM {table}
  WHERE {sort_col} IS NOT NULL AND NOT isnan({sort_col})
)
SELECT {g}, CAST(rank AS BIGINT) AS rank, {id_col}{carry}, {sort_col}_q
FROM ranked WHERE rank <= {size} ORDER BY {g}, rank
"""


def rrf_fusion(
    events: DataFrame,
    window: int = 100,
    k: int = 60,
    size: int = 10,
) -> DataFrame:
    """(event_id, rank_value, rank_recency, score_q): ES 8.x Reciprocal
    Rank Fusion (the ``rrf`` retriever): fuse two independent rankings —
    here value-desc and recency-desc — by ``score = Σ 1/(k + rank_i)``
    over each ranking's top ``rank_window_size`` results, then take the
    top ``size`` fused hits. A doc outside one ranking's window
    contributes 0 from that ranking, exactly the ES contract.

    Scale: each source ranking is a global top-``window`` —
    TakeOrderedAndProject (per-partition heaps), never a global sort —
    and ALL downstream work (rank assignment, the fusion join, the final
    sort) happens on ≤ 2·window rows. Scores are exact integers
    (``1e12 div (k + rank)`` summed), so ranking ties are engine-stable.
    """
    from ..sources.flows import ts_ms_col

    base = events.where(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).select("event_id", "value", ts_ms_col(events).alias("t_ms"))
    wv = Window.orderBy(F.col("value").desc(), "event_id")
    wr = Window.orderBy(F.col("t_ms").desc(), "event_id")
    topv = (
        base.orderBy(F.col("value").desc(), "event_id").limit(window)
        .withColumn("rank_value", F.row_number().over(wv).cast("long"))
        .select("event_id", "rank_value")
    )
    topr = (
        base.orderBy(F.col("t_ms").desc(), "event_id").limit(window)
        .withColumn("rank_recency", F.row_number().over(wr).cast("long"))
        .select("event_id", "rank_recency")
    )
    contrib = lambda c: F.coalesce(
        F.expr(f"1000000000000 div ({k} + {c})"), F.lit(0)
    )
    return (
        topv.join(topr, "event_id", "full_outer")
        .select(
            "event_id",
            "rank_value",
            "rank_recency",
            (contrib("rank_value") + contrib("rank_recency")).cast("long").alias("score_q"),
        )
        .orderBy(F.col("score_q").desc(), "event_id")
        .limit(size)
    )


def rrf_fusion_sql(
    table: str = "events", window: int = 100, k: int = 60, size: int = 10
) -> str:
    return f"""
WITH base AS (
  SELECT event_id, value, epoch_ms(ts) AS t_ms FROM {table}
  WHERE value IS NOT NULL AND NOT isnan(value)
),
topv AS (
  SELECT event_id, CAST(ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS BIGINT)
           AS rank_value
  FROM base ORDER BY value DESC, event_id LIMIT {window}
),
topr AS (
  SELECT event_id, CAST(ROW_NUMBER() OVER (ORDER BY t_ms DESC, event_id) AS BIGINT)
           AS rank_recency
  FROM base ORDER BY t_ms DESC, event_id LIMIT {window}
),
fused AS (
  SELECT COALESCE(topv.event_id, topr.event_id) AS event_id,
         rank_value, rank_recency,
         COALESCE(1000000000000 // ({k} + rank_value), 0)
           + COALESCE(1000000000000 // ({k} + rank_recency), 0) AS score_q
  FROM topv FULL OUTER JOIN topr ON topv.event_id = topr.event_id
)
SELECT event_id, rank_value, rank_recency, CAST(score_q AS BIGINT) AS score_q
FROM fused ORDER BY score_q DESC, event_id LIMIT {size}
"""


def queries() -> dict:
    return {
        "es_random_sampler": lambda s, d: random_sampler_agg(
            load_table(s, d, "events"), ["event_type"]
        ),
        "es_missing": lambda s, d: missing_agg(
            load_table(s, d, "events"), "value", ["event_type"]
        ),
        "es_mad": lambda s, d: mad_agg(
            load_table(s, d, "events"), "value", ["event_type"]
        ),
        "es_boxplot": lambda s, d: boxplot_agg(
            load_table(s, d, "events"), "value", ["event_type"]
        ),
        "es_string_stats": lambda s, d: string_stats_agg(
            load_table(s, d, "documents"), "text", ["source"]
        ),
        "es_rate_month": lambda s, d: rate_agg(
            load_table(s, d, "lineitem").select(
                F.unix_millis(F.col("l_shipdate").cast("timestamp")).alias("t_ms"),
                F.col("l_quantity").cast("double").alias("value"),
            ),
            "t_ms",
            "value",
        ),
        "es_date_range": lambda s, d: date_range_agg(
            _events_t_ms(s, d), "t_ms", _DATE_RANGES, value_col="value",
        ),
        "es_multi_terms": lambda s, d: multi_terms_agg(
            load_table(s, d, "events").select(
                "event_type", F.pmod(F.col("user_id"), F.lit(7)).alias("u7")
            ),
            ["event_type", "u7"],
            size=15,
        ),
        "es_rare_terms": lambda s, d: rare_terms_agg(
            load_table(s, d, "events"), "user_id", max_doc_count=55
        ),
        "es_adjacency_matrix": lambda s, d: adjacency_matrix_agg(
            load_table(s, d, "events"), _ADJ_FILTERS
        ),
        "es_diversified_sampler": lambda s, d: diversified_sampler_terms(
            load_table(s, d, "events"), "user_id", "event_type",
            max_docs_per_value=3, shard_size=200,
        ),
        "es_t_test": lambda s, d: t_test_agg(
            load_table(s, d, "events"), "value",
            "event_type = 'click'", "event_type = 'purchase'",
        ),
        "es_variable_width_histogram": lambda s, d: variable_width_histogram(
            load_table(s, d, "events"), "value"
        ),
        "es_categorize_text": lambda s, d: categorize_text(
            load_table(s, d, "documents"), "text"
        ),
        "es_top_hits": lambda s, d: top_hits_agg(
            load_table(s, d, "events"), ["event_type"]
        ),
        # r10: ascending sort (SCOPE.md §E) — the cheapest-first shape
        "es_top_hits_asc": lambda s, d: top_hits_agg(
            load_table(s, d, "events"), ["event_type"], order="asc"
        ),
        "es_rrf_fusion": lambda s, d: rrf_fusion(load_table(s, d, "events")),
    }


def oracle_sql() -> dict:
    return {
        "es_random_sampler": random_sampler_sql(["event_type"]),
        "es_missing": missing_sql("events", "value", ["event_type"]),
        "es_mad": mad_sql("events", "value", ["event_type"]),
        "es_boxplot": boxplot_sql("events", "value", ["event_type"]),
        "es_string_stats": string_stats_sql("documents", "text", ["source"]),
        "es_rate_month": rate_sql(
            "(SELECT epoch_ms(CAST(l_shipdate AS TIMESTAMP)) AS t_ms,"
            " CAST(l_quantity AS DOUBLE) AS value FROM lineitem)",
            "t_ms",
            "value",
        ),
        "es_date_range": date_range_sql(
            "(SELECT epoch_ms(ts) AS t_ms, value FROM events)",
            "t_ms",
            _DATE_RANGES,
            value_col="value",
        ),
        "es_multi_terms": multi_terms_sql(
            "(SELECT event_type, ((user_id % 7) + 7) % 7 AS u7 FROM events)",
            ["event_type", "u7"],
            size=15,
        ),
        "es_rare_terms": rare_terms_sql("events", "user_id", max_doc_count=55),
        "es_adjacency_matrix": adjacency_matrix_sql("events", _ADJ_FILTERS),
        "es_diversified_sampler": diversified_sampler_terms_sql(
            "events", "user_id", "event_type", max_docs_per_value=3, shard_size=200
        ),
        "es_t_test": t_test_sql(
            "events", "value", "event_type = 'click'", "event_type = 'purchase'"
        ),
        "es_variable_width_histogram": variable_width_histogram_sql(
            "events", "value"
        ),
        "es_categorize_text": categorize_text_sql("documents", "text"),
        "es_top_hits": top_hits_sql("events", ["event_type"]),
        "es_top_hits_asc": top_hits_sql("events", ["event_type"], order="asc"),
        "es_rrf_fusion": rrf_fusion_sql(),
    }
