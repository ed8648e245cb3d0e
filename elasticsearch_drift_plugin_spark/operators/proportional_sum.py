"""``proportional_sum`` — the reference's one user-visible operator,
re-expressed as native Spark DataFrame algebra.

Semantics (es-8.18.2 ProportionalSumAggregator.java:71-338, registered
DriftPlugin.java:29-35): a date-histogram over a per-row time range
``[start, end]``; the row lands in EVERY bucket its range overlaps, crediting
each bucket with ``value * overlap/duration`` where ``overlap`` is computed
against the *unclamped* range (mass outside the query range is dropped, not
renormalized — ProportionalSumAggregator.java:183-204) and a zero-duration
row contributes its full value to its single bucket (ratio forced to 1,
:198-201). Every touched bucket also increments ``doc_count`` — including a
zero-overlap terminal bucket when a range ends exactly on a boundary (loop is
``<= lastRounded``, :190, :206-213).

Spark-first design (SURVEY.md §7.2): validate → sampling scale-up → clamp →
round → ``explode(sequence(first_bucket, last_bucket))`` → overlap/ratio →
``groupBy(key).agg(sum, count)``. 100% native Catalyst expressions: the whole
pipeline is whole-stage-codegen'd, aggregation is Tungsten hash agg with
automatic partial (map-side) + final (post-shuffle) phases — the Spark
equivalent of the reference's shard-collect + coordinator-reduce
(InternalProportionalSumHistogram.java:343-416). No UDFs, no RDDs, no
driver-side loops; the only shuffle is the single groupBy on the bucket key
(plus one tiny spine join when ``min_doc_count == 0``).

Scale notes (100 TB): the explode fan-out is bounded per row by
``max_buckets_per_row`` (the circuit-breaker analog —
InternalProportionalSumHistogram.java:383-387); rows that cannot overlap the
query range are filtered on the RAW input columns so the predicate pushes
down to the parquet scan; the pre-shuffle partial aggregation collapses the
exploded rows to at most (buckets × input-partitions) records before any
data moves.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import memo
from ..functions.sql_literal import literal_frame, sql_str
from ..functions.time import (
    calendar_interval_expr,
    floor_fixed_ms,
    local_ts_to_utc_ms,
    to_epoch_ms,
)
from ..params import PSumParams, normalize, prefilter_bounds, round_key_ms

# Internal column names (prefixed to avoid collision with user columns).
_S, _E, _V, _KEY, _WEND, _TB = "__ps_s", "__ps_e", "__ps_v", "key", "__ps_wend", "__ps_tb"
_LK = "__ps_local_key"  # fixed+tz: the bucket's LOCAL wall-clock ms edge

OUTPUT_COLUMNS = ("key", "key_ts", "doc_count", "value")


def _qid(name: str) -> str:
    """Backtick-quoted SQL identifier (column names may contain dots)."""
    return "`" + name.replace("`", "``") + "`"


def _ms_sql(col_sql: str, dtype: T.DataType) -> str:
    """SQL-text twin of :func:`functions.time.to_epoch_ms` — the whole
    operator prefix is built as SQL strings since r15 so construction is
    ONE parse instead of hundreds of py4j round trips (the BPE merge-loop
    lesson; ~0.25 s of driver latency per psum construction measured)."""
    if isinstance(dtype, T.TimestampType):
        return f"unix_millis({col_sql})"
    if isinstance(dtype, (T.TimestampNTZType, T.DateType)):
        return f"unix_millis(CAST({col_sql} AS TIMESTAMP))"
    return f"CAST({col_sql} AS BIGINT)"


def _check_sql(cond_sql: str, msg_sql: str, value_sql: str, vtype: str) -> str:
    """SQL-text twin of :func:`_check` (same expression tree: the parser
    builds the identical CaseWhen/raise_error nodes Column algebra did)."""
    return (
        f"CASE WHEN (NOT ({cond_sql})) THEN CAST(raise_error({msg_sql}) AS"
        f" {vtype}) ELSE {value_sql} END"
    )


def _ms_param(x) -> int | None:
    """Accept epoch-ms int, ISO string, or datetime for start/end params."""
    if x is None or isinstance(x, int):
        return x
    if isinstance(x, str):
        x = datetime.fromisoformat(x.replace("Z", "+00:00"))
    if isinstance(x, datetime):
        if x.tzinfo is None:
            x = x.replace(tzinfo=timezone.utc)
        # exact integer ms (int(ts*1000) truncates a float ulp below the
        # true value for sub-second instants — the r11 precision sweep)
        from ..params import _dt_to_ms

        return _dt_to_ms(x)
    raise TypeError(f"cannot interpret {x!r} as epoch ms")


def _time_lit(ms: int, dtype: T.DataType) -> Column:
    """Literal comparable against a raw input column — keeps the overlap
    pre-filter pushdown-eligible at the parquet scan."""
    if isinstance(dtype, (T.TimestampType, T.DateType)):
        return F.timestamp_millis(F.lit(ms))
    return F.lit(ms)


def _time_lit_sql(ms: int, dtype: T.DataType) -> str:
    """SQL-text twin of :func:`_time_lit`."""
    if isinstance(dtype, (T.TimestampType, T.DateType)):
        return f"timestamp_millis({int(ms)}L)"
    return f"{int(ms)}L"


def _check(cond: Column, message: Column, value: Column) -> Column:
    """Reference-style input validation: abort the query on bad rows
    (ProportionalSumAggregator.java:143-159 throws IllegalArgumentException)."""
    return F.when(~cond, F.raise_error(message)).otherwise(value)


def proportional_sum(
    df: DataFrame,
    start_col: str,
    end_col: str,
    value_col: str,
    sampling_col: str | None = None,
    *,
    interval: int | str | None = None,
    calendar_interval: str | None = None,
    offset: int | str = 0,
    start=None,
    end=None,
    time_zone: str | None = None,
    min_doc_count: int = 1,
    order: Sequence[tuple[str, bool]] | None = None,
    group_by: Sequence[str] = (),
    extra_aggs: Mapping[str, Column] | None = None,
    extended_bounds: tuple | None = None,
    hard_bounds: tuple | None = None,
    key_format: str | None = None,
    max_buckets_per_row: int = 100_000,
    max_fill_buckets: int = 1_000_000,
    validate: bool = True,
    quantize: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Proportionally spread each row's ``value`` over the time buckets its
    ``[start_col, end_col]`` range overlaps, and aggregate per bucket.

    Positional-field roles ``[start, end, value, sampling]`` from the
    reference (OrderedValueReferences.java:45-102) become named parameters.

    Parameters
    ----------
    interval / calendar_interval
        Fixed ms (int or ``'90m'``-style) vs calendar unit
        (``second … year``); the calendar form wins if both are set
        (ProportionalSumAggregationBuilder.java:247-272).
    offset
        Shifts the rounding grid: ``round(t - offset) + offset``
        (ProportionalSumAggregator.java:183-186). When 0 and ``start`` is
        set, auto-derived as ``start - round(start)``
        (ProportionalSumAggregatorFactory.java:94-101).
    start / end
        Query-range clamp for bucket *generation*; overlap ratios still use
        the unclamped row range (ProportionalSumAggregator.java:107-108,
        :183-186). Accept epoch ms, ISO string, or datetime.
    time_zone
        Gated EXTENSION: round to wall-clock boundaries of this IANA zone
        instead of UTC — the semantics of the reference's commented-out
        ``timeZone()`` plumbing
        (ProportionalSumAggregationBuilder.java:435-483, tz hardcoded null
        at :432-434) and of every ES date_histogram with ``time_zone``.
        Bucket keys are the UTC instants of the local boundaries; DST days
        are 23/25 h wide and get proportionally less/more of a spanning
        row's value. With a CALENDAR interval, durations fully compose.
        With a FIXED interval (r12 — ES rounds fixed intervals in-zone,
        Rounding.TimeIntervalRounding), the grid executes in local
        wall-clock ms: both endpoints localize and the proportional
        ratio weights by LOCAL elapsed ms (r13 — instants AND
        durations). DST semantics, deliberate and oracle-shared: a row
        crossing spring-forward spreads over its inflated local span; a
        row whose local interval inverts across fall-back clamps to an
        instant at its localized start. Zero-fill keys fabricated inside
        a spring-forward gap collapse (ES's gap-collapse rule).
    min_doc_count
        Buckets with fewer docs dropped post-agg
        (InternalProportionalSumHistogram.java:382-387); ``0`` triggers
        empty-bucket zero-fill (:418-478).
    hard_bounds
        ES ``date_histogram`` ``hard_bounds`` (ms pair): only buckets whose
        key falls in ``[round(lo), round(hi)]`` are returned — data buckets
        outside are DROPPED and ``min_doc_count=0`` fill never extends past
        them (the dual of ``extended_bounds``, which can only widen).
        Applied as a post-aggregation key filter; rounding shares
        :func:`params.round_key_ms` with the oracle generator.
    group_by
        Extra grouping dimensions — the Spark form of nesting the operator
        under another bucket aggregation (ProportionalSumAggregator.java:118,
        owningBucketOrd) — trivially compositional here.
    extra_aggs
        Additional aggregate expressions computed per bucket — the Spark
        form of sub-aggregations (ProportionalSumAggregator.java:239-294).
    quantize
        When set (int digits), per-row contributions are floored to
        ``10^-quantize`` units and summed as exact longs — a deterministic
        cross-engine mode used by the DuckDB correctness oracle (double SUM
        order under shuffle is otherwise engine-dependent in the last ulps).
    strategy
        ``'explode'``: one row per (flow × overlapped bucket), collapsed
        map-side before the shuffle. ``'sweep'``: O(1) rows per flow via
        quantized difference arrays — for flows spanning thousands of
        buckets (requires fixed-width interval + quantize, no extra_aggs;
        measured crossover in :func:`_sweep_fixed`). ``'auto'`` (default):
        explode, unless the sweep preconditions hold, the ``start``/``end``
        clamp (if both are set) admits ``SWEEP_AUTO_FANOUT`` buckets, AND a
        bounded head-sample estimate of buckets-per-flow exceeds
        ``SWEEP_AUTO_FANOUT`` — then sweep. Both strategies are
        bit-identical in output.
    """
    p: PSumParams = normalize(
        interval=interval,
        calendar_interval=calendar_interval,
        offset=offset,
        start=_ms_param(start),
        end=_ms_param(end),
        min_doc_count=min_doc_count,
        extended_bounds=(
            tuple(_ms_param(b) for b in extended_bounds) if extended_bounds else None
        ),
        time_zone=time_zone,
        hard_bounds=(
            tuple(_ms_param(b) for b in hard_bounds) if hard_bounds else None
        ),
    )
    extra_aggs = dict(extra_aggs or {})
    spark = df.sparkSession

    # Unmapped-field no-op: missing columns yield an empty, correctly-shaped
    # result (ProportionalSumAggregator.java:324-331, createUnmapped).
    needed = [start_col, end_col, value_col] + ([sampling_col] if sampling_col else [])
    if any(c not in df.columns for c in needed):
        fields = [T.StructField(g, df.schema[g].dataType) for g in group_by if g in df.columns]
        fields += [
            T.StructField("key", T.LongType()),
            T.StructField("key_ts", T.TimestampType()),
            T.StructField("doc_count", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
        return literal_frame(spark, [], T.StructType(fields))

    # In this engine's UTC-only model (tz = null, reference parity) every
    # calendar unit except month/year has CONSTANT bucket width, and its
    # rounding is a fixed floor: trunc(t - off, unit) + off ==
    # floor_fixed(t, unit_ms, off + unit_epoch_shift) (week shifts by 4
    # days: 1970-01-01 was a Thursday, weeks floor to Monday). Sweep
    # therefore covers those units via an equivalent fixed-params rewrite;
    # only month/year (genuinely variable width) stay explode-only.
    sweep_p = p
    if p.kind == "calendar" and p.unit not in ("month", "year") and p.tz is None:
        from ..params import CALENDAR_UNIT_MS_MIN

        shift = 4 * 86400000 if p.unit == "week" else 0
        sweep_p = PSumParams(
            "fixed", CALENDAR_UNIT_MS_MIN[p.unit], None, p.offset_ms + shift,
            p.start, p.end, p.min_doc_count, p.extended_bounds,
            hard_bounds=p.hard_bounds,
        )
    # fixed+tz is explode-only: sweep's delta/prefix reconstruction runs in
    # LOCAL-ms key space, but r13's gap-bucket MERGE happens at the UTC-key
    # aggregation — re-merging sweep's already-divided doubles could drift
    # an ulp from the explode path's exact floored-quanta sums.
    sweep_ok = (
        sweep_p.kind == "fixed"
        and sweep_p.tz is None
        and quantize is not None
        and not extra_aggs
    )
    if strategy == "sweep" and not sweep_ok:
        raise ValueError(
            "strategy='sweep' requires a fixed-width interval (fixed, or any "
            "calendar unit except month/year), quantize, and no extra_aggs"
        )
    if strategy not in ("auto", "sweep", "explode"):
        raise ValueError(f"unknown strategy: {strategy!r}")

    # strategy='auto': explode by default — its map-side partial agg
    # collapses the fan-out before any shuffle and beats sweep up to a few
    # hundred buckets per flow (sf0.1: 6.8s vs 10.6s at ~60×); sweep's flat
    # cost wins at extreme fan-out (11.5s vs 105s at ~1400×). When the sweep
    # preconditions hold and the [start, end] clamp does not already cap
    # every flow under the crossover, auto spends ONE bounded head-sample
    # job (first `_AUTO_SAMPLE_ROWS` rows, no full scan) estimating avg
    # buckets/flow and switches to sweep past it. Results are
    # bit-identical either way (tests/test_property_psum.py), so a biased
    # head sample can only cost speed, never correctness.
    use_sweep = strategy == "sweep"
    if (
        strategy == "auto"
        and sweep_ok
        and not df.isStreaming
        and _clamped_fanout(sweep_p) >= SWEEP_AUTO_FANOUT
    ):
        use_sweep = _estimated_fanout(
            df, start_col, end_col, sweep_p.step_ms
        ) >= SWEEP_AUTO_FANOUT
    if sweep_ok and use_sweep:
        out = _sweep_fixed(
            df,
            start_col,
            end_col,
            value_col,
            sampling_col,
            sweep_p,
            list(group_by),
            quantize,
            validate,
            max_fill_buckets,
        )
    else:
        # Columns referenced by extra_aggs must survive the explode-projection;
        # Column reprs name the columns they touch, so carry any input column
        # mentioned there (over-carrying is harmless — Catalyst prunes unused).
        extra_dep_cols = [
            c
            for c in df.columns
            if c not in set(group_by)
            and extra_aggs
            and any(c in str(a) for a in extra_aggs.values())
        ]

        exploded, contrib = explode_contributions(
            df,
            start_col,
            end_col,
            value_col,
            sampling_col,
            p,
            group_by=group_by,
            extra_dep_cols=extra_dep_cols,
            max_buckets_per_row=max_buckets_per_row,
            validate=validate,
        )

        # A bucket whose every contribution is missing reduces to 0.0, not NULL:
        # the reference's Bucket.reduce starts at 0 and skips NaN partials
        # (InternalProportionalSumHistogram.java:136-149, :332-336).
        if quantize is not None:
            scale = 10**quantize
            agg_value = F.coalesce(
                F.sum(F.floor(contrib * F.lit(float(scale)))) / F.lit(float(scale)),
                F.lit(0.0),
            ).alias("value")
        else:
            agg_value = F.coalesce(F.sum(contrib), F.lit(0.0)).alias("value")

        aggs = [
            agg_value,
            F.count(F.lit(1)).alias("doc_count"),
            *[a.alias(n) for n, a in extra_aggs.items()],
        ]
        out = exploded.groupBy(*[F.col(g) for g in group_by], F.col(_KEY)).agg(*aggs)

    if p.min_doc_count > 1:
        out = out.where(F.col("doc_count") >= p.min_doc_count)
    elif p.min_doc_count == 0:
        # sweep_ok guarantees extra_aggs is empty on the sweep path, so
        # `exploded` (explode path only) is always defined when needed
        out = _fill_empty_buckets(
            out, p, group_by, extra_aggs, max_fill_buckets,
            empty_src=exploded if extra_aggs else None,
        )

    if p.hard_bounds is not None:
        # hard_bounds (beyond-reference extension — the reference plugin
        # carries only extended_bounds): keep only buckets keyed inside the
        # rounded bounds — drops data buckets outside AND clips the
        # zero-fill spine, which can only shrink past the fill step above.
        # Boundary convention, deliberate: INCLUSIVE upper after rounding
        # the max down to its bucket key, i.e. a max landing exactly on a
        # bucket boundary keeps that bucket. ES core's date_histogram
        # hard_bounds (LongBounds.contain on the rounded key) may exclude
        # that exact-boundary bucket; we prefer the symmetric rule because
        # the operator's own [start, end] query range is inclusive of the
        # terminal bucket (SURVEY §2 row 11) and both engines + the DuckDB
        # oracle share round_key_ms, so the contract is self-consistent.
        from ..params import local_ms_to_utc

        hb_lo = round_key_ms(p, p.hard_bounds[0])
        hb_hi = round_key_ms(p, p.hard_bounds[1])
        if p.kind == "fixed" and p.tz is not None:
            # r13: fixed+tz keys are UTC instants as of the explode-level
            # conversion; round_key_ms works in p-space (local ms), so
            # convert the rounded bounds with the SAME fold-0 rule the
            # key conversion uses (to_utc is monotone over walls, so the
            # local interval maps to the UTC interval)
            hb_lo = local_ms_to_utc(hb_lo, p.tz)
            hb_hi = local_ms_to_utc(hb_hi, p.tz)
        out = out.where((F.col(_KEY) >= hb_lo) & (F.col(_KEY) <= hb_hi))

    out = out.withColumn("key_ts", F.timestamp_millis(F.col(_KEY)))
    cols = [*group_by, "key", "key_ts", "doc_count", "value", *extra_aggs]
    if key_format:
        # with time_zone the formatted key renders the LOCAL wall time of
        # the bucket boundary (what an ES date_histogram with time_zone
        # returns in key_as_string); the numeric key stays the UTC instant
        render_ts = (
            F.from_utc_timestamp(F.col("key_ts"), p.tz) if p.tz else F.col("key_ts")
        )
        out = out.withColumn("key_as_string", F.date_format(render_ts, key_format))
        cols.append("key_as_string")
    out = out.select(*cols)

    return out.orderBy(*_order_cols(order, group_by))


def keyed_json(result: DataFrame, key_col: str | None = None) -> DataFrame:
    """Serving-edge ``keyed=true`` output mode (SURVEY.md §2 row 22;
    ProportionalSumAggregationBuilder.java:126, :354-365;
    InternalProportionalSumHistogram.java:524-539): the bucket list as ONE
    JSON object keyed by the formatted bucket key instead of an array.

    ``key_col`` defaults to ``key_as_string`` when present (i.e. the query
    used ``key_format``), else the raw ``key``. Entries are sorted by the
    key column so the object's member order is deterministic. The engine
    itself always returns DataFrames — this is the JSON edge only, and its
    output is bucket-list-sized (driver-safe), never input-sized.
    """
    if key_col is None:
        key_col = "key_as_string" if "key_as_string" in result.columns else "key"
    payload = [c for c in ("key", "key_ts", "doc_count", "value") if c in result.columns]
    # entries sorted by the NUMERIC bucket key (a lexicographic sort on the
    # stringified key would misorder mixed-width epochs), then projected to
    # (formatted key → payload) pairs
    entry = F.struct(
        F.col("key").alias("o"),
        F.col(key_col).cast("string").alias("k"),
        F.struct(*payload).alias("v"),
    )
    pairs = F.transform(
        F.sort_array(F.collect_list(entry)), lambda x: F.struct(x["k"], x["v"])
    )
    return result.select(F.to_json(F.map_from_entries(pairs)).alias("keyed"))


def explode_contributions(
    df: DataFrame,
    start_col: str,
    end_col: str,
    value_col: str,
    sampling_col: str | None,
    p: PSumParams,
    *,
    group_by: Sequence[str] = (),
    extra_dep_cols: Sequence[str] = (),
    max_buckets_per_row: int = 100_000,
    validate: bool = True,
):
    """The stateless validate → sample → clamp → round → explode → ratio
    prefix of the operator, shared verbatim by the batch aggregation above
    and the streaming variant (streaming/proportional_sum_stream.py) so the
    two can never drift semantically.

    Returns ``(exploded_df, contrib_col)`` where exploded_df has one row per
    (input row × overlapped bucket) with the bucket key in column ``key``.
    """
    base, s, e, v, cs, ce = _prepare_flows(
        df, start_col, end_col, value_col, sampling_col, p, validate
    )

    carry = [_qid(g) for g in group_by] + [_qid(c) for c in extra_dep_cols]

    # Materialize the validated/sampled/clamped expressions ONCE (r14) —
    # but ONLY for zone-shifted grids (r15, VERDICT r14 item 1): `s`/`e`
    # carry the raise_error validation CASEs and `cs`/`ce` nest them again,
    # and the explode's first/last/bucket-count expressions reference each
    # several times. Spark's subexpression elimination is per-operator, so
    # without a projection boundary the Generate re-evaluates the whole
    # tree per reference — which only matters when that tree contains
    # from_utc_timestamp localizations (the tz paths; psum_fixed_tz exec
    # 0.86 → 0.28 s). For the plain UTC grids the duplicated expressions
    # are cheap long arithmetic, and the unconditional boundary REGRESSED
    # the whole non-tz psum family 12–35% in the r14 driver window (an
    # extra row-at-a-time projection stage per input row for nothing), so
    # the non-tz trees keep their r13 shape. Values are identical either
    # way — the boundary only pins each expression to one evaluation.
    if p.tz is not None:
        _CS, _CE = "__ps_cs", "__ps_ce"
        base = base.selectExpr(
            *carry, f"({s}) AS {_S}", f"({e}) AS {_E}", f"({v}) AS {_V}",
            f"({cs}) AS {_CS}", f"({ce}) AS {_CE}",
        )
        s, e, v = _S, _E, _V
        cs, ce = _CS, _CE

    if p.kind == "fixed":
        step = p.step_ms

        def floor_fixed_sql(t: str) -> str:
            return f"(({t}) - pmod(({t}) - {p.offset_ms}, {step}))"

        first = floor_fixed_sql(cs)
        last = floor_fixed_sql(ce)
        n_buckets = f"(((({last}) - ({first})) / {step}) + 1)"
        first = _check_sql(
            f"({n_buckets}) <= {max_buckets_per_row}",
            f"concat('too many buckets for one row (max ',"
            f" '{max_buckets_per_row}', '): ',"
            f" CAST(({n_buckets}) AS STRING))",
            first,
            "BIGINT",
        )
        if p.tz is None:
            exploded = base.selectExpr(
                *carry,
                f"({s}) AS {_S}",
                f"({e}) AS {_E}",
                f"({v}) AS {_V}",
                f"explode(sequence({first}, {last}, {step})) AS {_KEY}",
            )
            win_end = f"({_KEY} + {step})"
            bucket_lo = _KEY
        else:
            # r13 fixed+tz: the grid lives in LOCAL wall-clock ms (the
            # calendar branch's _TB pattern) — overlap math stays in
            # local space while _KEY is the UTC instant of the local
            # boundary, so a spring-forward gap bucket MERGES with its
            # post-gap neighbor at the aggregation (ES's gap-collapse
            # for data, same as the calendar path's shared-key merge).
            exploded = base.selectExpr(
                *carry,
                f"({s}) AS {_S}",
                f"({e}) AS {_E}",
                f"({v}) AS {_V}",
                f"explode(sequence({first}, {last}, {step})) AS {_LK}",
            ).withColumn(
                _KEY,
                F.expr(
                    f"unix_millis(to_utc_timestamp(timestamp_millis({_LK}),"
                    f" '{p.tz}'))"
                ),
            )
            win_end = f"({_LK} + {step})"
            bucket_lo = _LK
    else:
        unit = p.unit

        # With p.tz the truncated timestamps hold LOCAL wall time: the
        # sequence steps uniformly in the local calendar (DST-safe) and each
        # boundary converts back to its UTC instant for key/overlap math.
        def floor_cal_sql(t: str) -> str:
            ts = f"timestamp_millis(({t}) - {p.offset_ms})"
            if p.tz:
                ts = f"from_utc_timestamp({ts}, '{p.tz}')"
            return f"date_trunc('{unit}', {ts})"

        def to_utc_ms_sql(ts: str) -> str:
            if p.tz:
                ts = f"to_utc_timestamp({ts}, '{p.tz}')"
            return f"unix_millis({ts})"

        tb_first = floor_cal_sql(cs)
        tb_last = floor_cal_sql(ce)
        n_approx = (
            f"(((unix_millis({tb_last}) - unix_millis({tb_first}))"
            f" / {p.min_bucket_ms}) + 1)"
        )
        tb_first = _check_sql(
            f"({n_approx}) <= {max_buckets_per_row}",
            f"concat('too many buckets for one row (max ',"
            f" '{max_buckets_per_row}', '): ~',"
            f" CAST(({n_approx}) AS STRING))",
            tb_first,
            "TIMESTAMP",
        )
        exploded = base.selectExpr(
            *carry,
            f"({s}) AS {_S}",
            f"({e}) AS {_E}",
            f"({v}) AS {_V}",
            f"explode(sequence({tb_first}, {tb_last}, INTERVAL 1 {unit}))"
            f" AS {_TB}",
        ).withColumn(
            _KEY,
            F.expr(f"({to_utc_ms_sql(_TB)} + {p.offset_ms})"),
        )
        win_end = (
            f"({to_utc_ms_sql(f'({_TB} + INTERVAL 1 {unit})')}"
            f" + {p.offset_ms})"
        )
        bucket_lo = _KEY

    # Proportional ratio against the UNCLAMPED row range
    # (ProportionalSumAggregator.java:193-204, :222-228 getTimeInWindow):
    # overlap = max(0, min(win_end, e) - max(key, s)); zero-duration → 1.
    # bucket_lo is the bucket's lower edge in the SAME time-space as
    # _S/_E: UTC ms normally, LOCAL wall ms for the fixed+tz grid (where
    # _KEY already holds the converted UTC instant).
    overlap = (
        f"greatest(least({win_end}, {_E}) - greatest({bucket_lo}, {_S}), 0)"
    )
    contrib = (
        f"({_V} * CASE WHEN (NOT (({_E} - {_S}) = 0)) THEN"
        f" (CAST(({overlap}) AS DOUBLE) / CAST(({_E} - {_S}) AS DOUBLE))"
        f" ELSE 1.0D END)"
    )
    return exploded, F.expr(contrib)


def _prepare_flows(df, start_col, end_col, value_col, sampling_col, p, validate):
    """Shared validate → sample → pre-filter → clamp prefix: returns
    ``(base_df, s, e, v, cs, ce)`` SQL-text expressions used by both
    aggregation strategies and the streaming variant (single source of
    truth). SQL strings since r15: the whole prefix lands in the JVM as
    one parse per consuming ``selectExpr``/``where`` instead of hundreds
    of py4j round trips — the expression trees are identical."""
    schema = {f.name: f.dataType for f in df.schema.fields}

    s = _ms_sql(_qid(start_col), schema[start_col])
    e = _ms_sql(_qid(end_col), schema[end_col])
    if validate:
        s = _check_sql(
            f"({s}) >= 0",
            f"concat({sql_str(f'field [{start_col}] must be >= 0, got ')},"
            f" CAST(({s}) AS STRING))",
            s,
            "BIGINT",
        )
        e = _check_sql(
            f"(({e}) >= 0) AND (({e}) >= ({s}))",
            f"concat({sql_str(f'field [{end_col}] must be >= 0 and >= [{start_col}], got ')},"
            f" CAST(({e}) AS STRING))",
            e,
            "BIGINT",
        )
    local_fixed = p.kind == "fixed" and p.tz is not None
    if local_fixed:
        # r12 fixed+tz: the grid lives in LOCAL wall-clock ms (ES rounds
        # fixed intervals in-zone — Rounding.TimeIntervalRounding); every
        # downstream fixed-grid expression runs unchanged in local space
        # and the main body converts keys back to UTC instants.
        # r13 extends the same trick to DURATION rows: BOTH endpoints
        # localize, the explode/sweep step uniformly in local ms, and the
        # proportional ratio weights by LOCAL elapsed ms. Consequence at a
        # DST transition (documented semantics, shared bit-for-bit with
        # the DuckDB oracle): a row crossing spring-forward spreads its
        # value over the inflated local span; a row whose local interval
        # INVERTS across fall-back (wall clock steps back past its start)
        # clamps to an instant at its localized start — full mass to that
        # bucket, the zero-duration ⇒ ratio-1 rule. Raw-column validation
        # (end >= start >= 0) already ran above, on UTC values.
        def _loc_ms(x: str) -> str:
            return (
                f"unix_millis(from_utc_timestamp(timestamp_millis({x}),"
                f" '{p.tz}'))"
            )

        s_loc = _loc_ms(s)
        e = f"greatest({_loc_ms(e)}, {s_loc})"
        s = s_loc

    # Sampling scale-up: applied iff present, finite and != 0
    # (ProportionalSumAggregator.java:171-180).
    v0 = f"CAST({_qid(value_col)} AS DOUBLE)"
    v = (
        f"CASE WHEN isnan({v0}) THEN CAST(NULL AS DOUBLE)"
        f" ELSE {v0} END"
    )
    if sampling_col is not None:
        sm = f"CAST({_qid(sampling_col)} AS DOUBLE)"
        factor = (
            f"CASE WHEN (((({sm}) IS NOT NULL AND (NOT isnan({sm})))"
            f" AND (NOT (({sm}) = double('Infinity'))))"
            f" AND (NOT (({sm}) = double('-Infinity'))))"
            f" AND (NOT (({sm}) = 0)) THEN {sm} ELSE 1.0D END"
        )
        v = f"(({v}) * ({factor}))"

    # Rows whose bucket loop would not execute are dropped BEFORE the explode —
    # literal comparisons on the raw columns, so parquet row-group skipping and
    # predicate pushdown apply. The bounds are the ROUNDED query range (not the
    # raw start/end): with an explicit offset the reference still credits a row
    # ending in [round(start), start) to the boundary bucket
    # (ProportionalSumAggregator.java:183-190; params.prefilter_bounds).
    base = df
    lo, hi = prefilter_bounds(p)
    if local_fixed:
        # fixed+tz: prefilter bounds are LOCAL-ms (normalize localized
        # them), so the cut compares the converted expressions — a
        # codegen filter, not a raw-column pushdown (the documented cost
        # of the zone extension; the conversion itself is scan-side).
        def conv_raw(c: str) -> str:
            inner = _ms_sql(_qid(c), schema[c])
            return (
                f"unix_millis(from_utc_timestamp(timestamp_millis({inner}),"
                f" '{p.tz}'))"
            )

        if lo is not None:
            # the effective end is the CLAMPED local end (fall-back
            # inversion collapses to the start) — same value the
            # contribution math uses, so the cut drops exactly the
            # rows whose bucket loop would not execute
            base = base.where(
                f"greatest({conv_raw(end_col)}, {conv_raw(start_col)})"
                f" >= {int(lo)}L"
            )
        if hi is not None:
            base = base.where(f"{conv_raw(start_col)} < {int(hi)}L")
    else:
        if lo is not None:
            base = base.where(
                f"{_qid(end_col)} >= {_time_lit_sql(lo, schema[end_col])}"
            )
        if hi is not None:
            base = base.where(
                f"{_qid(start_col)} < {_time_lit_sql(hi, schema[start_col])}"
            )

    cs = f"greatest({s}, {int(p.start)}L)" if p.start is not None else s
    ce = f"least({e}, {int(p.end)}L)" if p.end is not None else e
    return base, s, e, v, cs, ce


def _sweep_fixed(
    df: DataFrame,
    start_col: str,
    end_col: str,
    value_col: str,
    sampling_col: str | None,
    p: PSumParams,
    group_by: Sequence[str],
    quantize: int,
    validate: bool,
    max_spine_buckets: int,
) -> DataFrame:
    """Sweep-line aggregation — the O(1)-rows-per-flow fast path for FIXED
    intervals with quantized sums.

    Instead of exploding every flow into every overlapped bucket (O(range/
    interval) rows per flow), each flow emits ≤ 4 records: its two partial
    boundary buckets as *points*, and its uniform middle contribution as a
    ±difference pair (+q at first middle bucket, −q one past the last).
    Bucket values are reconstructed by a running prefix-sum of the deltas
    over the generated bucket spine. Because the deltas are the SAME
    floored 10^-q longs the explode path sums per bucket (middle-bucket
    overlap is exactly one interval, so one flow's floor is one long), the
    result is bit-identical — prefix sums of exact integers commute
    (asserted property-based in tests/test_property_psum.py).

    Work is O(4 × flows + spine) regardless of buckets-per-flow, at the
    price of extra stages (bucket agg + spine join + ordered prefix window
    per group; spine bounded by ``max_spine_buckets``). Measured at sf0.1
    over lineitem flows: ~60× fan-out — explode 6.8s, sweep 10.6s;
    ~1400× fan-out — explode 105s, sweep 11.5s. Hence opt-in
    (``strategy='sweep'``) for flows spanning thousands of buckets; the
    default explode path's map-side combine is better below that.
    """
    base, s_sql, e_sql, v_sql, cs_sql, ce_sql = _prepare_flows(
        df, start_col, end_col, value_col, sampling_col, p, validate
    )
    # the sweep's record-builder composes Column algebra; wrap the shared
    # SQL-text prefix once (construction here is not hot — sweep is the
    # extreme-fanout path)
    s, e, v = F.expr(s_sql), F.expr(e_sql), F.expr(v_sql)
    cs, ce = F.expr(cs_sql), F.expr(ce_sql)
    step, off = p.step_ms, p.offset_ms
    scale = float(10**quantize)
    fb = floor_fixed_ms(cs, step, off)
    lb = floor_fixed_ms(ce, step, off)
    nb = (lb - fb) / F.lit(step) + 1
    dur = e - s

    def q_at(bucket: Column) -> Column:
        # identical expression structure to the explode path's
        # floor(contrib * scale) so every float op matches bit-for-bit
        overlap = F.greatest(
            F.least(bucket + F.lit(step), e) - F.greatest(bucket, s), F.lit(0)
        )
        ratio = F.when(
            dur != 0, overlap.cast("double") / dur.cast("double")
        ).otherwise(F.lit(1.0))
        return F.floor((v * ratio) * F.lit(scale))

    # middle buckets overlap exactly one full interval
    mid_ratio = F.when(dur != 0, F.lit(step).cast("double") / dur.cast("double")).otherwise(
        F.lit(1.0)
    )
    q_mid = F.floor((v * mid_ratio) * F.lit(scale))

    one = F.lit(1).cast("long")
    point, delta = F.lit(0), F.lit(1)

    def rec(k: Column, vq: Column, dc: Column, kind: Column) -> Column:
        return F.struct(k.alias("k"), vq.alias("vq"), dc.alias("dc"), kind.alias("d"))

    recs = F.array(
        rec(fb, q_at(fb), one, point),
        F.when(nb >= 2, rec(lb, q_at(lb), one, point)),
        F.when(nb >= 3, rec(fb + F.lit(step), q_mid, one, delta)),
        F.when(nb >= 3, rec(lb, -q_mid, -one, delta)),
    )
    carry = [F.col(g) for g in group_by]
    parts = (
        base.select(*carry, F.explode(recs).alias("__r"))
        .where(F.col("__r").isNotNull())
        .select(
            *carry,
            F.col("__r.k").alias(_KEY),
            F.col("__r.vq").alias("__vq"),
            F.col("__r.dc").alias("__dc"),
            F.col("__r.d").alias("__d"),
        )
    )
    agg = parts.groupBy(*[F.col(g) for g in group_by], F.col(_KEY)).agg(
        F.sum(F.when(F.col("__d") == 0, F.col("__vq"))).alias("__pq"),
        F.coalesce(F.sum(F.when(F.col("__d") == 0, F.col("__dc"))), F.lit(0)).alias("__pdc"),
        F.sum(F.when(F.col("__d") == 1, F.col("__vq"))).alias("__dq"),
        F.coalesce(F.sum(F.when(F.col("__d") == 1, F.col("__dc"))), F.lit(0)).alias("__ddc"),
    )

    # bounds from `agg`, not `parts`: the groupBy exchange is identical so
    # Spark's ReuseExchange computes the flow scan once
    bounds = agg.groupBy(*[F.col(g) for g in group_by]).agg(
        F.min(_KEY).alias("__mn"), F.max(_KEY).alias("__mx")
    )
    spine_n = (F.col("__mx") - F.col("__mn")) / F.lit(step) + 1
    mn = _check(
        spine_n <= max_spine_buckets,
        F.concat(
            F.lit("bucket spine too large for sweep strategy (max "),
            F.lit(str(max_spine_buckets)),
            F.lit("): "),
            spine_n.cast("string"),
            F.lit(" — use strategy='explode' for sparse ultra-wide data"),
        ),
        F.col("__mn"),
    )
    spine = bounds.select(
        *[F.col(g) for g in group_by],
        F.explode(F.sequence(mn, F.col("__mx"), F.lit(step))).alias(_KEY),
    )

    from pyspark.sql import Window

    joined = spine.join(agg, [*group_by, _KEY], "left")
    w = (
        Window.partitionBy(*[F.col(g) for g in group_by])
        .orderBy(F.col(_KEY))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_vq = F.sum(F.coalesce(F.col("__dq"), F.lit(0))).over(w)
    cum_dc = F.sum(F.coalesce(F.col("__ddc"), F.lit(0))).over(w)
    doc_count = (F.coalesce(F.col("__pdc"), F.lit(0)) + cum_dc).cast("long")
    value = (F.coalesce(F.col("__pq"), F.lit(0)) + cum_vq) / F.lit(scale)
    return (
        joined.select(
            *group_by,
            F.col(_KEY),
            value.alias("value"),
            doc_count.alias("doc_count"),
        )
        .where(F.col("doc_count") > 0)
    )


# Measured crossover (sf0.1 lineitem flows, day buckets): explode wins at
# ~60× fan-out, sweep wins ~10× at ~1400×; the break-even sits in the low
# hundreds of buckets per flow.
SWEEP_AUTO_FANOUT = 500
_AUTO_SAMPLE_ROWS = 1024


def _clamped_fanout(p: PSumParams) -> float:
    """The most buckets any flow can reach under the query's ``[start,
    end]`` clamp on ``p``'s fixed grid; unbounded without both clamps.
    The head sample measures unclamped widths, so this bound decides the
    route when it is under the crossover — with no job at all."""
    if p.start is None or p.end is None:
        return float("inf")
    return (round_key_ms(p, p.end) - round_key_ms(p, p.start)) // p.step_ms + 1


def _estimated_fanout(
    df: DataFrame, start_col: str, end_col: str, step_ms: int,
    sample_rows: int = _AUTO_SAMPLE_ROWS,
) -> float:
    """Average buckets-per-flow over the first ``sample_rows`` rows — the
    O(1)-result control-plane job behind ``strategy='auto'``. A head sample
    (LocalLimit pushes into the scan, so only the first partition(s) are
    read) is deliberately cheap rather than uniform: the decision only needs
    the order of magnitude, and a wrong guess changes speed, not results.
    Memoized, so repeated runs of the same query (bench best-of-N,
    dashboard refresh) pay the sample job once."""

    def sample_width() -> float:
        # probe the un-widened twin when the source was repartitioned for
        # downstream parallelism (sources.flows.widen_narrow_scan): a
        # LocalLimit cannot push below a round-robin Exchange, so the head
        # sample against the widened frame would scan and shuffle the WHOLE
        # table (r15; ~0.9 s at sf0.1, unbounded at scale). The twin holds
        # identical rows minus the repartition, so the limit pushes into
        # the scan and the probe reads a handful of row groups.
        src = getattr(df, "_spark_graft_probe_twin", df)
        schema = {f.name: f.dataType for f in src.schema.fields}
        s = _ms_sql(_qid(start_col), schema[start_col])
        e = _ms_sql(_qid(end_col), schema[end_col])
        # take(), not limit().agg(): CollectLimit scans partitions
        # incrementally from the first (one job, no single-partition
        # exchange + second aggregate stage) and the head rows average on
        # the driver — bounded by sample_rows either way
        rows = src.selectExpr(f"(({e}) - ({s})) AS __w").take(sample_rows)
        vals = [r["__w"] for r in rows if r["__w"] is not None]
        return float(sum(vals)) / len(vals) if vals else 0.0

    key = memo.frame_key(df, start_col, end_col, int(sample_rows))
    width = memo.get_or_compute("psum_width", key, df.sparkSession, sample_width)
    return width / float(step_ms)


def _order_cols(order, group_by) -> list[Column]:
    """Bucket ordering (ProportionalSumAggregationBuilder.java:322-352;
    applied InternalProportionalSumHistogram.java:505-517): `_key` /
    `_count` / metric name, compound list, automatic `_key` tie-breaker.
    Group dims sort first so nested output is deterministic."""
    specs = list(order or [("_key", True)])
    if not any(f in ("_key", "key") for f, _ in specs):
        specs.append(("_key", True))
    mapping = {"_key": "key", "_count": "doc_count"}
    cols = [F.col(g) for g in group_by]
    for field, asc in specs:
        c = F.col(mapping.get(field, field))
        cols.append(c if asc else c.desc())
    return cols


def _fill_empty_buckets(
    agg: DataFrame,
    p: PSumParams,
    group_by: Sequence[str],
    extra_aggs: dict,
    max_fill_buckets: int,
    empty_src: DataFrame | None = None,
) -> DataFrame:
    """Zero-fill gaps between the min and max observed keys (at final
    reduce — InternalProportionalSumHistogram.java:418-478 addEmptyBuckets),
    widened by ``extended_bounds`` when given (live es-7.6.2 semantics; the
    8.x modules ship the parse but disable the effect —
    ProportionalSumAggregationBuilder.java:503-507 dead code). With
    ``group_by`` the bounds are PER GROUP — each owning bucket's histogram
    reduces independently in the reference, so one group's span never
    bleeds fill buckets into another.

    Distributed spine: bounds come from a per-group aggregate, the spine is
    an exploded ``sequence`` — no driver-side collect. The spine is tiny by
    the ``max_fill_buckets`` guard, so the left join broadcasts.
    """
    bounds = agg.groupBy(*[F.col(g) for g in group_by]).agg(
        F.min("key").alias("__mn"), F.max("key").alias("__mx")
    )
    local_fixed = p.kind == "fixed" and p.tz is not None
    if p.extended_bounds is not None:
        from ..params import local_ms_to_utc

        lo = round_key_ms(p, p.extended_bounds[0])
        hi = round_key_ms(p, p.extended_bounds[1])
        if local_fixed:
            # r13: agg keys are UTC instants; the p-space (local-ms)
            # rounded bounds convert with the same fold-0 rule
            lo, hi = local_ms_to_utc(lo, p.tz), local_ms_to_utc(hi, p.tz)
        bounds = bounds.select(
            *group_by,
            F.least(F.col("__mn"), F.lit(lo)).alias("__mn"),
            F.greatest(F.col("__mx"), F.lit(hi)).alias("__mx"),
        )
    guard = (F.col("__mx") - F.col("__mn")) / F.lit(p.min_bucket_ms) + 1
    bounds = bounds.select(
        *group_by,
        _check(
            guard.isNull() | (guard <= max_fill_buckets),
            F.concat(F.lit(f"empty-bucket fill would exceed {max_fill_buckets} buckets")),
            F.col("__mn"),
        ).alias("__mn"),
        F.col("__mx"),
    )
    if p.kind == "fixed" and p.tz is None:
        spine = bounds.select(
            *group_by,
            F.explode(F.sequence(F.col("__mn"), F.col("__mx"), F.lit(p.step_ms))).alias("key"),
        )
    elif local_fixed:
        # r13: the spine steps uniformly in LOCAL wall ms (mirroring the
        # explode grid) and each boundary converts to its UTC instant. A
        # fabricated wall inside a spring-forward gap fails the UTC
        # round-trip and DROPS — ES's gap-collapse (the data-side merge
        # already happened at the UTC-key aggregation).
        def to_lk(c: Column) -> Column:
            return F.unix_millis(F.from_utc_timestamp(F.timestamp_millis(c), p.tz))

        def to_uk(c: Column) -> Column:
            return F.unix_millis(F.to_utc_timestamp(F.timestamp_millis(c), p.tz))

        spine = (
            bounds.select(
                *group_by,
                F.explode(
                    F.sequence(
                        to_lk(F.col("__mn")), to_lk(F.col("__mx")), F.lit(p.step_ms)
                    )
                ).alias("__lk"),
            )
            .withColumn("key", to_uk(F.col("__lk")))
            .where(to_lk(F.col("key")) == F.col("__lk"))
            .drop("__lk")
        )
    else:
        # spine stepping mirrors the explode: local wall time when p.tz
        # set; a gap-fabricated wall fails the round-trip and drops
        # (hour-unit grids can step into a spring-forward gap)
        def to_tb(c: Column) -> Column:
            ts = F.timestamp_millis(c - F.lit(p.offset_ms))
            return F.from_utc_timestamp(ts, p.tz) if p.tz else ts

        spine = bounds.select(
            *group_by,
            F.explode(
                F.sequence(
                    to_tb(F.col("__mn")), to_tb(F.col("__mx")), calendar_interval_expr(p.unit)
                )
            ).alias("__tb"),
        ).select(
            *group_by,
            F.col("__tb"),
            (local_ts_to_utc_ms(F.col("__tb"), p.tz) + F.lit(p.offset_ms)).alias("key"),
        )
        if p.tz is not None:
            rt_tb = F.from_utc_timestamp(
                F.timestamp_millis(F.col("key") - F.lit(p.offset_ms)), p.tz
            )
            spine = spine.where(rt_tb == F.col("__tb"))
        spine = spine.drop("__tb")
    joined = F.broadcast(spine).join(agg, on=[*group_by, "key"], how="left")
    # Empty bucket = {doc_count: 0, value: 0, empty sub-aggs}
    # (InternalProportionalSumHistogram.java:188-231 EmptyBucketInfo).
    filled = joined.withColumn(
        "doc_count", F.coalesce(F.col("doc_count"), F.lit(0))
    ).withColumn("value", F.coalesce(F.col("value"), F.lit(0.0)))
    if extra_aggs:
        # Reference-style empty sub-aggregations: ES builds them by reducing
        # an empty doc set (EmptyBucketInfo); the Spark analog is each extra
        # agg evaluated over zero rows (count-likes -> 0, collect_list ->
        # [], sum/min/max -> NULL), delivered to every fill row via a 1-row
        # broadcast cross join — no collect, stays lazy.
        empty = empty_src.limit(0).agg(
            *[a.alias(f"__empty_{n}") for n, a in extra_aggs.items()]
        )
        filled = filled.crossJoin(F.broadcast(empty))
        for n in extra_aggs:
            filled = filled.withColumn(
                n, F.coalesce(F.col(n), F.col(f"__empty_{n}"))
            ).drop(f"__empty_{n}")
    return filled

