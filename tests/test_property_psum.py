"""Property-based test: proportional_sum vs an independent pure-Python
reference implementation of the documented semantics
(ProportionalSumAggregator.java:136-218 — validate → sample → clamp →
round → bucket loop → ratio → sum/count; SURVEY.md §2 fine print).

The Python model is written straight from the reference's collect loop, not
from our Spark code, so agreement is meaningful. Hypothesis drives random
flows (including zero-duration, boundary-end, NULL value, NULL/NaN/0
sampling) and random interval/offset/clamp parameters.
"""

from __future__ import annotations

import importlib
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from elasticsearch_drift_plugin_spark import proportional_sum

SCHEMA = "start_ms long, end_ms long, value double, sampling double"


def model_psum(rows, interval, offset, start, end, min_doc_count=1):
    """Reference collect loop in pure Python (NULL value → bucket counted,
    nothing added — the NaN-partial-skip equivalence, §2 rows 13-14)."""

    if offset == 0 and start is not None:
        # auto-offset (§2 row 10): bucket keys align to the query start
        offset = start % interval

    def rnd(t):
        return ((t - offset) // interval) * interval + offset

    sums: dict[int, float] = {}
    counts: dict[int, int] = {}
    for s, e, v, samp in rows:
        if s is None or e is None:  # unmapped/missing range: doc skipped
            continue
        val = v
        if val is not None and samp is not None and samp != 0 and not math.isnan(samp):
            val = val * samp
        # No raw cs>ce skip: the reference rounds first/last and runs the
        # loop whenever round(max(s,start)) <= round(min(e,end)) — even for
        # rows outside the raw [start, end] whose rounded endpoints collide
        # on a boundary bucket (ProportionalSumAggregator.java:179-186).
        cs = max(s, start) if start is not None else s
        ce = min(e, end) if end is not None else e
        first, last = rnd(cs), rnd(ce)
        b = first
        while b <= last:
            w_start, w_end = b, b + interval
            if e == s:
                ratio = 1.0
            else:
                overlap = min(w_end, e) - max(w_start, s)
                ratio = max(overlap, 0) / (e - s)
            counts[b] = counts.get(b, 0) + 1
            if val is not None:
                sums[b] = sums.get(b, 0.0) + val * ratio
            else:
                sums.setdefault(b, 0.0)
            b += interval
    return {
        k: (counts[k], sums[k]) for k in counts if counts[k] >= min_doc_count
    }


flow = st.tuples(
    st.integers(min_value=0, max_value=5_000),  # start
    st.integers(min_value=0, max_value=2_000),  # duration
    st.one_of(st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False)),
    st.one_of(
        st.none(),
        st.just(float("nan")),
        st.just(0.0),
        st.floats(min_value=0.1, max_value=4, allow_nan=False),
    ),
).map(lambda t: (t[0], t[0] + t[1], t[2], t[3]))


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(flow, min_size=1, max_size=12),
    interval=st.integers(min_value=1, max_value=700),
    offset=st.integers(min_value=0, max_value=300),
    clamp=st.tuples(
        st.integers(min_value=0, max_value=3_000), st.integers(min_value=0, max_value=6_000)
    ),
)
def test_psum_matches_python_model(spark, rows, interval, offset, clamp):
    start, end = min(clamp), max(clamp)
    offset = offset % interval
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r["key"]: (r["doc_count"], r["value"])
        for r in proportional_sum(
            df, "start_ms", "end_ms", "value", "sampling",
            interval=interval, offset=offset, start=start, end=end,
        ).collect()
    }
    expected = model_psum(rows, interval, offset, start, end)
    assert set(got) == set(expected)
    for k, (dc, v) in expected.items():
        assert got[k][0] == dc, (k, got[k], (dc, v))
        assert got[k][1] == __import__("pytest").approx(v, rel=1e-9, abs=1e-9)
    # sweep strategy must be BIT-identical to explode under quantization
    kw = dict(interval=interval, offset=offset, start=start, end=end, quantize=6)
    sweep = proportional_sum(
        df, "start_ms", "end_ms", "value", "sampling", strategy="sweep", **kw
    ).collect()
    explode = proportional_sum(
        df, "start_ms", "end_ms", "value", "sampling", strategy="explode", **kw
    ).collect()
    assert [tuple(r) for r in sweep] == [tuple(r) for r in explode]


# --- calendar rounding: Spark date_trunc vs the pure-Python twin ----------

from elasticsearch_drift_plugin_spark.functions.time import floor_calendar
from elasticsearch_drift_plugin_spark.params import (
    CALENDAR_UNITS,
    add_calendar_ms,
    trunc_calendar_ms,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    ts=st.lists(
        st.integers(min_value=0, max_value=4_102_444_800_000),  # 1970..2100
        min_size=1, max_size=20,
    ),
    unit=st.sampled_from(CALENDAR_UNITS),
)
def test_calendar_floor_spark_matches_python(spark, ts, unit):
    """functions.time.floor_calendar (JVM date_trunc) and
    params.trunc_calendar_ms (pure Python, used for parameter normalization
    such as auto-offset) must agree on every instant and unit."""
    import pyspark.sql.functions as SF

    df = spark.createDataFrame([(t,) for t in ts], "t long")
    got = {
        r["t"]: r["fl"]
        for r in df.select(
            "t", SF.unix_millis(floor_calendar(SF.col("t"), unit, 0)).alias("fl")
        ).collect()
    }
    for t in ts:
        expect = trunc_calendar_ms(t, unit)
        assert got[t] == expect, (t, unit, got[t], expect)
        # stepping invariant: the next bucket strictly follows and re-floors
        # to itself (sequence stepping and floor can never disagree)
        nxt = add_calendar_ms(expect, unit)
        assert nxt > expect and trunc_calendar_ms(nxt, unit) == nxt


# --- sessionize vs an independent Python model ----------------------------

from elasticsearch_drift_plugin_spark.operators.sessionize import sessionize


def model_sessionize(rows, gap):
    """Independent per-key fold over (start, end, fid)-sorted fragments."""
    by_key: dict = {}
    for k, s, e, v, fid in rows:
        by_key.setdefault(k, []).append((s, e, v, fid))
    out = []
    for k, frags in by_key.items():
        frags.sort(key=lambda f: (f[0], f[1], f[3]))
        cur = None
        sid = 0
        for s, e, v, _ in frags:
            if cur is not None and s <= cur[1] + gap:
                cur = (cur[0], max(cur[1], e), cur[2] + 1, cur[3] + v)
            else:
                if cur is not None:
                    out.append((k, sid, *cur))
                sid += 1
                cur = (s, e, 1, v)
        out.append((k, sid, *cur))
    return sorted(out)


frag = st.tuples(
    st.sampled_from(["a", "b"]),
    st.integers(min_value=0, max_value=2_000),
    st.integers(min_value=0, max_value=500),
    st.integers(min_value=0, max_value=100),
).map(lambda t: (t[0], t[1], t[1] + t[2], float(t[3]), 0))


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(frag, min_size=1, max_size=15).map(
        lambda rs: [(k, s, e, v, i) for i, (k, s, e, v, _) in enumerate(rs)]
    ),
    gap=st.integers(min_value=1, max_value=400),
)
def test_sessionize_matches_python_model(spark, rows, gap):
    df = spark.createDataFrame(
        rows, "k string, start_ms long, end_ms long, value double, fid long"
    )
    got = sorted(
        (r.k, r.session_id, r.session_start, r.session_end, r.n_flows, r.value)
        for r in sessionize(
            df, ["k"], "start_ms", "end_ms", "value", gap_ms=gap,
            order_tiebreak=("fid",),
        ).collect()
    )
    assert got == model_sessionize(rows, gap)


def model_psum_calendar(rows, unit, offset, start, end):
    """Calendar-interval model: same collect loop with calendar floor/step."""
    if offset == 0 and start is not None:
        offset = start - trunc_calendar_ms(start, unit)  # auto-offset (§2 row 10)

    def rnd(t):
        return trunc_calendar_ms(t - offset, unit) + offset

    sums, counts = {}, {}
    for s, e, v, samp in rows:
        val = v
        if val is not None and samp is not None and samp != 0 and not math.isnan(samp):
            val = val * samp
        cs = max(s, start) if start is not None else s
        ce = min(e, end) if end is not None else e
        b = rnd(cs)
        last = rnd(ce)
        while b <= last:
            w_end = add_calendar_ms(b - offset, unit) + offset
            if e == s:
                ratio = 1.0
            else:
                ratio = max(min(w_end, e) - max(b, s), 0) / (e - s)
            counts[b] = counts.get(b, 0) + 1
            sums[b] = sums.get(b, 0.0) + (val * ratio if val is not None else 0.0)
            b = w_end
    return {k: (counts[k], sums[k]) for k in counts}


DAY_MS = 86_400_000
CAL_BASE = 1_700_000_000_000  # 2023-11-14, mid-quarter


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200 * DAY_MS),
            st.integers(min_value=0, max_value=90 * DAY_MS),
            st.floats(min_value=-50, max_value=50, allow_nan=False),
        ).map(lambda t: (CAL_BASE + t[0], CAL_BASE + t[0] + t[1], t[2], None)),
        min_size=1, max_size=8,
    ),
    unit=st.sampled_from(["day", "week", "month", "year"]),
    offset=st.integers(min_value=0, max_value=3_600_000),
)
def test_psum_calendar_matches_python_model(spark, rows, unit, offset):
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r["key"]: (r["doc_count"], r["value"])
        for r in proportional_sum(
            df, "start_ms", "end_ms", "value", "sampling",
            calendar_interval=unit, offset=offset,
        ).collect()
    }
    expected = model_psum_calendar(rows, unit, offset, None, None)
    assert set(got) == set(expected), (set(got) ^ set(expected))
    for k, (dc, v) in expected.items():
        assert got[k][0] == dc, (k, unit, offset)
        assert got[k][1] == __import__("pytest").approx(v, rel=1e-9, abs=1e-9)


# --- strategy='auto' crossover selection ----------------------------------

def test_auto_strategy_picks_sweep_on_wide_ranges(spark):
    """auto estimates buckets-per-flow from a head sample and switches to
    sweep past SWEEP_AUTO_FANOUT; narrow ranges stay on explode. The sweep
    plan is identified by its prefix-sum Window (absent from explode)."""
    from elasticsearch_drift_plugin_spark.operators.proportional_sum import (
        SWEEP_AUTO_FANOUT,
    )

    step = 100
    wide_rows = [(0, step * (SWEEP_AUTO_FANOUT * 2), 10.0, None) for _ in range(4)]
    narrow_rows = [(0, step * 3, 10.0, None)]
    wide = spark.createDataFrame(wide_rows, SCHEMA)
    narrow = spark.createDataFrame(narrow_rows, SCHEMA)

    auto_wide = proportional_sum(
        wide, "start_ms", "end_ms", "value", "sampling", interval=step, quantize=6
    )
    auto_narrow = proportional_sum(
        narrow, "start_ms", "end_ms", "value", "sampling", interval=step, quantize=6
    )
    assert "Window" in auto_wide._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in auto_narrow._jdf.queryExecution().executedPlan().toString()
    # and the auto-picked sweep result is identical to explicit explode
    explode = proportional_sum(
        wide, "start_ms", "end_ms", "value", "sampling",
        interval=step, quantize=6, strategy="explode",
    )
    assert [tuple(r) for r in auto_wide.collect()] == [
        tuple(r) for r in explode.collect()
    ]


def test_auto_strategy_bounded_clamp_skips_probe(spark, monkeypatch):
    """With both clamps set, buckets per flow are at most
    (round(end) - round(start)) / step + 1; under SWEEP_AUTO_FANOUT auto
    explodes without the head-sample job, even over flows whose unclamped
    width is past the crossover. Without both clamps it still probes."""
    # the package re-exports the function under the module's name
    psum_mod = importlib.import_module(
        "elasticsearch_drift_plugin_spark.operators.proportional_sum"
    )

    def no_probe(*a, **k):
        raise AssertionError("probed")

    monkeypatch.setattr(psum_mod, "_estimated_fanout", no_probe)
    step = 100
    wide = spark.createDataFrame(
        [(0, step * psum_mod.SWEEP_AUTO_FANOUT * 4, 10.0, None)] * 3, SCHEMA
    )
    kw = dict(interval=step, quantize=6)
    start, end = step * 200 + 50, step * 400
    auto = proportional_sum(wide, "start_ms", "end_ms", "value", "sampling",
                            start=start, end=end, **kw)
    assert "Window" not in auto._jdf.queryExecution().executedPlan().toString()
    # a calendar unit of constant width takes the same fixed-grid bound
    proportional_sum(wide, "start_ms", "end_ms", "value", "sampling",
                     calendar_interval="minute", quantize=6, start=0, end=3_600_000)
    wide_clamp = step * (psum_mod.SWEEP_AUTO_FANOUT - 1)
    with pytest.raises(AssertionError, match="probed"):
        proportional_sum(wide, "start_ms", "end_ms", "value", "sampling",
                         start=0, end=wide_clamp, **kw)
    with pytest.raises(AssertionError, match="probed"):
        proportional_sum(wide, "start_ms", "end_ms", "value", "sampling",
                         start=start, **kw)


def test_auto_strategy_bounded_clamp_matches_both_routes(spark):
    """Flows far longer than the clamp: the statically chosen route gives
    exactly what explicit explode and sweep give."""
    rows = [
        (0, 9_000_000, 10.0, None),
        (1_234_567, 50_000_000, 3.5, 2.0),
        (2_000_000, 2_000_000, 1.0, None),
        (100_000, 3_100_001, 7.25, None),
        (2_950_000, 80_000_000, None, None),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    kw = dict(interval=60_000, quantize=6, start=1_000_123, end=3_000_000, min_doc_count=0)

    def run(**extra):
        return [tuple(r) for r in proportional_sum(
            df, "start_ms", "end_ms", "value", "sampling", **kw, **extra).collect()]

    auto = run()
    assert auto == run(strategy="explode") == run(strategy="sweep")
    assert len(auto) == (3_000_000 - 960_123) // 60_000 + 1


from elasticsearch_drift_plugin_spark.functions.time import local_ts_to_utc_ms

TZ_SAMPLE = (
    "America/New_York",   # DST, transitions at 02:00 local
    "Europe/Berlin",      # DST, +1/+2
    "Asia/Kolkata",       # fixed +05:30 (half-hour offset)
    "Australia/Lord_Howe",  # +10:30/+11 with a HALF-HOUR DST shift
    "Pacific/Kiritimati",   # +14, crossed the dateline in 1994
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    ts=st.lists(
        st.integers(min_value=0, max_value=4_102_444_800_000),  # 1970..2100
        min_size=1, max_size=12,
    ),
    unit=st.sampled_from(CALENDAR_UNITS),
    tz=st.sampled_from(TZ_SAMPLE),
)
def test_tz_calendar_floor_spark_matches_python(spark, ts, unit, tz):
    """The tz path: Spark's from_utc_timestamp + date_trunc + to_utc_timestamp
    round-trip must floor every instant exactly like the zoneinfo-based
    Python twin that derives auto-offsets and prefilter bounds — including
    half-hour zones and half-hour DST shifts."""
    import pyspark.sql.functions as SF

    df = spark.createDataFrame([(t,) for t in ts], "t long")
    got = {
        r["t"]: r["fl"]
        for r in df.select(
            "t",
            local_ts_to_utc_ms(floor_calendar(SF.col("t"), unit, 0, tz), tz).alias("fl"),
        ).collect()
    }
    for t in ts:
        expect = trunc_calendar_ms(t, unit, tz)
        assert got[t] == expect, (t, unit, tz, got[t], expect)
        assert expect <= t
        nxt = add_calendar_ms(expect, unit, 1, tz)
        assert nxt > expect and trunc_calendar_ms(nxt, unit, tz) == nxt


def test_sweep_with_empty_fill_matches_explode(spark):
    """sweep + min_doc_count=0: the zero-fill spine must span the same
    observed keys either strategy produces — sparse flows with gaps."""
    step = 100
    rows = [
        (0, 1000, 10.0, None),
        (5000, 6000, 4.0, None),      # gap of ~40 empty buckets
        (5900, 5900, 7.0, None),      # zero-duration inside the tail
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    kw = dict(interval=step, quantize=6, min_doc_count=0)
    sweep = proportional_sum(
        df, "start_ms", "end_ms", "value", "sampling", strategy="sweep", **kw
    ).collect()
    explode = proportional_sum(
        df, "start_ms", "end_ms", "value", "sampling", strategy="explode", **kw
    ).collect()
    assert [tuple(r) for r in sweep] == [tuple(r) for r in explode]
    assert len(sweep) == 61  # keys 0..6000 inclusive
