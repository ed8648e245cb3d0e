"""Round-11 pins.

1. ``cumulative_cardinality`` calendar-grid hardening (ADVICE r10 medium):
   ES alias spellings (``'1w'``, ``'1M'``) are normalized through
   ``params.parse_interval`` before hitting ``date_trunc`` — the raw alias
   would make Spark's ``date_trunc`` return NULL and silently NULL the
   whole cum column. Pinned by a golden where every key must be non-NULL.
2. Calendar + offset composition (VERDICT r10 item 7, SCOPE.md §E): the
   first-seen key is the shifted calendar floor ``trunc(t − off) + off``,
   exactly ``params.round_key_ms``'s calendar+offset key, so the bucket
   join aligns.
3. ``time_zone`` on a cumcard-carrying calendar date_histogram (second
   r11 pass): the first-seen fold floors on the LOCAL wall clock via the
   same floor_calendar/local_ts_to_utc_ms helpers the bucket grid uses —
   DST pinned on the 2024-03-10 spring-forward; unknown zones and
   fixed-grid tz raise loudly, and non-canonical units raise at the
   operator instead of NULLing.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from elasticsearch_drift_plugin_spark.functions.es_search import run_search
from elasticsearch_drift_plugin_spark.operators.pipeline import (
    cumulative_cardinality,
)

DAY = 86_400_000


def _ms(iso: str) -> int:
    return int(
        datetime.fromisoformat(iso).replace(tzinfo=timezone.utc).timestamp() * 1000
    )


@pytest.fixture(scope="module")
def cc_df(spark):
    # 2024-01-01 is a Monday. Users appear across three ISO weeks.
    rows = [
        (_ms("2024-01-01T10:00:00"), 1),  # week of Jan 1
        (_ms("2024-01-02T10:00:00"), 2),
        (_ms("2024-01-08T10:00:00"), 1),  # week of Jan 8 (1 returns)
        (_ms("2024-01-09T10:00:00"), 3),
        (_ms("2024-01-16T10:00:00"), 4),  # week of Jan 15
    ]
    return spark.createDataFrame(rows, "t_ms long, user_id long")


def _body(hist: dict) -> dict:
    return {
        "size": 0,
        "aggs": {
            "g": {
                "date_histogram": {"field": "t_ms", **hist},
                "aggs": {
                    "u": {"cardinality": {"field": "user_id"}},
                    "cu": {"cumulative_cardinality": {"buckets_path": "u"}},
                },
            }
        },
    }


def test_cumcard_calendar_alias_normalized(cc_df):
    """'1w' (the ES alias) must produce the SAME buckets as 'week' — and
    no NULL keys/cums (the pre-fix failure mode: date_trunc('1w') → NULL
    keys → join misses → cum silently NULL)."""
    out_alias = run_search(cc_df, _body({"calendar_interval": "1w"}))["g"]
    out_word = run_search(cc_df, _body({"calendar_interval": "week"}))["g"]
    ra = [(r["key"], r["u"], r["cu"]) for r in out_alias.collect()]
    rw = [(r["key"], r["u"], r["cu"]) for r in out_word.collect()]
    assert ra == rw
    assert all(None not in t for t in ra)
    assert [t[2] for t in ra] == [2, 3, 4]  # running distinct users


def test_cumcard_calendar_with_offset(cc_df):
    """offset '3d' shifts Monday weeks to Thursday anchors: Jan 1-3 land
    in the bucket anchored Thu Dec 28; Jan 4+ in Thu-anchored weeks."""
    out = run_search(
        cc_df, _body({"calendar_interval": "week", "offset": "3d"})
    )["g"]
    rows = [(r["key"], r["u"], r["cu"]) for r in out.collect()]
    thu_dec28 = _ms("2023-12-28T00:00:00")
    # events Jan 1/2 → Dec 28 bucket; Jan 8/9 → Jan 4 bucket; Jan 16 → Jan 11
    assert [r[0] for r in rows] == [
        thu_dec28, thu_dec28 + 7 * DAY, thu_dec28 + 14 * DAY,
    ]
    assert [r[2] for r in rows] == [2, 3, 4]
    # every key is the shifted calendar floor round_key_ms computes
    from elasticsearch_drift_plugin_spark.params import normalize, round_key_ms

    p = normalize(calendar_interval="week", offset="3d")
    assert all(round_key_ms(p, k) == k for k, _, _ in rows)


def test_cumcard_calendar_time_zone_dst(spark):
    """r11 second pass (SCOPE.md §D graduation): calendar + time_zone —
    the first-seen fold floors on the LOCAL wall clock. New-York days
    across the 2024-03-10 spring-forward: local midnights sit at 05:00
    UTC before the transition and 04:00 UTC after (the 23-hour day), and
    every key must equal params.trunc_calendar_ms's zone floor."""
    from elasticsearch_drift_plugin_spark.params import trunc_calendar_ms

    tz = "America/New_York"
    rows = [
        (_ms("2024-03-09T06:00:00"), 1),  # Mar 9 01:00 EST → Sat Mar 9
        (_ms("2024-03-10T04:30:00"), 2),  # Mar 9 23:30 EST → Sat Mar 9
        (_ms("2024-03-10T07:00:00"), 1),  # Mar 10 03:00 EDT → Sun Mar 10
        (_ms("2024-03-11T05:00:00"), 3),  # Mar 11 01:00 EDT → Mon Mar 11
    ]
    df = spark.createDataFrame(rows, "t_ms long, user_id long")
    out = run_search(
        df, _body({"calendar_interval": "day", "time_zone": tz})
    )["g"]
    got = [(r["key"], r["u"], r["cu"]) for r in out.collect()]
    sat = _ms("2024-03-09T05:00:00")   # NY midnight, EST (UTC−5)
    sun = _ms("2024-03-10T05:00:00")   # NY midnight, still EST
    mon = _ms("2024-03-11T04:00:00")   # NY midnight, EDT (UTC−4): 23 h day
    assert got == [(sat, 2, 2), (sun, 1, 2), (mon, 1, 3)]
    assert all(trunc_calendar_ms(k, "day", tz) == k for k, _, _ in got)


def test_cumcard_unknown_time_zone_raises(cc_df):
    with pytest.raises(ValueError, match="unknown time zone"):
        run_search(
            cc_df,
            _body({"calendar_interval": "week", "time_zone": "Mars/Olympus"}),
        )


def test_cumcard_operator_rejects_non_canonical_unit(cc_df):
    with pytest.raises(ValueError, match="canonical"):
        cumulative_cardinality(cc_df, "t_ms", "user_id", calendar_unit="1w")


def test_cumcard_fixed_tz_now_supported_but_conflicts_still_raise(cc_df):
    # r12 superseded the r11 rejection: tz composes with FIXED grids
    # (local-space floor — semantics pinned in tests/test_round12.py).
    # The calendar/step conflict remains loud.
    assert cumulative_cardinality(
        cc_df, "t_ms", "user_id", step_ms=DAY, tz="America/New_York"
    ).count() > 0
    with pytest.raises(ValueError, match="EITHER"):
        cumulative_cardinality(
            cc_df, "t_ms", "user_id", step_ms=DAY, calendar_unit="day",
            tz="America/New_York",
        )


# ---------------------------------------------------------------------------
# range date MATH (VERDICT r10 item 2, SCOPE.md §E): now+expr/unit resolved
# at compile time against an explicit `now` (epoch ms). Expected values are
# HAND-DERIVED epoch constants — independent of the resolver under test.
# ---------------------------------------------------------------------------

from elasticsearch_drift_plugin_spark.functions.es_dsl import (  # noqa: E402
    resolve_range_bounds,
)

NOW = _ms("2024-01-15T10:30:00")  # a Monday


@pytest.mark.parametrize(
    "bound,op,expect",
    [
        # gte/lt round DOWN through /unit; gt/lte round UP (last ms)
        ("now-1d/d", "gte", _ms("2024-01-14T00:00:00")),
        ("now-1d/d", "lte", _ms("2024-01-15T00:00:00") - 1),
        ("now/w", "gte", _ms("2024-01-15T00:00:00")),  # Monday floor
        ("now/w", "lte", _ms("2024-01-22T00:00:00") - 1),
        ("now-90m", "gte", NOW - 90 * 60_000),  # no rounding op → exact
        ("now-90m", "lte", NOW - 90 * 60_000),  # now is always an instant
        ("now+1M/M", "gte", _ms("2024-02-01T00:00:00")),
        # anchored math: the anchor itself takes the round-up fill on the
        # gt/lte side (JavaDateMathParser parses missing fields to max)
        ("2024-01-01||+1M/d", "gte", _ms("2024-02-01T00:00:00")),
        ("2024-01-01||+1M/d", "lte", _ms("2024-02-02T00:00:00") - 1),
        ("2024-01-31||+1M", "gte", _ms("2024-02-29T00:00:00")),  # month clamp, leap
        # leap-day + 1y clamps to Feb 28 (java.time plusYears rule) —
        # a bare datetime.replace raised here before r11
        ("2024-02-29||+1y", "gte", _ms("2025-02-28T00:00:00")),
    ],
)
def test_date_math_resolution(bound, op, expect):
    out = resolve_range_bounds({op: bound, "now": NOW})
    assert out[op] == expect


def test_date_math_tz_day_floor():
    # Berlin midnight of the `now` day = 23:00 UTC the previous day
    out = resolve_range_bounds(
        {"gte": "now/d", "now": NOW, "time_zone": "Europe/Berlin"}
    )
    assert out["gte"] == _ms("2024-01-14T23:00:00")


def test_keyword_string_bounds_pass_verbatim():
    """The r10 regression surface (ADVICE): lexicographic keyword ranges
    must compile unchanged, not force-parse as dates."""
    assert resolve_range_bounds({"gte": "m", "lt": "t"}) == {"gte": "m", "lt": "t"}


def test_date_math_raises():
    with pytest.raises(ValueError, match="now-anchored"):
        resolve_range_bounds({"gte": "now-1d/d"})  # no explicit now
    with pytest.raises(ValueError, match="unparseable date-math tail"):
        resolve_range_bounds({"gte": "now-1q", "now": NOW})
    with pytest.raises(ValueError, match="rounding takes no number"):
        resolve_range_bounds({"gte": "now/2d", "now": NOW})
    with pytest.raises(ValueError, match="not date-shaped"):
        resolve_range_bounds({"gte": "m", "time_zone": "UTC"})


# ---------------------------------------------------------------------------
# ip_prefix IPv6 (VERDICT r10 item 3, SCOPE.md §E): the 128-bit network
# floor factorized per 16-bit group, RFC 5952 canonical rendering. Reference
# implementation: Python's ipaddress module (exact RFC 5952 .compressed).
# ---------------------------------------------------------------------------

V6_CASES = [
    [0, 0, 0, 0, 0, 0, 0, 0],              # all zero → "::"
    [0x2001, 0xDB8, 0, 0, 0, 0, 0, 1],     # classic doc prefix
    [0x2001, 0x9E0, 0, 0, 0, 0, 0, 0],     # trailing run → "2001:9e0::"
    [0, 0, 1, 0, 0, 0, 2, 3],              # two runs, longest (mid) wins
    [0, 0, 1, 2, 3, 0, 0, 4],              # equal runs → LEFTMOST wins
    [1, 0, 2, 3, 4, 5, 6, 7],              # single zero NOT compressed
    [0xFFFF, 0xABCD, 0x1, 0x23, 0x456, 0x789A, 0xB, 0xC],  # no zeros
    [0, 0, 0, 0, 0, 0, 0, 1],              # leading run → "::1"
    [1, 0, 0, 0, 0, 0, 0, 0],              # "1::"
]


def _rfc5952(groups):
    import ipaddress

    val = 0
    for g in groups:
        val = (val << 16) | g
    return str(ipaddress.IPv6Address(val))


def test_ipv6_canonical_spark_matches_rfc5952(spark):
    from elasticsearch_drift_plugin_spark.operators.relational import (
        ipv6_canonical,
    )

    df = spark.createDataFrame([(g,) for g in V6_CASES], "gs array<int>")
    got = [r[0] for r in df.select(ipv6_canonical(F.col("gs"))).collect()]
    assert got == [_rfc5952(g) for g in V6_CASES]


def test_ipv6_canonical_duckdb_matches_rfc5952():
    """The oracle's generated run-length CASE chain is a DIFFERENT RFC 5952
    implementation — pin it against the same Python reference."""
    import duckdb

    from elasticsearch_drift_plugin_spark.operators.relational import (
        ip_prefix_v6_sql,
    )

    from elasticsearch_drift_plugin_spark.operators.relational import (
        _v6_render_sql_parts,
    )

    hexs, bl, case_expr = _v6_render_sql_parts()
    assert case_expr in ip_prefix_v6_sql()  # the pinned SQL IS the shipped SQL
    con = duckdb.connect()
    vals = ", ".join(
        "(" + ", ".join(str(v) for v in g) + ")" for g in V6_CASES
    )
    got = [
        r[0]
        for r in con.sql(
            f"""
WITH agg(n0, n1, n2, n3, n4, n5, n6, n7) AS (VALUES {vals}),
runs AS (SELECT *, {hexs} AS hx, {bl} AS __bl FROM agg)
SELECT {case_expr} FROM runs
"""
        ).fetchall()
    ]
    assert got == [_rfc5952(g) for g in V6_CASES]


def test_ipv6_group_mask_equals_128bit_floor():
    """The per-group mask factorization IS the 128-bit lattice floor."""
    import random

    from elasticsearch_drift_plugin_spark.operators.relational import (
        _v6_mask_expr,
    )

    rng = random.Random(11)
    for _ in range(200):
        groups = [rng.randrange(65536) for _ in range(8)]
        plen = rng.randrange(1, 129)
        addr = 0
        for g in groups:
            addr = (addr << 16) | g
        floor = addr & ~((1 << (128 - plen)) - 1) & ((1 << 128) - 1)
        expect = [(floor >> (16 * (7 - j))) & 0xFFFF for j in range(8)]
        got = []
        for j in range(8):
            keep = max(0, min(16, plen - 16 * j))
            if keep == 16:
                got.append(groups[j])
            elif keep == 0:
                got.append(0)
            else:
                block = 1 << (16 - keep)
                got.append(groups[j] - groups[j] % block)
        assert got == expect, (groups, plen)
        _ = _v6_mask_expr  # the Spark expr mirrors this arithmetic 1:1


def test_ipv6_prefix_len_validated(spark):
    from elasticsearch_drift_plugin_spark.operators.relational import (
        ip_prefix_v6_agg,
    )

    df = spark.createDataFrame([(1, 1.0)], "user_id long, value double")
    with pytest.raises(ValueError, match="prefix_len"):
        ip_prefix_v6_agg(df, prefix_len=0)
    with pytest.raises(ValueError, match="prefix_len"):
        ip_prefix_v6_agg(df, prefix_len=129)


# ---------------------------------------------------------------------------
# significant_terms/_text ES-native foreground inference (r11): in a
# _search body WITH a query, foreground = the query's hit set and
# background = the WHOLE index (ES's top-level rule) — no 'foreground'
# extension needed. Pinned: inferred == explicit-foreground operator.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sig_df(spark):
    rows = (
        [("purchase", 1)] * 5 + [("purchase", 2)] * 2
        + [("click", 1)] * 1 + [("click", 3)] * 10 + [("view", 2)] * 3
    )
    return spark.createDataFrame(rows, "event_type string, user_id long")


def test_sig_terms_foreground_inferred_equals_explicit(sig_df):
    from elasticsearch_drift_plugin_spark.operators.es_aggs import (
        significant_terms,
    )

    inferred = run_search(sig_df, {
        "size": 0,
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"s": {"significant_terms": {"field": "user_id",
                                             "size": 10,
                                             "min_doc_count": 1}}},
    })["s"]
    explicit = significant_terms(
        sig_df, "user_id", "event_type = 'purchase'", size=10,
        min_doc_count=1,
    )
    assert sorted(map(tuple, inferred.collect())) == sorted(
        map(tuple, explicit.collect())
    )
    # the background is the WHOLE index: user 1's bg count must include
    # the click row (6 docs), not just the purchase hits
    rows = {r["key"]: r for r in inferred.collect()}
    assert rows[1]["bg_count"] == 6 and rows[1]["fg_count"] == 5


def test_sig_terms_queryless_still_needs_explicit_foreground(sig_df):
    with pytest.raises(ValueError, match="foreground"):
        run_search(sig_df, {
            "size": 0,
            "aggs": {"s": {"significant_terms": {"field": "user_id"}}},
        })
    with pytest.raises(ValueError, match="foreground"):
        run_search(sig_df, {
            "size": 0,
            "aggs": {"s": {"significant_text": {"field": "event_type"}}},
        })


# ---------------------------------------------------------------------------
# BPE: the driver argmax trainer must be BIT-IDENTICAL to its DuckDB twin
# — same merges, same ranks, same pair counts — on the Sennrich worked
# example (whose merges CHAIN: es → est → est</w>), on the driver corpus
# and on hostile symbols.
# ---------------------------------------------------------------------------

_SENNRICH = [
    (("low " * 5).strip(),),
    (("lower " * 2).strip(),),
    (("newest " * 6).strip(),),
    (("widest " * 3).strip(),),
]


def _duck(sql: str, docs):
    import duckdb

    con = duckdb.connect()
    con.register("documents", docs)
    return con.sql(sql).fetchall()


def _bpe_twin(rows: list, n_merges: int) -> list:
    """The merge table of ``bpe_train_sql`` over single-column text rows."""
    import pandas as pd

    from elasticsearch_drift_plugin_spark.operators.corpus import bpe_train_sql

    return _duck(bpe_train_sql(n_merges=n_merges), pd.DataFrame(rows, columns=["text"]))


def test_bpe_batched_bit_identical_sennrich(spark):
    from elasticsearch_drift_plugin_spark.operators.corpus import bpe_train

    docs = spark.createDataFrame(_SENNRICH, "text string")
    drv = [tuple(r) for r in bpe_train(docs, n_merges=10).collect()]
    assert drv == _bpe_twin(_SENNRICH, 10)
    # the classic first merges: (e,s) then the CHAINED (es,t), (est,</w>)
    assert [(m[1], m[2]) for m in drv[:3]] == [("e", "s"), ("es", "t"), ("est", "</w>")]


def test_bpe_batched_bit_identical_driver_corpus(spark):
    import pandas as pd

    from elasticsearch_drift_plugin_spark.operators.corpus import (
        bpe_train,
        bpe_train_sql,
    )

    path = "/root/testdata/sf0.001/documents.parquet"
    drv = [tuple(r) for r in bpe_train(spark.read.parquet(path), n_merges=20).collect()]
    assert drv == _duck(bpe_train_sql(n_merges=20), pd.read_parquet(path))


def test_bpe_batched_nasty_symbols(spark):
    """Quotes, backslashes and unicode in the symbols must fold
    identically in the trainer and its DuckDB twin."""
    from elasticsearch_drift_plugin_spark.operators.corpus import bpe_train

    rows = [("d'o d'o d'o a\\b a\\b éé éé éé",)]
    docs = spark.createDataFrame(rows * 3, "text string")
    drv = [tuple(r) for r in bpe_train(docs, n_merges=6).collect()]
    assert drv == _bpe_twin(rows * 3, 6) and len(drv) >= 3
    syms = {m[1] for m in drv} | {m[2] for m in drv}
    assert any("'" in s or "\\" in s or "é" in s for s in syms)


def test_sql_str_escaping_round_trips(spark):
    """Symbols and column names enter SQL text through ``sql_str``; the
    literal must read back unchanged in both parser modes."""
    from elasticsearch_drift_plugin_spark.functions.sql_literal import sql_str
    from elasticsearch_drift_plugin_spark.memo import scoped_conf

    for escaped in ("false", "true"):
        with scoped_conf(spark, {"spark.sql.parser.escapedStringLiterals": escaped}):
            for s in ["", "ab", "a'b", "a\\b", "a\\'b", "é中", "a\\\\b''", "'", "\\"]:
                got = spark.sql(f"SELECT {sql_str(s)} AS v").collect()[0]["v"]
                assert got == s, (escaped, s, got)


def test_hostile_symbol_and_column_name_in_both_parser_modes(spark):
    """A BPE symbol and a column name holding a quote, a backslash and a
    non-ASCII character reach SQL text intact under both settings of
    ``spark.sql.parser.escapedStringLiterals``."""
    import re

    from pyspark.sql import types as T

    from elasticsearch_drift_plugin_spark import proportional_sum
    from elasticsearch_drift_plugin_spark.memo import scoped_conf
    from elasticsearch_drift_plugin_spark.operators.corpus import bpe_train

    rows = [("d'o d'o d'o a\\b a\\b éé éé éé",)] * 3
    docs = spark.createDataFrame(rows, "text string")
    twin = _bpe_twin(rows, 6)
    name = "st'a\\rté"
    bad = spark.createDataFrame(
        [(-5, 10, 1.0)],
        T.StructType([
            T.StructField(name, T.LongType()),
            T.StructField("end_ms", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]),
    )
    for escaped in ("false", "true"):
        with scoped_conf(spark, {"spark.sql.parser.escapedStringLiterals": escaped}):
            merges = bpe_train(docs, n_merges=6)
            assert [tuple(r) for r in merges.collect()] == twin, escaped
            out = proportional_sum(bad, name, "end_ms", "value", interval=10, start=0, end=100)
            with pytest.raises(Exception, match=re.escape(f"field [{name}] must be >= 0")):
                out.collect()


def test_date_math_compiles_identically_in_both_engines(spark):
    """The registered es_dsl_date_math body: Spark predicate and DuckDB
    predicate come from the same resolver — pin the Spark-side row set
    against a hand-built filter."""
    from elasticsearch_drift_plugin_spark.functions.es_dsl import compile_query
    from elasticsearch_drift_plugin_spark.operators.search import DATE_MATH_BODY

    rows = [
        (_ms("2024-01-07T23:59:59"), "click"),   # before gte → out
        (_ms("2024-01-08T00:00:00"), "click"),   # on gte → in
        (_ms("2024-01-14T23:59:59"), "search"),  # last ms before lt → in
        (_ms("2024-01-15T00:00:00"), "search"),  # on lt → out
        (_ms("2024-01-10T12:00:00"), "view"),    # event_type > 't' → out
    ]
    df = spark.createDataFrame(rows, "t_ms long, event_type string")
    got = sorted(
        (r["t_ms"], r["event_type"])
        for r in df.where(compile_query(DATE_MATH_BODY)).collect()
    )
    assert got == [
        (_ms("2024-01-08T00:00:00"), "click"),
        (_ms("2024-01-14T23:59:59"), "search"),
    ]


def test_cumcard_tz_sql_twin_matches_operator():
    """cumulative_cardinality_sql with tz (the DuckDB twin) on the DST
    frame: the zone floor expression (timezone/date_trunc/timezone) must
    produce the same (key, new_ids, cum) rows the Spark operator does —
    pinned against the hand-derived expectation from the DST test."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev AS SELECT * FROM (VALUES "
        f"({_ms('2024-03-09T06:00:00')}, 1),"
        f"({_ms('2024-03-10T04:30:00')}, 2),"
        f"({_ms('2024-03-10T07:00:00')}, 1),"
        f"({_ms('2024-03-11T05:00:00')}, 3)) t(t_ms, user_id)"
    )
    from elasticsearch_drift_plugin_spark.operators.pipeline import (
        cumulative_cardinality_sql,
    )

    sql = cumulative_cardinality_sql(
        "ev", "t_ms", "user_id", calendar_unit="day", tz="America/New_York"
    )
    got = [tuple(r) for r in con.execute(sql).fetchall()]
    sat = _ms("2024-03-09T05:00:00")
    sun = _ms("2024-03-10T05:00:00")
    mon = _ms("2024-03-11T04:00:00")
    assert got == [(sat, 2, 2), (sun, 0, 2), (mon, 1, 3)]


def test_cumcard_sql_fixed_tz_emits_zone_two_hop():
    from elasticsearch_drift_plugin_spark.operators.pipeline import (
        cumulative_cardinality_sql,
    )

    # r12 superseded the r11 rejection: the fixed+tz twin emits the
    # timezone()/modular-floor/timezone() two-hop
    sql = cumulative_cardinality_sql(
        "ev", "t_ms", "user_id", step_ms=DAY, tz="America/New_York"
    )
    assert "timezone('America/New_York'" in sql and "% 86400000" in sql


# ---------------------------------------------------------------------------
# r11 DSL compounds: multi_match / constant_score / dis_max / boosting
# desugar to the core clause set via ONE shared rewrite (desugar_compound),
# so the Spark and SQL compilers cannot drift. Filter-context semantics:
# score-shaping kinds reduce to their matching behavior.
# ---------------------------------------------------------------------------

from elasticsearch_drift_plugin_spark.functions.es_dsl import (  # noqa: E402
    compile_query,
    compile_query_sql,
    desugar_compound,
)


@pytest.fixture(scope="module")
def mm_df(spark):
    rows = [
        (0, "alpha beta gamma", "src1"),
        (1, "alpha delta", "src2"),
        (2, "beta delta", "src1"),
        (3, "epsilon", "src2"),
        (4, "alpha beta", "src3"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _ids(df, q):
    return sorted(r["doc_id"] for r in df.where(compile_query(q)).collect())


def test_multi_match_best_fields_or(mm_df):
    # any field matches the match query (per-field OR of terms)
    q = {"multi_match": {"query": "gamma src2", "fields": ["text", "source"]}}
    assert _ids(mm_df, q) == [0, 1, 3]


def test_multi_match_best_fields_and_requires_one_field_all_terms(mm_df):
    # operator:and is FIELD-centric — both terms in the SAME field
    q = {"multi_match": {"query": "alpha beta", "operator": "and",
                         "fields": ["text", "source"]}}
    assert _ids(mm_df, q) == [0, 4]


def test_multi_match_cross_fields_and_is_term_centric(mm_df):
    # each term in at least ONE field: "alpha" in text AND "src2" in source
    q = {"multi_match": {"query": "alpha src2", "type": "cross_fields",
                         "operator": "and", "fields": ["text", "source"]}}
    assert _ids(mm_df, q) == [1]
    # the field-centric reading would match nothing — pin the distinction
    qf = {"multi_match": {"query": "alpha src2", "operator": "and",
                          "fields": ["text", "source"]}}
    assert _ids(mm_df, qf) == []


def test_multi_match_msm_and_boost_strip(mm_df):
    # 2 of the 3 terms must appear in one field; ^boosts are score-only
    q = {"multi_match": {"query": "alpha beta zeta", "fields": ["text^3"],
                         "minimum_should_match": 2}}
    assert _ids(mm_df, q) == [0, 4]  # docs with ≥2 of the three terms


def test_multi_match_phrase(mm_df):
    q = {"multi_match": {"query": "beta gamma", "type": "phrase",
                         "fields": ["text", "source"]}}
    assert _ids(mm_df, q) == [0]  # adjacent-ordered only


def test_constant_score_dis_max_boosting(mm_df):
    q = {"constant_score": {"filter": {"term": {"source": "src3"}}}}
    assert _ids(mm_df, q) == [4]
    q = {"dis_max": {"queries": [{"term": {"source": "src3"}},
                                 {"match": {"text": "epsilon"}}]}}
    assert _ids(mm_df, q) == [3, 4]
    # boosting NEVER excludes negative matches (ES demotes scores only)
    q = {"boosting": {"positive": {"match": {"text": "alpha"}},
                      "negative": {"match": {"text": "delta"}},
                      "negative_boost": 0.1}}
    assert _ids(mm_df, q) == [0, 1, 4]


def test_compound_sql_twin_matches_spark(mm_df):
    """Every compound compiles to the SAME hit set through both compilers
    (DuckDB evaluates the SQL predicate on the same rows)."""
    import duckdb

    rows = [(r["doc_id"], r["text"], r["source"]) for r in mm_df.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs (doc_id BIGINT, text VARCHAR, source VARCHAR)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?, ?)", rows)
    bodies = [
        {"multi_match": {"query": "gamma src2", "fields": ["text", "source"]}},
        {"multi_match": {"query": "alpha src2", "type": "cross_fields",
                         "operator": "and", "fields": ["text", "source"]}},
        {"multi_match": {"query": "alpha beta zeta", "fields": ["text"],
                         "minimum_should_match": 2}},
        {"multi_match": {"query": "beta gamma", "type": "phrase",
                         "fields": ["text", "source"]}},
        {"dis_max": {"queries": [{"term": {"source": "src3"}},
                                 {"match": {"text": "epsilon"}}]}},
        {"constant_score": {"filter": {"prefix": {"source": "src1"}}}},
        {"boosting": {"positive": {"match": {"text": "alpha"}},
                      "negative": {"match": {"text": "delta"}},
                      "negative_boost": 0.1}},
    ]
    for q in bodies:
        sql_ids = sorted(
            r[0] for r in con.execute(
                f"SELECT doc_id FROM docs WHERE {compile_query_sql(q)}"
            ).fetchall()
        )
        assert sql_ids == _ids(mm_df, q), q


def test_compound_raises():
    with pytest.raises(ValueError, match="fields"):
        desugar_compound("multi_match", {"query": "x"})
    with pytest.raises(ValueError, match="empty query"):
        desugar_compound("multi_match", {"query": " ", "fields": ["text"]})
    with pytest.raises(ValueError, match="multi_match type"):
        desugar_compound(
            "multi_match",
            {"query": "x", "fields": ["text"], "type": "bool_prefix"},
        )
    with pytest.raises(ValueError, match="queries list"):
        desugar_compound("dis_max", {"queries": []})
    with pytest.raises(ValueError, match="positive"):
        desugar_compound("boosting", {"negative": {"term": {"a": 1}}})


def test_pinned_rank_feature_match_bool_prefix(mm_df):
    # pinned: hit set = organic UNION pinned ids (promotion is score-only)
    q = {"pinned": {"ids": [3], "organic": {"match": {"text": "alpha"}},
                    "field": "doc_id"}}
    assert _ids(mm_df, q) == [0, 1, 3, 4]
    # rank_feature / distance_feature match docs CARRYING the field
    df2 = mm_df.withColumn(
        "pagerank", F.when(F.col("doc_id") < 2, F.col("doc_id") * 1.0)
    )
    for kind in ("rank_feature", "distance_feature"):
        got = sorted(
            r["doc_id"] for r in df2.where(
                compile_query({kind: {"field": "pagerank"}})
            ).collect()
        )
        assert got == [0, 1], kind
    # match_bool_prefix: all-but-last exact tokens, last a prefix
    q = {"match_bool_prefix": {"text": {"query": "alpha bet",
                                        "operator": "and"}}}
    assert _ids(mm_df, q) == [0, 4]
    q = {"match_bool_prefix": {"text": "gamma epsil"}}
    assert _ids(mm_df, q) == [0, 3]  # or: any term / prefix hits


def test_combined_fields_is_term_centric(mm_df):
    q = {"combined_fields": {"query": "alpha src2", "operator": "and",
                             "fields": ["text", "source"]}}
    assert _ids(mm_df, q) == [1]
    q = {"combined_fields": {"query": "alpha beta epsilon",
                             "fields": ["text", "source"],
                             "minimum_should_match": 2}}
    assert _ids(mm_df, q) == [0, 4]  # ≥2 of the terms somewhere


def test_new_compounds_sql_twin(mm_df):
    import duckdb

    rows = [(r["doc_id"], r["text"], r["source"]) for r in mm_df.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs2 (doc_id BIGINT, text VARCHAR, source VARCHAR)"
    )
    con.executemany("INSERT INTO docs2 VALUES (?, ?, ?)", rows)
    bodies = [
        {"pinned": {"ids": [3], "organic": {"match": {"text": "alpha"}},
                    "field": "doc_id"}},
        {"match_bool_prefix": {"text": {"query": "alpha bet",
                                        "operator": "and"}}},
        {"match_bool_prefix": {"text": "gamma epsil"}},
        {"combined_fields": {"query": "alpha src2", "operator": "and",
                             "fields": ["text", "source"]}},
        {"combined_fields": {"query": "alpha beta epsilon",
                             "fields": ["text", "source"],
                             "minimum_should_match": 2}},
    ]
    for q in bodies:
        sql_ids = sorted(
            r[0] for r in con.execute(
                f"SELECT doc_id FROM docs2 WHERE {compile_query_sql(q)}"
            ).fetchall()
        )
        assert sql_ids == _ids(mm_df, q), q


def test_slice_partitions_are_disjoint_and_complete(spark):
    """`slice` (r11): the ES parallel-export contract — slices are
    disjoint and their union is the full (unsliced) result."""
    rows = [(i, float(i % 7) * 30) for i in range(40)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    base = {"size": 100, "query": {"range": {"value": {"gte": 30}}},
            "sort": [{"event_id": "asc"}],
            "_source": {"includes": ["event_id"]}}
    full = [r["event_id"] for r in run_search(df, base)["_hits"].collect()]
    seen: list[int] = []
    for sid in range(3):
        body = {**base, "slice": {"id": sid, "max": 3, "field": "event_id"}}
        part = [r["event_id"] for r in run_search(df, body)["_hits"].collect()]
        assert not set(part) & set(seen)
        seen += part
    assert sorted(seen) == full


def test_slice_validation(spark):
    df = spark.createDataFrame([(1, 1.0)], "event_id long, value double")
    base = {"size": 5, "sort": [{"event_id": "asc"}]}
    for bad in ({"id": 3, "max": 3}, {"id": -1, "max": 3}, {"id": 0, "max": 1}):
        with pytest.raises(ValueError, match="slice"):
            run_search(df, {**base, "slice": {**bad, "field": "event_id"}})
    # non-integral slice fields raise (a silent cast would mis-slice)
    with pytest.raises(ValueError, match="integral"):
        run_search(df, {**base, "slice": {"id": 0, "max": 2, "field": "value"}})
    with pytest.raises(ValueError, match="integral"):
        run_search(df, {**base, "slice": {"id": 0, "max": 2, "field": "nope"}})


# ---------------------------------------------------------------------------
# `nested` QUERY kind (r11): parent matches when ANY array element
# satisfies the inner tree (F.exists lambda; DuckDB twin via list_filter).
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def nested_df(spark):
    rows = [
        (0, [(10, "A", "red fox"), (50, "R", "lazy dog")]),
        (1, [(46, "R", "red fox jumps")]),
        (2, [(46, "A", "dog")]),
        (3, []),
        (4, None),
    ]
    return spark.createDataFrame(
        rows,
        "pid long, items array<struct<qty: long, flag: string, note: string>>",
    )


def _nids(df, q):
    return sorted(r["pid"] for r in df.where(compile_query(q)).collect())


def test_nested_query_any_element_semantics(nested_df):
    q = {"nested": {"path": "items", "query": {"bool": {"must": [
        {"range": {"items.qty": {"gte": 45}}},
        {"term": {"items.flag": "R"}},
    ]}}}}
    # doc 0: the qty-50 element IS flag R → match; doc 1 same element
    # matches both; doc 2 fails flag on its only qualifying element;
    # empty/NULL arrays never match (ES)
    assert _nids(nested_df, q) == [0, 1]
    q = {"nested": {"path": "items", "query":
         {"match": {"items.note": "fox dog"}}}}
    assert _nids(nested_df, q) == [0, 1, 2]
    q = {"nested": {"path": "items", "query":
         {"match_phrase": {"items.note": "red fox"}}}}
    assert _nids(nested_df, q) == [0, 1]
    # exists over the element field; bare (un-prefixed) names accepted
    q = {"nested": {"path": "items", "query": {"exists": {"field": "qty"}}}}
    assert _nids(nested_df, q) == [0, 1, 2]


def test_nested_query_sql_twin(nested_df):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE p AS SELECT * FROM (VALUES "
        "(0, [{'qty': 10, 'flag': 'A', 'note': 'red fox'},"
        "     {'qty': 50, 'flag': 'R', 'note': 'lazy dog'}]),"
        "(1, [{'qty': 46, 'flag': 'R', 'note': 'red fox jumps'}]),"
        "(2, [{'qty': 46, 'flag': 'A', 'note': 'dog'}]),"
        "(3, CAST([] AS STRUCT(qty BIGINT, flag VARCHAR, note VARCHAR)[])),"
        "(4, NULL)) t(pid, items)"
    )
    bodies = [
        {"nested": {"path": "items", "query": {"bool": {"must": [
            {"range": {"items.qty": {"gte": 45}}},
            {"term": {"items.flag": "R"}},
        ]}}}},
        {"nested": {"path": "items", "query":
         {"match": {"items.note": "fox dog"}}}},
        {"nested": {"path": "items", "query": {"bool": {
            "should": [{"term": {"items.flag": "R"}},
                       {"range": {"items.qty": {"lt": 20}}}],
            "must_not": [{"match_phrase": {"items.note": "lazy dog"}}],
        }}}},
    ]
    for q in bodies:
        sql_ids = sorted(r[0] for r in con.execute(
            f"SELECT pid FROM p WHERE {compile_query_sql(q)}"
        ).fetchall())
        assert sql_ids == _nids(nested_df, q), q


def test_nested_query_raises(nested_df):
    with pytest.raises(ValueError, match="nested needs a query"):
        compile_query({"nested": {"path": "items"}})
    with pytest.raises(ValueError, match="inside nested"):
        compile_query({"nested": {"path": "items", "query":
                       {"wildcard": {"items.note": "f*"}}}})


def test_domain_cap_semantics_and_plan(spark):
    """corpus domain_cap (r11): at most `cap` docs per domain, highest
    priority first, doc_id tie-break; NULL priorities lose. The plan must
    carry WindowGroupLimit (per-partition top-cap heaps before the
    shuffle — the 100 TB guarantee that tasks never retain more than cap
    rows per domain)."""
    from elasticsearch_drift_plugin_spark.operators.corpus import domain_cap
    from elasticsearch_drift_plugin_spark.plans import explain_str

    rows = [
        (0, "a", 10), (1, "a", 30), (2, "a", 30), (3, "a", None),
        (4, "b", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = domain_cap(df, cap=2, priority_col="n_chars")
    got = sorted((r["doc_id"]) for r in out.collect())
    # domain a: n_chars 30 ties -> doc 1 then doc 2; NULL (doc 3) loses
    assert got == [1, 2, 4]
    assert "WindowGroupLimit" in explain_str(out)
    with pytest.raises(ValueError, match="cap"):
        domain_cap(df, cap=0)


def test_sort_missing_last_default_and_first_override(spark):
    """ES sorts docs missing the sort field LAST by default (`missing`
    param, '_first' to flip) — Spark's bare .asc() is nulls-FIRST, so
    this pins the r11 parity fix on both directions."""
    rows = [(0, 5.0), (1, None), (2, 1.0), (3, None), (4, 9.0)]
    df = spark.createDataFrame(rows, "doc_id long, value double")

    def hits(sort):
        return [r["doc_id"] for r in run_search(df, {
            "size": 10, "sort": sort,
            "_source": {"includes": ["doc_id", "value"]},
        })["_hits"].collect()]

    assert hits([{"value": "asc"}, {"doc_id": "asc"}]) == [2, 0, 4, 1, 3]
    assert hits([{"value": "desc"}, {"doc_id": "asc"}]) == [4, 0, 2, 1, 3]
    assert hits([{"value": {"order": "asc", "missing": "_first"}},
                 {"doc_id": "asc"}]) == [1, 3, 2, 0, 4]
    assert hits([{"value": {"order": "desc", "missing": "_first"}},
                 {"doc_id": "asc"}]) == [1, 3, 4, 0, 2]
    with pytest.raises(ValueError, match="_last or _first"):
        hits([{"value": {"order": "asc", "missing": 0}}])


def test_fields_wildcard_patterns(spark):
    """`fields` / `_source.includes` accept ES wildcard patterns: globs
    expand against the frame's columns; no-match patterns raise."""
    rows = [(1, 2.0, 3.0, "x")]
    df = spark.createDataFrame(
        rows, "doc_id long, l_qty double, l_price double, note string"
    )
    out = run_search(df, {
        "size": 5, "sort": [{"doc_id": "asc"}],
        "_source": {"includes": ["doc_id", "l_*"]},
    })["_hits"]
    assert out.columns == ["doc_id", "l_qty", "l_price"]
    out = run_search(df, {
        "size": 5, "sort": [{"doc_id": "asc"}], "fields": ["no?e"],
    })["_hits"]
    assert out.columns == ["note", "doc_id"]  # sort key kept in projection
    with pytest.raises(ValueError, match="matches no columns"):
        run_search(df, {"size": 5, "sort": [{"doc_id": "asc"}],
                        "fields": ["zz_*"]})


def test_clf_calibration_invariants(spark):
    """Reliability bins: partition of the scored set (Σn == docs), exact
    integer rates within [0, 1e6], bin ids in range and ordered."""
    from elasticsearch_drift_plugin_spark.operators.corpus import (
        clf_calibration,
    )

    rows = [(i, i % 2, q) for i, q in enumerate(
        [0, 120_000, 480_000, 510_000, 760_000, 999_999, 1_000_000]
    )]
    scored = spark.createDataFrame(rows, "doc_id long, y long, clf_q long")
    out = clf_calibration(scored, bins=4).collect()
    assert [r["bin"] for r in out] == sorted(r["bin"] for r in out)
    assert all(0 <= r["bin"] < 4 for r in out)
    assert sum(r["n"] for r in out) == len(rows)
    for r in out:
        assert 0 <= r["emp_q"] <= 1_000_000
        assert 0 <= r["pos"] <= r["n"]
    # the saturated 1e6 score clamps into the LAST bin, not bins
    assert max(r["bin"] for r in out) == 3
    with pytest.raises(ValueError, match="bins"):
        clf_calibration(scored, bins=1)


def test_search_after_pages_tile_the_full_result(spark):
    """Client-style cursor loop: walking search_after pages (size 7, sort
    value desc + doc_id asc tie-break) must reproduce the unpaginated
    sorted result exactly — no gaps, no overlaps, including duplicate
    sort values crossing page boundaries."""
    rows = [(i, float((i * 13) % 5)) for i in range(40)]  # heavy ties
    df = spark.createDataFrame(rows, "doc_id long, value double")
    base = {
        "size": 7,
        "sort": [{"value": "desc"}, {"doc_id": "asc"}],
        "_source": {"includes": ["doc_id", "value"]},
    }
    full = [
        (r["doc_id"], r["value"])
        for r in run_search(df, {**base, "size": 100})["_hits"].collect()
    ]
    pages, cursor = [], None
    for _ in range(20):
        body = dict(base)
        if cursor is not None:
            body["search_after"] = cursor
        page = run_search(df, body)["_hits"].collect()
        if not page:
            break
        pages += [(r["doc_id"], r["value"]) for r in page]
        cursor = [page[-1]["value"], page[-1]["doc_id"]]
    else:
        raise AssertionError("cursor loop did not terminate")
    assert pages == full


def test_slice_outside_hits_path_raises(spark):
    df = spark.createDataFrame([(1, 1.0)], "event_id long, value double")
    with pytest.raises(ValueError, match="hits page"):
        run_search(df, {"size": 0, "slice": {"id": 0, "max": 2},
                        "aggs": {"m": {"stats": {"field": "value"}}}})


def test_geo_polygon_query_kind(spark):
    """geo_polygon DSL kind: the agg's exact-int64 ray cast as a filter —
    a triangle over the origin; on-the-fence and outside points excluded,
    DuckDB twin bit-identical."""
    import duckdb

    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        compile_query,
        compile_query_sql,
    )

    tri = [{"lat": 0.0, "lon": -10.0}, {"lat": 10.0, "lon": 10.0},
           {"lat": -10.0, "lon": 10.0}]
    rows = [
        (0, 0.0, 0.0),     # inside
        (1, 0.0, 9.0),     # inside, near the right edge
        (2, 0.0, 11.0),    # outside (right of the triangle)
        (3, 9.9, 9.9),     # inside, just under the A->B edge (y=9.95 at x=9.9)
        (4, -5.0, 0.0),    # inside
        (5, 50.0, 50.0),   # far outside
    ]
    df = spark.createDataFrame(rows, "doc_id long, lat double, lon double")
    q = {"geo_polygon": {"points": tri}}
    got = sorted(r["doc_id"] for r in df.where(compile_query(q)).collect())
    assert got == [0, 1, 3, 4]
    con = duckdb.connect()
    con.execute("CREATE TABLE g (doc_id BIGINT, lat DOUBLE, lon DOUBLE)")
    con.executemany("INSERT INTO g VALUES (?, ?, ?)", rows)
    sql_ids = sorted(r[0] for r in con.execute(
        f"SELECT doc_id FROM g WHERE {compile_query_sql(q)}"
    ).fetchall())
    assert sql_ids == got
    with pytest.raises(ValueError, match=">= 3 points"):
        compile_query({"geo_polygon": {"points": tri[:2]}})


def test_epoch_ms_conversions_are_exact():
    """r11 precision fix: ms↔datetime hops are exact integers. The float
    path lost 1 ms (int(ts*1000) truncating an ulp low) — pinned on the
    two falsifying shapes the property model caught plus a late-epoch
    sub-second boundary."""
    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        resolve_range_bounds,
    )
    from elasticsearch_drift_plugin_spark.params import (
        add_calendar_ms,
        trunc_calendar_ms,
    )

    # now=6 ms + week arithmetic must keep the 6 ms remainder exactly
    got = resolve_range_bounds({"gte": "now-2w+16w+0y", "now": 6})["gte"]
    assert got == 6 + 14 * 7 * 86_400_000
    # round-up through /M lands on the exact last ms of the month
    got = resolve_range_bounds({"gt": "now+0y+36M+14y/M", "now": 0})["gt"]
    assert got == 539_135_999_999  # 1987-02-01T00:00:00Z − 1 ms
    # direct engine hops at a ...999 boundary and with ms remainders
    assert trunc_calendar_ms(539_135_999_999, "month") == 536_457_600_000
    assert add_calendar_ms(1_705_314_600_123, "hour", 1) == 1_705_318_200_123
    assert add_calendar_ms(
        1_705_314_600_123, "day", 1, "America/New_York"
    ) == 1_705_401_000_123
