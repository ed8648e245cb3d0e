"""Round-12 regressions — the r11 ADVICE findings, pinned.

1. nested inner `bool` applies the SAME ES minimum_should_match rule as
   the top-level bool branch (should is OPTIONAL beside must/filter when
   msm is unset; an explicit msm resolves through the shared Lucene
   algorithm) — previously should was silently required and msm ignored,
   in BOTH twins, so oracle pairing could not catch it.
2. multi_match best_fields/most_fields with operator:'and' keeps every
   term required even when minimum_should_match is also set (Lucene
   applies msm to optional clauses only).
3. compile_query_sql grows a `dialect` param: nested emits
   `exists(...)` for Spark SQL and `len(list_filter(...))` for DuckDB —
   the single DuckDB spelling failed to parse through F.expr.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_drift_plugin_spark.functions.es_dsl import (
    compile_query,
    compile_query_sql,
)

# same element shapes as the r11 nested fixture, distinct values so each
# assertion discriminates the old behavior from the fixed one
NROWS = [
    (0, [(10, "A", "red fox"), (50, "R", "lazy dog")]),
    (1, [(46, "R", "red fox jumps")]),
    (2, [(46, "A", "dog")]),
    (3, []),
    (4, None),
]
NSCHEMA = "pid long, items array<struct<qty: long, flag: string, note: string>>"


@pytest.fixture(scope="module")
def nested_df(spark):
    return spark.createDataFrame(NROWS, NSCHEMA)


@pytest.fixture(scope="module")
def nested_duck():
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
    return con


def _nids(df, q):
    return sorted(r["pid"] for r in df.where(compile_query(q)).collect())


def _check_all_routes(nested_df, nested_duck, q, expect):
    """One hit-set assertion across ALL FOUR routes: Catalyst Columns,
    the DuckDB SQL twin, and the Spark-dialect SQL twin through F.expr."""
    assert _nids(nested_df, q) == expect, ("spark", q)
    duck_ids = sorted(r[0] for r in nested_duck.execute(
        f"SELECT pid FROM p WHERE {compile_query_sql(q)}"
    ).fetchall())
    assert duck_ids == expect, ("duckdb", q)
    spark_sql_ids = sorted(
        r["pid"]
        for r in nested_df.where(
            F.expr(compile_query_sql(q, dialect="spark"))
        ).collect()
    )
    assert spark_sql_ids == expect, ("spark-sql", q)


def test_nested_bool_should_optional_beside_must(nested_df, nested_duck):
    # ES rule: with must present and msm unset, should is score-only —
    # the must-only element condition decides (qty>=40 in ANY element).
    # The old compile required the should too (→ only doc 2).
    q = {"nested": {"path": "items", "query": {"bool": {
        "must": [{"range": {"items.qty": {"gte": 40}}}],
        "should": [{"term": {"items.flag": "A"}}],
    }}}}
    _check_all_routes(nested_df, nested_duck, q, [0, 1, 2])


def test_nested_bool_explicit_msm_1_beside_must(nested_df, nested_duck):
    # explicit msm=1 DOES require one should per matching element
    q = {"nested": {"path": "items", "query": {"bool": {
        "must": [{"range": {"items.qty": {"gte": 40}}}],
        "should": [{"term": {"items.flag": "A"}}],
        "minimum_should_match": 1,
    }}}}
    _check_all_routes(nested_df, nested_duck, q, [2])


def test_nested_bool_msm_2_counts_should_clauses(nested_df, nested_duck):
    # msm=2 of two shoulds — the old compile treated this as OR (doc 0
    # matched via flag A alone); the fix demands both on one element
    q = {"nested": {"path": "items", "query": {"bool": {
        "should": [{"term": {"items.flag": "A"}},
                   {"match": {"items.note": "dog"}}],
        "minimum_should_match": 2,
    }}}}
    _check_all_routes(nested_df, nested_duck, q, [2])
    # msm above the clause count matches nothing (Lucene BooleanQuery)
    q["nested"]["query"]["bool"]["minimum_should_match"] = 3
    _check_all_routes(nested_df, nested_duck, q, [])


def test_nested_sql_spark_dialect_parses_and_duckdb_default_kept():
    q = {"nested": {"path": "items",
                    "query": {"term": {"items.flag": "R"}}}}
    assert "list_filter" in compile_query_sql(q)  # default = duckdb
    assert "exists(items" in compile_query_sql(q, dialect="spark")
    with pytest.raises(ValueError, match="dialect"):
        compile_query_sql(q, dialect="postgres")


# --- multi_match operator:'and' + minimum_should_match ---------------------

MM_ROWS = [
    (0, "alpha beta", "x"),
    (1, "alpha", "beta"),
    (2, "alpha", "x"),
    (3, "beta gamma", "alpha beta"),
]
MM_SCHEMA = "doc_id long, f1 string, f2 string"


def test_multi_match_operator_and_ignores_msm(spark):
    df = spark.createDataFrame(MM_ROWS, MM_SCHEMA)
    q = {"multi_match": {"query": "alpha beta", "fields": ["f1", "f2"],
                         "operator": "and", "minimum_should_match": 1}}
    # operator:and ⇒ SOME field carries ALL terms (docs 0 and 3); the old
    # msm branch demoted the terms to at-least-1 (docs 0,1,2,3)
    got = sorted(r["doc_id"] for r in df.where(compile_query(q)).collect())
    assert got == [0, 3]
    got_sql = sorted(
        r["doc_id"] for r in df.where(F.expr(compile_query_sql(q))).collect()
    )
    assert got_sql == [0, 3]
    # without operator:and, msm still threads per-field (any 1 of 2 terms)
    q_or = {"multi_match": {"query": "alpha beta", "fields": ["f1", "f2"],
                            "minimum_should_match": 1}}
    got_or = sorted(r["doc_id"] for r in df.where(compile_query(q_or)).collect())
    assert got_or == [0, 1, 2, 3]


# --- has_child / has_parent QUERY kinds (r12) -------------------------------

from elasticsearch_drift_plugin_spark.functions.es_dsl import apply_query

PARENTS = [(1, "A"), (2, "A"), (3, "B"), (4, "B")]
CHILDREN = [
    # pid 1: two matching children; pid 2: one matching; pid 3: none
    # matching (one child below threshold); pid 4: no children at all
    (1, 50), (1, 60), (1, 5),
    (2, 70),
    (3, 10),
]


@pytest.fixture(scope="module")
def pc(spark):
    p = spark.createDataFrame(PARENTS, "pid long, grp string")
    c = spark.createDataFrame(CHILDREN, "cpid long, qty long")
    return p, c, {"kid": (c, "pid", "cpid")}


def _pids(df):
    return sorted(r["pid"] for r in df.select("pid").collect())


def test_has_child_basic_and_min_max(pc):
    p, c, rel = pc
    inner = {"range": {"qty": {"gte": 40}}}
    q = {"has_child": {"type": "kid", "query": inner}}
    assert _pids(apply_query(p, q, rel)) == [1, 2]
    q = {"has_child": {"type": "kid", "query": inner, "min_children": 2}}
    assert _pids(apply_query(p, q, rel)) == [1]
    q = {"has_child": {"type": "kid", "query": inner, "max_children": 1}}
    assert _pids(apply_query(p, q, rel)) == [2]
    # min+max window
    q = {"has_child": {"type": "kid", "query": inner,
                       "min_children": 1, "max_children": 1}}
    assert _pids(apply_query(p, q, rel)) == [2]


def test_has_child_composes_in_bool(pc):
    p, c, rel = pc
    inner = {"range": {"qty": {"gte": 40}}}
    # must_not: parents WITHOUT a matching child — including pid 4,
    # which has no children at all (NULL marker kept by must_not)
    q = {"bool": {"must_not": [{"has_child": {"type": "kid",
                                              "query": inner}}]}}
    assert _pids(apply_query(p, q, rel)) == [3, 4]
    # beside a parent-side clause
    q = {"bool": {"must": [{"term": {"grp": "A"}},
                           {"has_child": {"type": "kid", "query": inner,
                                          "min_children": 2}}]}}
    assert _pids(apply_query(p, q, rel)) == [1]
    # under should with another clause (OR semantics over the marker)
    q = {"bool": {"should": [{"term": {"grp": "B"}},
                             {"has_child": {"type": "kid", "query": inner,
                                            "min_children": 2}}],
                  "minimum_should_match": 1}}
    assert _pids(apply_query(p, q, rel)) == [1, 3, 4]


def test_has_parent(pc):
    p, c, rel_child = pc
    rel = {"par": (p, "cpid", "pid")}
    q = {"has_parent": {"parent_type": "par",
                        "query": {"term": {"grp": "A"}}}}
    got = sorted(
        (r["cpid"], r["qty"]) for r in apply_query(c, q, rel).collect()
    )
    assert got == [(1, 5), (1, 50), (1, 60), (2, 70)]
    # composed with a child-side clause
    q = {"bool": {"must": [
        {"has_parent": {"parent_type": "par",
                        "query": {"term": {"grp": "A"}}}},
        {"range": {"qty": {"gte": 40}}},
    ]}}
    got = sorted(r["qty"] for r in apply_query(c, q, rel).collect())
    assert got == [50, 60, 70]


def test_join_kinds_loud_raises(pc):
    p, c, rel = pc
    inner = {"range": {"qty": {"gte": 40}}}
    # compile_query names the DataFrame-level workaround
    with pytest.raises(ValueError, match="apply_query"):
        compile_query({"has_child": {"type": "kid", "query": inner}})
    with pytest.raises(ValueError, match="apply_query"):
        compile_query_sql({"has_parent": {"parent_type": "p",
                                          "query": inner}})
    # inner_hits / min_children=0 / undeclared relation / missing query
    with pytest.raises(ValueError, match="inner_hits"):
        apply_query(p, {"has_child": {"type": "kid", "query": inner,
                                      "inner_hits": {}}}, rel)
    with pytest.raises(ValueError, match="min_children"):
        apply_query(p, {"has_child": {"type": "kid", "query": inner,
                                      "min_children": 0}}, rel)
    with pytest.raises(ValueError, match="not declared"):
        apply_query(p, {"has_child": {"type": "nope", "query": inner}}, rel)
    with pytest.raises(ValueError, match="needs a query"):
        apply_query(p, {"has_child": {"type": "kid"}}, rel)
    # without relations the helpful compile_query raise still fires
    with pytest.raises(ValueError, match="apply_query"):
        apply_query(p, {"has_child": {"type": "kid", "query": inner}})


def test_join_kind_plan_is_equi_join_no_marker_columns(pc):
    p, c, rel = pc
    q = {"has_child": {"type": "kid",
                       "query": {"range": {"qty": {"gte": 40}}}}}
    out = apply_query(p, q, rel)
    # marker/key scaffolding must not leak into the result schema
    assert out.columns == ["pid", "grp"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_run_search_relations_route(pc):
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        run_search,
    )

    p, c, rel = pc
    body = {
        "size": 0,
        "query": {"has_child": {"type": "kid",
                                "query": {"range": {"qty": {"gte": 40}}}}},
        "aggs": {"by_grp": {"terms": {"field": "grp",
                                      "order": {"_key": "asc"}}}},
    }
    got = run_search(p, body, relations=rel)["by_grp"].collect()
    assert [(r[0], r["doc_count"]) for r in got] == [("A", 2)]
    # without relations, the loud single-frame raise
    with pytest.raises(ValueError, match="apply_query"):
        run_search(p, body)


def test_more_like_this_missing_seed_is_empty(spark):
    """r12 single-pass rewrite edge: a seed doc with no terms (absent
    doc_id) yields an EMPTY typed frame, not an error or a full scan."""
    from elasticsearch_drift_plugin_spark.operators.search import (
        more_like_this,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    out = more_like_this(docs, seed_doc_id=99, n_terms=3, size=5)
    assert out.columns == ["doc_id", "n_shared", "score_q"]
    assert out.count() == 0


# --- quality-clf trained-weight memo (r12) ----------------------------------

def test_clf_weight_memo_trains_once_per_input(spark, monkeypatch):
    """The clf family (quality_clf / clf_calibration / train_curate_clf)
    shares ONE deterministic train per (input fingerprint, params): the
    second call replays frozen weights (no GD), and the outputs are
    byte-identical. Sampled training keys separately. Nondeterministic
    frames never memoize. Trains are counted at ``_clf_train``, the one
    entry of both routes (driver kernel and distributed loop)."""
    from elasticsearch_drift_plugin_spark import memo
    from elasticsearch_drift_plugin_spark.operators import corpus

    calls = {"n": 0}
    real_train = corpus._clf_train

    def counting_train(*a, **k):
        calls["n"] += 1
        return real_train(*a, **k)

    monkeypatch.setattr(corpus, "_clf_train", counting_train)
    memo.clear("clf_weights")

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    first = corpus.quality_clf(docs).collect()
    assert calls["n"] == 1
    again = corpus.quality_clf(docs).collect()
    assert calls["n"] == 1  # memo hit — no second train
    assert first == again
    # a fresh load of the same table hits the same key (files, sizes,
    # mtimes and the semantic hash are load-stable)
    docs2 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus.quality_clf(docs2).collect()
    assert calls["n"] == 1
    # different params → different key → its own train
    corpus.quality_clf_sampled(docs, sample_rate=0.5).collect()
    assert calls["n"] == 2
    corpus.quality_clf_sampled(docs, sample_rate=0.5).collect()
    assert calls["n"] == 2
    # a nondeterministic frame must NOT memoize (its rows are not pinned)
    mem = spark.createDataFrame(
        [(1, "alpha beta", "src0"), (2, "gamma delta", "src1")] * 3,
        "doc_id long, text string, source string",
    ).withColumn("doc_id", F.monotonically_increasing_id())
    assert memo.frame_key(mem, "full") is None
    corpus.quality_clf(mem).collect()
    corpus.quality_clf(mem).collect()
    assert calls["n"] == 4


# --- cumulative_cardinality on a zone-shifted FIXED grid (r12) --------------

def test_cumcard_fixed_tz_dst_crossing(spark):
    """6h fixed grid in America/New_York across the 2024-03-10 spring
    forward: keys are the UTC instants of LOCAL 6h boundaries, so the
    bucket starting local-midnight Mar 10 sits at 05:00Z (EST) while the
    NEXT boundary (06:00 local, now EDT) sits at 10:00Z — a 5-hour UTC
    gap a zone-free modular floor cannot produce."""
    from elasticsearch_drift_plugin_spark.operators.pipeline import (
        cumulative_cardinality,
    )

    iso = lambda s: int(  # noqa: E731
        __import__("datetime").datetime.fromisoformat(s).timestamp() * 1000
    )
    rows = [
        (iso("2024-03-10T04:59:00+00:00"), 1),  # 23:59 EST Mar 9
        (iso("2024-03-10T05:30:00+00:00"), 2),  # 00:30 EST Mar 10
        (iso("2024-03-10T08:30:00+00:00"), 3),  # 04:30 EDT (post-jump)
        (iso("2024-03-10T08:30:00+00:00"), 2),  # repeat id: not new
        (iso("2024-03-10T10:30:00+00:00"), 4),  # 06:30 EDT
    ]
    df = spark.createDataFrame(rows, "t_ms long, user_id long")
    got = [
        (r["key"], r["new_ids"], r["cum_cardinality"])
        for r in cumulative_cardinality(
            df, "t_ms", "user_id", step_ms=6 * 3600 * 1000,
            tz="America/New_York",
        ).collect()
    ]
    k_1800_est = iso("2024-03-09T18:00:00-05:00")  # 23:00Z Mar 9
    k_0000_est = iso("2024-03-10T00:00:00-05:00")  # 05:00Z Mar 10
    k_0600_edt = iso("2024-03-10T06:00:00-04:00")  # 10:00Z Mar 10
    assert got == [
        (k_1800_est, 1, 1),
        (k_0000_est, 2, 3),   # ids 2 and 3 first seen here (5h UTC span)
        (k_0600_edt, 1, 4),
    ]
    assert k_0600_edt - k_0000_est == 5 * 3600 * 1000  # the DST pinch


# --- serving-edge now stamping (r12) ----------------------------------------

def test_inject_now_stamps_only_unanchored_now_bounds(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import inject_now

    body = {
        "query": {"bool": {
            "must": [
                {"range": {"t": {"gte": "now-1d/d"}}},          # stamped
                {"range": {"t": {"lt": "now", "now": 123}}},    # explicit kept
                {"range": {"v": {"gte": 100}}},                 # numeric untouched
                {"range": {"d": {"gte": "2024-01-01"}}},        # date untouched
            ],
            "should": [{"bool": {"must_not": [
                {"range": {"t": {"gt": "now/w"}}},              # nested: stamped
            ]}}],
        }},
        "aggs": {"m": {"max": {"field": "v"}}},
    }
    out = inject_now(body, 1_700_000_000_000)
    must = out["query"]["bool"]["must"]
    assert must[0]["range"]["t"]["now"] == 1_700_000_000_000
    assert must[1]["range"]["t"]["now"] == 123
    assert "now" not in must[2]["range"]["v"]
    assert "now" not in must[3]["range"]["d"]
    deep = out["query"]["bool"]["should"][0]["bool"]["must_not"][0]
    assert deep["range"]["t"]["now"] == 1_700_000_000_000
    # the input tree is untouched (deep copy)
    assert "now" not in body["query"]["bool"]["must"][0]["range"]["t"]


def test_run_search_now_ms_equals_explicit_now(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        run_search,
    )

    df = spark.createDataFrame(
        [(1, 1_700_000_000_000 - 3_600_000), (2, 1_700_000_000_000 - 90_000_000)],
        "doc_id long, t long",
    )
    implicit = {"query": {"range": {"t": {"gte": "now-1d/d"}}},
                "aggs": {"n": {"value_count": {"field": "doc_id"}}}}
    explicit = {"query": {"range": {"t": {"gte": "now-1d/d",
                                          "now": 1_700_000_000_000}}},
                "aggs": {"n": {"value_count": {"field": "doc_id"}}}}
    got = run_search(df, implicit, now_ms=1_700_000_000_000)["n"].collect()
    want = run_search(df, explicit)["n"].collect()
    assert got == want
    # without now_ms the reproducibility contract still raises
    with pytest.raises(ValueError, match="now"):
        run_search(df, implicit)


def test_has_child_inner_hits_frame(pc):
    """inner_hits via run_search: the reserved '_inner_hits' frame holds
    the matching children of HIT parents only, top-size per parent under
    the spec sort; apply_query (single-frame route) keeps the loud
    raise; a missing sort raises (no _score in filter context)."""
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        run_search,
    )

    p, c, rel = pc
    body = {
        "size": 0,
        "query": {"has_child": {
            "type": "kid",
            "query": {"range": {"qty": {"gte": 40}}},
            "min_children": 2,
            "inner_hits": {"size": 1, "sort": [{"qty": "desc"}]},
        }},
        "aggs": {"n": {"value_count": {"field": "pid"}}},
    }
    out = run_search(p, body, relations=rel)
    # only pid 1 has >= 2 matching children; its top-1 child by qty desc
    ih = [(r["cpid"], r["qty"], r["_inner_rank"])
          for r in out["_inner_hits"].collect()]
    assert ih == [(1, 60, 1)]
    assert [r[0] for r in out["n"].collect()] == [1]
    # sort required
    bad = {"query": {"has_child": {"type": "kid",
                                   "query": {"range": {"qty": {"gte": 40}}},
                                   "inner_hits": {}}},
           "aggs": {"n": {"value_count": {"field": "pid"}}}}
    with pytest.raises(ValueError, match="sort"):
        run_search(p, bad, relations=rel)
    # the direct apply_query route still raises loudly
    with pytest.raises(ValueError, match="run_search"):
        apply_query(p, bad["query"], rel)


def test_geo_distance_sort_semantics(spark):
    """_geo_distance sort: hits ordered by haversine distance from the
    origin; the distance (in unit) is the visible _geo_distance column;
    search_after cursors over it; mode / unknown units / missing origin
    raise loudly."""
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        run_search,
    )

    df = spark.createDataFrame(
        [(1, 40.7, -74.0), (2, 40.7, -73.0), (3, 41.7, -74.0),
         (4, 40.7, -74.5)],
        "doc_id long, lat double, lon double",
    )
    body = {
        "size": 3,
        "sort": [{"_geo_distance": {"origin": "40.7,-74.0", "unit": "km"}},
                 {"doc_id": "asc"}],
        "_source": {"includes": ["doc_id"]},
    }
    hits = run_search(df, body)["_hits"].collect()
    assert [r["doc_id"] for r in hits] == [1, 4, 2]
    assert hits[0]["_geo_distance"] == 0.0
    # ~42 km for 0.5 deg lon at 40.7N; 1 deg lon ~84 km; 1 deg lat ~111 km
    assert 40 < hits[1]["_geo_distance"] < 45
    # search_after cursors over the distance value, ES-style
    after = {**body, "search_after": [hits[-1]["_geo_distance"],
                                      hits[-1]["doc_id"]]}
    rest = run_search(df, after)["_hits"].collect()
    assert [r["doc_id"] for r in rest] == [3]
    for bad in [
        {"size": 1, "sort": [{"_geo_distance": {"origin": "0,0",
                                                "mode": "min"}}]},
        {"size": 1, "sort": [{"_geo_distance": {"origin": "0,0",
                                                "unit": "furlong"}}]},
        {"size": 1, "sort": [{"_geo_distance": {"unit": "km"}}]},
        {"size": 1, "sort": [{"_geo_distance": {"origin": "0,0"}},
                             {"_geo_distance": {"origin": "1,1"}}]},
    ]:
        with pytest.raises(ValueError):
            run_search(df, bad)


def test_dsir_lambda_memo_fits_once_per_input(spark, monkeypatch):
    """dsir_weights / dsir_sample share ONE λ-model fit per (input
    fingerprint, params): the folded gram pass (both sides at once, carrying
    a side flag) runs once; a repeat call replays the memoized λ table and
    the outputs are byte-identical. A stale-session entry is evicted."""
    from elasticsearch_drift_plugin_spark import memo
    from elasticsearch_drift_plugin_spark.operators import corpus

    calls = {"n": 0, "fit": 0}
    real = corpus._hashed_grams

    def counting(df, buckets):
        calls["n"] += 1
        calls["fit"] += "__side" in df.columns
        return real(df, buckets)

    monkeypatch.setattr(corpus, "_hashed_grams", counting)
    memo.clear("dsir_lambda")

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    first = corpus.dsir_weights(docs).collect()
    n_fit = calls["n"]
    assert n_fit == 2  # the folded fit pass + the raw scoring pass
    assert calls["fit"] == 1
    again = corpus.dsir_weights(docs).collect()
    assert calls["n"] == n_fit + 1  # only the raw scoring pass
    assert first == again
    # dsir_sample rides the same memo
    corpus.dsir_sample(docs).collect()
    assert calls["n"] == n_fit + 2
    # a dead-session entry is evicted and treated as a miss, not a broken
    # frame
    store = memo._STORE["dsir_lambda"]
    (key, (sess, lam)), = store.items()
    store[key] = (object(), lam)
    corpus.dsir_weights(docs).collect()
    assert calls["n"] == n_fit + 4  # re-fit: the folded + scoring passes again
    assert calls["fit"] == 2
    assert [s for s, _ in store.values()] == [spark]


# --- fixed interval + time_zone (r12: the local-space grid) -----------------

def _iso_ms(s):
    import datetime as _dt

    return int(_dt.datetime.fromisoformat(s).timestamp() * 1000)


def test_fixed_tz_grid_dst_gap_and_fill(spark):
    """30m fixed grid in America/New_York across the 2024-03-10 spring
    forward: keys are UTC instants of LOCAL boundaries; zero-fill spine
    keys fabricated inside the DST gap (local 02:00/02:30) collapse; a
    real empty bucket (local 04:00) still fills. Oracle generator
    matches bit-for-bit (DuckDB twin of both conversions)."""
    from elasticsearch_drift_plugin_spark.operators.proportional_sum import (
        proportional_sum,
    )
    from elasticsearch_drift_plugin_spark.oracle import psum_oracle_sql
    import duckdb

    pts = [_iso_ms("2024-03-10T06:45:00+00:00"),   # 01:45 EST → 01:30 local
           _iso_ms("2024-03-10T07:10:00+00:00"),   # 03:10 EDT → 03:00
           _iso_ms("2024-03-10T07:40:00+00:00"),   # 03:40 → 03:30
           _iso_ms("2024-03-10T08:40:00+00:00")]   # 04:40 → 04:30
    df = spark.createDataFrame([(t, t, 1.0) for t in pts],
                               "s long, e long, v double")
    out = proportional_sum(
        df, "s", "e", "v", interval=30 * 60 * 1000,
        time_zone="America/New_York", min_doc_count=0, quantize=4,
    )
    got = [(r["key"], r["doc_count"]) for r in out.collect()]
    k = lambda s: _iso_ms(s)  # noqa: E731
    assert got == [
        (k("2024-03-10T06:30:00+00:00"), 1),
        (k("2024-03-10T07:00:00+00:00"), 1),   # 5h-gap pinch: 06:30→07:00
        (k("2024-03-10T07:30:00+00:00"), 1),
        (k("2024-03-10T08:00:00+00:00"), 0),   # real empty bucket fills
        (k("2024-03-10T08:30:00+00:00"), 1),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE flows_t AS SELECT * FROM (VALUES "
        + ",".join(f"({t},{t},1.0,CAST(NULL AS DOUBLE))" for t in pts)
        + ") v(start_ms, end_ms, value, sampling)"
    )
    sql = psum_oracle_sql(
        "SELECT * FROM flows_t", interval=30 * 60 * 1000,
        time_zone="America/New_York", min_doc_count=0,
    )
    assert [(r[0], r[1]) for r in con.sql(sql).fetchall()] == got


def test_fixed_tz_date_histogram_compiler_and_cumcard(spark):
    """The _search date_histogram accepts fixed_interval + time_zone
    (the Kibana browser-tz histogram), and a cumulative_cardinality
    sub-agg joins on the SAME zone-shifted keys."""
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        run_search,
    )

    rows = [(_iso_ms("2024-01-15T05:10:00+00:00"), 1),   # 00:10 EST
            (_iso_ms("2024-01-15T05:40:00+00:00"), 2),
            (_iso_ms("2024-01-15T11:10:00+00:00"), 1),   # 06:10 EST
            (_iso_ms("2024-01-15T11:20:00+00:00"), 3)]
    df = spark.createDataFrame(rows, "t_ms long, user_id long")
    body = {"size": 0, "aggs": {"h": {
        "date_histogram": {"field": "t_ms", "fixed_interval": "6h",
                           "time_zone": "America/New_York"},
        "aggs": {"u": {"cardinality": {"field": "user_id"}},
                 "cu": {"cumulative_cardinality": {"buckets_path": "u"}}},
    }}}
    got = [(r["key"], r["doc_count"], r["u"], r["cu"])
           for r in run_search(df, body)["h"].collect()]
    assert got == [
        (_iso_ms("2024-01-15T05:00:00+00:00"), 2, 2, 2),  # local 00:00
        (_iso_ms("2024-01-15T11:00:00+00:00"), 2, 2, 3),  # local 06:00
    ]


def test_fixed_tz_auto_offset_from_local_start(spark):
    """Auto-offset derives from the LOCALIZED start: a start at exactly
    local midnight puts keys on local midnights even for a grid whose
    step does not divide the zone offset."""
    from elasticsearch_drift_plugin_spark.operators.proportional_sum import (
        proportional_sum,
    )

    start = _iso_ms("2024-01-15T00:00:00-05:00")  # local midnight EST
    t = _iso_ms("2024-01-15T03:10:00-05:00")
    df = spark.createDataFrame([(t, t, 1.0)], "s long, e long, v double")
    out = proportional_sum(
        df, "s", "e", "v", interval=4 * 3600 * 1000,
        time_zone="America/New_York", start=start,
        end=start + 86_400_000 - 1, quantize=4,
    )
    assert [r["key"] for r in out.collect()] == [start]


def test_fixed_tz_streaming_builds(spark):
    # r13: fixed+tz streams — explode_contributions converts local-grid
    # edges to UTC-instant keys at the explode level, shared with batch
    from elasticsearch_drift_plugin_spark.streaming.proportional_sum_stream import (
        proportional_sum_stream,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("unix_millis(timestamp) AS s",
                    "unix_millis(timestamp) AS e", "1.0 AS v")
    )
    agg = proportional_sum_stream(
        stream, "s", "e", "v", interval=1800000,
        time_zone="America/New_York",
    )
    assert agg.isStreaming and "key" in agg.columns


def test_has_parent_inner_hits_frame(pc):
    """inner_hits on has_parent: the matching PARENT rows of the hit
    children, per-key ranked (each parent key is unique, so ranks are 1)."""
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        run_search,
    )

    p, c, rel_child = pc
    rel = {"par": (p, "cpid", "pid")}
    body = {
        "size": 0,
        "query": {"bool": {"must": [
            {"has_parent": {"parent_type": "par",
                            "query": {"term": {"grp": "A"}},
                            "inner_hits": {"sort": [{"pid": "asc"}]}}},
            {"range": {"qty": {"gte": 40}}},
        ]}},
        "aggs": {"n": {"value_count": {"field": "cpid"}}},
    }
    out = run_search(c, body, relations=rel)
    ih = [(r["pid"], r["grp"], r["_inner_rank"])
          for r in out["_inner_hits"].collect()]
    # hit children: (1,50),(1,60),(2,70) → parents 1 and 2, both grp A
    assert ih == [(1, "A", 1), (2, "A", 1)]
    assert [r[0] for r in out["n"].collect()] == [3]


# --- date_range zone/math bounds + loud tz raises (r12 third wave) ----------

def test_date_range_time_zone_and_math_bounds(spark):
    from elasticsearch_drift_plugin_spark.operators.es_metrics import (
        date_range_agg,
    )

    rows = [(_iso_ms("2024-01-09T23:00:00-05:00"),),   # before local Jan 10
            (_iso_ms("2024-01-10T00:30:00-05:00"),),   # inside [Jan10, now/d)
            (_iso_ms("2024-01-21T01:00:00-05:00"),)]   # after now/d? no: 01:00 Jan 21 local < now/d floor? now/d = Jan-21 00:00 local -> this row is AFTER
    df = spark.createDataFrame(rows, "t_ms long")
    now = _iso_ms("2024-01-21T20:00:00+00:00")
    out = date_range_agg(
        df, "t_ms",
        [(None, "2024-01-10"), ("2024-01-10", "now/d"), ("now/d", None)],
        time_zone="America/New_York", now_ms=now,
    ).collect()
    got = {r["key"]: (r["range_from"], r["range_to"], r["doc_count"])
           for r in out}
    jan10 = _iso_ms("2024-01-10T00:00:00-05:00")
    nowd = _iso_ms("2024-01-21T00:00:00-05:00")
    assert got["*-2024-01-10"] == (None, jan10, 1)
    assert got["2024-01-10-now/d"] == (jan10, nowd, 1)
    assert got["now/d-*"] == (nowd, None, 1)
    # now-anchored math without now_ms raises (reproducibility contract)
    with pytest.raises(ValueError, match="now"):
        date_range_agg(df, "t_ms", [("now-1d/d", None)]).collect()
    # a non-date string bound raises instead of silently keying garbage
    with pytest.raises(ValueError, match="resolve"):
        date_range_agg(df, "t_ms", [("banana", None)]).collect()


def test_auto_dh_and_composite_reject_time_zone(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        run_search,
    )

    df = spark.createDataFrame([(1_700_000_000_000, 1)],
                               "t_ms long, user_id long")
    with pytest.raises(ValueError, match="auto_date_histogram time_zone"):
        run_search(df, {"aggs": {"a": {"auto_date_histogram": {
            "field": "t_ms", "buckets": 5,
            "time_zone": "America/New_York"}}}})
    with pytest.raises(ValueError, match="composite date_histogram"):
        run_search(df, {"aggs": {"c": {"composite": {"sources": [
            {"d": {"date_histogram": {"field": "t_ms",
                                      "calendar_interval": "day",
                                      "time_zone": "America/New_York"}}},
        ]}}}})


def test_metric_missing_substitution(spark):
    """ES metric `missing`: docs lacking the field aggregate AS the
    substitute — on the standalone, terms-child, and histogram-child
    routes (previously the key was silently dropped)."""
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        run_search,
    )

    df = spark.createDataFrame(
        [(0, "a", 10.0), (86_400_000, "a", None), (86_400_000, "b", 4.0)],
        "t_ms long, k string, v double",
    )
    body = {"size": 0, "aggs": {
        "s": {"sum": {"field": "v", "missing": 2.0}},
        "n": {"value_count": {"field": "v", "missing": 2.0}},
        "by_k": {"terms": {"field": "k", "order": {"_key": "asc"}},
                 "aggs": {"m": {"avg": {"field": "v", "missing": 2.0}}}},
        "h": {"date_histogram": {"field": "t_ms", "fixed_interval": "1d"},
              "aggs": {"mx": {"max": {"field": "v", "missing": 2.0}}}},
    }}
    out = run_search(df, body)
    assert out["s"].collect()[0]["s"] == 16.0           # 10 + 2 + 4
    assert out["n"].collect()[0]["n"] == 3              # null counts too
    by_k = {r["k"]: r["m"] for r in out["by_k"].collect()}
    assert by_k == {"a": 6.0, "b": 4.0}                 # (10+2)/2
    h = {r["key"]: r["mx"] for r in out["h"].collect()}
    assert h == {0: 10.0, 86_400_000: 4.0}              # max(2,4)=4
    # without missing, nulls stay excluded (regression control)
    ctl = run_search(df, {"size": 0, "aggs": {
        "s": {"sum": {"field": "v"}},
        "n": {"value_count": {"field": "v"}}}})
    assert ctl["s"].collect()[0]["s"] == 14.0
    assert ctl["n"].collect()[0]["n"] == 2


def test_histogram_missing_and_scripted_metric_raise(spark):
    """histogram / date_histogram `missing` buckets null-field docs at
    the given value (previously silently dropped); a field-less metric
    spec (ES script metric) raises naming runtime_mappings."""
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        run_search,
    )

    df = spark.createDataFrame(
        [(0, 5.0), (None, 7.0), (86_400_000, 1.0)], "t_ms long, v double"
    )
    out = run_search(df, {"size": 0, "aggs": {
        "h": {"date_histogram": {"field": "t_ms", "fixed_interval": "1d",
                                 "missing": 0}},
        "hv": {"histogram": {"field": "v", "interval": 10}},
    }})
    h = {r["key"]: r["doc_count"] for r in out["h"].collect()}
    assert h == {0: 2, 86_400_000: 1}          # null t_ms lands at 0
    vdf = spark.createDataFrame([(5.0,), (None,), (15.0,)], "v double")
    hv = run_search(vdf, {"size": 0, "aggs": {
        "hv": {"histogram": {"field": "v", "interval": 10, "missing": 25.0}},
    }})["hv"]
    assert {r["key"]: r["doc_count"] for r in hv.collect()} == \
        {0.0: 1, 10.0: 1, 20.0: 1}  # missing=25 floors into bucket 20
    with pytest.raises(ValueError, match="runtime_mappings"):
        run_search(df, {"size": 0, "aggs": {
            "m": {"sum": {"script": {"source": "v * 2"}}}}})
