"""Round-13 regressions.

ADVICE r12 item 1: every compile_query_sql string that es_search feeds to
Spark ``F.expr`` must compile in the SPARK dialect — the duckdb default
emits ``len(list_filter(...))`` for `nested` clauses, which Spark SQL
cannot parse. These tests push a `nested` clause through each previously
duckdb-dialect path: significant_terms foreground inference, the filters
agg, adjacency_matrix, t_test sides, and explicit significant_*
foreground/background_filter specs; plus validate_query now compiling
BOTH dialects.
"""

from __future__ import annotations

import pytest

from elasticsearch_drift_plugin_spark.functions.es_search import (
    run_search,
    validate_query,
)

NESTED_R = {"nested": {"path": "items", "query": {"bool": {"must": [
    {"range": {"items.qty": {"gte": 45}}},
    {"term": {"items.flag": "R"}},
]}}}}
NESTED_ANY = {"nested": {"path": "items",
                         "query": {"exists": {"field": "qty"}}}}


@pytest.fixture(scope="module")
def ndf(spark):
    rows = [
        (0, "a", 1.0, [(10, "A"), (50, "R")]),
        (1, "a", 2.0, [(46, "R")]),
        (2, "b", 3.0, [(46, "A")]),
        (3, "b", 4.0, []),
        (4, "c", 5.0, None),
        (5, "a", 6.0, [(99, "R")]),
    ]
    return spark.createDataFrame(
        rows,
        "pid long, cat string, v double,"
        " items array<struct<qty: long, flag: string>>",
    )


def test_filters_agg_accepts_nested_clause(ndf):
    out = run_search(ndf, {"aggs": {"f": {"filters": {
        "filters": {"r_heavy": NESTED_R, "has_items": NESTED_ANY},
        "other_bucket": True,
    }}}})["f"]
    got = {r["key"]: r["doc_count"] for r in out.collect()}
    # NESTED_R matches pids 0,1,5; NESTED_ANY matches 0,1,2,5;
    # other bucket = docs matching neither = pids 3,4
    assert got == {"r_heavy": 3, "has_items": 4, "_other_": 2}


def test_sig_terms_inferred_foreground_accepts_nested_query(ndf):
    out = run_search(ndf, {
        "query": NESTED_R,
        "aggs": {"s": {"significant_terms": {
            "field": "cat", "min_doc_count": 1,
        }}},
    })["s"]
    rows = {r["key"]: r["fg_count"] for r in out.collect()}
    # foreground = nested hits (0,1,5) → cat 'a' ×3
    assert rows["a"] == 3


def test_sig_terms_explicit_nested_fg_and_bg_filter(ndf):
    out = run_search(ndf, {"aggs": {"s": {"significant_terms": {
        "field": "cat",
        "foreground": NESTED_R,
        "background_filter": NESTED_ANY,
        "min_doc_count": 1,
    }}}})["s"]
    assert {r["key"] for r in out.collect()} == {"a"}


def test_adjacency_matrix_accepts_nested_filters(ndf):
    out = run_search(ndf, {"aggs": {"m": {"adjacency_matrix": {
        "filters": {"r": NESTED_R, "any": NESTED_ANY},
    }}}})["m"]
    got = {r["key"]: r["doc_count"] for r in out.collect()}
    assert got["r"] == 3 and got["any"] == 4 and got["any&r"] == 3


def test_t_test_accepts_nested_filters(ndf):
    out = run_search(ndf, {"aggs": {"t": {"t_test": {
        "a": {"field": "v", "filter": NESTED_R},
        "b": {"field": "v", "filter": NESTED_ANY},
    }}}})["t"]
    assert out.count() == 1  # runs — duckdb spelling raised ParseException


def test_percolate_accepts_nested_rule(ndf):
    from elasticsearch_drift_plugin_spark.operators.search import percolate

    df = ndf.withColumnRenamed("v", "value")
    out = {
        r["rule_id"]: r["n_matches"]
        for r in percolate(df, rules=((7, NESTED_R),)).collect()
    }
    assert out == {7: 3}


def test_validate_query_compiles_both_dialects(ndf):
    ok, reason = validate_query({"query": NESTED_R})
    assert ok, reason
    ok, reason = validate_query({"query": {"nested": {"path": "items"}}})
    assert not ok and "nested" in reason


# ---------------------------------------------------------------------------
# r13: script_score (query kind + retriever, SQL script dialect) and the
# documented terms_set msm_script spellings.
# ---------------------------------------------------------------------------

def test_script_score_query_kind(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        compile_query,
        compile_query_sql,
    )

    df = spark.createDataFrame(
        [(1, 2.0), (2, 5.0), (3, 9.0), (4, None)], "id long, v double"
    )
    base = {"script_score": {
        "query": {"exists": {"field": "v"}},
        "script": {"source": "v * params.f", "params": {"f": 2}},
    }}
    # filter context without min_score: reduces to the inner query
    assert sorted(
        r["id"] for r in df.where(compile_query(base)).collect()
    ) == [1, 2, 3]
    pruned = {"script_score": {**base["script_score"], "min_score": 10}}
    assert sorted(
        r["id"] for r in df.where(compile_query(pruned)).collect()
    ) == [2, 3]
    # SQL twins agree
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE d AS SELECT * FROM (VALUES (1, 2.0), (2, 5.0),"
                " (3, 9.0), (4, CAST(NULL AS DOUBLE))) t(id, v)")
    for dialect in ("spark", "duckdb"):
        sql = compile_query_sql(pruned, dialect=dialect)
        assert "10.0" in sql and "v * 2" in sql
    assert [r[0] for r in con.sql(
        "SELECT id FROM d WHERE "
        + compile_query_sql(pruned) + " ORDER BY id").fetchall()] == [2, 3]
    # a Painless-looking script raises naming the dialect
    with pytest.raises(ValueError, match="source"):
        compile_query({"script_score": {"query": {"match_all": {}},
                                        "script": "doc.v * 2"}})


def test_script_score_retriever_and_rrf_child(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    df = spark.createDataFrame(
        [(1, 2.0, "a"), (2, 5.0, "b"), (3, 9.0, "a"), (4, 1.0, "b")],
        "id long, v double, k string",
    )
    out = run_search(df, {"size": 2, "retriever": {"script_score": {
        "script": {"source": "v * 10"}, "id_field": "id",
    }}})["_hits"]
    assert [(r["id"], r["_score_q"]) for r in out.collect()] == [
        (3, 90_000_000), (2, 50_000_000)
    ]
    # min_score prunes before the heap
    out = run_search(df, {"size": 10, "retriever": {"script_score": {
        "script": {"source": "v"}, "id_field": "id", "min_score": 2.0,
    }}})["_hits"]
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]
    # as an rrf child beside a standard retriever
    fused = run_search(df, {"size": 4, "retriever": {"rrf": {
        "id_field": "id",
        "retrievers": [
            {"standard": {"sort": [{"v": "asc"}]}},
            {"script_score": {"script": {"source": "v"}}},
        ],
    }}})["_hits"]
    assert fused.count() == 4
    # id_field is required on the bare retriever
    with pytest.raises(ValueError, match="id_field"):
        run_search(df, {"retriever": {"script_score": {
            "script": {"source": "v"}}}})


def test_terms_set_msm_script_spellings(spark):
    import duckdb

    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        compile_query,
        compile_query_sql,
    )

    df = spark.createDataFrame(
        [(1, ["a", "b"], 1), (2, ["a", "b"], 2), (3, ["a"], 9),
         (4, None, 1)],
        "id long, tags array<string>, req int",
    )
    plain = {"terms_set": {"tags": {
        "terms": ["a", "b", "x"],
        "minimum_should_match_script": {"source": "doc['req'].value"},
    }}}
    assert sorted(
        r["id"] for r in df.where(compile_query(plain)).collect()
    ) == [1, 2]
    # Math.min(params.num_terms, doc[...]) caps the per-doc requirement
    # at len(terms): doc 3's req=9 caps at 1, and its one matched term
    # clears it; doc 4's NULL tags never match (ES)
    capped = {"terms_set": {"tags": {
        "terms": ["a"],
        "minimum_should_match_script": {
            "source": "Math.min(params.num_terms, doc['req'].value)"},
    }}}
    got = sorted(r["id"] for r in df.where(compile_query(capped)).collect())
    assert got == [1, 2, 3]
    # SQL twins agree in both dialects
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES"
        " (1, ['a','b'], 1), (2, ['a','b'], 2), (3, ['a'], 9),"
        " (4, CAST(NULL AS VARCHAR[]), 1)) t(id, tags, req)"
    )
    for q, want in ((plain, [1, 2]), (capped, [1, 2, 3])):
        duck = sorted(r[0] for r in con.sql(
            "SELECT id FROM d WHERE " + compile_query_sql(q)).fetchall())
        assert duck == want, (q, duck)
        from pyspark.sql import functions as F

        sp = sorted(r["id"] for r in df.where(
            F.expr(compile_query_sql(q, dialect="spark"))).collect())
        assert sp == want, (q, sp)
    # richer Painless still raises, naming the supported forms
    with pytest.raises(ValueError, match="documented"):
        compile_query({"terms_set": {"tags": {
            "terms": ["a"],
            "minimum_should_match_script": {
                "source": "doc['req'].value * 2"},
        }}})


def test_parent_id_query_kind(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import apply_query

    parents = spark.createDataFrame([(1, "p1"), (2, "p2")], "pid long, n string")
    children = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "cid long, cpid long"
    )
    rel = {"par": (parents, "cpid", "pid")}
    out = apply_query(
        children, {"parent_id": {"type": "par", "id": 1}}, relations=rel
    )
    assert sorted(r["cid"] for r in out.collect()) == [10, 11]
    # composes under bool
    out = apply_query(children, {"bool": {
        "must": [{"parent_id": {"type": "par", "id": 1}}],
        "must_not": [{"term": {"cid": 10}}],
    }}, relations=rel)
    assert [r["cid"] for r in out.collect()] == [11]
    with pytest.raises(ValueError, match="not declared"):
        apply_query(children, {"parent_id": {"type": "x", "id": 1}},
                    relations=rel)


def test_script_sort_hits(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    df = spark.createDataFrame(
        [(1, 5.0, 2.0), (2, 1.0, 10.0), (3, 3.0, 3.0)],
        "id long, a double, b double",
    )
    out = run_search(df, {"size": 3, "sort": [
        {"_script": {"type": "number",
                     "script": {"source": "a * b"}, "order": "desc"}},
        {"id": "asc"},
    ]})["_hits"]
    rows = out.collect()
    # a*b: id2=10, id3=9, id1=10 — tie between 1 and 2 broken by id asc
    assert [r["id"] for r in rows] == [1, 2, 3]
    assert [r["_script_sort"] for r in rows] == [10.0, 10.0, 9.0]
    # search_after cursors over the projected script value
    out2 = run_search(df, {"size": 3, "sort": [
        {"_script": {"script": {"source": "a * b"}, "order": "desc"}},
        {"id": "asc"},
    ], "search_after": [10.0, 1]})["_hits"]
    assert [r["id"] for r in out2.collect()] == [2, 3]


def test_intervals_query_kind_semantics(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import compile_query

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "fox sees the quick dog"),
         (3, "quick fox"), (4, None)],
        "id long, txt string",
    )

    def ids(q):
        return sorted(r["id"] for r in df.where(compile_query(q)).collect())

    # unordered, 1 gap allowed: doc1 (quick..fox, 1 between), doc2
    # (fox..quick, 2 between -> out), doc3 adjacent
    assert ids({"intervals": {"txt": {"match": {
        "query": "quick fox", "max_gaps": 1}}}}) == [1, 3]
    # ordered: only docs where quick precedes fox
    assert ids({"intervals": {"txt": {"match": {
        "query": "quick fox", "ordered": True}}}}) == [1, 3]
    assert ids({"intervals": {"txt": {"match": {
        "query": "fox quick", "ordered": True}}}}) == [2]
    # unlimited gaps default
    assert ids({"intervals": {"txt": {"match": {
        "query": "quick fox"}}}}) == [1, 2, 3]
    # adjacent = 0 gaps
    assert ids({"intervals": {"txt": {"match": {
        "query": "quick fox", "max_gaps": 0}}}}) == [3]
    with pytest.raises(ValueError, match="match rule"):
        compile_query({"intervals": {"txt": {"all_of": {}}}})
    with pytest.raises(ValueError, match="1-2 tokens"):
        compile_query({"intervals": {"txt": {"match": {"query": "a b c"}}}})


def test_wrapper_query_kind(spark):
    import base64
    import json

    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        compile_query,
        compile_query_sql,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    inner = {"term": {"k": "a"}}
    wrapped = {"wrapper": {"query": base64.b64encode(
        json.dumps(inner).encode()).decode()}}
    assert [r["id"] for r in df.where(compile_query(wrapped)).collect()] == [1]
    assert compile_query_sql(wrapped) == compile_query_sql(inner)


def test_rank_feature_and_distance_feature(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import compile_query
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    df = spark.createDataFrame(
        [(1, 10.0, 100.0), (2, 50.0, 250.0), (3, None, 400.0),
         (4, 200.0, None)],
        "id long, feat double, t double",
    )
    # filter context: both kinds match field-bearing docs (ES rule)
    q = {"rank_feature": {"field": "feat", "saturation": {"pivot": 10}}}
    assert sorted(r["id"] for r in df.where(compile_query(q)).collect()) == [1, 2, 4]
    # retriever: saturation ranks monotonically in the feature
    out = run_search(df, {"size": 2, "retriever": {"rank_feature": {
        "field": "feat", "saturation": {"pivot": 10}, "id_field": "id",
    }}})["_hits"]
    assert [r["id"] for r in out.collect()] == [4, 2]
    # saturation without an explicit pivot raises (no index stats here)
    with pytest.raises(ValueError, match="pivot"):
        run_search(df, {"retriever": {"rank_feature": {
            "field": "feat", "id_field": "id"}}})
    # distance_feature: closest to the origin ranks first
    # distances from 240: id2=10, id1=140, id3=160; null-t id4 drops
    out = run_search(df, {"size": 3, "retriever": {"distance_feature": {
        "field": "t", "origin": 240.0, "pivot": 100.0, "id_field": "id",
    }}})["_hits"]
    assert [r["id"] for r in out.collect()] == [2, 1, 3]
    # geo form: haversine distance from a {lat, lon} origin
    gdf = spark.createDataFrame(
        [(1, 40.0, -74.0), (2, 41.0, -74.0), (3, 52.0, 13.0)],
        "id long, lat double, lon double",
    )
    out = run_search(gdf, {"size": 3, "retriever": {"distance_feature": {
        "origin": {"lat": 40.1, "lon": -74.0}, "pivot": "10km",
        "id_field": "id",
    }}})["_hits"]
    assert [r["id"] for r in out.collect()] == [1, 2, 3]


# ---------------------------------------------------------------------------
# r13 three-way dialect parity: for each clause kind, compile_query
# (Catalyst), compile_query_sql dialect='spark' (via F.expr), and
# dialect='duckdb' must agree on the matched id set. Catches
# DuckDB-only spellings leaking into the spark dialect (terms_set
# list_intersect, regexp regexp_matches, geo_polygon duck pmod — all
# fixed this round) and future drift in either twin.
# ---------------------------------------------------------------------------

PARITY_ROWS = [
    # (id, cat, v, tags,         txt,             lat,   lon)
    (1, "apple", 10.0, ["a", "b", "c"], "quick brown fox", 40.6, -74.1),
    (2, "apricot", 20.0, ["a"], "lazy dog sleeps", 40.9, -73.8),
    (3, "banana", 30.0, ["b", "c", "d"], "brown dog", 41.5, -72.0),
    (4, None, None, None, None, None, None),
]

PARITY_CLAUSES = [
    {"term": {"cat": "apple"}},
    {"terms": {"cat": ["apple", "banana"]}},
    {"range": {"v": {"gte": 15, "lt": 30}}},
    {"exists": {"field": "v"}},
    {"prefix": {"cat": {"value": "ap"}}},
    {"wildcard": {"cat": {"value": "*an?na"}}},
    {"regexp": {"cat": {"value": "ap.*"}}},
    {"terms_set": {"tags": {"terms": ["a", "b", "x"],
                            "minimum_should_match": 2}}},
    {"match": {"txt": "dog fox"}},
    {"match": {"txt": {"query": "brown dog", "operator": "and"}}},
    {"match_phrase": {"txt": "brown fox"}},
    {"geo_polygon": {"points": [{"lat": 40.0, "lon": -75.0},
                                {"lat": 41.0, "lon": -75.0},
                                {"lat": 41.0, "lon": -73.0},
                                {"lat": 40.0, "lon": -73.0}]}},
    {"bool": {"must": [{"exists": {"field": "v"}}],
              "should": [{"term": {"cat": "apple"}},
                         {"range": {"v": {"gte": 25}}},
                         {"prefix": {"cat": {"value": "ban"}}}],
              "minimum_should_match": 2,
              "must_not": [{"term": {"cat": "apricot"}}]}},
    # the full compound / leaf inventory (r13 widening): every kind the
    # compilers support that the fixture can express
    {"ids": {"values": [1, 3], "field": "id"}},
    {"fuzzy": {"cat": {"value": "aple", "fuzziness": 1}}},
    {"match_bool_prefix": {"txt": "brown fo"}},
    {"match_phrase_prefix": {"txt": "quick bro"}},
    {"dis_max": {"queries": [{"term": {"cat": "apple"}},
                             {"range": {"v": {"gte": 25}}}]}},
    {"constant_score": {"filter": {"term": {"cat": "banana"}}}},
    {"boosting": {"positive": {"exists": {"field": "cat"}},
                  "negative": {"term": {"cat": "apple"}},
                  "negative_boost": 0.5}},
    {"pinned": {"ids": [3], "field": "id",
                "organic": {"term": {"cat": "apple"}}}},
    {"combined_fields": {"query": "brown dog", "fields": ["txt", "cat"]}},
    {"geo_bounding_box": {"top_left": {"lat": 41.2, "lon": -75.0},
                          "bottom_right": {"lat": 40.0, "lon": -73.0}}},
    {"geo_distance": {"distance": "50km",
                      "origin": {"lat": 40.7, "lon": -74.0}}},
    {"query_string": {"query": "cat:ap* OR v:>25"}},
    {"simple_query_string": {"query": "brown dog", "fields": ["txt"],
                             "default_operator": "and"}},
    {"script_score": {"query": {"exists": {"field": "v"}},
                      "script": {"source": "v * 2"}, "min_score": 25}},
    {"rank_feature": {"field": "v"}},
    {"intervals": {"txt": {"match": {"query": "quick fox",
                                     "max_gaps": 1}}}},
    {"intervals": {"txt": {"match": {"query": "brown dog",
                                     "ordered": True}}}},
    {"intervals": {"txt": {"match": {"query": "dog"}}}},
]


def test_three_way_dialect_parity(spark):
    import duckdb

    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        compile_query,
        compile_query_sql,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        PARITY_ROWS,
        "id long, cat string, v double, tags array<string>,"
        " txt string, lat double, lon double",
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE p AS SELECT * FROM (VALUES "
        + ",".join(
            "({}, {}, {}, {}, {}, {}, {})".format(
                i,
                "NULL" if c is None else f"'{c}'",
                "CAST(NULL AS DOUBLE)" if v is None else v,
                "CAST(NULL AS VARCHAR[])" if tg is None
                else "[" + ",".join(f"'{t}'" for t in tg) + "]",
                "NULL" if tx is None else f"'{tx}'",
                "CAST(NULL AS DOUBLE)" if la is None else la,
                "CAST(NULL AS DOUBLE)" if lo is None else lo,
            )
            for i, c, v, tg, tx, la, lo in PARITY_ROWS
        )
        + ") t(id, cat, v, tags, txt, lat, lon)"
    )
    for q in PARITY_CLAUSES:
        cat_ids = sorted(
            r["id"] for r in df.where(compile_query(q)).collect()
        )
        spark_sql_ids = sorted(
            r["id"]
            for r in df.where(
                F.expr(compile_query_sql(q, dialect="spark"))
            ).collect()
        )
        duck_ids = sorted(
            r[0]
            for r in con.sql(
                "SELECT id FROM p WHERE "
                + compile_query_sql(q, dialect="duckdb")
            ).fetchall()
        )
        assert cat_ids == spark_sql_ids == duck_ids, (
            q, cat_ids, spark_sql_ids, duck_ids
        )
        assert cat_ids, f"clause matched nothing — weak fixture: {q}"


# ---------------------------------------------------------------------------
# r13: now_ms opt-in on the bare compiler route (VERDICT r12 item 7) — the
# run_search serving shim, now available on compile_query /
# compile_query_sql / apply_query. Explicit `now` wins; without the
# opt-in, now-anchored bounds still raise (reproducibility contract).
# ---------------------------------------------------------------------------

NOW = 1_700_000_000_000  # 2023-11-14T22:13:20Z
NOW_Q = {"range": {"t": {"gte": "now-1h", "now": 123}}}  # explicit now


def test_compile_query_now_ms_optin(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        apply_query,
        compile_query,
        compile_query_sql,
    )

    df = spark.createDataFrame(
        [(NOW - 30 * 60 * 1000,), (NOW - 2 * 3600 * 1000,)], "t long"
    )
    q = {"range": {"t": {"gte": "now-1h"}}}
    # bare route without the opt-in: the contract raise stands
    with pytest.raises(ValueError, match="now"):
        compile_query(q)
    got = df.where(compile_query(q, now_ms=NOW)).collect()
    assert [r["t"] for r in got] == [NOW - 30 * 60 * 1000]
    assert apply_query(df, q, now_ms=NOW).count() == 1
    # the SQL twin stamps identically (both dialects)
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE d AS SELECT unnest([{NOW - 1800000}, "
                f"{NOW - 7200000}]) AS t")
    sql = compile_query_sql(q, now_ms=NOW)
    assert con.sql(f"SELECT count(*) FROM d WHERE {sql}").fetchone()[0] == 1
    # an explicit `now` in the clause always wins over the shim
    from elasticsearch_drift_plugin_spark.functions.es_dsl import inject_now

    assert inject_now(NOW_Q, NOW)["range"]["t"]["now"] == 123


# ---------------------------------------------------------------------------
# r13: fixed interval + time_zone for DURATION rows (VERDICT r12 item 4).
# Both endpoints localize; the ratio weights by LOCAL elapsed ms; keys are
# UTC instants of local edges; spring-forward gap buckets MERGE with their
# post-gap neighbor; a fall-back-inverted local interval clamps to an
# instant at its start. Every case cross-checked bit-for-bit vs the DuckDB
# oracle (including its Spark-parity earlier-offset disambiguation).
# ---------------------------------------------------------------------------

def _iso_ms(s):
    import datetime as _dt

    return int(_dt.datetime.fromisoformat(s).timestamp() * 1000)


def _psum_vs_duck(spark, rows, **kw):
    import duckdb

    from elasticsearch_drift_plugin_spark.operators.proportional_sum import (
        proportional_sum,
    )
    from elasticsearch_drift_plugin_spark.oracle import psum_oracle_sql

    df = spark.createDataFrame(
        rows, "start_ms long, end_ms long, value double, sampling double"
    )
    got = [
        (r["key"], r["doc_count"], r["value"])
        for r in proportional_sum(
            df, "start_ms", "end_ms", "value", "sampling",
            quantize=4, **kw,
        ).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE f AS SELECT * FROM (VALUES "
        + ",".join(
            f"({s},{e},{v},"
            + ("CAST(NULL AS DOUBLE)" if sm is None else str(sm)) + ")"
            for s, e, v, sm in rows
        )
        + ") t(start_ms, end_ms, value, sampling)"
    )
    want = con.sql(psum_oracle_sql("SELECT * FROM f", **kw)).fetchall()
    assert got == [(r[0], r[1], r[2]) for r in want], (got, want)
    return got


def test_fixed_tz_duration_spring_forward_merges_gap_bucket(spark):
    # 1h UTC row across the 2024-03-10 NY spring forward spans 2 LOCAL
    # hours (01:30→03:30 wall); the gap bucket (local 02:00) merges with
    # local 03:00 at the shared UTC key 07:00Z — one bucket, both touches
    got = _psum_vs_duck(
        spark,
        [(_iso_ms("2024-03-10T06:30:00+00:00"),
          _iso_ms("2024-03-10T07:30:00+00:00"), 4.0, None)],
        interval=60 * 60 * 1000, time_zone="America/New_York",
    )
    assert got == [
        (_iso_ms("2024-03-10T06:00:00+00:00"), 1, 1.0),
        (_iso_ms("2024-03-10T07:00:00+00:00"), 2, 3.0),
    ]


def test_fixed_tz_duration_fall_back_inversion_clamps(spark):
    # 2024-11-03 NY fall back (06:00Z): a row 05:30Z→06:30Z maps to the
    # SAME wall time (01:30) on both sides — the local interval inverts,
    # clamps to an instant, and lands whole in local 01:00, whose UTC key
    # resolves to the EARLIER instant 05:00Z in both engines
    got = _psum_vs_duck(
        spark,
        [(_iso_ms("2024-11-03T05:30:00+00:00"),
          _iso_ms("2024-11-03T06:30:00+00:00"), 6.0, None)],
        interval=60 * 60 * 1000, time_zone="America/New_York",
    )
    assert got == [(_iso_ms("2024-11-03T05:00:00+00:00"), 1, 6.0)]


def test_fixed_tz_duration_post_fall_back_ambiguous_key(spark):
    # a post-transition row (06:30Z→07:30Z = local 01:30→02:30 EST)
    # splits across local 01:00 (AMBIGUOUS wall → earlier instant 05:00Z)
    # and local 02:00 (EST → 07:00Z); the 06:00Z hour belongs to the
    # 2-UTC-hour-wide local-01:00 bucket
    got = _psum_vs_duck(
        spark,
        [(_iso_ms("2024-11-03T06:30:00+00:00"),
          _iso_ms("2024-11-03T07:30:00+00:00"), 2.0, None)],
        interval=60 * 60 * 1000, time_zone="America/New_York",
    )
    assert got == [
        (_iso_ms("2024-11-03T05:00:00+00:00"), 1, 1.0),
        (_iso_ms("2024-11-03T07:00:00+00:00"), 1, 1.0),
    ]


def test_fixed_tz_duration_fill_spans_transition(spark):
    # min_doc_count=0 across the fall-back day: the spine steps in LOCAL
    # hours, so exactly ONE local-01:00 bucket exists (2 UTC hours wide)
    # and the filled grid has no 06:00Z row
    got = _psum_vs_duck(
        spark,
        [(_iso_ms("2024-11-03T04:30:00+00:00"),
          _iso_ms("2024-11-03T05:30:00+00:00"), 2.0, None),
         (_iso_ms("2024-11-03T08:10:00+00:00"),
          _iso_ms("2024-11-03T08:10:00+00:00"), 7.0, None)],
        interval=60 * 60 * 1000, time_zone="America/New_York",
        min_doc_count=0,
    )
    assert got == [
        (_iso_ms("2024-11-03T04:00:00+00:00"), 1, 1.0),   # local 00:00
        (_iso_ms("2024-11-03T05:00:00+00:00"), 1, 1.0),   # local 01:00 (wide)
        (_iso_ms("2024-11-03T07:00:00+00:00"), 0, 0.0),   # local 02:00
        (_iso_ms("2024-11-03T08:00:00+00:00"), 1, 7.0),   # local 03:00
    ]


# ---------------------------------------------------------------------------
# ADVICE r12 item 3: bucketing `missing` is scoped PER-AGG — a metric
# sub-agg over the SAME field without its own `missing` must still skip
# null docs (in ES the substitution belongs to the requesting agg only).
# ---------------------------------------------------------------------------

def test_date_histogram_missing_scoped_to_grouping(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    df = spark.createDataFrame(
        [(0,), (None,), (86_400_000,)], "t_ms long"
    )
    out = run_search(df, {"size": 0, "aggs": {
        "h": {"date_histogram": {"field": "t_ms", "fixed_interval": "1d",
                                 "missing": 0},
              "aggs": {"m": {"avg": {"field": "t_ms"}}}},
    }})["h"]
    got = {r["key"]: (r["doc_count"], r["m"]) for r in out.collect()}
    # bucket 0 holds 2 docs (real 0 + the null doc) but the avg over the
    # SAME field sees only the real value — null skipped, not 0-substituted
    assert got == {0: (2, 0.0), 86_400_000: (1, 86_400_000.0)}


def test_terms_missing_scoped_to_grouping(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    df = spark.createDataFrame(
        [("a", "a", 1.0), (None, "x", 2.0), ("b", "b", 4.0)],
        "k string, k2 string, v double",
    )
    out = run_search(df, {"size": 0, "aggs": {
        "t": {"terms": {"field": "k", "missing": "zz",
                        "order": {"_key": "asc"}},
              # value_count over the SAME string field: the null-k doc
              # buckets at 'zz' but contributes 0 to its own count
              "aggs": {"c": {"value_count": {"field": "k"}},
                       # ...unless the metric sets its OWN missing
                       "cm": {"value_count": {"field": "k",
                                              "missing": "q"}}}},
    }})["t"]
    got = {r["k"]: (r["doc_count"], r["c"], r["cm"]) for r in out.collect()}
    assert got == {"a": (1, 1, 1), "b": (1, 1, 1), "zz": (1, 0, 1)}


def test_histogram_missing_scoped_to_grouping(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    df = spark.createDataFrame([(5.0,), (None,), (15.0,)], "v double")
    out = run_search(df, {"size": 0, "aggs": {
        "h": {"histogram": {"field": "v", "interval": 10, "missing": 25.0},
              "aggs": {"s": {"sum": {"field": "v"}}}},
    }})["h"]
    got = {r["key"]: (r["doc_count"], r["s"]) for r in out.collect()}
    # the null doc buckets at 20.0 but sums nothing there
    assert got == {0.0: (1, 5.0), 10.0: (1, 15.0), 20.0: (1, None)}


def test_children_parent_aggs(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    parents = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "pk int, grp string"
    )
    kids = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0), (3, 100.0), (None, 7.0)],
        "fk int, v double",
    )
    rel = {"kid": (kids, "pk", "fk"), "par": (parents, "fk", "pk")}
    # children: context switches to child docs of the query's parents
    out = run_search(parents, {
        "size": 0, "query": {"term": {"grp": "a"}},
        "aggs": {"c": {"children": {"type": "kid"},
                 "aggs": {"s": {"sum": {"field": "v"}}}}},
    }, relations=rel)["c"]
    assert out.collect()[0]["s"] == 35.0
    # bare children agg: doc_count = matching child rows
    n = run_search(parents, {
        "size": 0, "query": {"term": {"grp": "a"}},
        "aggs": {"c": {"children": {"type": "kid"}}},
    }, relations=rel)["c"]
    assert n.collect()[0]["doc_count"] == 3
    # parent: children context back to parents; doc_count = parents
    # with >=1 matching child (semi-join, never duplicated)
    p = run_search(kids, {
        "size": 0, "query": {"range": {"v": {"gte": 10}}},
        "aggs": {"p": {"parent": {"parent_type": "par"},
                 "aggs": {"t": {"terms": {"field": "grp",
                                          "order": {"_key": "asc"}}}}}},
    }, relations=rel)["p"]
    got = {r["grp"]: r["doc_count"] for r in p.collect()}
    assert got == {"a": 1, "b": 1}
    # missing relation name raises loudly
    import pytest as _pt
    with _pt.raises(ValueError, match="relations"):
        run_search(parents, {"size": 0, "aggs": {
            "c": {"children": {"type": "nope"}}}}, relations=rel)


def test_knn_query_kind(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        apply_query,
        compile_query,
    )
    import pytest as _pt

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(10)],
        "vec_id int, embedding array<float>, label int",
    )
    qv = [1.0, 0.0]
    # top-3 by cosine against (1,0): largest vec_id values win
    # (cos = i/sqrt(i^2+1), increasing in i); frontier = {9, 8, 7}
    body = {"knn": {"field": "embedding", "query_vector": qv, "k": 3,
                    "id_field": "vec_id"}}
    got = sorted(r.vec_id for r in apply_query(emb, body).collect())
    assert got == [7, 8, 9]
    # composes under bool: sibling clause intersects the frontier
    body2 = {"bool": {"must": [body, {"term": {"label": 0}}]}}
    got2 = sorted(r.vec_id for r in apply_query(emb, body2).collect())
    assert got2 == [8]
    # num_candidates is the k default (the ES knn-query contract)
    body3 = {"knn": {"field": "embedding", "query_vector": qv,
                     "num_candidates": 2, "id_field": "vec_id"}}
    assert sorted(r.vec_id for r in apply_query(emb, body3).collect()) == [8, 9]
    # the row-local compiler raises loudly naming the frame route
    with _pt.raises(ValueError, match="TOP-K"):
        compile_query(body)


def test_time_series_agg(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search
    import pytest as _pt

    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 1, 7.0), ("a", 2, 1.0), ("b", 1, 2.0),
         (None, 1, 9.0), ("c", None, 4.0)],
        "host string, cpu int, v double",
    )
    out = run_search(df, {"size": 0, "aggs": {"ts": {
        "time_series": {"dimensions": ["host", "cpu"]},
        "aggs": {"mx": {"max": {"field": "v"}}},
    }}})["ts"]
    got = [(r.host, r.cpu, r.doc_count, r.mx) for r in out.collect()]
    # NULL-dimension docs have no tsid and drop; buckets tsid-ascending
    assert got == [("a", 1, 2, 7.0), ("a", 2, 1, 1.0), ("b", 1, 1, 2.0)]
    with _pt.raises(ValueError, match="dimensions"):
        run_search(df, {"size": 0, "aggs": {"ts": {"time_series": {}}}})


def test_geo_shape_query(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        compile_query,
        compile_query_sql,
    )
    import duckdb
    import pytest as _pt

    pts = [(1, 0.0, 0.0), (2, 5.0, 5.0), (3, 15.0, 5.0), (4, None, 5.0),
           (5, -5.0, -170.0), (6, 48.8566, 2.3522)]
    df = spark.createDataFrame(pts, "id int, lat double, lon double")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ",".join(
            f"({i}, {la if la is not None else 'NULL'}, {lo})"
            for i, la, lo in pts
        )
        + ") t(id, lat, lon)"
    )

    def ids(body):
        s = sorted(r.id for r in df.where(compile_query(body)).collect())
        d = sorted(r[0] for r in con.execute(
            "SELECT id FROM pts WHERE "
            + compile_query_sql(body, "duckdb")).fetchall())
        assert s == d, f"{body}: spark={s} duckdb={d}"
        return s

    env = {"geo_shape": {"loc": {"shape": {
        "type": "envelope", "coordinates": [[-1.0, 6.0], [6.0, -1.0]]},
        "relation": "intersects"}}}
    assert ids(env) == [1, 2]
    # within == intersects for point docs
    env2 = {"geo_shape": {"loc": {"shape": {
        "type": "envelope", "coordinates": [[-1.0, 6.0], [6.0, -1.0]]},
        "relation": "within"}}}
    assert ids(env2) == [1, 2]
    # disjoint: NULL-coord docs never match (ES missing-field rule)
    env3 = {"geo_shape": {"loc": {"shape": {
        "type": "envelope", "coordinates": [[-1.0, 6.0], [6.0, -1.0]]},
        "relation": "disjoint"}}}
    assert ids(env3) == [3, 5, 6]
    # polygon ring (triangle around the origin)
    poly = {"geo_shape": {"loc": {"shape": {
        "type": "polygon",
        "coordinates": [[[-2.0, -1.0], [2.0, -1.0], [0.0, 2.0],
                         [-2.0, -1.0]]]}}}}
    assert ids(poly) == [1]
    # circle -> geo_distance
    circ = {"geo_shape": {"loc": {"shape": {
        "type": "circle", "coordinates": [2.3522, 48.8566],
        "radius": "100km"}}}}
    assert ids(circ) == [6]
    # point shape: exact micro-degree hit; contains is point-only
    pt = {"geo_shape": {"loc": {"shape": {
        "type": "point", "coordinates": [5.0, 5.0]},
        "relation": "contains"}}}
    assert ids(pt) == [2]
    with _pt.raises(ValueError, match="contains"):
        compile_query({"geo_shape": {"loc": {
            "shape": {"type": "envelope",
                      "coordinates": [[0.0, 1.0], [1.0, 0.0]]},
            "relation": "contains"}}})
    with _pt.raises(ValueError, match="holes"):
        compile_query({"geo_shape": {"loc": {"shape": {
            "type": "polygon",
            "coordinates": [[[0.0, 0.0], [4.0, 0.0], [0.0, 4.0],
                             [0.0, 0.0]],
                            [[1.0, 1.0], [2.0, 1.0], [1.0, 2.0],
                             [1.0, 1.0]]]}}}})


def test_linear_retriever(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search
    import pytest as _pt

    # embedding = [i, 1]; cosine vs (1,0) increases in i — knn window
    # {4,3,2} minmax-normalized; script = v/10 l2-normalized over all 5
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], float(i % 3)) for i in range(5)],
        "vec_id int, embedding array<float>, v double",
    )
    body = {"size": 3, "retriever": {"linear": {
        "id_field": "vec_id", "rank_window_size": 10,
        "retrievers": [
            {"retriever": {"knn": {"field": "embedding",
                                   "query_vector": [1.0, 0.0], "k": 3}},
             "weight": 2.0, "normalizer": "minmax"},
            {"retriever": {"script_score": {"script": {
                "source": "v / 10.0"}}},
             "weight": 1.0, "normalizer": "l2_norm"},
        ],
    }}}
    out = run_search(emb, body)["_hits"].collect()
    got = [(r.vec_id, r.score_q) for r in out]
    # replay by hand: knn quanta sq_i = floor(1e6*i/sqrt(i^2+1)) for
    # i in {4,3,2} (top-3), minmax over that window; script quanta
    # floor(1e6*(i%3)/10) over all 5, l2 over the window of 5
    import math
    sq = {i: math.floor(1e6 * i / math.sqrt(i * i + 1)) for i in (4, 3, 2)}
    mn, mx = min(sq.values()), max(sq.values())
    c0 = {i: 2.0 * (sq[i] - mn) / (mx - mn) for i in sq}
    s2q = {i: math.floor(1e6 * (i % 3) / 10.0) for i in range(5)}
    ss = sum(q * q for q in s2q.values())
    c1 = {i: (q / math.sqrt(ss) if ss else 0.0) for i, q in s2q.items()}
    tot = {i: c0.get(i, 0.0) + c1.get(i, 0.0) for i in range(5)}
    want = sorted(
        ((i, math.floor(tot[i] * 1e6)) for i in range(5)),
        key=lambda t: (-t[1], t[0]),
    )[:3]
    assert got == want
    # standard child raises naming script_score
    with _pt.raises(ValueError, match="script_score"):
        run_search(emb, {"size": 1, "retriever": {"linear": {
            "id_field": "vec_id",
            "retrievers": [
                {"retriever": {"standard": {"sort": ["vec_id"]}}},
                {"retriever": {"script_score": {"script": {
                    "source": "v"}}}},
            ]}}})


def test_terms_lookup(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import apply_query
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search
    import pytest as _pt

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "id int, tag string"
    )
    watch = spark.createDataFrame(
        [(10, ["a", "c"]), (11, ["b"])], "wid int, tags array<string>"
    )
    q = {"terms": {"tag": {"index": "watch", "id": 10, "path": "tags",
                           "id_field": "wid"}}}
    got = sorted(r.id for r in apply_query(
        docs, q, frames={"watch": watch}).collect())
    assert got == [1, 3]
    # composes under bool; run_search routes it
    out = run_search(docs, {"size": 0, "query": {"bool": {
        "must": [q], "must_not": [{"term": {"tag": "c"}}]}},
        "aggs": {"n": {"value_count": {"field": "id"}}}},
        frames={"watch": watch})["n"]
    assert out.collect()[0]["n"] == 1
    # a missing lookup id raises (never silently matches nothing)
    with _pt.raises(ValueError, match="exactly one"):
        apply_query(docs, {"terms": {"tag": {
            "index": "watch", "id": 99, "path": "tags",
            "id_field": "wid"}}}, frames={"watch": watch})
    with _pt.raises(ValueError, match="not registered"):
        apply_query(docs, q, frames={"other": watch})


def test_rank_eval_metrics(spark):
    from elasticsearch_drift_plugin_spark.operators.search import rank_eval
    import pytest as _pt

    hits = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3),
         ("q2", 4, 1), ("q2", 5, 2)],
        "query_id string, doc_id int, rank long",
    )
    ratings = spark.createDataFrame(
        [("q1", 2, 3), ("q1", 3, 1), ("q1", 9, 2), ("q2", 9, 1)],
        "query_id string, doc_id int, rating long",
    )

    def got(metric, k=10, thr=1):
        return {
            r.query_id: r.score_q
            for r in rank_eval(hits, ratings, metric, k, thr).collect()
        }

    # precision: q1 = 2 relevant of 3 retrieved; q2 = 0 of 2
    assert got("precision") == {"q1": 666666, "q2": 0}
    # recall: q1 = 2 of 3 relevant (doc 9 never retrieved); q2 = 0 of 1
    assert got("recall") == {"q1": 666666, "q2": 0}
    # mrr: q1 first relevant at rank 2 -> 0.5; q2 none -> 0
    assert got("mrr") == {"q1": 500000, "q2": 0}
    # ndcg: q1 dcg = (2^3-1)/log2(3) + (2^1-1)/log2(4) over ranks 2,3;
    # ideal = ratings 3,2,1 at ranks 1,2,3 (doc 9's rating 2 counts)
    import math
    t = lambda rel, rk: math.floor(1e9 * (2 ** rel - 1) / math.log2(rk + 1))
    d = t(3, 2) + t(1, 3)
    i = t(3, 1) + t(2, 2) + t(1, 3)
    assert got("ndcg")["q1"] == math.floor(1e6 * d / i)
    assert got("ndcg")["q2"] == 0
    # rank window: k=1 sees only rank-1 hits
    assert got("precision", k=1) == {"q1": 0, "q2": 0}
    with _pt.raises(ValueError, match="metric"):
        rank_eval(hits, ratings, "f1")


def test_rescore_modes(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search
    import pytest as _pt

    # cosine vs (1,0) rank: 4,3,2,1,0 — window 3 rescored by v
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], float(10 - i)) for i in range(5)],
        "vec_id int, embedding array<float>, v double",
    )

    def page(mode, window=3, qw=1.0, rqw=1.0, fq=None):
        rq = {"script_score": {"script": {"source": "v"}}}
        if fq:
            rq["script_score"]["query"] = fq
        body = {"size": 5,
                "knn": {"field": "embedding", "query_vector": [1.0, 0.0],
                        "k": 5},
                "_source": {"includes": ["vec_id", "v"]},
                "rescore": {"window_size": window, "query": {
                    "rescore_query": rq, "query_weight": qw,
                    "rescore_query_weight": rqw, "score_mode": mode}}}
        return [r.vec_id for r in run_search(emb, body)["_hits"].collect()]

    import math
    sq = {i: math.floor(1e6 * i / math.sqrt(i * i + 1)) for i in range(5)}
    vq = {i: math.floor(1e6 * (10 - i)) for i in range(5)}
    # total, window 3 (ids 4,3,2): new = sq + vq; outside keep sq
    tot = {i: (sq[i] + vq[i] if i >= 2 else sq[i]) for i in range(5)}
    assert page("total") == sorted(range(5), key=lambda i: (-tot[i], i))
    # min: window docs score min(sq, vq)
    mn = {i: (min(sq[i], vq[i]) if i >= 2 else sq[i]) for i in range(5)}
    assert page("min") == sorted(range(5), key=lambda i: (-mn[i], i))
    # inner filter: only v >= 8 (ids 0..2) rescores; window is 4,3,2 ->
    # only id 2 matches, 4 and 3 keep qw*orig with qw=0.1
    f = {"range": {"v": {"gte": 8}}}
    got = page("total", window=3, qw=0.1, rqw=1.0, fq=f)
    sc = {i: sq[i] for i in range(5)}
    sc[4] = math.floor(0.1 * sq[4]); sc[3] = math.floor(0.1 * sq[3])
    sc[2] = math.floor(0.1 * sq[2] + vq[2])
    assert got == sorted(range(5), key=lambda i: (-sc[i], i))
    with _pt.raises(ValueError, match="script_score"):
        page_body = {"size": 2,
                     "knn": {"field": "embedding",
                             "query_vector": [1.0, 0.0], "k": 2},
                     "rescore": {"query": {
                         "rescore_query": {"match": {"v": "x"}}}}}
        run_search(emb, page_body)


def test_hard_negatives(spark):
    from elasticsearch_drift_plugin_spark.operators.training import (
        hard_negatives,
    )
    import pytest as _pt

    # anchor 0 (label 0) at [1,0]; negatives must all have label != 0,
    # ranked by cosine similarity to the anchor
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.1], 1), (2, [1.0, 0.5], 1),
         (3, [0.0, 1.0], 1), (4, [1.0, 0.01], 0)],
        "vec_id int, embedding array<float>, label int",
    )
    out = hard_negatives(emb, "vec_id = 0", k=2).collect()
    assert [(r.anchor_id, r.neg_id, r.rank) for r in out] == [
        (0, 1, 1), (0, 2, 2)]
    # same-label near-duplicate (id 4, cosine ~1) must NOT appear
    assert all(r.neg_id != 4 for r in out)
    # the all-pairs guard raises naming the pruned route
    with _pt.raises(ValueError, match="max_pairs"):
        hard_negatives(emb, "TRUE", k=1, max_pairs=10)


def test_percolate_document(spark):
    from elasticsearch_drift_plugin_spark.operators.search import (
        percolate_document,
    )
    import pytest as _pt

    rules = (
        (1, {"term": {"kind": "a"}}),
        (2, {"range": {"v": {"gte": 10}}}),
        (3, {"bool": {"must_not": [{"term": {"kind": "a"}}]}}),
    )
    got = [r.rule_id for r in percolate_document(
        spark, {"kind": "a", "v": 5.0}, rules).collect()]
    assert got == [1]
    got2 = [r.rule_id for r in percolate_document(
        spark, {"kind": "b", "v": 50.0}, rules).collect()]
    assert got2 == [2, 3]
    with _pt.raises(ValueError, match="max_rules"):
        percolate_document(spark, {"kind": "a"}, rules, max_rules=2)


def test_explain_query(spark):
    from elasticsearch_drift_plugin_spark.operators.search import (
        explain_query,
    )

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", None)], "id int, kind string, v double"
    )
    body = {"bool": {"must": [{"range": {"v": {"gte": 1}}}],
                     "must_not": [{"term": {"kind": "b"}}]}}
    out = explain_query(df, body, id_col="id").collect()
    got = {(r.id, r.section): (r.matched, r.overall) for r in out}
    # doc 1: range true, must_not's inner term false -> overall true
    assert got[(1, "must")] == (True, True)
    assert got[(1, "must_not")] == (False, True)
    # doc 2: range over NULL renders false; term kind=b matched -> out
    assert got[(2, "must")] == (False, False)
    assert got[(2, "must_not")] == (True, False)
    # non-bool query explains as one 'query' row
    one = explain_query(df, {"term": {"kind": "a"}}, id_col="id").collect()
    assert {(r.id, r.section, r.matched) for r in one} == {
        (1, "query", True), (2, "query", False)}


def test_composite_geotile_paging(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    # 4 points in distinct tiles at zoom 1: (x,y) = (0,0),(1,0),(0,1),(1,1)
    pts = spark.createDataFrame(
        [(1, 40.0, -90.0), (2, 40.0, 90.0), (3, -40.0, -90.0),
         (4, -40.0, 90.0)],
        "id int, lat double, lon double",
    )

    def page(after=None):
        spec = {"size": 2, "sources": [
            {"tile": {"geotile_grid": {"precision": 1}}}]}
        if after:
            spec["after"] = after
        return [
            (r["tile"], r["doc_count"])
            for r in run_search(pts, {"size": 0, "aggs": {
                "c": {"composite": spec}}})["c"].collect()
        ]

    p1 = page()
    # ES keyset order = the tile long: x-major then y
    assert p1 == [("1/0/0", 1), ("1/0/1", 1)]
    p2 = page({"tile": p1[-1][0]})
    assert p2 == [("1/1/0", 1), ("1/1/1", 1)]
    assert page({"tile": p2[-1][0]}) == []


def test_terms_partition_include(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search
    import pytest as _pt

    df = spark.createDataFrame(
        [(f"u{i}",) for i in range(50)], "k string"
    )

    def part(p, n):
        return {
            r.k
            for r in run_search(df, {"size": 0, "aggs": {"t": {"terms": {
                "field": "k", "size": 100,
                "include": {"partition": p, "num_partitions": n}}}}})[
                "t"].collect()
        }

    slices = [part(p, 4) for p in range(4)]
    # disjoint and covering — the paging contract
    assert sum(len(sl) for sl in slices) == 50
    assert set.union(*slices) == {f"u{i}" for i in range(50)}
    # deterministic across calls
    assert part(1, 4) == slices[1]
    with _pt.raises(ValueError, match="partition"):
        part(4, 4)


def test_search_template_render():
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        render_search_template,
    )
    import pytest as _pt

    t = ('{"query": {"bool": {"must": ['
         '{"term": {"k": "{{kw}}"}},'
         '{"range": {"v": {"gte": {{lo}}}}},'
         '{"terms": {"id": {{ids}}}}]}}}')
    b = render_search_template(t, {"kw": 'a"b', "lo": 1.5, "ids": [1, 2]})
    must = b["query"]["bool"]["must"]
    # string params JSON-escape INSIDE the template's quotes
    assert must[0] == {"term": {"k": 'a"b'}}
    assert must[1] == {"range": {"v": {"gte": 1.5}}}
    assert must[2] == {"terms": {"id": [1, 2]}}
    # r14: missing params render EMPTY (mustache/ES spec) — in a bare
    # JSON position that still fails loudly at the parse step
    with _pt.raises(ValueError, match="not valid JSON"):
        render_search_template(t, {"kw": "x", "lo": 1})
    # partials stay out of scope (sections graduated in r14)
    with _pt.raises(ValueError, match="partials"):
        render_search_template('{"a": "{{>p}}"}', {})


def test_containment_vs_jaccard(spark):
    from ngram_reference import ngram_pairs_ref

    from elasticsearch_drift_plugin_spark.operators.dedup import (
        ngram_jaccard_pairs_gemm,
    )

    # doc 2 is a strict substring of doc 1: containment(2->1) = 1.0
    # while Jaccard is low (the union is dominated by doc 1)
    long = "the quick brown fox jumps over the lazy dog again and again"
    short = "quick brown fox"
    rows = [(1, long, "s"), (2, short, "s"), (3, "unrelated words", "s")]
    docs = spark.createDataFrame(rows, "doc_id int, text string, source string")
    out = ngram_jaccard_pairs_gemm(docs, threshold=0.9, score="containment_dir").collect()
    assert [tuple(r) for r in out] == ngram_pairs_ref(
        [(i, src, t) for i, t, src in rows], 0.9, "containment_dir"
    )
    got = {(r.contained, r.container): r.cont_q for r in out}
    assert (2, 1) in got and got[(2, 1)] == 1_000_000
    assert (1, 2) not in got  # direction matters
    assert not any(3 in pair for pair in got)


def test_knn_query_similarity_threshold(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import apply_query

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id int, embedding array<float>",
    )
    # cos(i) = i/sqrt(i^2+1): 0, .707, .894, .949, .970 — threshold .9
    # inside k=4 keeps only ids 3 and 4
    body = {"knn": {"field": "embedding", "query_vector": [1.0, 0.0],
                    "k": 4, "id_field": "vec_id", "similarity": 0.9}}
    got = sorted(r.vec_id for r in apply_query(emb, body).collect())
    assert got == [3, 4]


def test_rescorer_retriever(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search
    import pytest as _pt

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], float(10 - i)) for i in range(5)],
        "vec_id int, embedding array<float>, v double")
    body = {"size": 3, "retriever": {"rescorer": {
        "id_field": "vec_id", "rank_window_size": 3,
        "retriever": {"knn": {"field": "embedding",
                              "query_vector": [1.0, 0.0], "k": 5}},
        "rescore": {"query": {
            "rescore_query": {"script_score": {"script": {"source": "v"}}},
            "query_weight": 0.0, "rescore_query_weight": 1.0,
            "score_mode": "total"}}}}}
    out = run_search(emb, body)["_hits"].collect()
    # knn window = ids 4,3,2; rescored purely by v -> 2,3,4
    assert [r.vec_id for r in out] == [2, 3, 4]
    with _pt.raises(ValueError, match="child"):
        run_search(emb, {"size": 1, "retriever": {"rescorer": {
            "id_field": "vec_id",
            "retriever": {"standard": {"sort": ["vec_id"]}},
            "rescore": {"query": {"rescore_query": {
                "script_score": {"script": {"source": "v"}}}}}}}})


def test_ingest_pipeline_processors(spark):
    from elasticsearch_drift_plugin_spark.functions.ingest import (
        run_ingest_pipeline,
    )
    import pytest as _pt

    df = spark.createDataFrame(
        [("  A-01 ", "5", '{"x": 2}'), ("b-2", "bad", '{"x": 9}')],
        "host string, n string, js string",
    )
    out = run_ingest_pipeline(df, [
        {"trim": {"field": "host"}},
        {"lowercase": {"field": "host"}},
        {"convert": {"field": "n", "type": "long",
                     "ignore_failure": True}},
        {"json": {"field": "js", "target_field": "j",
                  "schema": "x INT"}},
        {"script": {"target_field": "x2", "source": "j.x * 2"}},
        {"set": {"field": "flag", "value": "hot", "if": "j.x > 5"}},
        {"rename": {"field": "js", "target_field": "raw"}},
    ]).collect()
    rows = {r.host: r for r in out}
    assert rows["a-01"].n == 5 and rows["b-2"].n is None
    assert rows["a-01"].x2 == 4 and rows["b-2"].x2 == 18
    assert rows["b-2"].flag == "hot" and rows["a-01"].flag is None
    assert "raw" in out[0].asDict() and "js" not in out[0].asDict()
    # ANSI convert without ignore_failure raises (ES convert failure)
    with _pt.raises(Exception):
        run_ingest_pipeline(df, [
            {"convert": {"field": "n", "type": "long"}}]).collect()
    # unknown processor raises naming the subset
    with _pt.raises(ValueError, match="unsupported ingest"):
        run_ingest_pipeline(df, [{"grok": {"field": "host"}}])
    # drop removes matching docs, keeps NULL-evaluating ones
    kept = run_ingest_pipeline(df, [
        {"convert": {"field": "n", "type": "long",
                     "ignore_failure": True}},
        {"drop": {"if": "n >= 5"}},
    ]).collect()
    assert [r.host for r in kept] == ["b-2"]


def test_significant_text_filter_duplicate(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    # 3 copies of a spammy doc push 'spam' to the top unless duplicates
    # filter; the deduped run keeps one copy
    docs = spark.createDataFrame(
        [(1, "spam spam offer", "a"), (2, "spam spam offer", "a"),
         (3, "spam spam offer", "a"), (4, "real signal words", "a"),
         (5, "other background text", "b"), (6, "more background here", "b"),
         (7, "plain background words", "b"), (8, "noise background", "b")],
        "doc_id long, text string, grp string",
    )
    body = lambda dedup: {"size": 0, "aggs": {"s": {"significant_text": {
        "field": "text", "foreground": {"term": {"grp": "a"}},
        "min_doc_count": 1, "size": 20,
        **({"filter_duplicate_text": True} if dedup else {})}}}}
    raw = {r["key"]: r["fg_count"] for r in
           run_search(docs, body(False))["s"].collect()}
    ded = {r["key"]: r["fg_count"] for r in
           run_search(docs, body(True))["s"].collect()}
    assert raw.get("spam", 0) == 3 and ded.get("spam", 0) == 1
