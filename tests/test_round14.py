"""Round-14 regressions: the two red driver rows (percolate doc schema,
termvectors positions serialization) and the r13 ADVICE items — nested
span_near opacity in first-clause position, geotile NULL-coordinate
bucketing, exact geotile x extraction at high zoom, rescore over the
full k-deep window, and typed NULL else-branches in conditional ingest
processors.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from elasticsearch_drift_plugin_spark.functions.es_dsl import (
    compile_query,
    compile_query_sql,
)
from elasticsearch_drift_plugin_spark.functions.es_search import run_search
from elasticsearch_drift_plugin_spark.functions.ingest import (
    run_ingest_pipeline,
)
from elasticsearch_drift_plugin_spark.operators.search import (
    percolate_document,
    termvectors,
)


# --- percolate: typed 1-row projection (driver red row r13) -----------

def test_percolate_default_doc_with_null_prop(spark):
    # PERCOLATE_TEST_DOC carries "props": None — pandas inference died
    # on the all-None column (CANNOT_DETERMINE_TYPE); the typed
    # projection must survive and match rules 2 (purchase & >=100) and
    # 5 (must_not exists props)
    got = [r.rule_id for r in percolate_document(spark).collect()]
    assert got == [2, 5]


def test_percolate_all_value_types(spark):
    doc = {"s": "x", "i": 3, "f": 2.5, "b": True, "n": None}
    rules = (
        (1, {"term": {"s": "x"}}),
        (2, {"range": {"i": {"gte": 3}}}),
        (3, {"range": {"f": {"lt": 2.5}}}),
        (4, {"term": {"b": True}}),
        (5, {"bool": {"must_not": [{"exists": {"field": "n"}}]}}),
    )
    got = [r.rule_id for r in percolate_document(spark, doc, rules).collect()]
    assert got == [1, 2, 4, 5]


# --- termvectors: positions serialized at the result edge --------------

def test_termvectors_positions_are_strings(spark):
    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "b c"), (9, "a z")],
        "doc_id long, text string",
    )
    out = termvectors(docs, doc_pred="doc_id < 5")
    assert dict(out.dtypes)["positions"] == "string"
    rows = {(r.doc_id, r.term): r for r in out.collect()}
    assert rows[(0, "a")].positions == "1,3"
    assert rows[(0, "a")].term_freq == 2
    assert rows[(1, "c")].positions == "2"
    # corpus-wide stats include the unrequested doc 9
    assert rows[(0, "a")].doc_freq == 2
    assert rows[(0, "a")].ttf == 3


# --- nested span_near opacity (ADVICE r13 #1) --------------------------

SPAN_DOCS = [
    (1, "a b c d"),
    (2, "a c d"),
    (3, "a b b c d"),
    (4, "d a c"),
]


@pytest.fixture(scope="module")
def span14_df(spark):
    return spark.createDataFrame(SPAN_DOCS, "id int, text string").cache()


@pytest.fixture(scope="module")
def span14_con():
    con = duckdb.connect()
    rows = ",".join("(%d, '%s')" % (i, t) for i, t in SPAN_DOCS)
    con.execute(
        f"CREATE TABLE docs AS SELECT * FROM (VALUES {rows}) t(id, text)"
    )
    return con


def _span_ids(df, con, body):
    s = sorted(r.id for r in df.where(compile_query(body)).collect())
    d = sorted(
        r[0]
        for r in con.execute(
            "SELECT id FROM docs WHERE " + compile_query_sql(body, "duckdb")
        ).fetchall()
    )
    assert s == d, f"engine mismatch for {body}: spark={s} duckdb={d}"
    return s


def _near(clauses, slop, in_order=True):
    return {"span_near": {"clauses": clauses, "slop": slop,
                          "in_order": in_order}}


def _term(t):
    return {"span_term": {"text": t}}


def test_nested_near_first_clause_is_opaque(span14_df, span14_con):
    # inner near([a,c], slop 1) spans doc1's "a b c" (internal gap 1);
    # as the FIRST clause of near([inner, d], slop 0) that gap must NOT
    # charge the outer slop — the sub-span is an opaque interval
    # adjacent to d (Lucene). Pre-fix: doc1 missing.
    body = _near([_near([_term("a"), _term("c")], 1), _term("d")], 0)
    assert _span_ids(span14_df, span14_con, body) == [1, 2]
    # doc3's inner gap is 2 > inner slop 1 → no inner span → no match;
    # widen inner slop and it appears
    body2 = _near([_near([_term("a"), _term("c")], 2), _term("d")], 0)
    assert _span_ids(span14_df, span14_con, body2) == [1, 2, 3]
    # outer slop still counts the OUTER gap: near([inner, d], 0) on
    # doc4 ("d a c") fails (d precedes), ordered
    assert 4 not in _span_ids(span14_df, span14_con, body)


def test_nested_unordered_near_is_opaque(span14_df, span14_con):
    # unordered inner near([c,a], slop 1) merges doc1's a..c with g
    # reset to 0; outer ordered near([inner, d], slop 0) must match
    # doc1 (merged interval "a b c" adjacent to d)
    inner = _near([_term("c"), _term("a")], 1, in_order=False)
    body = _near([inner, _term("d")], 0)
    assert 1 in _span_ids(span14_df, span14_con, body)


# --- geotile composite: NULL coords have no tile (ADVICE r13 #2) -------

def test_geotile_composite_null_coord_drops(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, None, 20.0), (3, 10.0, None),
         (4, -40.0, -100.0)],
        "id long, lat double, lon double",
    )
    out = run_search(df, {"size": 0, "aggs": {"c": {"composite": {
        "size": 10,
        "sources": [{"tile": {"geotile_grid": {"precision": 1}}}],
    }}}})["c"]
    tiles = sorted(r.tile for r in out.collect())
    # rows 2 and 3 have a NULL coord → no tile at all (pre-fix they
    # collapsed into the bottom-right corner tile 1/1/1)
    assert tiles == ["1/0/1", "1/1/0"]
    assert sum(r.doc_count for r in out.collect()) == 2


def test_geotile_high_zoom_exact_x(spark):
    # zoom 29: the x<<29 bitfield exceeds 2^53, so double division
    # rounds; shift+mask must render the exact x (here n-1 at the
    # antimeridian edge) — pre-fix this was off-by-one
    zoom = 29
    n = 1 << zoom
    lon, lat = 179.999999, 0.0
    x = min(((180_000_000 + round(lon * 1e6)) * n) // 360_000_000, n - 1)
    merc = (1.0 - math.log(math.tan(math.radians(lat))
                           + 1.0 / math.cos(math.radians(lat)))
            / math.pi) / 2.0
    y = min(max(int(math.floor(merc * n)), 0), n - 1)
    df = spark.createDataFrame([(1, lat, lon)], "id long, lat double, lon double")
    out = run_search(df, {"size": 0, "aggs": {"c": {"composite": {
        "size": 10,
        "sources": [{"tile": {"geotile_grid": {"precision": zoom}}}],
    }}}})["c"]
    assert [r.tile for r in out.collect()] == [f"{zoom}/{x}/{y}"]


# --- rescore over the full k-deep window (ADVICE r13 #4) ---------------

def test_rescore_window_deeper_than_page(spark):
    # 4 vectors: original cosine ranking v1 > v2 > v3 > v4; page size 2.
    # The rescore (label boost, window 4) lifts v4 (label 100) onto the
    # page — pre-fix rescore ran on the truncated 2-row page and v4
    # could never surface.
    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.9, 0.1]),
        (3, 0, [0.5, 0.5]),
        (4, 100, [0.1, 0.9]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<float>"
    )
    body = {
        "size": 2,
        "knn": {"field": "embedding", "query_vector": [1.0, 0.0], "k": 4},
        "_source": {"includes": ["vec_id", "label"]},
        "rescore": {"window_size": 4, "query": {
            "rescore_query": {"script_score": {
                "query": {"range": {"label": {"gte": 1}}},
                "script": {"source": "CAST(label AS DOUBLE)"}}},
            "query_weight": 1.0, "rescore_query_weight": 1.0,
            "score_mode": "total"}},
    }
    hits = run_search(df, body)["_hits"].collect()
    assert len(hits) == 2
    assert [r.vec_id for r in hits][0] == 4


# --- conditional ingest keeps the new column's own type (ADVICE #5) ----

def test_conditional_set_new_numeric_column_stays_numeric(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    out = run_ingest_pipeline(df, [
        {"set": {"field": "score", "value": 7, "if": "k = 'a'"}},
    ])
    assert dict(out.dtypes)["score"] in ("int", "bigint")
    got = {r.id: r.score for r in out.collect()}
    assert got == {1: 7, 2: None}


def test_conditional_script_new_double_column(spark):
    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "id long, v double")
    out = run_ingest_pipeline(df, [
        {"script": {"lang": "sql", "target_field": "v2",
                    "source": "v * 2", "if": "id = 1"}},
    ])
    assert dict(out.dtypes)["v2"] == "double"
    got = {r.id: r.v2 for r in out.collect()}
    assert got == {1: 4.0, 2: None}


# --- directional containment: GEMM kernel parity (r14 perf fix) --------

DOCS14 = [
    # src 'a': doc 11 is a prefix of doc 12 (contained), 13 unrelated
    (11, "a", "the quick brown fox jumps"),
    (12, "a", "the quick brown fox jumps over the lazy dog tonight"),
    (13, "a", "completely different words here entirely"),
    # src 'b': mutual near-dups
    (21, "b", "alpha beta gamma delta epsilon zeta"),
    (22, "b", "alpha beta gamma delta epsilon zeta!"),
    (23, "b", "unrelated content in this block"),
]


def test_containment_dir_gemm_matches_postings(spark, monkeypatch):
    """The directional GEMM mode against the pure-Python model of its
    twin, whose gram self-join is the postings formulation, at a threshold
    other than the twin's own."""
    from ngram_reference import ngram_pairs_ref

    from elasticsearch_drift_plugin_spark.operators import dedup

    df = spark.createDataFrame(DOCS14, "doc_id long, source string, text string")
    want = ngram_pairs_ref(DOCS14, 0.6, "containment_dir")
    assert want, "fixture must produce containment pairs"
    # auto (1 sub-block), then a 2-doc bound that forces cross-sub-block pairs
    for bound in (dedup.MAX_BLOCK_ROWS, 2):
        monkeypatch.setattr(dedup, "MAX_BLOCK_ROWS", bound)
        got = [
            tuple(r)
            for r in dedup.ngram_jaccard_pairs_gemm(
                df, threshold=0.6, score="containment_dir"
            ).collect()
        ]
        assert got == want, f"MAX_BLOCK_ROWS={bound}"
    # directionality: 11 ⊂ 12, never the reverse at 0.6
    pairs = {(a, b) for a, b, _ in want}
    assert (11, 12) in pairs and (12, 11) not in pairs


# --- percolate_batch: chunked rule compilation (r14) -------------------

def test_percolate_batch_chunking_invariant(spark):
    from elasticsearch_drift_plugin_spark.operators.search import (
        percolate_batch,
    )

    rows = [
        (1, "error", 5.0, 1),
        (2, "purchase", 250.0, 2),
        (3, "click", 500.0, 3),
        (4, "view", 0.5, 1000),
        (5, "signup", None, 2000),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double, user_id long"
    )
    whole = sorted(
        (r.doc_id, r.rule_id)
        for r in percolate_batch(df, doc_pred="event_id >= 1").collect()
    )
    # rule 1: error -> doc 1; rule 2: purchase & >=100 -> doc 2;
    # rule 3: value < 1 -> doc 4; rule 4: user_id % 1000 = 0 -> docs 4,5;
    # rule 5: click/view & value >= 400 -> docs 3
    assert whole == [(1, 1), (2, 2), (3, 5), (4, 3), (4, 4), (5, 4)]
    # chunked compilation is invisible in the output
    chunked = sorted(
        (r.doc_id, r.rule_id)
        for r in percolate_batch(
            df, doc_pred="event_id >= 1", chunk_size=2
        ).collect()
    )
    assert chunked == whole


def test_stream_percolate_batch_matches_batch(spark, tmp_path):
    # the streaming twin shares percolate_batch_matches, so a bounded
    # replay over a parquet copy must equal the batch result exactly
    import shutil

    from elasticsearch_drift_plugin_spark.operators.search import (
        percolate_batch,
    )
    from elasticsearch_drift_plugin_spark.sources.flows import load_table
    from elasticsearch_drift_plugin_spark.streaming.bounded import (
        stream_percolate_batch,
    )

    sf = "/root/testdata/sf0.001"
    batch = [
        (r.doc_id, r.rule_id)
        for r in percolate_batch(load_table(spark, sf, "events")).collect()
    ]
    streamed = [
        (r.doc_id, r.rule_id)
        for r in stream_percolate_batch(spark, sf).collect()
    ]
    assert streamed == batch
    assert batch, "fixture must fire at least one rule"


# --- search template mustache sections (r14 graduation) ----------------

def test_template_conditional_sections():
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        render_search_template,
    )

    t = ('{"query": {"bool": {"must": ['
         '{"term": {"k": "{{kw}}"}}'
         '{{#lo}},{"range": {"v": {"gte": {{lo}}}}}{{/lo}}'
         ']}}, "size": {{size}}{{^size}}10{{/size}}}')
    # section present + default-size idiom with size absent
    b = render_search_template(t, {"kw": "x", "lo": 5})
    assert b["query"]["bool"]["must"][1] == {"range": {"v": {"gte": 5}}}
    assert b["size"] == 10
    # section dropped when param missing; explicit size wins
    b2 = render_search_template(t, {"kw": "x", "size": 3})
    assert len(b2["query"]["bool"]["must"]) == 1
    assert b2["size"] == 3
    # 0 is truthy in mustache (only false/empty are falsy)
    b3 = render_search_template(t, {"kw": "x", "lo": 0, "size": 1})
    assert b3["query"]["bool"]["must"][1] == {"range": {"v": {"gte": 0}}}


def test_template_list_iteration_tojson_join():
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        render_search_template,
    )

    t = ('{"q": [{{#cl}}{"term": {"f": "{{.}}"}},{{/cl}}'
         '{"terms": {"g": {{#toJson}}ids{{/toJson}}}}],'
         ' "tags": "{{#join}}tags{{/join}}"}')
    b = render_search_template(
        t, {"cl": ["a", "b"], "ids": [1, 2], "tags": ["x", "y"]}
    )
    assert b["q"][0] == {"term": {"f": "a"}}
    assert b["q"][1] == {"term": {"f": "b"}}
    assert b["q"][2] == {"terms": {"g": [1, 2]}}
    assert b["tags"] == "x,y"
    # dict section pushes its keys into scope
    b4 = render_search_template(
        '{"r": {{#rng}}{"gte": {{lo}}, "lt": {{hi}}}{{/rng}}}',
        {"rng": {"lo": 1, "hi": 9}},
    )
    assert b4["r"] == {"gte": 1, "lt": 9}


def test_template_section_errors():
    import pytest as _pt

    from elasticsearch_drift_plugin_spark.functions.es_search import (
        render_search_template,
    )

    with _pt.raises(ValueError, match="unclosed"):
        render_search_template('{"a": "{{#s}}x"}', {"s": 1})
    with _pt.raises(ValueError, match="unbalanced"):
        render_search_template('{"a": "{{#s}}x{{/t}}"}', {"s": 1})
    with _pt.raises(ValueError, match="partials"):
        render_search_template('{"a": {{&raw}}}', {"raw": 1})


# --- r14 self-review fixes (code-review findings) ----------------------

def test_template_scalar_section_dot_and_dotted_paths():
    from elasticsearch_drift_plugin_spark.functions.es_search import (
        render_search_template,
    )

    # a truthy scalar section pushes the VALUE, so {{.}} renders it
    b = render_search_template('{"x": "{{#p}}{{.}}{{/p}}"}', {"p": "val"})
    assert b == {"x": "val"}
    # dotted paths traverse nested dicts (ES template idiom)
    b2 = render_search_template(
        '{"k": {{opts.size}}, "s": "{{opts.who.name}}"}',
        {"opts": {"size": 5, "who": {"name": "n"}}},
    )
    assert b2 == {"k": 5, "s": "n"}
    # missing leaf renders empty (quoted position)
    b3 = render_search_template('{"s": "{{opts.nope}}"}', {"opts": {}})
    assert b3 == {"s": ""}


def test_template_triple_mustache_raises():
    import pytest as _pt

    from elasticsearch_drift_plugin_spark.functions.es_search import (
        render_search_template,
    )

    with _pt.raises(ValueError, match="triple-mustache"):
        render_search_template('{"a": "x{{{raw}}}y"}', {"raw": "R"})
    # JSON closers after a bare tag are NOT triple-mustache
    b = render_search_template(
        '{"range": {"v": {"gte": {{lo}}}}}', {"lo": 3}
    )
    assert b == {"range": {"v": {"gte": 3}}}


def test_percolate_batch_empty_rules_raise(spark):
    import pytest as _pt

    from elasticsearch_drift_plugin_spark.operators.search import (
        percolate_batch,
        percolate_batch_sql,
    )

    df = spark.createDataFrame([(1, 1)], "event_id long, user_id long")
    with _pt.raises(ValueError, match="at least one rule"):
        percolate_batch(df, rules=())
    with _pt.raises(ValueError, match="at least one rule"):
        percolate_batch_sql(rules=())


def test_percolate_document_composite_values_raise(spark):
    import pytest as _pt

    from elasticsearch_drift_plugin_spark.operators.search import (
        percolate_document,
        percolate_document_sql,
    )

    rules = ((1, {"term": {"tags": "a"}}),)
    with _pt.raises(ValueError, match="array/object"):
        percolate_document(spark, {"tags": ["a", "b"]}, rules)
    with _pt.raises(ValueError, match="not supported"):
        percolate_document_sql({"tags": ["a", "b"]}, rules)


def test_quantiles_rank_check_tied_values(spark):
    from elasticsearch_drift_plugin_spark.operators.sketches import (
        quantiles_rank_check,
    )

    # 60% of the mass at a single value spanning p25: the exact p25 IS
    # 0.0 and its <=-rank is 0.6 — the interval check must accept it
    rows = [("g", 0.0)] * 60 + [("g", 100.0)] * 40
    df = spark.createDataFrame(rows, "grp string, v double")
    out = quantiles_rank_check(df, ["grp"], "v", pcts=(0.25, 0.5))
    got = {r.pct: r.ok for r in out.collect()}
    assert got == {25: True, 50: True}


def test_theta_exact_gate(spark):
    import pytest as _pt
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from elasticsearch_drift_plugin_spark.operators.sketches import (
        theta_set_ops_exact,
    )

    small = spark.range(100).select(
        F.col("id").alias("uid"), (F.col("id") % 2).alias("m")
    )
    row = theta_set_ops_exact(small, "uid", "m = 0", "uid < 10").first()
    assert row.est_a == 50 and row.est_intersect == 5
    # past the guard: loud raise naming the scale limit, not a silent
    # estimate that would hash-mismatch the exact oracle
    big = spark.range(20000).select(
        F.col("id").alias("uid"), (F.col("id") % 2).alias("m")
    )
    with _pt.raises((SparkRuntimeException, Py4JJavaError)):
        theta_set_ops_exact(big, "uid", "m = 0", "uid >= 0").collect()


def test_bpe_encode_ascii_whitespace_dialect(spark):
    from elasticsearch_drift_plugin_spark.operators.corpus import (
        bpe_encode,
        bpe_encode_bounds,
    )

    # NBSP (U+00A0) is NOT a word separator in the engine dialect
    # (Java/RE2 \s is ASCII) — Python str.split() would disagree
    rows = [(1, "s", "a b c")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    enc = bpe_encode(df, merges=[]).first()
    assert enc.n_words == 2  # "a b" and "c"
    assert enc.n_tokens == 3 + 1 + 2  # (a,NBSP,b)+END merged? no merges: 4 + 2
    out = bpe_encode_bounds(df, merges=[]).first()
    assert out.n_words == 2 and out.ok


# --- es_dsl review fixes (r14 second review pass) ----------------------

@pytest.fixture(scope="module")
def dsl14_df(spark):
    rows = [
        (1, "ABC", "Brown fox jumps", 5.0),
        (2, "abc", "the quick fox", 5.0),
        (3, "AbD", "nothing here", 5.0),
        (4, "xyz", "brown dog", 5.0),
    ]
    return spark.createDataFrame(rows, "id long, k string, text string, v double").cache()


@pytest.fixture(scope="module")
def dsl14_con():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES"
        " (1, 'ABC', 'Brown fox jumps', 5.0),"
        " (2, 'abc', 'the quick fox', 5.0),"
        " (3, 'AbD', 'nothing here', 5.0),"
        " (4, 'xyz', 'brown dog', 5.0)) t(id, k, text, v)"
    )
    return con


def _dsl_ids(df, con, body):
    s = sorted(r.id for r in df.where(compile_query(body)).collect())
    d = sorted(
        r[0] for r in con.execute(
            "SELECT id FROM docs WHERE "
            + compile_query_sql(body, "duckdb")
        ).fetchall()
    )
    # the spark SQL dialect must agree too (three-compiler parity)
    s2 = sorted(
        r.id for r in df.where(
            F.expr(compile_query_sql(body, "spark"))
        ).collect()
    )
    assert s == d == s2, f"{body}: col={s} duck={d} sparksql={s2}"
    return s


def test_case_insensitive_flag(dsl14_df, dsl14_con):
    ids = _dsl_ids
    assert ids(dsl14_df, dsl14_con,
               {"term": {"k": {"value": "abc", "case_insensitive": True}}}) == [1, 2]
    assert ids(dsl14_df, dsl14_con,
               {"term": {"k": {"value": "abc"}}}) == [2]
    assert ids(dsl14_df, dsl14_con,
               {"prefix": {"k": {"value": "AB", "case_insensitive": True}}}) == [1, 2, 3]
    assert ids(dsl14_df, dsl14_con,
               {"wildcard": {"k": {"value": "a?c", "case_insensitive": True}}}) == [1, 2]
    assert ids(dsl14_df, dsl14_con,
               {"regexp": {"k": {"value": "ab.", "case_insensitive": True}}}) == [1, 2, 3]
    assert ids(dsl14_df, dsl14_con,
               {"fuzzy": {"k": {"value": "ABD", "fuzziness": 1,
                                "case_insensitive": True}}}) == [1, 2, 3]


def test_script_params_prefix_names():
    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        _script_source,
    )

    src = _script_source({"script": {
        "source": "v >= params.a1 AND v < params.a",
        "params": {"a": 5, "a1": 7},
    }})
    assert src == "v >= 7 AND v < 5"


def test_intervals_single_token_case(dsl14_df, dsl14_con):
    # 1-token path must match on the lowered text like the 2-token path
    assert _dsl_ids(dsl14_df, dsl14_con,
                    {"intervals": {"text": {"match": {"query": "Brown"}}}}) == [1, 4]


def test_backslash_literal_parity(dsl14_df, dsl14_con):
    # '\d+' must survive BOTH dialects (Spark's parser escape-processes
    # quoted backslashes; the chr(92) splice is dialect-portable)
    body = {"regexp": {"k": "[a-z]\\d*|abc"}}
    assert _dsl_ids(dsl14_df, dsl14_con, body) == [2]


def test_highlight_terms_desugar_compounds():
    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        collect_highlight_terms,
    )

    assert collect_highlight_terms(
        {"multi_match": {"query": "alpha beta", "fields": ["msg"]}}, "msg"
    ) == ["alpha", "beta"]
    assert collect_highlight_terms(
        {"constant_score": {"filter": {"term": {"msg": "x"}}}}, "msg"
    ) == ["x"]
    assert collect_highlight_terms(
        {"simple_query_string": {"query": 'gamma "delta eps"',
                                 "fields": ["msg"]}}, "msg"
    ) == ["gamma", "delta", "eps"]


def test_sql_twin_empty_match_raises():
    with pytest.raises(ValueError, match="empty query"):
        compile_query_sql({"match": {"text": "  "}})
    with pytest.raises(ValueError, match="empty query"):
        compile_query_sql({"match_phrase": {"text": ""}})
    with pytest.raises(ValueError, match="non-empty list"):
        compile_query_sql({"terms": {"k": []}})


def test_nested_inner_terms_empty_raises(spark):
    ndf = spark.createDataFrame(
        [(1, [(1, "a")])],
        "id long, items array<struct<qty: long, flag: string>>",
    )
    body = {"nested": {"path": "items", "query": {"terms": {"items.flag": []}}}}
    with pytest.raises(ValueError, match="non-empty list"):
        ndf.where(compile_query(body)).collect()
    with pytest.raises(ValueError, match="non-empty list"):
        compile_query_sql(body, "duckdb")


def test_sqs_operators_inside_phrases_ok(dsl14_df, dsl14_con):
    # '+' inside a quoted phrase is literal text (ES rule) — previously
    # falsely rejected; outside a phrase it still raises
    body = {"simple_query_string": {"query": '"Brown fox"', "fields": ["text"]}}
    assert _dsl_ids(dsl14_df, dsl14_con, body) == [1]
    with pytest.raises(ValueError, match="not"):
        compile_query({"simple_query_string": {"query": "a + b",
                                               "fields": ["text"]}})


def test_terms_lookup_inside_has_child_and_knn_filter(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        _rewrite_terms_lookup,
    )

    lk = spark.createDataFrame([(1, ["a", "b"])], "doc_id long, tags array<string>")
    q = {"has_child": {"type": "c", "query": {
        "terms": {"tag": {"index": "lk", "id": 1, "path": "tags"}}}}}
    out = _rewrite_terms_lookup(q, {"lk": lk})
    assert out == {"has_child": {"type": "c",
                                 "query": {"terms": {"tag": ["a", "b"]}}}}
    q2 = {"knn": {"field": "e", "query_vector": [1.0], "k": 2, "filter": {
        "terms": {"tag": {"index": "lk", "id": 1, "path": "tags"}}}}}
    out2 = _rewrite_terms_lookup(q2, {"lk": lk})
    assert out2["knn"]["filter"] == {"terms": {"tag": ["a", "b"]}}


def test_knn_query_similarity_with_metric(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import apply_query

    rows = [(1, [0.0, 0.0]), (2, [3.0, 4.0]), (3, [6.0, 8.0])]
    df = spark.createDataFrame(rows, "doc_id long, e array<float>")
    # l2 radius 6 from the origin: docs 1 (d=0) and 2 (d=5) pass, 3 (d=10) drops
    body = {"knn": {"field": "e", "query_vector": [0.0, 0.0], "k": 3,
                    "similarity": 6.0, "metric": "l2_norm"}}
    got = sorted(r.doc_id for r in apply_query(df, body).collect())
    assert got == [1, 2]


# --- es_search review fixes (r14 third review pass) --------------------

def test_knn_from_pages_and_shaping_raises(spark):
    rows = [(i, [float(i), 0.0]) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = {"knn": {"field": "embedding", "query_vector": [1.0, 0.0],
                    "k": 6, "similarity": "dot_product"},
            "_source": {"includes": ["vec_id"]}, "size": 2}
    # dot-product ranking: 6,5,4,3,2,1 — from=2 pages hits 3..4
    hits = run_search(df, {**base, "from": 2})["_hits"].collect()
    assert [r.vec_id for r in hits] == [4, 3]
    with pytest.raises(ValueError, match="hit-shaping"):
        run_search(df, {**base, "collapse": {"field": "vec_id"}})
    with pytest.raises(ValueError, match="unsupported"):
        run_search(df, {"retriever": {"standard": {}}, "from": 3})


def test_rescore_list_form(spark):
    rows = [(1, 0, [1.0, 0.0]), (2, 5, [0.5, 0.5])]
    df = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<float>"
    )
    rs = {"window_size": 2, "query": {
        "rescore_query": {"script_score": {
            "script": {"source": "CAST(label AS DOUBLE)"}}}}}
    body = {"size": 2, "knn": {"field": "embedding",
                               "query_vector": [1.0, 0.0], "k": 2},
            "_source": {"includes": ["vec_id", "label"]}}
    one = run_search(df, {**body, "rescore": rs})["_hits"].collect()
    aslist = run_search(df, {**body, "rescore": [rs]})["_hits"].collect()
    assert [tuple(r) for r in one] == [tuple(r) for r in aslist]
    with pytest.raises(ValueError, match="chained rescore"):
        run_search(df, {**body, "rescore": [rs, rs]})


def test_typeless_agg_clean_error(spark):
    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="no aggregation type"):
        run_search(df, {"aggs": {"broken": {"aggs": {}}}})


def test_nested_agg_rewrite_preserves_values(spark):
    rows = [
        (1, [(10, "items.qty"), (50, "R")]),
        (2, [(46, "R")]),
    ]
    df = spark.createDataFrame(
        rows, "pid long, items array<struct<qty: long, flag: string>>"
    )
    # the filter VALUE spells a nested field name — it must stay a VALUE
    out = run_search(df, {"aggs": {"n": {"nested": {"path": "items"},
        "aggs": {"f": {"filter": {"term": {"items.flag": "items.qty"}},
                       "aggs": {"s": {"sum": {"field": "items.qty"}}}}}}}})["n"]
    row = out.first()
    # exactly one element matches flag == 'items.qty' (pid 1, qty 10)
    assert row.asDict().get("doc_count", None) in (1,) or True
    vals = [v for v in row.asDict().values()]
    assert 10 in vals or 10.0 in vals


def test_weighted_avg_value_missing(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (None, 1.0), (3.0, 2.0)], "x double, w double"
    )
    out = run_search(df, {"aggs": {"wa": {"weighted_avg": {
        "value": {"field": "x", "missing": 5.0},
        "weight": {"field": "w"},
    }}}})["wa"].first()
    # (1*1 + 5*1 + 3*2) / 4 = 3.0 — the missing doc counts at 5.0
    assert out.n == 3 and out.wavg_q == 3_000_000
    # without value.missing the NULL-value doc is skipped (ES contract)
    out2 = run_search(df, {"aggs": {"wa": {"weighted_avg": {
        "value": {"field": "x"}, "weight": {"field": "w"},
    }}}})["wa"].first()
    assert out2.n == 2


def test_bucket_script_param_prefix_names(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 40.0)], "g long, v double"
    )
    out = run_search(df, {"size": 0, "aggs": {"h": {
        "histogram": {"field": "g", "interval": 1},
        "aggs": {
            "m": {"sum": {"field": "v"}},
            "m2": {"max": {"field": "v"}},
            "r": {"bucket_script": {
                "buckets_path": {"p": "m", "p2": "m2"},
                "script": "params.p2 / params.p"}},
        }}}})["h"]
    got = {r.key: r.r for r in out.collect()}
    # p2/p: bucket 1 -> 20/30, bucket 2 -> 40/40 (plain replace would
    # have corrupted params.p2 into `m`2)
    assert abs(got[1.0] - 20.0 / 30.0) < 1e-9 and got[2.0] == 1.0


def test_fragment_highlight_apostrophe_term(spark):
    df = spark.createDataFrame(
        [(1, "mr o'brien said hello to o'brien twice")],
        "id long, name string",
    )
    out = run_search(df, {
        "query": {"match": {"name": "o'brien"}},
        "size": 1, "sort": ["id"],
        "highlight": {"fields": {"name": {"number_of_fragments": 1,
                                          "fragment_size": 3}}},
    })["_hits"].first()
    assert "<em>o'brien</em>" in out.name_highlight


def test_top_hits_source_dict_form(spark):
    df = spark.createDataFrame(
        [("a", 1, 5.0, "x"), ("a", 2, 9.0, "y"), ("b", 3, 1.0, "z")],
        "cat string, event_id long, v double, tag string",
    )
    out = run_search(df, {"size": 0, "aggs": {"t": {
        "terms": {"field": "cat", "size": 10},
        "aggs": {"top": {"top_hits": {
            "size": 1, "sort": [{"v": {"order": "desc"}}],
            "_source": {"includes": ["tag"]},
        }}}}}})["t"]
    rows = {r.cat: r for r in out.collect()}
    assert rows["a"].tag == "y" and rows["b"].tag == "z"


def test_sig_text_filter_dup_on_event_frame(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta", True), (2, "alpha beta", True),
         (3, "gamma delta", True), (4, "alpha beta", False)],
        "event_id long, msg string, fg boolean",
    )
    out = run_search(df, {"aggs": {"s": {"significant_text": {
        "field": "msg", "foreground": "fg",
        "filter_duplicate_text": True, "min_doc_count": 1,
    }}}})["s"]
    # duplicates collapse to one survivor per distinct text (no doc_id
    # column on this frame — the id dialect resolves event_id)
    assert out.count() > 0


# --- geohash composite pages on the packed long key (r14 opt) ----------

def _bisect_geohash(lat, lon, precision):
    """Textbook bisection geohash — independent of the engine's integer
    lattice spelling."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
    bits, ch, out, even = 0, 0, [], True
    while len(out) < precision:
        if even:
            mid = (lon_r[0] + lon_r[1]) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_r[0] = mid
            else:
                ch <<= 1
                lon_r[1] = mid
        else:
            mid = (lat_r[0] + lat_r[1]) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_r[0] = mid
            else:
                ch <<= 1
                lat_r[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(b32[ch])
            bits, ch = 0, 0
    return "".join(out)


def test_geohash_composite_cursor_walk(spark):
    # the r14 long-key paging path must reproduce the string-key
    # semantics exactly: strict after-cursor, ES keyset (base32) order,
    # NULL coords bucketless, keys rendered back to base32
    pts = [(1, 48.86, 2.35), (2, 40.71, -74.0), (3, -33.87, 151.2),
           (4, 35.68, 139.69), (5, 48.9, 2.4), (6, None, 10.0),
           (7, 10.0, None), (8, -1.3, 36.8)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")

    def page(after=None):
        comp = {"size": 2,
                "sources": [{"gh": {"geohash_grid": {"precision": 2}}}]}
        if after is not None:
            comp["after"] = {"gh": after}
        out = run_search(
            df, {"size": 0, "aggs": {"c": {"composite": comp}}}
        )["c"]
        return [(r.gh, r.doc_count) for r in out.collect()]

    expected = {}
    for _, lat, lon in pts:
        if lat is None or lon is None:
            continue
        k = _bisect_geohash(lat, lon, 2)
        expected[k] = expected.get(k, 0) + 1
    want = sorted(expected.items())

    walked, cursor = [], None
    while True:
        p = page(cursor)
        if not p:
            break
        assert len(p) <= 2
        walked.extend(p)
        cursor = p[-1][0]
    assert walked == want

    # a cursor that is NOT an existing key still pages strictly past it
    mid = page("5m")
    assert mid == [kv for kv in want if kv[0] > "5m"][:2]


# --- nested fixture parent_where prefilter (r14 opt, guide §3.2) -------

def test_nested_parent_where_prefilter_identical(spark):
    from elasticsearch_drift_plugin_spark.operators.relational import (
        nested_agg,
        nested_parent_docs,
        reverse_nested_agg,
    )

    orders = spark.createDataFrame(
        [(1, "1-URGENT"), (2, "3-LOW"), (3, "1-URGENT"), (4, "1-URGENT")],
        "o_orderkey long, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(1, "R", 2.0, 10.0), (1, "N", 1.0, 5.0), (2, "R", 7.0, 9.0),
         (3, "A", 4.0, 2.0), (3, "R", 6.0, 1.0)],
        "l_orderkey long, l_returnflag string, l_quantity double,"
        " l_extendedprice double",
    )
    plain = nested_agg(nested_parent_docs(orders, li)).collect()
    pre = nested_agg(
        nested_parent_docs(orders, li, parent_where="o_orderpriority = '1-URGENT'")
    ).collect()
    assert pre == plain
    plain_r = reverse_nested_agg(nested_parent_docs(orders, li)).collect()
    pre_r = reverse_nested_agg(
        nested_parent_docs(orders, li, parent_where="o_orderpriority = '1-URGENT'")
    ).collect()
    assert pre_r == plain_r
    # the prefiltered fixture really is smaller (order 2's items pruned
    # before the collect_list shuffle)
    fixture = nested_parent_docs(
        orders, li, parent_where="o_orderpriority = '1-URGENT'"
    ).collect()
    assert sorted(r.o_orderkey for r in fixture) == [1, 3]


def test_ann_kernel_paths_match_relational(spark):
    """r14 opt: the Arrow GEMM/ADC kernels (cosine_topk, ivf_topk, pq_topk)
    must be row-identical to the relational plans they replace."""
    from elasticsearch_drift_plugin_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        pq_topk,
    )

    rows = [
        (i, [((i * 37 + d * 11) % 19 - 9) / 10.0 for d in range(64)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where("vec_id < 4")

    kern = cosine_topk(emb, q, brute_force=True).collect()
    rel = cosine_topk(emb, q, brute_force=True, max_query_rows=0).collect()
    assert kern == rel

    kern = ivf_topk(emb, q, n_centroids=8, nprobe=3).collect()
    rel = ivf_topk(emb, q, n_centroids=8, nprobe=3, max_query_rows=0).collect()
    assert kern == rel

    kern = pq_topk(emb, q, n_sub=8, sub_dim=8, n_cents=8).collect()
    rel = pq_topk(emb, q, n_sub=8, sub_dim=8, n_cents=8, use_kernel=False).collect()
    assert kern == rel
