"""Physical-plan invariants (SCALE.md "Plan invariants").

These don't test results — they pin the *shape* of the plans that the scale
story depends on: column pruning, partial aggregation below the shuffle,
codegen coverage, and no accidental Python in JVM-only paths.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from elasticsearch_drift_plugin_spark import proportional_sum
from elasticsearch_drift_plugin_spark.operators.text import lang_id, token_counts
from elasticsearch_drift_plugin_spark.plans import (
    codegen_span_ids,
    explain_str,
    has_python_eval,
    hash_exchange_count,
    read_schema,
)
from elasticsearch_drift_plugin_spark.sources import netflow


def _flows(spark):
    return spark.createDataFrame(
        [(100, 450, 350.0, "a")], "start_ms long, end_ms long, value double, tag string"
    )


def test_psum_single_data_shuffle_with_partial_agg(spark):
    out = proportional_sum(_flows(spark), "start_ms", "end_ms", "value", interval=100)
    plan = explain_str(out)
    # partial + final HashAggregate pair around exactly one hash Exchange;
    # the only other Exchange is the final orderBy's range partitioning
    assert len(re.findall(r"\bHashAggregate\b \(", plan)) == 2
    assert hash_exchange_count(out) == 1
    # the explode (Generate) sits BELOW the aggregates (map-side fan-out)
    assert plan.index("Generate") > plan.index("HashAggregate")


def test_psum_prunes_unreferenced_columns(spark, tmp_path):
    # pruning needs a prunable source: parquet, not an in-memory LogicalRDD
    path = str(tmp_path / "flows.parquet")
    _flows(spark).write.parquet(path)
    out = proportional_sum(
        spark.read.parquet(path), "start_ms", "end_ms", "value", interval=100
    )
    schemas = read_schema(out)
    assert schemas and all("tag" not in rs for rs in schemas), schemas
    assert "tag" not in explain_str(out)


def test_netflow_v5_is_pure_codegen(spark):
    raw = spark.createDataFrame([(b"x",)], "value binary")
    parsed = netflow.parse_netflow_v5(raw)
    assert not has_python_eval(parsed)
    assert "Exchange" not in explain_str(parsed)
    spans = codegen_span_ids(parsed)
    assert spans == {"1"}, f"expected one codegen span, got {spans}"


def test_text_ops_are_map_only(spark):
    docs = spark.createDataFrame(
        [(1, "s", "the cat"), (2, "s", "el gato")], "doc_id long, source string, text string"
    )
    for op in (lang_id, token_counts):
        out = op(docs).drop("doc_id")
        assert not has_python_eval(out)
        # only the final orderBy may shuffle (range partitioning), never a hash
        assert hash_exchange_count(out) == 0


def test_repetition_and_pii_are_map_only(spark):
    from elasticsearch_drift_plugin_spark.operators.text import pii_scan, repetition_score

    docs = spark.createDataFrame(
        [(1, "s", "a b c d e f g"), (2, "s", "x")],
        "doc_id long, source string, text string",
    )
    for op in (repetition_score, pii_scan):
        out = op(docs).drop("doc_id")
        assert not has_python_eval(out)
        assert hash_exchange_count(out) == 0  # per-row exprs, zero shuffle


def test_contamination_broadcasts_benchmark(spark):
    from elasticsearch_drift_plugin_spark.operators.corpus import contamination_overlap

    docs = spark.createDataFrame(
        [(i, "a", "q w e r t y u i o p") for i in range(4)],
        "doc_id long, source string, text string",
    )
    plan = explain_str(contamination_overlap(docs, docs))
    # the benchmark gram set must be the broadcast side; the corpus grams
    # must never be sort-merge joined (a corpus-sized shuffle at 100 TB)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flows_by_nation_broadcasts_dimensions(spark, tmp_path):
    from elasticsearch_drift_plugin_spark.operators.relational import flows_by_nation

    ev = spark.createDataFrame([(1, 2.0)], "user_id long, value double")
    cust = spark.createDataFrame([(1, 0)], "c_custkey long, c_nationkey long")
    nat = spark.createDataFrame([(0, "X")], "n_nationkey long, n_name string")
    plan = explain_str(flows_by_nation(ev, cust, nat))
    assert len(re.findall(r"BroadcastHashJoin \w+ Build", plan)) == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_span_dedup_jvm_only_with_partial_aggs(spark):
    from elasticsearch_drift_plugin_spark.operators.corpus import span_dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h")],
        "doc_id long, text string",
    )
    out = span_dedup(docs)
    plan = explain_str(out)
    # pure Catalyst: no Python eval anywhere in the span pipeline
    assert not has_python_eval(out)
    # the winner aggregation must have a map-side partial (hot boilerplate
    # spans collapse before the shuffle) — partial+final pairs
    assert plan.count("HashAggregate") >= 2
    # shuffle keys are the 60-bit span hashes, never span text
    assert "BroadcastExchange" not in plan


def test_components_rounds_are_jvm_only(spark):
    from elasticsearch_drift_plugin_spark.operators.components import (
        _large_star,
        _small_star,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    for step in (_large_star, _small_star):
        out = step(edges)
        assert not has_python_eval(out)
        plan = explain_str(out)
        # min-label aggregation carries a map-side partial before its shuffle
        assert plan.count("HashAggregate") >= 2


def test_es_aggs_are_jvm_only_single_shuffle(spark):
    from elasticsearch_drift_plugin_spark.operators import es_aggs

    df = spark.createDataFrame(
        [("a", 10.0, 3)], "event_type string, value double, user_id long"
    )
    terms = es_aggs.terms_agg(df, "event_type", value_col="value")
    assert not has_python_eval(terms)
    # partial+final agg pair; TakeOrdered handles the top-size (no extra sort)
    assert explain_str(terms).count("HashAggregate") >= 2

    stats = es_aggs.extended_stats_agg(df, ["event_type"], "value")
    assert not has_python_eval(stats)
    assert hash_exchange_count(stats) == 1  # one shuffle on the group key

    hist = es_aggs.histogram_agg(df, "value", 50.0)
    assert not has_python_eval(hist)
    assert hash_exchange_count(hist) == 1


def test_chunk_documents_is_map_only(spark):
    from elasticsearch_drift_plugin_spark.operators.training import chunk_documents

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=4, stride=3)
    # scan -> project -> generate: no shuffle before the serving-edge sort
    plan = explain_str(out.limit(10))
    assert not has_python_eval(out)
    assert hash_exchange_count(out) == 0


def test_diversified_sampler_uses_take_ordered(spark):
    from elasticsearch_drift_plugin_spark.operators.es_metrics import (
        diversified_sampler_terms,
    )

    df = spark.createDataFrame(
        [(1, 2, "t")], "event_id long, user_id long, event_type string"
    )
    out = diversified_sampler_terms(df, "user_id", "event_type")
    # the global top-N must be TakeOrderedAndProject (per-partition top-N +
    # driver merge), never a single-partition global Sort
    assert "TakeOrderedAndProject" in explain_str(out)


def test_string_stats_partial_agg_below_shuffle(spark):
    from elasticsearch_drift_plugin_spark.operators.es_metrics import string_stats_agg

    docs = spark.createDataFrame([("s", "a b")], "source string, text string")
    out = string_stats_agg(docs, "text", ["source"])
    plan = explain_str(out)
    # char fan-out collapsed map-side: a partial/final HashAggregate pair
    assert len(re.findall(r"\bHashAggregate\b \(", plan)) >= 4  # two agg pairs
    assert not has_python_eval(out)


def test_bucketed_join_has_zero_exchanges(spark, tmp_path):
    """SCALE.md claims pre-bucketing removes the curate pipeline's doc_id
    join shuffle entirely; pin it: both sides bucketed on the key into the
    same bucket count => SortMergeJoin with no Exchange in the plan."""
    from elasticsearch_drift_plugin_spark.sources.sinks import create_bucketed_table

    create_bucketed_table(
        spark, "__bk_docs", "doc_id BIGINT, v DOUBLE", "doc_id",
        str(tmp_path / "bk_docs"), n_buckets=8,
    )
    create_bucketed_table(
        spark, "__bk_keep", "doc_id BIGINT, w DOUBLE", "doc_id",
        str(tmp_path / "bk_keep"), n_buckets=8,
    )
    try:
        spark.range(2000).selectExpr("id AS doc_id", "CAST(id AS DOUBLE) v") \
            .write.insertInto("__bk_docs")
        spark.range(0, 2000, 3).selectExpr("id AS doc_id", "CAST(id AS DOUBLE) w") \
            .write.insertInto("__bk_keep")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("__bk_docs").join(spark.table("__bk_keep"), "doc_id")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # bucketing replaced the shuffle
            assert j.count() == 667
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS __bk_docs")
        spark.sql("DROP TABLE IF EXISTS __bk_keep")


def test_split_and_quantize_are_map_only(spark):
    from elasticsearch_drift_plugin_spark.operators.similarity import quantize_int8
    from elasticsearch_drift_plugin_spark.operators.training import split_assign

    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    out = split_assign(docs)
    assert not has_python_eval(out)
    assert hash_exchange_count(out) == 0  # only the serving-edge range sort

    emb = spark.createDataFrame([(1, [0.5, 1.0])], "vec_id long, embedding array<float>")
    q = quantize_int8(emb)
    assert not has_python_eval(q)
    assert hash_exchange_count(q) == 0


def test_frequent_item_sets_single_scan_few_shuffles(spark):
    """Combinations are generated map-side: the basket table is scanned
    once and the plan carries no basket-keyed joins (the 17-shuffle
    self-join formulation this replaced is pinned out)."""
    from elasticsearch_drift_plugin_spark.operators.frequent_itemsets import (
        frequent_item_sets,
    )

    b = spark.createDataFrame([("b1", "x"), ("b1", "y")], "basket string, item string")
    out = frequent_item_sets(b, min_support=1)
    plan = explain_str(out)
    assert not has_python_eval(out)
    # basket array agg (compiled once per consumer branch, reused at
    # runtime) + level-1 agg + itemset agg = <= 4 hash exchanges; the
    # Apriori cut is a map-side array_intersect against the broadcast
    # 1-row frequent-item array (a nested-loop broadcast of one row), so
    # no shuffle join and no basket-keyed join appears anywhere
    assert hash_exchange_count(out) <= 4
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "array_intersect" in plan


def test_scripted_metric_shuffles_partial_states_only(spark):
    """The reduce shuffle must sit ABOVE the Arrow map stage (partial
    states move, raw rows don't)."""
    from elasticsearch_drift_plugin_spark.operators.scripted import cov_scripted

    df = spark.createDataFrame(
        [("A", 1, 1.0)], "event_type string, user_id long, value double"
    )
    out = cov_scripted(df)
    plan = explain_str(out)
    assert plan.index("MapInPandas") > plan.index("FlatMapGroupsInPandas"), (
        "mapInPandas (partial fold) must be the child of the grouped reduce"
    )
    assert hash_exchange_count(out) == 1  # one shuffle: the partial states


def test_time_series_rate_plan_shape(spark):
    """One series-partitioned window shuffle + one bucket agg shuffle; no
    Python, partial aggregation below the final agg exchange."""
    from elasticsearch_drift_plugin_spark.operators.es_aggs import (
        time_series_counter_rate,
    )

    ev = spark.createDataFrame(
        [(1, "s", 1_700_000_000_000, 1.0)],
        "event_id long, event_type string, t long, value double",
    ).select("event_id", "event_type",
             F.timestamp_millis(F.col("t")).alias("ts"), "value")
    out = time_series_counter_rate(ev)
    assert not has_python_eval(out)
    s = explain_str(out)
    # window over the series + final agg (+AQE may show range for orderBy)
    assert s.count("Window") >= 1
    assert "HashAggregate" in s


def test_nested_agg_no_cartesian_and_partial_agg(spark):
    from elasticsearch_drift_plugin_spark.operators.relational import (
        nested_agg,
        nested_parent_docs,
    )

    orders = spark.createDataFrame(
        [(1, "1-URGENT")], "o_orderkey long, o_orderpriority string"
    )
    lineitem = spark.createDataFrame(
        [(1, "A", 2.0, 3.0)],
        "l_orderkey long, l_returnflag string, l_quantity double,"
        " l_extendedprice double",
    )
    out = nested_agg(nested_parent_docs(orders, lineitem))
    s = explain_str(out)
    assert "CartesianProduct" not in s
    assert not has_python_eval(out)
    assert "HashAggregate" in s


def test_png_pipeline_is_narrow_after_widen(spark):
    """The PNG chain (encode -> stats) adds exactly ONE exchange (the
    widen repartition) plus the final sort — each mapInPandas link is
    narrow, no shuffle between kernels."""
    from elasticsearch_drift_plugin_spark.operators.multimodal import (
        decode_pixel_stats,
        png_documents,
    )

    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    out = decode_pixel_stats(png_documents(docs))
    s = explain_str(out)
    # no hash-partition exchange between the Python kernels
    assert hash_exchange_count(out) == 0, s


def test_knn_is_take_ordered_no_full_sort(spark, tmp_path):
    # knn: scan → filter → score projection → TakeOrdered(k). No global
    # Sort node, no shuffle beyond the TakeOrdered reduction, and the
    # pre-filter + column pruning reach the parquet scan.
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    p = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(i), 1.0], i % 3) for i in range(50)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    body = {"knn": {"field": "embedding", "query_vector": [1.0, 0.0], "k": 5,
                    "filter": {"range": {"vec_id": {"gte": 10}}}},
            "_source": {"includes": ["vec_id"]}, "size": 5}
    out = run_search(df, body)["_hits"]
    plan = explain_str(out)
    assert "TakeOrderedAndProject" in plan
    assert " Sort " not in plan  # top-k never global-sorts
    assert not has_python_eval(out)
    assert "GreaterThanOrEqual(vec_id,10)" in plan or "gte" in plan.lower()


def test_collapse_single_window_exchange(spark):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    df = spark.createDataFrame(
        [(1, "a", 5.0)], "event_id long, grp string, value double"
    )
    body = {"size": 3, "sort": [{"value": {"order": "desc"}},
                                {"event_id": "asc"}],
            "collapse": {"field": "grp"}}
    out = run_search(df, body)["_hits"]
    plan = explain_str(out)
    # one Window (rank-1 per collapse key) feeding a TakeOrdered, with
    # Spark's WindowGroupLimit pushed MAP-SIDE (Partial before the
    # exchange): only one candidate row per key per partition shuffles —
    # the shape that keeps collapse viable at 100 TB
    assert len(re.findall(r"\bWindow\b \(", plan)) == 1
    assert re.search(r"row_number\(\), 1, Partial", plan), plan
    assert re.search(r"row_number\(\), 1, Final", plan), plan
    assert "TakeOrderedAndProject" in plan
    assert not has_python_eval(out)


def test_terms_include_pushes_to_scan(spark, tmp_path):
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    p = str(tmp_path / "ev")
    spark.createDataFrame(
        [("click", 1.0)], "event_type string, value double"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    body = {"aggs": {"t": {"terms": {
        "field": "event_type", "include": ["click", "view"],
        "min_doc_count": 2}}}}
    out = run_search(df, body)["t"]
    plan = explain_str(out)
    # the include list lands in PushedFilters as an In predicate
    assert re.search(r"PushedFilters: \[.*In\(event_type", plan), plan
    # map-side partial agg below the single hash exchange
    assert len(re.findall(r"\bHashAggregate\b \(", plan)) == 2
    assert hash_exchange_count(out) == 1


def test_vector_percolate_is_map_only(spark, tmp_path):
    from elasticsearch_drift_plugin_spark.operators.similarity import (
        vector_percolate,
    )

    p = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(i % 7), 1.0] + [0.0] * 62) for i in range(20)],
        "vec_id long, embedding array<float>",
    ).write.parquet(p)
    out = vector_percolate(spark.read.parquet(p), ordered=False)
    plan = explain_str(out)
    # the alerting projection is pure map work: no exchange of any kind,
    # no Python — the property that makes the streaming twin stateless
    assert "Exchange" not in plan
    assert not has_python_eval(out)
    assert "ReadSchema" in plan


def test_phrase_suggest_joins_are_broadcast_only(spark):
    from elasticsearch_drift_plugin_spark.operators.search import phrase_suggest

    df = spark.createDataFrame(
        [(1, "big data wins"), (2, "big data")], "doc_id long, text string"
    )
    out = phrase_suggest(df, probe=("bg", "data"), max_edits=1)
    plan = explain_str(out)
    # the corpus-sized vocab and bigram tables are never shuffled against
    # the candidate spine: candidates and needed pair counts arrive via
    # bounded collects, so the scoring plan is a literal-backed local
    # relation with NO join of any kind (r14 restructure)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Join" not in plan
    assert "Scan parquet" not in plan and "FileScan" not in plan


def test_dsl_compounds_are_jvm_only_with_pushdown(spark, tmp_path):
    """r11 DSL tier: the compiled compound/query_string predicates are
    pure codegen (no Python), and the pushdown-eligible legs (numeric
    range, slice modulo's column scan) reach the parquet reader while the
    token-containment legs evaluate in the same filter stage."""
    from elasticsearch_drift_plugin_spark.functions.es_dsl import compile_query
    from elasticsearch_drift_plugin_spark.functions.es_search import run_search

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "alpha beta", "src1", 120, 5.0)],
        "doc_id long, text string, source string, n_chars long, value double",
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    qs = docs.where(compile_query({"query_string": {
        "query": "text:alpha AND n_chars:[100 TO 2000]",
    }}))
    assert not has_python_eval(qs)
    plan = explain_str(qs)
    assert "Exchange" not in plan
    # the range leg pushes; GreaterThanOrEqual/LessThanOrEqual on n_chars
    assert re.search(r"PushedFilters: \[.*n_chars.*\]", plan), plan

    mm = docs.where(compile_query({"multi_match": {
        "query": "alpha src1", "type": "cross_fields", "operator": "and",
        "fields": ["text", "source"],
    }}))
    assert not has_python_eval(mm)
    assert "Exchange" not in explain_str(mm)

    hits = run_search(docs, {
        "size": 10, "sort": [{"doc_id": "asc"}],
        "query": {"range": {"value": {"gte": 1}}},
        "slice": {"id": 0, "max": 4, "field": "doc_id"},
        "_source": {"includes": ["doc_id", "value"]},
    })["_hits"]
    assert not has_python_eval(hits)
    hplan = explain_str(hits)
    # the value range pushes to the scan; the slice pmod filters inline
    assert re.search(r"PushedFilters: \[.*value.*\]", hplan), hplan
    assert "pmod" in hplan
