"""sf1 soak: one decade beyond the largest driver-provided testdata.

Materializes ~sf1 tables (10× sf0.1) under ``.soak/sf1`` by replicating
the driver's sf0.1 parquet with key shifts — a VOLUME soak for the memory
envelope, not a correctness fixture (the oracle gate stays on driver data):

- ``lineitem``: 10 verbatim copies (the psum flagship aggregates ranges —
  replication multiplies doc_counts/values, never bucket cardinality);
- ``documents``: doc_ids shifted per replica and every word suffixed with
  the replica tag, so replicas are fully DISTINCT texts — corpus 10×
  bigger with the same intra-replica duplicate structure (dedup/minhash
  output scales exactly 10×, keeping wall-time comparable);
- ``embeddings``: ids shifted, vectors verbatim (cells get uniformly 10×
  denser — the IVF stress case).

Then runs the four flagship queries against the soak dir and prints one
JSON line with per-query seconds. Usage::

    python tools/soak_sf1.py [--rebuild]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".soak/sf1")
REPLICAS = 10

FLAGSHIPS = (
    "psum_day_lineitem",
    "dedup_minhash_pairs",
    "train_curate_pipeline",
    "ann_knn_cells",
    # round-6: the exact knn serving tier and the one-shuffle data card
    "es_search_knn",
    "corpus_manifest",
    # events at sf1 (1M rows): the core psum grid and the collapse page
    "psum_fixed_1h",
    "es_search_collapse",
    # round-7 (VERDICT r6 item 7): the sf0.1 weak-set heavies — the
    # queries where the small-scale bench says least — plus the indexed
    # knn tier (probe cost must stay ~flat as the corpus grows: only
    # nprobe/n_centroids of it is read)
    "dedup_semantic",
    "es_search_ip_range",
    "graph_pagerank",
    "es_search_knn_indexed",
    # round-10 (VERDICT r9 item: sf1 soak of the r8/r9 newcomers): the
    # DSIR pair (hashed n-gram models + Gumbel top-k) and the trained
    # quality gate (MAX_CLF_TRAIN_DOCS guard NOT tripped at 5k docs/replica
    # × 10 = 50k < 1e5; at the next decade the train-on-hash_sample recipe
    # applies)
    "corpus_dsir_weights",
    "corpus_dsir_sample",
    "corpus_quality_clf",
    "train_curate_clf",
    # round-10 newcomers: the two-data-pass terms-child fills, the
    # sampled clf serving path, the N-field matrix (one agg pass), the
    # calendar first-seen fold, and the streaming first-seen twin
    "es_search_body4",
    "es_search_hist_fill_terms",
    "es_search_dh_fill_terms",
    "corpus_quality_clf_sampled",
    "es_matrix_stats_multi",
    "es_search_cumcard_cal",
    "stream_new_users",
    # round-11 second pass: the zone-aware first-seen fold, the compound
    # and Lucene DSL tiers (token-containment filters over the 10×
    # corpus — no pushdown by nature, the scan-bound case), and the
    # sliced-export scan (the slice predicate must prune scan output,
    # keeping per-slice cost ~1/max of the full page)
    "es_search_cumcard_cal_tz",
    "es_dsl_multi_match",
    "es_dsl_compound",
    "es_dsl_query_string",
    "es_search_slice",
    # round-12 (VERDICT r11 item 8 + newcomers): the WindowGroupLimit
    # domain cap, the calibration bins over the memoized clf, the nested
    # at-rest array<struct> query, the parent/child JOIN query kinds
    # (orders now replicated with lineitem-aligned key shifts), and the
    # zone-shifted fixed cumcard fold
    "corpus_domain_cap",
    "corpus_clf_calibration",
    "es_dsl_nested",
    "es_dsl_has_child",
    "es_dsl_has_parent",
    "pipe_cumcard_fixed_tz",
    # round-13 (VERDICT r12 item 5 + newcomer): the three r12
    # compiler-route registrations that lacked soak rows — zero-shuffle
    # geo TakeOrdered, the zone-resolved date_range, the has_child
    # inner_hits window pass — plus the duration-row zone-shifted fixed
    # grid
    "es_search_geo_sort",
    "es_search_date_range_tz",
    "es_search_has_child_inner",
    "psum_fixed_tz",
    # round-13 second pass: the span HOF predicate over the 10× corpus
    # (scan-bound by nature, like the DSL tiers), the knn frontier
    # marker (TakeOrdered must stay flat-ish), the parent-join agg
    # switch (semi-join on the replicated orderkey), the ES 8.18
    # linear fusion (window-sized stats), the coordinator-GET terms
    # lookup, the tsid hash agg, and the ratings-join rank metric
    "es_dsl_span_near",
    "es_dsl_knn_query",
    "es_search_children_agg",
    "es_search_linear_retr",
    "es_dsl_terms_lookup",
    "es_time_series",
    "es_rank_eval",
    # round-14: the directional GEMM kernel at a scale where the hot
    # source block (~5k docs) EXCEEDS MAX_BLOCK_ROWS=4096, so the
    # cross-sub-block pair path actually engages (nb=2 — the 100 TB
    # shape, untested below sf1); the chunk-compiled batch percolate
    # over the 10x event stream; and the estimator-audit twins whose
    # exact sides are the corpus-pass cost to watch at volume
    "dedup_containment_dir",
    "es_percolate_batch",
    "es_cardinality_tol",
    "stats_quantiles_kll_rank",
    "corpus_bpe_bounds",
    "emb_kmeans_recall",
)


def build(spark):
    os.makedirs(DST, exist_ok=True)

    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    li_max = li.agg(F.max("l_orderkey")).collect()[0][0]
    out = None
    for i in range(REPLICAS):
        rep = li.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * (li_max + 1))
        )
        out = rep if out is None else out.unionByName(rep)
    out.write.mode("overwrite").parquet(f"{DST}/lineitem.parquet")

    # orders: o_orderkey shifted by the SAME per-replica constant as
    # lineitem's l_orderkey, so the parent/child join stays aligned
    # (r12: es_dsl_nested / has_child / has_parent soak over 10× both
    # sides of the join)
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    out = None
    for i in range(REPLICAS):
        rep = orders.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(i * (li_max + 1))
        )
        out = rep if out is None else out.unionByName(rep)
    out.write.mode("overwrite").parquet(f"{DST}/orders.parquet")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    d_max = docs.agg(F.max("doc_id")).collect()[0][0]
    out = None
    for i in range(REPLICAS):
        rep = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * (d_max + 1)))
        if i:  # replica 0 stays verbatim; others become distinct texts
            rep = rep.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"$1{i}")
            )
        out = rep if out is None else out.unionByName(rep)
    out.write.mode("overwrite").parquet(f"{DST}/documents.parquet")

    # events: event_ids shifted per replica, timestamps verbatim — the
    # psum/serving stress case is 10x the docs per bucket, same grid
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    ev_max = ev.agg(F.max("event_id")).collect()[0][0]
    out = None
    for i in range(REPLICAS):
        rep = ev.withColumn(
            "event_id", F.col("event_id") + F.lit(i * (ev_max + 1))
        )
        out = rep if out is None else out.unionByName(rep)
    out.write.mode("overwrite").parquet(f"{DST}/events.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    id_col = emb.columns[0]
    e_max = emb.agg(F.max(id_col)).collect()[0][0]
    out = None
    for i in range(REPLICAS):
        rep = emb.withColumn(id_col, F.col(id_col) + F.lit(i * (e_max + 1)))
        out = rep if out is None else out.unionByName(rep)
    out.write.mode("overwrite").parquet(f"{DST}/embeddings.parquet")


def main():
    from elasticsearch_drift_plugin_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("soak-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    if ("--rebuild" in sys.argv
            or not os.path.exists(f"{DST}/lineitem.parquet")
            or not os.path.exists(f"{DST}/events.parquet")
            or not os.path.exists(f"{DST}/orders.parquet")):
        t0 = time.time()
        build(spark)
        print(f"# built {DST} in {time.time() - t0:.0f}s", file=sys.stderr)

    qs = entry.queries()
    timings, rows = {}, {}
    for name in FLAGSHIPS:
        t0 = time.time()
        n = qs[name](spark, DST).count()
        timings[name] = round(time.time() - t0, 2)
        rows[name] = n
        print(f"# {name}: {timings[name]}s, {n} rows", file=sys.stderr)

    # dedup_lsh_eval's truth side is quadratic and REFUSES > max_eval_docs
    # (20k) — at sf1 (50k docs) the documented recipe applies: evaluate
    # recall on a hash-sample. This is the guard working as designed, not
    # a bypass: the sampled run exercises the identical plan shape.
    from elasticsearch_drift_plugin_spark.operators.corpus import hash_sample
    from elasticsearch_drift_plugin_spark.operators.dedup import (
        lsh_recall_eval,
    )

    docs = spark.read.parquet(f"{DST}/documents.parquet")
    sample = hash_sample(docs, rate=0.3).localCheckpoint(eager=True)
    t0 = time.time()
    n = lsh_recall_eval(sample).count()
    timings["dedup_lsh_eval_sampled"] = round(time.time() - t0, 2)
    rows["dedup_lsh_eval_sampled"] = n
    print(f"# dedup_lsh_eval_sampled: {timings['dedup_lsh_eval_sampled']}s,"
          f" {n} rows", file=sys.stderr)
    print(json.dumps({
        "metric": "soak_sf1_total_sec",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": timings,
        "rows": rows,
        "sf": 1,
    }))


if __name__ == "__main__":
    main()
