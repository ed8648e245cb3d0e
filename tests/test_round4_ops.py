"""Round-4 session-3 operators: es_top_hits, corpus_bpe_pairs,
rel_interval_join, train_curriculum, emb_rp_project.

Each operator is oracle-paired in __spark_entry__; these tests pin the
semantics the oracle can't see (tie-breaks, NaN handling, overlap
membership, salt behavior, kernel math vs an independent numpy model).
"""

from __future__ import annotations

import math
from datetime import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from elasticsearch_drift_plugin_spark.operators import (
    corpus,
    es_metrics,
    relational,
    similarity,
    training,
)


def test_top_hits_rank_tiebreak_and_nan_skip(spark):
    rows = [
        Row(event_type="a", event_id=1, user_id=10, value=5.0),
        Row(event_type="a", event_id=2, user_id=11, value=9.0),
        # tie on value -> lower event_id ranks first
        Row(event_type="a", event_id=3, user_id=12, value=9.0),
        Row(event_type="a", event_id=4, user_id=13, value=float("nan")),
        Row(event_type="a", event_id=5, user_id=14, value=None),
        Row(event_type="b", event_id=6, user_id=15, value=1.5),
    ]
    out = es_metrics.top_hits_agg(spark.createDataFrame(rows), ["event_type"], size=2)
    got = [(r.event_type, r.rank, r.event_id, r.value_q) for r in out.collect()]
    assert got == [
        ("a", 1, 2, 9_000_000),
        ("a", 2, 3, 9_000_000),
        ("b", 1, 6, 1_500_000),
    ]


def test_bpe_pair_counts_weights_by_word_frequency(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="ab ab ba"), Row(doc_id=2, text="abc x")]
    )
    # words >=2 chars: ab(x2), ba(x1), abc(x1); pairs: ab:2+1, ba:1, bc:1
    got = [(r.pair, r.pair_count) for r in corpus.bpe_pair_counts(docs, k=10).collect()]
    assert got == [("ab", 3), ("ba", 1), ("bc", 1)]


def test_interval_join_overlap_membership_and_boundaries(spark):
    def ts(day, hour, minute=0):
        return datetime(2024, 1, day, hour, minute)

    rows = [
        Row(ts=ts(1, 0, 30), value=1.0),
        Row(ts=ts(1, 10), value=2.0),
        Row(ts=ts(1, 20), value=4.0),   # in BOTH windows (overlap region)
        Row(ts=ts(2, 1), value=8.0),    # in both
        Row(ts=ts(2, 12), value=16.0),
        Row(ts=ts(5, 0), value=32.0),   # day 5: 1 event, not a top-2 day
    ]
    out = relational.interval_join(spark.createDataFrame(rows), top_days=2)
    got = {r.window_key: (r.n_events, r.value_q) for r in out.collect()}
    jan1 = 1704067200000  # 2024-01-01T00:00Z
    jan2 = jan1 + 86_400_000
    # window(jan1)=[Dec31 18:00, Jan2 06:00): events 1,2,4 + 8 = 15
    # window(jan2)=[Jan1 18:00, Jan3 06:00): events 4 + 8 + 16 = 28
    assert got == {jan1: (4, 15_000_000), jan2: (3, 28_000_000)}


def test_curriculum_stage_thresholds_and_salt_stability(spark):
    # 8 docs whose quality score is driven by token count saturation
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["the"] * (10 * (i + 1)))) for i in range(8)]
    )
    out = training.curriculum_order(docs).collect()
    assert {r.stage for r in out} <= {1, 2, 3, 4}
    # stage must be monotone non-increasing in score (higher score -> earlier)
    by_score = sorted(out, key=lambda r: -r.score_q)
    stages = [r.stage for r in by_score]
    assert stages == sorted(stages)
    # best-quality docs land in stage 1
    assert by_score[0].stage == 1
    # salt reshuffles within stages but never moves a doc across stages
    alt = {r.doc_id: r for r in training.curriculum_order(docs, salt="other").collect()}
    assert all(alt[r.doc_id].stage == r.stage for r in out)
    assert any(alt[r.doc_id].shuf_q != r.shuf_q for r in out)


def test_rp_project_matches_numpy_model(spark):
    import numpy as np

    vecs = [
        Row(vec_id=1, embedding=[0.5 * math.sin(i) for i in range(64)]),
        Row(vec_id=2, embedding=[0.25 * (i % 7 - 3) for i in range(64)]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.rp_project(df)
    got = {(r.vec_id, r.dim): r.comp_q for r in out.collect()}
    signs = np.array(similarity._rp_signs(), dtype=np.float64)
    for row in vecs:
        x = np.array(row.embedding, dtype=np.float32).astype(np.float64)
        for j in range(8):
            expect = int(np.sum(np.floor(x * signs[j] * 1_000_000.0)))
            assert got[(row.vec_id, j + 1)] == expect
    # every vector projects to exactly 8 dims
    assert len(got) == 16


def test_terms_shard_error_bound_and_exact_degenerate(spark):
    # skewed terms: term t0 appears 40x, t1..t9 appear 2x each, t10..t29 1x
    rows = [Row(user_id=0)] * 40
    for t in range(1, 10):
        rows += [Row(user_id=t)] * 2
    rows += [Row(user_id=t) for t in range(10, 30)]
    df = spark.createDataFrame(rows)
    from elasticsearch_drift_plugin_spark.operators.es_aggs import terms_shard_error

    truth = {r.user_id: r.c for r in df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    out = terms_shard_error(df, n_shards=4, shard_size=3, size=10).collect()
    for r in out:
        # ES contract: reported count never exceeds truth, and
        # truth <= reported + error bound
        assert r.doc_count <= truth[r.key]
        assert truth[r.key] <= r.doc_count + r.err_ub
    # degenerate single shard: exact counts, zero error above the kth term
    exact = terms_shard_error(df, n_shards=1, shard_size=100, size=5).collect()
    assert all(r.doc_count == truth[r.key] and r.err_ub == 0 for r in exact)
    assert exact[0].key == 0 and exact[0].doc_count == 40


def test_weighted_sample_tilts_and_is_deterministic(spark):
    # two weight classes via doc length: long docs score higher
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="hi", text=" ".join(["the"] * 120)) for i in range(200)]
        + [Row(doc_id=1000 + i, source="lo", text="the cat") for i in range(200)]
    )
    from elasticsearch_drift_plugin_spark.operators.corpus import weighted_sample

    out = weighted_sample(docs, n=100).collect()
    assert len(out) == 100 and len({r.doc_id for r in out}) == 100
    hi = sum(1 for r in out if r.source == "hi")
    # equal pool sizes; heavier weights must dominate the sample
    assert hi > 60
    # same salt => identical committee; different salt => different draw
    again = weighted_sample(docs, n=100).collect()
    assert [r.doc_id for r in again] == [r.doc_id for r in out]
    other = weighted_sample(docs, n=100, salt="redraw").collect()
    assert {r.doc_id for r in other} != {r.doc_id for r in out}


def test_js_divergence_zero_identical_ln2_disjoint(spark):
    day = 86_400_000
    rows = []
    # day0 and day1: identical mixes -> JSD 0 at day1
    for d in (0, 1):
        rows += [Row(t_ms=d * day + 10, event_type="a")] * 6
        rows += [Row(t_ms=d * day + 20, event_type="b")] * 2
    # day2: disjoint from day1 -> JSD = ln 2
    rows += [Row(t_ms=2 * day + 30, event_type="c")] * 5
    from elasticsearch_drift_plugin_spark.operators.pipeline import js_divergence

    out = {r.day: r.jsd_q for r in js_divergence(
        spark.createDataFrame(rows)).collect()}
    assert out[day] == 0
    half_ln2_q = math.floor(0.5 * math.log(2.0) * 1e9)
    # three disjoint categories: a,b vanish, c appears; each side's mass
    # contributes 0.5·ln2 per unit -> total ln2 across the 3 matrix cells
    assert abs(out[2 * day] - 2 * half_ln2_q) <= 2


def test_containment_catches_subdocument_jaccard_misses(spark):
    from ngram_reference import run_twin

    from elasticsearch_drift_plugin_spark.operators.dedup import (
        CONTAINMENT_SQL,
        NGRAM_SQL,
        ngram_jaccard_pairs_gemm,
    )

    small = "abcdefghij"                      # 8 distinct 3-grams
    big = small + "klmnopqrstuvwxyz0123456789"  # superset, much larger
    rows = [(1, "s", small), (2, "s", big)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    cont = [tuple(r) for r in ngram_jaccard_pairs_gemm(
        docs, threshold=0.8, score="containment").collect()]
    assert cont == run_twin(rows, CONTAINMENT_SQL) == [(1, 2, 1_000_000)]
    # symmetric Jaccard dilutes the quoted doc below its 0.5 threshold
    assert ngram_jaccard_pairs_gemm(docs, threshold=0.5).collect() == []
    assert run_twin(rows, NGRAM_SQL) == []


def test_log_odds_surfaces_planted_foreground_term(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, lang="zh", text="zebra zebra common") for i in range(10)]
        + [Row(doc_id=100 + i, lang="en", text="common filler words here")
           for i in range(10)]
    )
    from elasticsearch_drift_plugin_spark.operators.corpus import log_odds_terms

    out = log_odds_terms(docs, fg_where="lang = 'zh'", k=3).collect()
    assert out[0].term == "zebra" and out[0].y_fg == 20 and out[0].y_bg == 0
    assert out[0].z_mq > 0
    # scores must be non-increasing down the ranking
    assert [r.z_mq for r in out] == sorted((r.z_mq for r in out), reverse=True)


def test_has_child_counts_parents_and_children(spark):
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_orderpriority="1-URGENT"),
         Row(o_orderkey=2, o_orderpriority="1-URGENT"),
         Row(o_orderkey=3, o_orderpriority="2-HIGH")]
    )
    li = spark.createDataFrame(
        [Row(l_orderkey=1, l_quantity=50.0),   # matches
         Row(l_orderkey=1, l_quantity=49.0),   # matches (>=45)
         Row(l_orderkey=2, l_quantity=10.0),   # no match
         Row(l_orderkey=3, l_quantity=45.0)]   # matches
    )
    from elasticsearch_drift_plugin_spark.operators.relational import has_child_agg

    got = {r.o_orderpriority: (r.n_parents, r.n_children, r.max_child_q1000)
           for r in has_child_agg(orders, li).collect()}
    assert got == {"1-URGENT": (1, 2, 50_000), "2-HIGH": (1, 1, 45_000)}


def test_holt_forecast_matches_recurrence_model(spark):
    rows = [Row(g="a", key=i, value=v) for i, v in enumerate([4.0, 8.0])]
    rows += [Row(g="b", key=i, value=float(v))
             for i, v in enumerate([3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0])]
    rows += [Row(g="c", key=0, value=7.0)]  # single bucket: level=x, trend=0
    from elasticsearch_drift_plugin_spark.operators.pipeline import holt_forecast

    out = {r.g: r for r in holt_forecast(
        spark.createDataFrame(rows), group_by=("g",), quantize=0).collect()}
    # hand-computed: s=0.5*8+0.5*4=6, b=0.5*(6-4)+0=1 -> fc 7,8,9
    assert (out["a"].level_mq, out["a"].trend_mq) == (6000, 1000)
    assert (out["a"].fc1_mq, out["a"].fc2_mq, out["a"].fc3_mq) == (7000, 8000, 9000)
    assert (out["c"].level_mq, out["c"].trend_mq) == (7000, 0)
    # python model for the longer series
    xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0]
    s, b = xs[0], 0.0
    for x in xs[1:]:
        s2 = 0.5 * x + 0.5 * (s + b)
        b = 0.5 * (s2 - s) + 0.5 * b
        s = s2
    assert out["b"].level_mq == math.floor(s * 1000)
    assert out["b"].trend_mq == math.floor(b * 1000)
    assert out["b"].n_buckets == 7


def test_stream_js_divergence_equals_batch(spark):
    from elasticsearch_drift_plugin_spark.operators.pipeline import js_divergence
    from elasticsearch_drift_plugin_spark.sources.flows import load_table, ts_ms_col
    from elasticsearch_drift_plugin_spark.streaming.bounded import stream_js_divergence

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    batch = js_divergence(
        ev.select(ts_ms_col(ev).alias("t_ms"), "event_type")
    ).collect()
    stream = stream_js_divergence(spark, sf).collect()
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))
    assert len(batch) > 0


def test_rrf_fusion_window_and_exact_scores(spark):
    # values rank: 1,2,3,4,5 by value desc; recency rank: 5,4,3,2,1
    rows = [Row(event_id=i, ts=datetime(2024, 1, 1, i), value=float(10 - i))
            for i in range(1, 6)]
    from elasticsearch_drift_plugin_spark.operators.es_metrics import rrf_fusion

    out = rrf_fusion(spark.createDataFrame(rows), window=3, k=60, size=10).collect()
    got = {r.event_id: (r.rank_value, r.rank_recency, r.score_q) for r in out}
    E = 10**12
    # id 1: value-rank 1, outside recency window (rank by ts desc: 5,4,3)
    assert got[1] == (1, None, E // 61)
    # id 3: in both windows (value-rank 3, recency-rank 3)
    assert got[3] == (3, 3, E // 63 + E // 63)
    # id 5: recency-rank 1 only
    assert got[5] == (None, 1, E // 61)
    # fused ordering: doc in both windows beats single-window docs here
    assert out[0].event_id == 3


def test_zipf_slope_near_minus_one_on_zipfian_counts(spark):
    # term_i repeated round(600/i) times -> frequencies follow 1/r
    words = []
    for i in range(1, 51):
        words += [f"w{i:03d}"] * max(round(600 / i), 1)
    docs = spark.createDataFrame([Row(doc_id=1, text=" ".join(words))])
    from elasticsearch_drift_plugin_spark.operators.corpus import zipf_slope

    row = zipf_slope(docs, top_n=50).collect()[0]
    assert row.n_terms == 50
    assert -1100 <= row.slope_mq <= -900
    # uniform frequencies -> flat log-log line -> slope 0
    uni = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(3 * [f"u{i}" for i in range(1, 41)]))]
    )
    assert zipf_slope(uni, top_n=40).collect()[0].slope_mq == 0


def test_pagerank_hub_ordering_conservation_determinism(spark, monkeypatch):
    from elasticsearch_drift_plugin_spark.operators import components
    from elasticsearch_drift_plugin_spark.operators.components import pagerank

    # star: 0 is the hub; plus a detached symmetric pair 10-11
    edges = spark.createDataFrame(
        [Row(u=0, v=i) for i in range(1, 6)] + [Row(u=10, v=11)]
    )
    out = pagerank(edges, n_iter=8).collect()
    ranks = {r.node: r.rank_q for r in out}
    # hub dominates its leaves
    assert all(ranks[0] > ranks[i] for i in range(1, 6))
    # leaves are symmetric -> identical quanta
    assert len({ranks[i] for i in range(1, 6)}) == 1
    # detached pair symmetric
    assert ranks[10] == ranks[11]
    # mass conservation: total stays within the dropped sub-quantum budget
    # (each node drops < deg quanta per round; damping keeps it tiny)
    total = sum(ranks.values())
    n, q = 8, 1_000_000_000
    assert n * q * 0.999 <= total <= n * q
    # bit-identical across runs (integer fixpoint, no float accumulation)
    again = {r.node: r.rank_q for r in pagerank(edges, n_iter=8).collect()}
    assert again == ranks
    # the driver fast path (default here) and the distributed loop
    # (forced via MAX_DRIVER_EDGES=0) are the same integer recurrence —
    # bit-identical fixpoints
    monkeypatch.setattr(components, "MAX_DRIVER_EDGES", 0)
    dist = {r.node: r.rank_q for r in pagerank(edges, n_iter=8).collect()}
    assert dist == ranks


def test_containment_gemm_matches_postings_kernel(spark):
    """The GEMM containment mode against its twin, whose gram self-join is
    the postings formulation, on the driver's sf0.001 corpus."""
    from ngram_reference import run_twin

    from elasticsearch_drift_plugin_spark.operators.dedup import (
        CONTAINMENT_SQL,
        ngram_jaccard_pairs_gemm,
    )
    from elasticsearch_drift_plugin_spark.sources.flows import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = [tuple(r) for r in docs.select("doc_id", "source", "text").collect()]
    want = run_twin(rows, CONTAINMENT_SQL)
    got = ngram_jaccard_pairs_gemm(docs, threshold=0.8, score="containment").collect()
    assert [tuple(r) for r in got] == want
    assert len(want) > 0


def test_geo_polygon_ray_cast_known_points(spark):
    from elasticsearch_drift_plugin_spark.operators.geo import _ray_cast_expr

    # unit square (0,0)-(10,0)-(10,10)-(0,10) in degrees
    square = ((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))
    pts = [
        (5_000_000, 5_000_000, True),     # center
        (15_000_000, 5_000_000, False),   # right of square
        (-1, 5_000_000, False),           # just left
        (5_000_000, 10_000_001, False),   # just above
        (9_999_999, 9_999_999, True),     # inside near corner
    ]
    df = spark.createDataFrame(
        [Row(px=x, py=y, want=w) for x, y, w in pts]
    )
    got = df.select(
        "want", F.expr(_ray_cast_expr("px", "py", square)).alias("inside")
    ).collect()
    assert all(r.inside == r.want for r in got)


def test_hard_bounds_clips_fill_and_drops_outside_buckets(spark):
    from elasticsearch_drift_plugin_spark import proportional_sum

    day = 86_400_000
    flows = spark.createDataFrame(
        [
            # data on day 1 and day 9; fill would span the whole gap
            (1 * day, 1 * day + 1000, 10.0, None),
            (9 * day, 9 * day + 1000, 20.0, None),
        ],
        "start_ms long, end_ms long, value double, sampling double",
    )
    full = proportional_sum(
        flows, "start_ms", "end_ms", "value", "sampling",
        interval=day, min_doc_count=0,
    ).collect()
    assert len(full) == 9  # days 1..9 inclusive, zero-filled
    hard = proportional_sum(
        flows, "start_ms", "end_ms", "value", "sampling",
        interval=day, min_doc_count=0,
        hard_bounds=(3 * day, 6 * day + 1),  # rounds to keys day3..day6
    ).collect()
    # fill clipped to the hard range; BOTH data buckets dropped (outside)
    assert [r.key for r in hard] == [3 * day, 4 * day, 5 * day, 6 * day]
    assert all(r.doc_count == 0 and r.value == 0.0 for r in hard)
    # reversed bounds rejected at build time
    import pytest

    with pytest.raises(ValueError):
        proportional_sum(
            flows, "start_ms", "end_ms", "value", "sampling",
            interval=day, hard_bounds=(6 * day, 3 * day),
        )


def test_lsh_recall_eval_bounds_and_edge_cases(spark):
    from elasticsearch_drift_plugin_spark.operators.dedup import lsh_recall_eval

    # identical docs: one true pair, banding must find it
    same = spark.createDataFrame(
        [Row(doc_id=i, source="s", text="alpha beta gamma delta epsilon zeta")
         for i in (1, 2)]
    )
    r = lsh_recall_eval(same).collect()[0]
    assert (r.n_true, r.n_hit, r.recall_q) == (1, 1, 1_000_000)
    assert r.n_hit <= r.n_band_pairs
    # fully disjoint docs: zero everywhere, no division error
    disj = spark.createDataFrame(
        [Row(doc_id=1, source="s", text="aa bb cc dd ee"),
         Row(doc_id=2, source="s", text="ff gg hh ii jj")]
    )
    r2 = lsh_recall_eval(disj).collect()[0]
    assert (r2.n_true, r2.n_band_pairs, r2.n_hit, r2.recall_q) == (0, 0, 0, 0)


def test_check_expectations_rules_and_tolerance(spark):
    from elasticsearch_drift_plugin_spark.operators.quality import check_expectations

    df = spark.createDataFrame(
        [
            Row(id=1, v=5.0, cat="a"),
            Row(id=1, v=float("nan"), cat="b"),   # dup id + NaN
            Row(id=2, v=None, cat="zzz"),         # null v + out-of-set cat
            Row(id=3, v=99.0, cat="a"),           # out of range
        ]
    )
    rules = [
        {"rule": "unique", "col": "id"},
        {"rule": "valid_number", "col": "v"},
        {"rule": "in_range", "col": "v", "lo": 0, "hi": 10},
        {"rule": "in_set", "col": "cat", "allowed": ["a", "b"]},
    ]
    got = {(r.rule, r.col): r for r in check_expectations(df, rules).collect()}
    assert got[("unique", "id")].n_bad == 1
    assert got[("valid_number", "v")].n_bad == 2      # NaN + NULL
    assert got[("in_range", "v")].n_bad == 1          # 99 only
    assert got[("in_set", "cat")].n_bad == 1          # zzz
    assert all(not r.passed for r in got.values())    # tolerance_q=0
    # 50% tolerance: every rule passes (worst frac is 2/4)
    tol = {(r.rule, r.col): r.passed
           for r in check_expectations(df, rules, tolerance_q=500_000).collect()}
    assert all(tol.values())


def test_percolate_rule_matching_and_zero_fill(spark):
    from elasticsearch_drift_plugin_spark.operators.search import percolate

    events = spark.createDataFrame(
        [Row(event_type="error", user_id=5, value=2.0),
         Row(event_type="purchase", user_id=6, value=150.0),
         Row(event_type="purchase", user_id=7, value=50.0)]
    )
    rules = ((1, "event_type = 'error'"),
             (2, "event_type = 'purchase' AND value >= 100"),
             (3, "value > 1000"))
    got = {r.rule_id: (r.n_matches, r.value_q) for r in percolate(events, rules).collect()}
    assert got == {1: (1, 2_000_000), 2: (1, 150_000_000), 3: (0, 0)}


def test_more_like_this_finds_planted_twin(spark):
    from elasticsearch_drift_plugin_spark.operators.search import more_like_this

    docs = spark.createDataFrame(
        [Row(doc_id=7, text="quantum flux capacitor resonance chamber"),
         Row(doc_id=8, text="quantum flux capacitor resonance chamber extra"),
         Row(doc_id=9, text="completely different words here entirely"),
         Row(doc_id=10, text="quantum of filler filler filler")]
    )
    out = more_like_this(docs, seed_doc_id=7, n_terms=5, size=3).collect()
    assert out[0].doc_id == 8 and out[0].n_shared == 5
    # the seed is excluded; the unrelated doc never appears
    ids = [r.doc_id for r in out]
    assert 7 not in ids and 9 not in ids


def test_intervals_near_distance_semantics(spark):
    from elasticsearch_drift_plugin_spark.operators.search import intervals_near

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="spark x y table"),        # dist 3 -> match
         Row(doc_id=2, text="spark a b c d table"),    # dist 5 -> no
         Row(doc_id=3, text="table spark"),            # dist 1, unordered
         Row(doc_id=4, text="spark spark table")]      # pairs: d2+d1
    )
    got = {r.doc_id: (r.min_dist, r.n_pairs)
           for r in intervals_near(docs, "spark", "table", max_gap=3).collect()}
    assert got == {1: (3, 1), 3: (1, 1), 4: (1, 2)}


def test_term_suggest_ranks_by_distance_then_frequency(spark):
    from elasticsearch_drift_plugin_spark.operators.search import term_suggest

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="table table table cable fable"),
         Row(doc_id=2, text="cable stable")]
    )
    out = term_suggest(docs, probes=("tble",), max_edits=2, size=4).collect()
    ranked = [(r.suggestion, r.dist) for r in out]
    # dist asc first; among dist ties, higher corpus freq wins, then term
    assert ranked[0] == ("table", 1)
    assert ranked[1] == ("cable", 2)  # freq 2 beats fable (1)
    assert ranked[2] == ("fable", 2)
    assert all(r.dist <= 2 for r in out)


def test_hash_embed_routing_and_sign_model(spark):
    """The featurizer must match an independent python model of the same
    md5 route/sign arithmetic."""
    import hashlib
    import math

    from elasticsearch_drift_plugin_spark.operators.text import hash_embed

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta beta"), Row(doc_id=2, text="alpha gamma")]
    )
    got = {(r.doc_id, r.dim): r.comp_q for r in hash_embed(docs, dims=8).collect()}

    def h60(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16)

    def idf_q(df):
        return math.floor(math.log((2 + 1.0) / (df + 1.0)) * 1_000_000)

    tf = {1: {"alpha": 1, "beta": 2}, 2: {"alpha": 1, "gamma": 1}}
    dfreq = {"alpha": 2, "beta": 1, "gamma": 1}
    want = {}
    for d, terms in tf.items():
        for t, f in terms.items():
            h = h60(t)
            dim = h % 8
            sign = 1 - 2 * ((h // 8) % 2)
            want[(d, dim)] = want.get((d, dim), 0) + sign * f * idf_q(dfreq[t])
    want = {k: v for k, v in want.items()}
    assert got == want


def test_terms_shard_error_bound_property(spark):
    """Property over random skew: for EVERY reported term the ES contract
    holds (reported <= truth <= reported + bound), across shard counts."""
    import random

    from elasticsearch_drift_plugin_spark.operators.es_aggs import terms_shard_error

    rng = random.Random(42)
    rows = []
    for t in range(40):
        rows += [Row(user_id=t)] * rng.randint(1, 30)
    df = spark.createDataFrame(rows)
    truth = {r.user_id: r.c for r in df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    for n_shards, shard_size in ((2, 3), (4, 5), (8, 2)):
        out = terms_shard_error(df, n_shards=n_shards, shard_size=shard_size,
                                size=15).collect()
        assert out, (n_shards, shard_size)
        for r in out:
            assert r.doc_count <= truth[r.key]
            assert truth[r.key] <= r.doc_count + r.err_ub
            assert r.err_ub >= 0


def test_pq_codes_self_encoding_and_ranges(spark):
    import math

    from elasticsearch_drift_plugin_spark.operators.similarity import pq_codes

    vecs = [
        Row(vec_id=i, embedding=[math.sin(i * 64 + d) for d in range(64)])
        for i in range(20)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = pq_codes(df).collect()
    # 8 codes per vector, codes in [0, 16), subspaces 0..7
    assert len(out) == 20 * 8
    assert all(0 <= r.code < 16 and 0 <= r.subspace < 8 for r in out)
    # codebook vectors encode as THEMSELVES with zero distance
    for r in out:
        if r.vec_id < 16:
            assert r.code == r.vec_id and r.dist_q == 0
        else:
            assert r.dist_q >= 0


def test_pq_topk_adc_finds_planted_neighbor(spark):
    import math

    from elasticsearch_drift_plugin_spark.operators.similarity import pq_topk

    # 16 codebook seeds + a planted near-identical pair (100, 101)
    vecs = [
        Row(vec_id=i, embedding=[math.sin(i * 64 + d) for d in range(64)])
        for i in range(16)
    ]
    base = [math.cos(d * 0.1) for d in range(64)]
    vecs.append(Row(vec_id=100, embedding=base))
    vecs.append(Row(vec_id=101, embedding=[x + 0.001 for x in base]))
    vecs.append(Row(vec_id=102, embedding=[-x for x in base]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = pq_topk(df, df.where("vec_id = 100"), k=20).collect()
    # ADC over identical codes => the twin ranks first with the minimal
    # asymmetric distance; the inverted vector scores far worse
    assert out[0].query_id == 100 and out[0].neighbor_id == 101
    dist = {r.neighbor_id: r.adist_q for r in out}
    assert dist[102] > dist[101]
    assert all(r.adist_q >= 0 for r in out)


def test_pq_rerank_recovers_exact_top1(spark):
    import math

    from elasticsearch_drift_plugin_spark.operators.similarity import (
        cosine_topk,
        pq_rerank_topk,
    )

    vecs = [
        Row(vec_id=i, embedding=[math.sin(i * 64 + d) for d in range(64)])
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.where("vec_id IN (20, 30)")
    exact = {r.query_id: r.neighbor_id
             for r in cosine_topk(df, q, k=1, brute_force=True).collect()}
    staged = {r.query_id: r.neighbor_id
              for r in pq_rerank_topk(df, q, k=1, shortlist=20).collect()}
    # with a 50% shortlist the true best neighbor survives stage 1 and the
    # exact rerank restores the brute-force answer
    assert staged == exact


def test_bfd_packing_invariants_and_quality(spark):
    import math

    from elasticsearch_drift_plugin_spark.operators.training import (
        pack_sequences,
        pack_sequences_bfd,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 2}",
             text=" ".join(["w"] * (17 + (i * 37) % 120)))
         for i in range(40)]
    )
    cap = 256
    bfd = pack_sequences_bfd(docs, capacity=cap).collect()
    nf = pack_sequences(docs, capacity=cap).collect()
    assert {r.doc_id for r in bfd} == {r.doc_id for r in nf}  # nothing lost
    # capacity respected per (group, seq)
    fill: dict = {}
    for r in bfd:
        fill[(r.group, r.seq_no)] = fill.get((r.group, r.seq_no), 0) + r.n_tokens
        assert r.seq_offset + r.n_tokens <= cap
    assert all(v <= cap for v in fill.values())
    # quality: never more sequences than next-fit; >= the volume bound
    for g in ("s0", "s1"):
        n_bfd = len({r.seq_no for r in bfd if r.group == g})
        n_nf = len({r.seq_no for r in nf if r.group == g})
        total = sum(r.n_tokens for r in bfd if r.group == g)
        assert math.ceil(total / cap) <= n_bfd <= n_nf


def test_negative_samples_determinism_and_stability(spark):
    from elasticsearch_drift_plugin_spark.operators.training import negative_samples

    docs = spark.createDataFrame([Row(doc_id=i, text="x") for i in range(60)])
    out = negative_samples(docs, k=4).collect()
    # never self-paired; at most k per doc; deterministic
    assert all(r.neg_id != r.doc_id for r in out)
    per_doc: dict = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.neg_rank)
    assert all(len(v) <= 4 for v in per_doc.values())
    again = negative_samples(docs, k=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    # content stability: adding docs leaves most existing pairs intact
    more = spark.createDataFrame(
        [Row(doc_id=i, text="x") for i in range(70)]
    )
    grown = {(r.doc_id, r.neg_rank): r.neg_id
             for r in negative_samples(more, k=4).collect() if r.doc_id < 60}
    base = {(r.doc_id, r.neg_rank): r.neg_id for r in out}
    same = sum(1 for key in base if grown.get(key) == base[key])
    assert same >= len(base) * 0.5  # only perturbed buckets change


def test_lsh_recall_eval_guards_quadratic_truth(spark):
    import pytest

    from elasticsearch_drift_plugin_spark.operators.dedup import lsh_recall_eval

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="s", text="a b c d") for i in range(50)]
    )
    with pytest.raises(ValueError, match="max_eval_docs"):
        lsh_recall_eval(docs, max_eval_docs=10)


def test_shard_by_tokens_balances_budgets(spark):
    from elasticsearch_drift_plugin_spark.operators.training import shard_by_tokens

    # all the big docs share the same id-residue: naive doc_id%4 sharding
    # piles every 500-token doc onto shard 0; rank-round-robin deals them out
    lens = {i: (500 if i % 4 == 0 else 10) for i in range(40)}
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["w"] * lens[i])) for i in range(40)]
    )
    out = shard_by_tokens(docs, n_shards=4).collect()
    tokens = [r.tokens for r in out]
    assert len(out) == 4 and sum(r.n_docs for r in out) == 40
    # one maximal doc bounds the spread; the naive split is ~16x skewed
    assert max(tokens) - min(tokens) <= 500
    naive: dict = {}
    for i, n in lens.items():
        naive[i % 4] = naive.get(i % 4, 0) + n
    assert (max(tokens) - min(tokens)) < (max(naive.values()) - min(naive.values()))
