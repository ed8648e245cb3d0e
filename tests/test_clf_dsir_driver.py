"""The classifier's driver-side GD kernel and DSIR's folded fit.

1. Edge inputs: ``quality_clf``, ``quality_clf_sampled`` and
   ``dsir_weights`` on an empty frame, all-target docs, no-target docs, a
   NULL ``source`` and whitespace-only text, pinned to the values of the
   distributed GD loop and the two-pass DSIR fit they replaced.
2. The driver kernel ``_clf_gd_local`` returns exactly the weight map of
   the distributed loop ``_clf_gd`` on the same pinned features, including
   inputs whose margins reach both clip ends of the hard-sigmoid, and the
   frozen-weight scoring gives the driver scoring's rows for them.
3. A memo hit scores on the driver, with the first call's rows.
4. Where an int64 sum of the kernel could wrap, it declines, and the
   routed train falls back to the distributed loop, where ANSI mode raises.
"""

from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pytest

from elasticsearch_drift_plugin_spark.operators import corpus

SCHEMA = "doc_id long, text string, source string"

EDGE = {
    "empty": [],
    "all_target": [
        (1, "the cat sat on the mat", "src0"),
        (2, "a dog ran far away", "src0"),
        (3, "cats and dogs", "src0"),
    ],
    "no_target": [
        (1, "the cat sat on the mat", "src1"),
        (2, "a dog ran far away", "src2"),
        (3, "cats and dogs", "src1"),
    ],
    "null_source": [
        (1, "the cat sat on the mat", None),
        (2, "a dog ran far away", "src0"),
        (3, "cats and dogs play", "src1"),
    ],
    "whitespace": [
        (1, "   ", "src0"),
        (2, "", "src1"),
        (3, "the cat sat", "src1"),
        (4, "  ", "src0"),
        (5, "a dog  ran", "src0"),
    ],
}

PINNED = {
    "empty": {"quality_clf": [], "quality_clf_sampled": [], "dsir_weights": []},
    "all_target": {
        "quality_clf": [(1, 1, 543985), (2, 1, 534883), (3, 1, 528727)],
        "quality_clf_sampled": [(1, 1, 518849), (2, 1, 564128), (3, 1, 518849)],
        "dsir_weights": [],
    },
    "no_target": {
        "quality_clf": [(1, 0, 456013), (2, 0, 465117), (3, 0, 471272)],
        "quality_clf_sampled": [(1, 0, 481152), (2, 0, 435871), (3, 0, 481152)],
        "dsir_weights": [(1, 11, -8402030), (2, 9, -6210900), (3, 5, -3450500)],
    },
    "null_source": {
        "quality_clf": [(1, 0, 468663), (2, 1, 509459), (3, 0, 480978)],
        "quality_clf_sampled": [(1, 0, 518849), (2, 1, 564128), (3, 0, 518849)],
        "dsir_weights": [(3, 7, -4853737)],
    },
    "whitespace": {
        "quality_clf": [
            (1, 1, 503932), (2, 0, 503932), (3, 0, 489580), (4, 1, 503932),
            (5, 1, 518182),
        ],
        "quality_clf_sampled": [
            (1, 1, 480347), (2, 0, 480347), (3, 0, 480347), (4, 1, 480347),
            (5, 1, 480347),
        ],
        "dsir_weights": [(2, 0, None), (3, 5, -3465735)],
    },
}


@pytest.mark.parametrize("case", sorted(EDGE))
def test_edge_inputs_keep_their_outputs(spark, case):
    docs = spark.createDataFrame(EDGE[case], SCHEMA)
    got = {
        "quality_clf": corpus.quality_clf(docs),
        "quality_clf_sampled": corpus.quality_clf_sampled(docs),
        "dsir_weights": corpus.dsir_weights(docs),
    }
    for op, want in PINNED[case].items():
        assert [tuple(r) for r in got[op].collect()] == want, f"{case}: {op}"
    assert got["quality_clf"].columns == ["doc_id", "y", "clf_q"]


VOCAB = "alpha beta gamma delta eps zeta eta theta iota kappa lambda mu".split()


def _random_docs(spark, seed: int):
    rng = random.Random(seed)
    rows = [
        (i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(0, 10))),
         rng.choice(["src0", "src1", "src2"]))
        for i in range(36)
    ]
    # a duplicated doc_id with both labels, and a NULL doc_id
    rows += [(3, "alpha alpha beta", "src0"), (None, "gamma delta", "src0")]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.mark.parametrize("seed", [11, 12])
def test_driver_kernel_matches_distributed_loop(spark, seed):
    dims = 16
    docs = _random_docs(spark, seed)
    n = docs.count()
    feats = corpus._clf_features(docs, dims, n).localCheckpoint(eager=True)
    labels = corpus._clf_labels(docs, "source = 'src0'")
    design = corpus._clf_design(feats, labels, dims)
    for n_iter, lr_num, lr_den in [(8, 1, 50), (5, 20, 1)]:
        want = corpus._clf_gd(feats, labels, n, dims, n_iter, lr_num, lr_den)
        got = corpus._clf_gd_local(design, n, dims, n_iter, lr_num, lr_den)
        assert got == want, (n_iter, lr_num, lr_den)
        # both scoring routes: one intercept per source row of a doc id,
        # and no row for the NULL doc id
        frozen = corpus._clf_score_frozen(docs, labels, got, dims, n).collect()
        local = corpus._clf_score_local(spark, design, got, labels).collect()
        assert Counter(map(tuple, frozen)) == Counter(map(tuple, local)), n_iter
    # the margins the large-step run trained on (iterations 0..n_iter-1)
    # pass both clip ends of the hard-sigmoid, negative margins included
    m = np.concatenate([
        corpus._clf_margins(design, list(w.values()))
        for w in (corpus._clf_gd_local(design, n, dims, t, lr_num, lr_den)
                  for t in range(n_iter))
    ])
    assert m.min() < -2 * 10**12 and m.max() > 2 * 10**12
    h = corpus._hardsig_np(m)
    assert h.min() == 0 and h.max() == corpus.QUANT


@pytest.mark.parametrize("seed", [11, 12])
def test_memo_hit_scores_on_the_driver(spark, monkeypatch, seed):
    """A second call on the same input reuses the trained weights and, under
    the training cap, scores them on the driver: no train, no fused
    frozen-weight pass, and the rows of the first call, including those of
    the duplicated and the NULL doc id."""
    from elasticsearch_drift_plugin_spark import memo

    memo.clear("clf_weights")
    docs = _random_docs(spark, seed)
    fresh = [tuple(r) for r in corpus.quality_clf(docs, dims=16).collect()]

    def refuse(*a, **k):
        raise AssertionError("memo hit left the driver route")

    monkeypatch.setattr(corpus, "_clf_train", refuse)
    monkeypatch.setattr(corpus, "_clf_score_frozen", refuse)
    assert [tuple(r) for r in corpus.quality_clf(docs, dims=16).collect()] == fresh


def test_driver_kernel_declines_where_int64_could_wrap(spark):
    rows = 6
    feats = spark.createDataFrame(
        [(i, 0, 4 * 10**12) for i in range(rows)]
        + [(i, -1, corpus.QUANT) for i in range(rows)],
        "doc_id long, dim long, comp_q long",
    )
    labels = spark.createDataFrame([(i, 0) for i in range(rows)], "doc_id long, y long")
    design = corpus._clf_design(feats, labels, 4)
    # the first gradient, computed in int64, wraps silently; with this
    # step size the wrapped weights would stay small enough that no margin
    # check could notice, so only the gradient bound stands in the way
    r = np.full(rows, 500_000, np.int64)
    assert int((design["X"].T @ r)[1]) != rows * 4 * 10**12 * 500_000
    lr_den = 10**9
    assert corpus._clf_gd_local(design, rows, 4, 8, 1, lr_den) is None
    # routed, the train goes to the distributed loop, which raises instead
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        corpus._clf_train(feats, labels, rows, 4, 8, 1, lr_den)


def test_dsir_null_side_doc_stays_off_both_sides(spark):
    """A doc whose ``target_where`` is NULL shares words, so gram buckets,
    with target and raw docs; the fit counts it on neither side, as the
    DuckDB twin does."""
    import duckdb
    import pandas as pd

    rows = [
        (1, "alpha beta gamma", "src0"),
        (2, "alpha beta delta", "src0"),
        (3, "omega beta psi", "src1"),
        (4, "omega psi alpha", "src2"),
        (5, "alpha beta omega psi omega psi", None),
    ]
    got = [tuple(r) for r in corpus.dsir_weights(spark.createDataFrame(rows, SCHEMA)).collect()]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"]))
    assert got == con.sql(corpus.dsir_weights_sql()).fetchall()
    assert [r[0] for r in got] == [3, 4]
