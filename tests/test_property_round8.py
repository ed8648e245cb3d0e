"""Round-8 cross-engine property evidence: DSIR importance weights /
resampling and the BPE trainer hold on RANDOM inputs, not just the
registered fixture — Spark operator vs the DuckDB twin executed
in-process."""

import random

import duckdb
import pandas as pd


def _duck(sql: str, docs: pd.DataFrame | None = None):
    con = duckdb.connect()
    if docs is not None:
        con.register("documents", docs)
    return con.sql(sql).fetchall()


def _random_docs(rng: random.Random, n_docs: int):
    """Docs over two 'domains' with overlapping but tilted vocabularies —
    src0 is the DSIR target."""
    tgt_vocab = ["alpha", "beta", "gamma", "delta", "shared"]
    raw_vocab = ["omega", "psi", "chi", "phi", "shared"]
    rows = []
    for i in range(n_docs):
        src = f"src{rng.randrange(3)}"
        vocab = tgt_vocab if src == "src0" else raw_vocab
        # tilt, don't partition: raw docs sometimes speak target words
        pool = vocab + (tgt_vocab if rng.random() < 0.3 else [])
        words = [rng.choice(pool) for _ in range(rng.randint(1, 12))]
        rows.append((i, src, " ".join(words)))
    return rows


def test_dsir_weights_oracle_matches_operator_on_random_corpora(spark):
    from elasticsearch_drift_plugin_spark.operators.corpus import (
        dsir_weights,
        dsir_weights_sql,
    )

    rng = random.Random(8)
    for trial in range(3):
        rows = _random_docs(rng, rng.randint(20, 80))
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        got = [tuple(r) for r in dsir_weights(docs).collect()]
        pdf = pd.DataFrame(rows, columns=["doc_id", "source", "text"])
        want = [tuple(r) for r in _duck(dsir_weights_sql(), pdf)]
        assert got == want, f"trial {trial}: DSIR weights diverged"


def test_dsir_weights_prefer_target_like_docs(spark):
    """The operator's defining property: raw docs written in the target
    domain's vocabulary outscore raw docs that aren't."""
    from elasticsearch_drift_plugin_spark.operators.corpus import dsir_weights

    rows = [
        (0, "src0", "alpha beta gamma alpha beta"),
        (1, "src0", "beta gamma alpha beta gamma"),
        # raw: doc 10 speaks the target language, doc 11 doesn't
        (10, "src1", "alpha beta gamma alpha"),
        (11, "src1", "omega psi chi phi omega psi"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    w = {r.doc_id: r.dsir_q for r in dsir_weights(docs).collect()}
    assert set(w) == {10, 11}, "only raw docs are scored"
    assert w[10] > w[11], "target-like raw doc must outweigh off-domain doc"


def test_dsir_sample_is_weight_tilted_subset(spark):
    from elasticsearch_drift_plugin_spark.operators.corpus import (
        dsir_sample,
        dsir_weights,
    )

    rng = random.Random(88)
    rows = _random_docs(rng, 120)
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    all_w = {
        r.doc_id: r.dsir_q
        for r in dsir_weights(docs).collect()
        if r.dsir_q is not None
    }
    n = 25
    sample = dsir_sample(docs, n=n).collect()
    ids = [r.doc_id for r in sample]
    assert len(ids) == min(n, len(all_w))
    assert set(ids) <= set(all_w), "sample must come from scored raw docs"
    # tilt check: the sample's mean weight beats the population's
    pop_mean = sum(all_w.values()) / len(all_w)
    smp_mean = sum(all_w[i] for i in ids) / len(ids)
    assert smp_mean > pop_mean, "Gumbel-top-k must tilt toward high weights"
    # deterministic redraw under the same salt
    again = [r.doc_id for r in dsir_sample(docs, n=n).collect()]
    assert again == ids


def test_bpe_train_distributed_matches_driver_backend_random(spark):
    """The BPE trainer must replay its DuckDB twin's merge sequence
    bit-for-bit on corpora with overlap-heavy repeats (the 'aaaa' shapes
    where greedy left-to-right order matters)."""
    from elasticsearch_drift_plugin_spark.operators.corpus import (
        bpe_train,
        bpe_train_sql,
    )

    rng = random.Random(80)
    words = ["aaaa", "aaab", "abab", "baaa", "abba", "bb", "a", "abc"]
    rows = [
        (i, "src0", " ".join(rng.choice(words) for _ in range(rng.randint(1, 8))))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = [tuple(r) for r in bpe_train(docs, n_merges=12).collect()]
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "text"])
    want = _duck(bpe_train_sql(n_merges=12), pdf)
    assert got == want
