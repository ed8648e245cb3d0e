"""curation: the training-data curation stages over corpus shards with
planted near-duplicates.

Set-up writes seeded corpus shards (the ``documents`` schema,
with planted exact and two-word-edit duplicates) and, per shard, an
``embeddings`` table with planted near-duplicate vectors. One pass runs the
stages over one shard, as the registered queries call them: exact dedup,
character n-gram Jaccard, MinHash LSH pairs, the trained quality
classifier, DSIR importance weights, BPE merge training, and the cosine
k-NN self-join. Each op is one stage; each pass takes the next shard, so a
pass never reuses another pass's model memos. Every stage is checked
against its operator's DuckDB twin (the ``*_sql`` functions).
"""

from __future__ import annotations

import os

import tables

# docs per shard, vectors per shard, shards generated
SCALES = {"full": (400, 150, 2), "warm": (120, 40, 1), "tiny": (120, 40, 2)}
EXACT_SHARE, NEAR_SHARE = 0.04, 0.06
EMB_DIM, EMB_NEAR_SHARE = 64, 0.05
BPE_MERGES = 30

STAGES = ("exact", "ngram_jaccard", "minhash_pairs", "quality_clf", "dsir_weights",
          "bpe_train", "knn_join")
LAYER = {"exact": "dedup", "ngram_jaccard": "dedup", "minhash_pairs": "dedup",
         "quality_clf": "corpus", "dsir_weights": "corpus", "bpe_train": "corpus",
         "knn_join": "similarity"}


def generate(seed: int, scale: str, root: str) -> dict:
    n_docs, n_vecs, shards = SCALES[scale]
    ops, planted = [], {"exact": 0, "near": 0, "vectors": 0}
    for s in range(shards):
        d = os.path.join(root, f"shard{s}")
        doc = tables.write_documents(os.path.join(d, "documents.parquet"), seed * 64 + s,
                                     n_docs, EXACT_SHARE, NEAR_SHARE)
        emb = tables.write_embeddings(os.path.join(d, "embeddings.parquet"), seed * 64 + s,
                                      n_vecs, EMB_DIM, EMB_NEAR_SHARE)
        planted["exact"] += doc["planted_exact_pairs"]
        planted["near"] += doc["planted_near_pairs"]
        planted["vectors"] += emb["planted_near_pairs"]
        for stage in STAGES:
            ops.append({"id": f"s{s}-{stage}", "kind": stage, "dir": d})
    return {
        "families": [{"name": "stage", "ops": ops, "cycle": len(STAGES)}],
        "warm_ops": ops[: len(STAGES)],
        "properties": {
            "docs_per_shard": n_docs,
            "vectors_per_shard": n_vecs,
            "shards": shards,
            "planted_exact_pairs": planted["exact"],
            "planted_near_pairs": planted["near"],
            "planted_vector_pairs": planted["vectors"],
            "stages": list(STAGES),
        },
    }


class Runner:
    def __init__(self, spark, root: str, manifest: dict, tr):
        from elasticsearch_drift_plugin_spark.sources.flows import load_table

        self.spark, self.tr = spark, tr
        self._load = load_table
        for spec in manifest["families"][0]["ops"][:: len(STAGES)]:
            load_table(spark, spec["dir"], "documents")
            load_table(spark, spec["dir"], "embeddings")

    def _build(self, stage: str, d: str):
        from elasticsearch_drift_plugin_spark.operators import corpus, dedup, similarity

        docs = self._load(self.spark, d, "documents")
        if stage == "exact":
            return dedup.exact_dedup(docs, "text", "doc_id")
        if stage == "ngram_jaccard":
            return dedup.ngram_jaccard_pairs_gemm(docs)
        if stage == "minhash_pairs":
            return dedup.minhash_lsh_pairs(docs)
        if stage == "quality_clf":
            return corpus.quality_clf(docs)
        if stage == "dsir_weights":
            return corpus.dsir_weights(docs)
        if stage == "bpe_train":
            return corpus.bpe_train(docs, n_merges=BPE_MERGES)
        return similarity.knn_join(self._load(self.spark, d, "embeddings"))

    def run(self, spec: dict):
        with self.tr.span(f"operators.{LAYER[spec['kind']]}.construct"):
            out = self._build(spec["kind"], spec["dir"])
        with self.tr.span("exec.sink"):
            rows = out.collect()
        return {"out": out, "rows": rows}


def duck_setup(con, root: str, manifest: dict) -> None:
    pass


def _oracle_sql(stage: str) -> str:
    from elasticsearch_drift_plugin_spark.operators import corpus, dedup, similarity

    return {
        "exact": lambda: dedup.EXACT_SQL,
        "ngram_jaccard": lambda: dedup.NGRAM_SQL,
        "minhash_pairs": dedup.minhash_pairs_sql,
        "quality_clf": corpus.quality_clf_sql,
        "dsir_weights": corpus.dsir_weights_sql,
        "bpe_train": lambda: corpus.bpe_train_sql(n_merges=BPE_MERGES),
        "knn_join": similarity.knn_join_sql,
    }[stage]()


def oracle(con, root: str, spec: dict):
    d = spec["dir"]
    con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    con.sql(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
    res = con.sql(_oracle_sql(spec["kind"]))
    return res.columns, res.fetchall(), None
