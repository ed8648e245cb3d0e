"""Deduplication operators for large-scale training-data pipelines.

Not part of the reference's surface (SURVEY.md §2.2 — the reference has no
joins/set ops at all); these are the north-star extensions
(BASELINE.json) built Spark-first:

- exact dedup          — hash-groupBy on content digest (shuffle key is the
                         16-byte md5, never the full document);
- char-n-gram Jaccard  — blocked pair similarity (and containment, either
                         direction) through one per-block incidence GEMM
                         kernel;
- MinHash + LSH        — shingle → 16 permuted min-hashes → 4 bands of 4 →
                         band-bucket join for candidates → exact verify;
- SimHash              — 16-bit signed-projection signature;
- embedding near-dup   — cosine over array<float> via zip_with/aggregate.

Scale notes (100 TB): every pairwise step is *blocked* (source key, LSH band
bucket) so the join keyspace bounds the fan-out — there is no unblocked
cross join anywhere; per-doc preprocessing (grams, shingles, hashes) is
narrow, map-side, codegen'd; candidate verification joins only LSH-banded
pairs. All hashes are md5-derived 60-bit ints so the DuckDB oracle
reproduces them bit-for-bit (functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import memo
from ..functions.hashing import (
    HEX15_SQL_FN,
    MINHASH_P,
    md5_hash60,
    minhash_coeffs,
    minhash_sql,
)
from ..functions.sql_literal import literal_frame
from ..sources.flows import load_table

NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = 4
_COEFFS = minhash_coeffs(NUM_PERM)

QUANT = 1_000_000  # similarity scores quantized to 1e-6 for oracle hashing


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Group by content digest; keep the minimum id as survivor.

    The groupBy key is md5(content), not the content itself — at scale the
    shuffle moves 16-byte digests, not documents.
    """
    return (
        df.groupBy(F.md5(F.col(content_col).cast("string")).alias("__digest"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("group_size"))
        .select("keep_id", "group_size")
        .orderBy("keep_id")
    )


EXACT_SQL = """
SELECT min(doc_id) AS keep_id, COUNT(*) AS group_size
FROM documents GROUP BY md5(text) ORDER BY keep_id
"""


def incremental_dedup(
    new_docs: DataFrame, existing_docs: DataFrame, content_col: str = "text"
) -> DataFrame:
    """(doc_id): new documents whose content digest does NOT already appear
    in the existing corpus — the cross-run dedup step an ingest pipeline
    runs before appending a batch to the training set.

    Left-anti join on md5 digests: the shuffle moves 16-byte keys, never
    documents; within-batch duplicates also collapse (min doc_id wins),
    so the output is appendable as-is.
    """
    digest = F.md5(F.col(content_col).cast("string"))
    new_d = new_docs.select("doc_id", digest.alias("__d"))
    seen = existing_docs.select(digest.alias("__d")).distinct()
    return (
        new_d.join(seen, "__d", "left_anti")
        .groupBy("__d")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


INCREMENTAL_SQL = """
WITH new_docs AS (SELECT doc_id, md5(text) AS d FROM documents WHERE source <> 'src0'),
seen AS (SELECT DISTINCT md5(text) AS d FROM documents WHERE source = 'src0')
SELECT min(doc_id) AS doc_id
FROM new_docs WHERE d NOT IN (SELECT d FROM seen)
GROUP BY d ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# char n-gram Jaccard (blocked by a key column)
# --------------------------------------------------------------------------
#: Sub-block size bound of :func:`ngram_jaccard_pairs_gemm`: a block of
#: ``block_col`` hotter than this is hash-split so no pandas group exceeds
#: two sub-blocks of docs.
MAX_BLOCK_ROWS = 4096


def ngram_jaccard_pairs_gemm(
    docs: DataFrame,
    threshold: float = 0.5,
    block_col: str = "source",
    score: str = "jaccard",
) -> DataFrame:
    """Pairs with char-3-gram Jaccard (or containment) >= threshold within
    blocks, via incidence-matrix GEMM over bounded sub-block pairs: a
    block's docs×grams 0/1 matrices A, B ⇒ A·Bᵀ is the pairwise
    intersection-count matrix in one BLAS call (float32 is exact for 0/1
    dot products up to 2^24). This corpus's blocks are near-cliques
    (hottest posting = 98% of its block), where a postings inverted index
    must materialize Σ|A∩B| ≈ 55M pair-rows; this kernel replaces them
    with small matrix products.

    ``score`` picks the measure, each with a DuckDB twin that is its
    oracle: ``"jaccard"`` (:data:`NGRAM_SQL`), ``"containment"``
    ``|A∩B| / min(|A|, |B|)`` (:data:`CONTAINMENT_SQL`) and
    ``"containment_dir"`` ``|A∩B| / |A|`` per direction, as (contained,
    container) rows (:data:`NGRAM_CONTAINMENT_SQL`). As in the twins, a
    doc's grams are the union over its rows, and rows with a NULL
    ``doc_id`` or ``block_col`` pair with nothing.

    Scale design (mirrors :func:`embedding_neardup_pairs`): each
    ``block_col`` value is hash-split on ``doc_id`` into sub-blocks of
    ≤ ~:data:`MAX_BLOCK_ROWS` docs, and every sub-block PAIR (i <= j) is
    one ``applyInPandas`` group — so the pandas group is bounded by
    2×``MAX_BLOCK_ROWS`` docs no matter how hot a block value is (a hot
    ``source`` would otherwise put an unbounded block into one executor).
    Each doc is replicated once per sub-block plus one; the split is sized
    from the hottest block (one tiny count agg), so there is zero
    replication until a block actually exceeds ``MAX_BLOCK_ROWS``.

    Gram extraction happens JVM-side as a map-only HOF that hashes each
    gram to an int64 (``array_distinct(transform(sequence(...), i ->
    xxhash64(substring(...))))`` — codegen, no explode, no shuffle), so
    the Arrow hand-off ships dense long arrays instead of millions of
    3-char strings and the Python kernel never slices text: it
    ``np.unique``-s the hashes into incidence matrices and calls BLAS.
    64-bit gram hashing is exact for counting purposes at any realistic
    per-pair vocabulary (collision odds ~V²/2^64).
    """
    import math

    import numpy as np
    import pandas as pd

    if score not in ("jaccard", "containment", "containment_dir"):
        raise ValueError(f"unknown score '{score}'")
    containment = score == "containment"
    directional = score == "containment_dir"
    out_col = "cont_q" if (containment or directional) else "jacc_q"
    thr = float(threshold)
    quant = float(QUANT)
    n = 3

    from ..sources.flows import widen_narrow_scan

    # the gram HOF is the CPU-heavy map step; widen a too-narrow scan so it
    # parallelizes (no-op shuffle-wise when the input has enough splits).
    # A NULL id or block key never pairs in the twins (NULL = x is NULL).
    narrow = widen_narrow_scan(
        docs.select("doc_id", block_col, "text").where(
            F.col("doc_id").isNotNull()
            & F.col(block_col).isNotNull()
            & (F.length("text") >= n)
        ),
        "doc_id",
    )
    base = narrow.select(
        "doc_id",
        block_col,
        F.expr(
            f"array_distinct(transform(sequence(1, length(text) - {n - 1}),"
            f" i -> xxhash64(substring(text, i, {n}))))"
        ).alias("ga"),
    )

    # One tiny count-agg job sizes the split; memoized so repeated runs
    # over the same data — bench best-of-N, a dashboard refresh — pay it
    # once.
    def hottest_block():
        return (
            docs.groupBy(block_col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("m"))
            .first()["m"]
        )

    hot = memo.get_or_compute(
        "hot_block", memo.frame_key(docs, block_col), docs.sparkSession,
        hottest_block,
    )
    nb = max(1, math.ceil((hot or 1) / MAX_BLOCK_ROWS))

    sb = base.withColumn("sblk", F.pmod(F.xxhash64("doc_id"), F.lit(nb)).cast("int"))
    pairs = [(i, j) for i in range(nb) for j in range(i, nb)]
    bp = literal_frame(docs.sparkSession, pairs, "bi int, bj int")
    # nb(nb+1)/2 pair rows, broadcast to both sides: an Arrow-built
    # LocalRelation, so neither side runs a Python task to produce it.
    # Diagonal pairs (bi == bj) need no right copy (the kernel reuses the
    # left side), so with nb == 1 (no block over MAX_BLOCK_ROWS) the data is
    # shipped exactly once — zero overhead vs the unbounded formulation.
    left = sb.join(F.broadcast(bp), F.col("sblk") == F.col("bi")).select(
        block_col, "bi", "bj", "doc_id", "ga", F.lit(0).alias("side")
    )
    right = sb.join(
        F.broadcast(bp.where(F.col("bi") != F.col("bj"))),
        F.col("sblk") == F.col("bj"),
    ).select(block_col, "bi", "bj", "doc_id", "ga", F.lit(1).alias("side"))

    a_col, b_col = (
        ("contained", "container") if directional else ("doc_a", "doc_b")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({a_col: [], b_col: [], out_col: []}).astype("int64")
        same = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        l = pdf if same else pdf[pdf["side"] == 0]
        r = l if same else pdf[pdf["side"] == 1]
        if l.empty or r.empty:
            return empty

        def incidence_input(frame: pd.DataFrame):
            """(ids, rows, flat): the frame's distinct doc ids and, for each
            gram hash in ``flat``, the index of its doc in ``ids`` — a doc
            on several rows gets the union of their grams, as in the twins."""
            arrays = [np.asarray(a, dtype=np.int64) for a in frame["ga"]]
            lens = np.fromiter((len(a) for a in arrays), dtype=np.int64)
            flat = np.concatenate(arrays) if arrays else np.empty(0, np.int64)
            ids, rows = np.unique(frame["doc_id"].to_numpy(), return_inverse=True)
            return ids, np.repeat(rows, lens), flat

        da, lrows, lflat = incidence_input(l)
        if same:
            uniq, codes = np.unique(lflat, return_inverse=True)
            db, lcodes, rcodes = da, codes, codes
        else:
            db, rrows, rflat = incidence_input(r)
            uniq, codes = np.unique(np.concatenate([lflat, rflat]), return_inverse=True)
            lcodes, rcodes = codes[: len(lflat)], codes[len(lflat) :]
        if not len(uniq):
            return empty

        def incidence(n_docs: int, rows: np.ndarray, codes: np.ndarray) -> np.ndarray:
            m = np.zeros((n_docs, len(uniq)), dtype=np.float32)
            m[rows, codes] = 1.0
            return m

        A = incidence(len(da), lrows, lcodes)
        B = A if same else incidence(len(db), rrows, rcodes)
        inter = (A @ B.T).astype(np.float64)
        sa = A.sum(axis=1, dtype=np.float64)
        sb_ = sa if same else B.sum(axis=1, dtype=np.float64)
        if directional:
            # C(row→col) = |A∩B| / |grams(row)| per direction — both
            # orientations from the one intersection matrix. Quantized
            # as floor(i * Q / n) to replay the twin's arithmetic
            # bit-exactly.
            with np.errstate(invalid="ignore", divide="ignore"):
                fwd = np.where(sa[:, None] > 0, inter / sa[:, None], 0.0)
                rev = np.where(sb_[None, :] > 0, inter / sb_[None, :], 0.0)
            shared = inter >= 1.0
            mf = shared & (fwd >= thr)
            mr = shared & (rev >= thr)
            if same:
                # the full (i, j) matrix already carries each direction
                # as its own entry; only the diagonal is spurious
                np.fill_diagonal(mf, False)
                mr = np.zeros_like(mr)
            ai, bi_ = np.nonzero(mf)
            ri, rj = np.nonzero(mr)
            if not (len(ai) or len(ri)):
                return empty
            return pd.DataFrame(
                {
                    a_col: np.concatenate([da[ai], db[rj]]),
                    b_col: np.concatenate([db[bi_], da[ri]]),
                    out_col: np.concatenate(
                        [
                            np.floor(inter[ai, bi_] * quant / sa[ai]),
                            np.floor(inter[ri, rj] * quant / sb_[rj]),
                        ]
                    ).astype(np.int64),
                }
            )
        if containment:
            # |A∩B| / min(|A|,|B|) — the asymmetric sub-document screen
            denom = np.minimum(sa[:, None], sb_[None, :])
        else:
            denom = sa[:, None] + sb_[None, :] - inter
        with np.errstate(invalid="ignore", divide="ignore"):
            jacc = np.where(denom > 0, inter / denom, 0.0)
        # >= 1 shared gram, like the twins' gram self-join (a pair with no
        # co-occurring gram never appears in it)
        mask = (inter >= 1.0) & (jacc >= thr)
        if same:
            mask = np.triu(mask, k=1)
        ai, bi_ = np.nonzero(mask)
        if not len(ai):
            return empty
        lo, hi = np.minimum(da[ai], db[bi_]), np.maximum(da[ai], db[bi_])
        return pd.DataFrame(
            {
                "doc_a": lo,
                "doc_b": hi,
                out_col: np.floor(jacc[ai, bi_] * quant).astype(np.int64),
            }
        )

    from ..sources.flows import pin_result

    # pin_result (r14): the GEMM kernel runs on the REDUCE side of the
    # (block, bi, bj) shuffle, i.e. on the shuffle-free tail feeding the
    # final range sort - without a pin the sampling pass re-runs the
    # whole Python kernel. The pinned rows are the narrow pair results.
    return pin_result(
        left.unionByName(right)
        .groupBy(block_col, "bi", "bj")
        .applyInPandas(kernel, f"{a_col} long, {b_col} long, {out_col} long")
    ).orderBy(a_col, b_col)


NGRAM_CONTAINMENT_SQL = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, source, substr(text, CAST(i AS INTEGER), 3) AS g
  FROM (SELECT doc_id, source, text,
               unnest(generate_series(1, len(text) - 2)) AS i
        FROM documents WHERE len(text) >= 3)
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM grams a JOIN grams b
    ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT doc_a, doc_b, i, ca.n AS na, cb.n AS nb
  FROM inter
  JOIN counts ca ON ca.doc_id = doc_a
  JOIN counts cb ON cb.doc_id = doc_b
)
SELECT contained, container, cont_q FROM (
  SELECT doc_a AS contained, doc_b AS container,
         CAST(FLOOR(i * {float(QUANT)} / na) AS BIGINT) AS cont_q
  FROM j WHERE CAST(i AS DOUBLE) / na >= 0.8
  UNION ALL
  SELECT doc_b AS contained, doc_a AS container,
         CAST(FLOOR(i * {float(QUANT)} / nb) AS BIGINT) AS cont_q
  FROM j WHERE CAST(i AS DOUBLE) / nb >= 0.8
) ORDER BY contained, container
"""


NGRAM_SQL = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, source, substr(text, CAST(i AS INTEGER), 3) AS g
  FROM (SELECT doc_id, source, text, unnest(generate_series(1, len(text) - 2)) AS i
        FROM documents WHERE len(text) >= 3)
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM grams a JOIN grams b
    ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(FLOOR(CAST(i AS DOUBLE) / (ca.n + cb.n - i) * {float(QUANT)}) AS BIGINT) AS jacc_q
FROM inter
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
def _token_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("l"))
    return (
        toks.where(F.size("l") >= k)
        .select(
            "doc_id", "l", F.explode(F.sequence(F.lit(1), F.size("l") - (k - 1))).alias("i")
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.expr("element_at(l, i)"),
                F.expr("element_at(l, i + 1)"),
                F.expr("element_at(l, i + 2)"),
            ).alias("s"),
        )
        .distinct()
    )


def _shingle_arrays(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sa): each doc's DISTINCT k-token shingles as one array —
    the map-side twin of :func:`_token_shingles` (``explode(sa)`` yields
    exactly its rows). One narrow HOF projection, no explode, no shuffle:
    the per-doc formulation is what keeps MinHash embarrassingly parallel
    at corpus scale (the exploded frame shuffles Σ|shingles| rows through
    every downstream groupBy). The scan is widened first so the
    shingle/md5 HOFs parallelize even when the sample is one parquet
    split (no-op at real scale — see :func:`widen_narrow_scan`)."""
    from ..sources.flows import widen_narrow_scan

    docs = widen_narrow_scan(docs, "doc_id")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("l"))
    return toks.where(F.size("l") >= k).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(l) - {k - 1}), i -> "
                "concat_ws(' ', element_at(l, i), element_at(l, i + 1),"
                " element_at(l, i + 2)))"
            )
        ).alias("sa"),
    )


def minhash_signatures(
    docs: DataFrame, shingle_arrays: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band, sig): per-band combined MinHash signature. Docs whose
    4-hash band signature collides are near-dup candidates.

    Entirely map-side until the caller's band join: each permutation's min
    is an ``array_min(transform(...))`` over the doc's shingle array —
    same md5-derived 60-bit values as the exploded/groupBy formulation
    (oracle-identical), but the corpus-wide shingle shuffle is GONE. At
    100 TB that shuffle (Σ|shingles| ≈ tokens-per-doc × corpus rows) was
    the dominant cost of signature building; per-doc HOFs are free
    parallelism. ``shingle_arrays`` lets a caller share a materialized
    :func:`_shingle_arrays` frame.

    The signature rows are pinned before the serving sort (r14): the
    map-only lineage has no shuffle files for the range-sampling pass to
    reuse, and the pin also lets the band self-join in
    :func:`minhash_lsh_pairs` read the signatures once instead of
    deriving them per side. (A NumPy ``mapInPandas`` twin of the 16
    permutation passes was measured bit-identical but a wash isolated and
    +0.3 s inside lsh_recall_eval — the Python stage adds boundary
    latency the interpreted-but-parallel HOFs don't; kept JVM-side.)"""
    from ..sources.flows import pin_result

    sa = _shingle_arrays(docs) if shingle_arrays is None else shingle_arrays
    hv = sa.select(
        "doc_id",
        F.expr(
            "transform(sa, s -> "
            "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS LONG))"
        ).alias("ha"),
    )
    mh = hv.select(
        "doc_id",
        *[
            F.array_min(
                F.expr(
                    f"transform(ha, h -> ({a} * pmod(h, {MINHASH_P}) + {b})"
                    f" % {MINHASH_P})"
                )
            ).alias(f"mh{j}")
            for j, (a, b) in enumerate(_COEFFS)
        ],
    )
    band_sigs = []
    for bnd in range(BANDS):
        sig = F.col(f"mh{bnd * ROWS_PER_BAND}")
        for r in range(1, ROWS_PER_BAND):
            sig = sig * F.lit(31) + F.col(f"mh{bnd * ROWS_PER_BAND + r}")
        band_sigs.append(sig)
    return pin_result(
        mh.select(
            "doc_id", F.posexplode(F.array(*band_sigs)).alias("band", "sig")
        )
    ).orderBy("doc_id", "band")


def minhash_lsh_pairs(
    docs: DataFrame, shingle_arrays: DataFrame | None = None
) -> DataFrame:
    """Banded candidates, verified with exact shingle Jaccard (no threshold:
    the band collision IS the filter; jacc_q lets callers cut further).

    Verification cost scales with the CANDIDATE set, not the corpus: the
    band join yields few pairs, and each is verified with one codegen'd
    array_intersect over the two docs' shingle arrays — the corpus-wide
    shingle co-occurrence join (Σ posting² rows) is never built. Pairs
    whose signatures collide without any shared shingle (theoretical) are
    dropped, matching the inverted-index formulation the oracle uses.

    The shingle frame is NOT pinned here: it feeds the signature kernel
    and both verification joins, but an A/B at sf0.1 measured the pin a
    wash — materializing the string arrays costs what the map-side
    recompute does (the signature pin inside :func:`minhash_signatures`
    is what de-duplicates the expensive work for the band self-join).
    """
    sa_frame = _shingle_arrays(docs) if shingle_arrays is None else shingle_arrays
    sigs = minhash_signatures(docs, shingle_arrays=sa_frame)
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(b, ["band", "sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh_arr = sa_frame
    inter = F.size(F.array_intersect("sa_a", "sa_b")).cast("long")
    na = F.size("sa_a").cast("long")
    nb = F.size("sa_b").cast("long")
    jacc = inter.cast("double") / (na + nb - inter)
    return (
        cand.join(
            sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sa").alias("sa_a")),
            "doc_a",
        )
        .join(
            sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sa").alias("sa_b")),
            "doc_b",
        )
        .where(inter > 0)
        .select("doc_a", "doc_b", F.floor(jacc * F.lit(float(QUANT))).alias("jacc_q"))
        .orderBy("doc_a", "doc_b")
    )


def _minhash_sql_parts(where: str = "", tag: str = "") -> tuple[str, str]:
    """CTE text for shingles + band signatures; ``where`` restricts the
    source documents (cross-table screens), ``tag`` prefixes the CTE names
    so two instances can coexist in one WITH clause."""
    hv = HEX15_SQL_FN.format(expr="s")
    mins = ", ".join(
        f"MIN({minhash_sql('hv', a, b)}) AS mh{j}" for j, (a, b) in enumerate(_COEFFS)
    )
    band_rows = []
    for bnd in range(BANDS):
        sig = f"mh{bnd * ROWS_PER_BAND}"
        for r in range(1, ROWS_PER_BAND):
            sig = f"({sig} * 31 + mh{bnd * ROWS_PER_BAND + r})"
        band_rows.append(
            f"SELECT doc_id, {bnd} AS band, {sig} AS sig FROM {tag}mh"
        )
    wh = f"WHERE {where}" if where else ""
    shingles = f"""
{tag}shingles AS (
  SELECT DISTINCT doc_id, l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS s
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents {wh})
        WHERE len(l) >= 3)
)"""
    sigs = (
        f"WITH {shingles},\n"
        f"{tag}hashed AS (SELECT doc_id, {hv} AS hv FROM {tag}shingles),\n"
        f"{tag}mh AS (SELECT doc_id, {mins} FROM {tag}hashed GROUP BY doc_id),\n"
        f"{tag}sigs AS ({' UNION ALL '.join(band_rows)})"
    )
    return shingles, sigs


def minhash_sig_sql() -> str:
    _, sigs = _minhash_sql_parts()
    return f"{sigs} SELECT doc_id, band, sig FROM sigs ORDER BY doc_id, band"


def minhash_pairs_sql() -> str:
    _, sigs = _minhash_sql_parts()
    return f"""{sigs},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS i
  FROM shingles sa JOIN shingles sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
)
SELECT inter.doc_a, inter.doc_b,
       CAST(FLOOR(CAST(i AS DOUBLE) / (ca.n + cb.n - i) * {float(QUANT)}) AS BIGINT) AS jacc_q
FROM inter
JOIN cand ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b
JOIN counts ca ON ca.doc_id = inter.doc_a
JOIN counts cb ON cb.doc_id = inter.doc_b
ORDER BY inter.doc_a, inter.doc_b
"""


# --------------------------------------------------------------------------
# cross-table fuzzy decontamination (corpus × benchmark MinHash screen)
# --------------------------------------------------------------------------
def minhash_decontaminate(
    corpus: DataFrame, bench: DataFrame, threshold_q: int = 500_000
) -> DataFrame:
    """(doc_id, n_matches, max_jacc_q, contaminated): for every corpus
    document, its strongest *fuzzy* overlap with the benchmark set — the
    near-duplicate complement of the exact n-gram screen
    (``corpus.contamination_overlap``), catching paraphrased/reformatted
    benchmark leaks an exact gram match misses.

    Shape: both sides get band signatures (map-side per-doc HOFs, no
    shingle shuffle); candidates come from the (band, sig) equi-join — the LSH
    bucket bound, corpus×bench pairs never materialize; each candidate is
    verified with one codegen'd ``array_intersect`` Jaccard. Scales like
    ``minhash_lsh_pairs`` with the benchmark as the (usually tiny,
    broadcastable) build side.

    ``contaminated`` flags verified Jaccard ≥ ``threshold_q`` (1e-6 units).
    Every corpus doc is emitted (0/0/false when no candidate survives).

    Both shingle frames are pinned (lazy localCheckpoint): each is
    consumed twice — signature build and candidate verification — and the
    lineage is scan + tokenize + shingle HOFs, so recompute costs a full
    corpus pass per consumer while the pin writes the same bytes a
    shuffle of the frame would (guide §5: cache only reused frames whose
    recompute beats the memory). The narrow result is pinned before the
    serving sort (the range-sampling double-execution fix).
    """
    from ..sources.flows import pin_result

    sh_c = pin_result(_shingle_arrays(corpus))
    sh_b = pin_result(_shingle_arrays(bench))
    sa = minhash_signatures(corpus, shingle_arrays=sh_c)
    sb = minhash_signatures(bench, shingle_arrays=sh_b).withColumnRenamed(
        "doc_id", "bench_id"
    )
    cand = (
        sa.join(sb, ["band", "sig"])
        .select("doc_id", "bench_id")
        .distinct()
    )
    shc = sh_c.withColumnRenamed("sa", "sa_a")
    shb = sh_b.withColumnRenamed("sa", "sa_b").withColumnRenamed(
        "doc_id", "bench_id"
    )
    inter = F.size(F.array_intersect("sa_a", "sa_b")).cast("long")
    na = F.size("sa_a").cast("long")
    nb = F.size("sa_b").cast("long")
    jacc = inter.cast("double") / (na + nb - inter)
    ver = (
        cand.join(shc, "doc_id")
        .join(shb, "bench_id")
        .where(inter > 0)
        .select(
            "doc_id", F.floor(jacc * F.lit(float(QUANT))).alias("jacc_q")
        )
    )
    agg = ver.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"), F.max("jacc_q").alias("max_jacc_q")
    )
    return pin_result(
        corpus.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            F.coalesce("max_jacc_q", F.lit(0)).alias("max_jacc_q"),
            (F.coalesce("max_jacc_q", F.lit(0)) >= threshold_q).alias("contaminated"),
        )
    ).orderBy("doc_id")


def minhash_decon_sql(
    bench_where: str, corpus_where: str, threshold_q: int = 500_000
) -> str:
    _, c_sigs = _minhash_sql_parts(where=corpus_where, tag="c_")
    _, b_sigs = _minhash_sql_parts(where=bench_where, tag="b_")
    b_body = b_sigs[len("WITH "):]  # merge into one WITH clause
    return f"""{c_sigs},
{b_body},
cand AS (
  SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_id
  FROM c_sigs c JOIN b_sigs b ON c.band = b.band AND c.sig = b.sig
),
ccounts AS (SELECT doc_id, COUNT(*) AS n FROM c_shingles GROUP BY doc_id),
bcounts AS (SELECT doc_id, COUNT(*) AS n FROM b_shingles GROUP BY doc_id),
inter AS (
  SELECT sc.doc_id AS doc_id, sb.doc_id AS bench_id, COUNT(*) AS i
  FROM c_shingles sc JOIN b_shingles sb ON sc.s = sb.s
  GROUP BY 1, 2
),
ver AS (
  SELECT cand.doc_id,
         CAST(FLOOR(CAST(i AS DOUBLE) / (cn.n + bn.n - i) * {float(QUANT)})
              AS BIGINT) AS jacc_q
  FROM cand
  JOIN inter ON inter.doc_id = cand.doc_id AND inter.bench_id = cand.bench_id
  JOIN ccounts cn ON cn.doc_id = cand.doc_id
  JOIN bcounts bn ON bn.doc_id = cand.bench_id
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_matches, MAX(jacc_q) AS max_jacc_q
  FROM ver GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_matches, 0) AS n_matches,
       COALESCE(a.max_jacc_q, 0) AS max_jacc_q,
       COALESCE(a.max_jacc_q, 0) >= {threshold_q} AS contaminated
FROM (SELECT doc_id FROM documents WHERE {corpus_where}) d
LEFT JOIN agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
SIMHASH_BITS = 16


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 16-bit signed-projection signature over distinct
    tokens. Hamming-close signatures ⇒ near-dups; the signature itself is a
    groupable/bandable key at scale."""
    toks = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("t"))
        .distinct()
        .select("doc_id", md5_hash60(F.col("t")).alias("hv"))
    )
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright(F.col("hv"), k).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{k}")
            for k in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for k in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bit_sums.select("doc_id", sim.cast("long").alias("simhash")).orderBy("doc_id")


def simhash_sql() -> str:
    hv = HEX15_SQL_FN.format(expr="t")
    sums = ", ".join(
        f"SUM(((hv >> {k}) & 1) * 2 - 1) AS b{k}" for k in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN b{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, t FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
),
hashed AS (SELECT doc_id, {hv} AS hv FROM toks),
sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM sums ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------
def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    n_blocks: int | None = None,
    target_block_rows: int = 4096,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold, as blocked matrix products.

    Scale design: vectors are hashed into ``n_blocks`` blocks; every block
    PAIR (i <= j) becomes one ``applyInPandas`` group whose kernel is a
    single numpy/BLAS GEMM over Arrow-delivered batches — the distributed
    blocked-GEMM shape that survives arbitrary corpus sizes (each executor
    holds two blocks, never the corpus; replication factor is n_blocks,
    chosen so a block fits executor memory). For an approximate/cheaper
    pass, LSH-bucket first (similarity.lsh_buckets) and run this per bucket.

    Numeric note: BLAS accumulation order differs from a sequential fold in
    the last ulps; scores are quantized to 1e-6 so this is invisible to the
    oracle hash (flip probability ~1e-10 per pair).
    """
    import math

    import numpy as np
    import pandas as pd

    thr = float(threshold)
    quant = float(QUANT)

    if n_blocks is None:
        # adaptive blocking under two constraints: (a) a block must fit
        # executor memory (<= target_block_rows vectors), (b) the
        # nb·(nb+1)/2 block-pair groups should cover cluster parallelism
        # (one GEMM per core beats one giant serial GEMM — measured 2.1s vs
        # 6.0s at sf0.1). Pass n_rows (e.g. from catalog/table stats) to
        # skip the sizing count() job; for a bare parquet scan that count is
        # answered from row-group metadata, not a data read.
        par = emb.sparkSession.sparkContext.defaultParallelism
        nb_mem = math.ceil((n_rows if n_rows is not None else emb.count()) / target_block_rows)
        nb_par = math.ceil(math.sqrt(2 * par))
        n_blocks = max(1, nb_mem, nb_par)

    ed = emb.select("vec_id", "embedding", F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk"))
    spark = emb.sparkSession
    pairs = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    bp = literal_frame(spark, pairs, "bi int, bj int")
    left = ed.join(F.broadcast(bp), F.col("blk") == F.col("bi")).select(
        "bi", "bj", "vec_id", "embedding", F.lit(0).alias("side")
    )
    right = ed.join(F.broadcast(bp), F.col("blk") == F.col("bj")).select(
        "bi", "bj", "vec_id", "embedding", F.lit(1).alias("side")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        same = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        l = pdf[pdf["side"] == 0] if not same else pdf.drop_duplicates("vec_id")
        r = pdf[pdf["side"] == 1] if not same else l
        if l.empty or r.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "score_q": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "score_q": "int64"}
            )
        lm = np.stack(l["embedding"].to_numpy()).astype(np.float64)
        rm = np.stack(r["embedding"].to_numpy()).astype(np.float64)
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        s = lm @ rm.T
        ai, bi_ = np.nonzero(s >= thr)
        la, rb = l["vec_id"].to_numpy()[ai], r["vec_id"].to_numpy()[bi_]
        if same:
            # one triangle of the symmetric block
            keep = la < rb
            va, vb = la[keep], rb[keep]
            sc = s[ai[keep], bi_[keep]]
        else:
            # disjoint blocks: every hit is a distinct pair; normalize order
            va, vb = np.minimum(la, rb), np.maximum(la, rb)
            sc = s[ai, bi_]
        return pd.DataFrame(
            {
                "vec_a": va,
                "vec_b": vb,
                "score_q": np.floor(sc * quant).astype(np.int64),
            }
        )

    from ..sources.flows import pin_result

    # pin_result (r14): same sampling-pass double execution as the ngram
    # GEMM kernel above.
    return pin_result(
        left.unionByName(right)
        .groupBy("bi", "bj")
        .applyInPandas(kernel, "vec_a long, vec_b long, score_q long")
    ).orderBy("vec_a", "vec_b")


EMB_NEARDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
n AS (
  SELECT vec_id,
         sqrt((SELECT SUM(x * x) FROM (SELECT unnest(embedding)::DOUBLE AS x))) AS nm
  FROM e
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         (SELECT SUM(x * y)
          FROM (SELECT unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y))
         / (na.nm * nb.nm) AS score
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
)
SELECT vec_a, vec_b, CAST(FLOOR(score * {float(QUANT)}) AS BIGINT) AS score_q
FROM pairs WHERE score >= 0.3 ORDER BY vec_a, vec_b
"""


# --------------------------------------------------------------------------
# driver-contract registry
# --------------------------------------------------------------------------
def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


CONTAINMENT_SQL = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, source, substr(text, CAST(i AS INTEGER), 3) AS g
  FROM (SELECT doc_id, source, text, unnest(generate_series(1, len(text) - 2)) AS i
        FROM documents WHERE len(text) >= 3)
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM grams a JOIN grams b
    ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(FLOOR(CAST(i AS DOUBLE) / LEAST(ca.n, cb.n) * {float(QUANT)}) AS BIGINT) AS cont_q
FROM inter
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / LEAST(ca.n, cb.n) >= 0.8
ORDER BY doc_a, doc_b
"""


MAX_EVAL_DOCS = 20_000


def lsh_recall_eval(
    docs: DataFrame,
    threshold_q: int = 500_000,
    max_eval_docs: int = MAX_EVAL_DOCS,
) -> DataFrame:
    """(n_true, n_band_pairs, n_hit, recall_q, band_precision_q): measure
    the MinHash/LSH banding against exact ground truth — the
    tune-your-bands evaluation every production dedup rollout runs on a
    sample before committing band/row parameters:

    - ``n_true``: pairs with exact shingle Jaccard ≥ threshold (postings
      all-pairs — the expensive truth, hence "on a sample");
    - ``n_band_pairs``: band-collision candidates (pre-verification);
    - ``n_hit``: candidates whose verified score clears the threshold —
      a subset of ``n_true`` by construction (verification is exact), so
      ``recall_q`` is the banding's true-pair coverage and
      ``band_precision_q`` the candidate-set efficiency.

    Scale: ONLY the truth side is quadratic (bounded by the sample's
    posting fan-out, the documented eval-scale cost); the candidate side
    is the production LSH path itself. Counts combine via 1-row
    aggregates (crossJoin of scalars — the sanctioned pattern).

    Plan hygiene (round-8): every piece — doc shingle counts, the truth
    self-join's exploded postings, and both shingle uses inside the LSH
    path — derives from ONE per-doc shingle-array frame
    (:func:`_shingle_arrays`); lazily each reference replayed the corpus
    scan + explode (measured 22 exchanges / 4 scalar cartesians before).
    The frame is eval-sample-sized, so an eager ``localCheckpoint`` pins
    it to one derivation (the ``es_phrase_suggest`` recipe); the band/hit
    counts fuse into one conditional aggregate over ``cand`` (making it
    single-reference — no pin needed), so the final collect is ONE job
    whose truth and candidate subtrees schedule concurrently.
    """
    # the truth side is all-pairs by design — the same blind-quadratic
    # hazard cosine_topk guards against, so the same contract: refuse past
    # max_eval_docs (one O(1) count job) and tell the caller to sample
    n_docs = docs.count()
    if n_docs > max_eval_docs:
        raise ValueError(
            f"lsh_recall_eval computes exact all-pairs truth over {n_docs} "
            f"docs (> max_eval_docs={max_eval_docs}); evaluate on a sample "
            f"(corpus.hash_sample) or raise max_eval_docs to acknowledge "
            f"the quadratic cost"
        )
    sa = _shingle_arrays(docs).localCheckpoint(eager=True)
    counts = sa.select("doc_id", F.size("sa").cast("long").alias("n"))
    sh = sa.select("doc_id", F.explode("sa").alias("s"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "s")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jacc_q = F.floor(
        F.col("i").cast("double") / (F.col("ca.n") + F.col("cb.n") - F.col("i"))
        * F.lit(float(QUANT))
    )
    truth = (
        inter.join(F.broadcast(counts.alias("ca")), F.col("ca.doc_id") == F.col("doc_a"))
        .join(F.broadcast(counts.alias("cb")), F.col("cb.doc_id") == F.col("doc_b"))
        .where(jacc_q >= threshold_q)
        .select("doc_a", "doc_b")
    )
    cand = minhash_lsh_pairs(docs, shingle_arrays=sa)
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    band = cand.agg(
        F.count(F.lit(1)).alias("n_band_pairs"),
        F.count_if(F.col("jacc_q") >= threshold_q).alias("n_hit"),
    )
    return (
        n_true.crossJoin(band)
        .select(
            "n_true",
            "n_band_pairs",
            "n_hit",
            F.expr(
                "CASE WHEN n_true > 0 THEN CAST(FLOOR(CAST(n_hit AS DOUBLE)"
                " / n_true * 1000000.0) AS BIGINT) ELSE 0 END"
            ).alias("recall_q"),
            F.expr(
                "CASE WHEN n_band_pairs > 0 THEN CAST(FLOOR(CAST(n_hit AS DOUBLE)"
                " / n_band_pairs * 1000000.0) AS BIGINT) ELSE 0 END"
            ).alias("band_precision_q"),
        )
    )


def lsh_recall_eval_sql(threshold_q: int = 500_000) -> str:
    _, sigs = _minhash_sql_parts()
    return f"""{sigs},
counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS i
  FROM shingles sa JOIN shingles sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT inter.doc_a, inter.doc_b,
         CAST(FLOOR(CAST(i AS DOUBLE) / (ca.n + cb.n - i) * {float(QUANT)}) AS BIGINT) AS jacc_q
  FROM inter
  JOIN counts ca ON ca.doc_id = inter.doc_a
  JOIN counts cb ON cb.doc_id = inter.doc_b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
candv AS (
  SELECT s.* FROM scored s JOIN cand USING (doc_a, doc_b)
),
agg AS (
  SELECT (SELECT COUNT(*) FROM scored WHERE jacc_q >= {threshold_q}) AS n_true,
         (SELECT COUNT(*) FROM candv) AS n_band_pairs,
         (SELECT COUNT(*) FROM candv WHERE jacc_q >= {threshold_q}) AS n_hit
)
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(n_band_pairs AS BIGINT) AS n_band_pairs,
       CAST(n_hit AS BIGINT) AS n_hit,
       CASE WHEN n_true > 0 THEN CAST(FLOOR(CAST(n_hit AS DOUBLE) / n_true * 1000000.0) AS BIGINT) ELSE 0 END AS recall_q,
       CASE WHEN n_band_pairs > 0 THEN CAST(FLOOR(CAST(n_hit AS DOUBLE) / n_band_pairs * 1000000.0) AS BIGINT) ELSE 0 END AS band_precision_q
FROM agg
"""


def queries() -> dict:
    return {
        "dedup_exact": lambda s, d: exact_dedup(_docs(s, d), "text", "doc_id"),
        "dedup_incremental": lambda s, d: incremental_dedup(
            _docs(s, d).where("source <> 'src0'"),
            _docs(s, d).where("source = 'src0'"),
        ),
        "dedup_ngram_jaccard": lambda s, d: ngram_jaccard_pairs_gemm(_docs(s, d)),
        # the directional mode reads both orientations off the ONE
        # intersection matrix
        "dedup_containment_dir": lambda s, d: ngram_jaccard_pairs_gemm(
            _docs(s, d), threshold=0.8, score="containment_dir"
        ),
        "dedup_minhash_sig": lambda s, d: minhash_signatures(_docs(s, d)),
        "dedup_minhash_pairs": lambda s, d: minhash_lsh_pairs(_docs(s, d)),
        "dedup_simhash": lambda s, d: simhash_signatures(_docs(s, d)),
        "dedup_embedding_cosine": lambda s, d: embedding_neardup_pairs(
            load_table(s, d, "embeddings")
        ),
        "dedup_containment": lambda s, d: ngram_jaccard_pairs_gemm(
            _docs(s, d), threshold=0.8, score="containment"
        ),
        "dedup_lsh_eval": lambda s, d: lsh_recall_eval(_docs(s, d)),
    }


def oracle_sql() -> dict:
    return {
        "dedup_exact": EXACT_SQL,
        "dedup_incremental": INCREMENTAL_SQL,
        "dedup_ngram_jaccard": NGRAM_SQL,
        "dedup_containment_dir": NGRAM_CONTAINMENT_SQL,
        "dedup_minhash_sig": minhash_sig_sql(),
        "dedup_minhash_pairs": minhash_pairs_sql(),
        "dedup_simhash": simhash_sql(),
        "dedup_embedding_cosine": EMB_NEARDUP_SQL,
        "dedup_containment": CONTAINMENT_SQL,
        "dedup_lsh_eval": lsh_recall_eval_sql(),
    }
