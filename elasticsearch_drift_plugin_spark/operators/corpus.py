"""Corpus-level statistics for training-data curation (north-star
extensions alongside :mod:`dedup` / :mod:`text`): TF-IDF distinctive
terms and benchmark-contamination screening.

Scale design:

- TF-IDF is two hash aggregations (term frequency per doc, document
  frequency per term) plus one shuffle join on the term — the same shape at
  any corpus size; the per-doc top-k is a ranking window partitioned by
  doc. Floating point is contained to ONE ``ln`` per distinct term,
  floored to 1e-6 quanta (``idf_q``); every per-doc score is then exact
  integer arithmetic (``tf * idf_q``), so the DuckDB oracle matches
  bit-for-bit and ranking ties are impossible to flip across engines.
- Contamination joins each document's word n-grams against the benchmark
  gram set. Benchmark suites are small (thousands of docs), so the gram
  set is a broadcast hash join — the corpus is scanned once, never
  shuffled. At larger benchmark sizes swap the raw-string broadcast for
  the compact hashed-membership filter
  (:func:`contamination_overlap_hashed`: 8-byte gram hashes, one-sided
  error); the plan shape is unchanged. (Spark's ``bloom_filter_agg`` is
  internal-only as of 4.1 — the hashed-membership join is the public-API
  equivalent.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import memo
from ..functions.hashing import HEX15_SQL_FN, md5_hash60
from ..functions.sql_literal import literal_frame
from ..sources.flows import load_table

QUANT = 1_000_000


def _doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf): lowercase whitespace tokens, with multiplicity."""
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3, n_docs: int | None = None) -> DataFrame:
    """(doc_id, rank, term, tf, score_q): each document's ``k`` most
    distinctive terms by TF-IDF, ``idf = ln((N + 1) / (df + 1))``.

    ``score_q = tf * floor(idf * 1e6)`` — integer, so cross-engine ordering
    is deterministic; ties break by term. Pass ``n_docs`` from catalog
    stats to skip the sizing count job (parquet answers it from metadata).
    """
    n = n_docs if n_docs is not None else docs.count()
    terms = _doc_terms(docs)
    df_tbl = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_q = F.floor(
        F.log((F.lit(float(n + 1))) / (F.col("df") + F.lit(1.0))) * F.lit(float(QUANT))
    ).alias("idf_q")
    scored = terms.join(df_tbl.select("term", idf_q), "term").select(
        "doc_id", "term", "tf", (F.col("tf") * F.col("idf_q")).alias("score_q")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_q").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", F.col("rank").cast("long").alias("rank"), "term", "tf", "score_q")
        .orderBy("doc_id", "rank")
    )


def tfidf_sql(k: int = 3) -> str:
    return f"""
WITH terms AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
  WHERE term <> '' GROUP BY doc_id, term
),
dfreq AS (
  SELECT term,
         CAST(FLOOR(ln(((SELECT COUNT(*) FROM documents) + 1.0) / (COUNT(*) + 1.0))
                    * {float(QUANT)}) AS BIGINT) AS idf_q
  FROM terms GROUP BY term
),
scored AS (
  SELECT t.doc_id, t.term, t.tf, t.tf * d.idf_q AS score_q
  FROM terms t JOIN dfreq d USING (term)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score_q DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, score_q
FROM ranked WHERE rank <= {k} ORDER BY doc_id, rank
"""


def _word_grams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, g): distinct word n-grams per document.

    Dedup is per-doc ``array_distinct`` BEFORE the explode (r14, guide
    §2.4): results are keyed by doc, so a per-doc dedup is exactly the
    global distinct on (doc_id, g) — without the hash exchange that
    shuffled every gram STRING just to dedup it."""
    toks = docs.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("l"))
    return toks.where(F.size("l") >= n).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(l) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(l, i, {n})))"
                )
            )
        ).alias("g"),
    )


def contamination_overlap(
    corpus: DataFrame, benchmark: DataFrame, n: int = 8
) -> DataFrame:
    """(doc_id, n_grams, n_hit, frac_q): per corpus document, the fraction
    of its distinct word ``n``-grams that appear anywhere in the benchmark
    set — the standard train/test contamination screen. Documents shorter
    than ``n`` tokens have no grams and report 0/0/0.

    Gram-less docs ride through as one NULL-gram sentinel row (excluded
    from ``count(g)``, never matching the bench join) so the result covers
    every doc with ONE aggregation — no corpus-sized restore-join.

    Per-doc ``array_distinct`` before the explode IS the (doc_id, g)
    distinct (r14, guide §2.4) — the former global ``.distinct()``
    shuffled every gram string through a hash exchange to dedup pairs
    that never cross documents.
    """
    toks = corpus.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("l"))
    gram_list = F.when(
        F.size("l") >= n,
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(l) - {n - 1}),"
                f" i -> concat_ws(' ', slice(l, i, {n})))"
            )
        ),
    ).otherwise(F.array(F.lit(None).cast("string")))
    grams = toks.select("doc_id", F.explode(gram_list).alias("g"))
    bench = _word_grams(benchmark, n).select("g").distinct()
    return (
        grams.join(F.broadcast(bench.withColumn("__hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("g").alias("n_grams"),  # count(g) skips the NULL sentinel
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.when(
                F.col("n_grams") > 0,
                F.floor(F.col("n_hit") / F.col("n_grams") * F.lit(float(QUANT))),
            )
            .otherwise(F.lit(0))
            .alias("frac_q"),
        )
        .orderBy("doc_id")
    )


def contamination_sql(bench_where: str, corpus_where: str, n: int = 8) -> str:
    def grams(where: str) -> str:
        return f"""
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(l) - {n - 1}),
                                 i -> array_to_string(l[i:i+{n - 1}], ' '))) AS g
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
          FROM documents WHERE {where})
    WHERE len(l) >= {n})
"""

    return f"""
WITH grams AS ({grams(corpus_where)}),
bench AS (SELECT DISTINCT g FROM ({grams(bench_where)})),
hits AS (
  SELECT grams.doc_id, COUNT(*) AS n_grams,
         COUNT(bench.g) AS n_hit
  FROM grams LEFT JOIN bench ON grams.g = bench.g
  GROUP BY grams.doc_id
)
SELECT d.doc_id,
       COALESCE(n_grams, 0) AS n_grams,
       COALESCE(n_hit, 0) AS n_hit,
       COALESCE(CAST(FLOOR(CAST(n_hit AS DOUBLE) / n_grams * {float(QUANT)}) AS BIGINT), 0)
         AS frac_q
FROM (SELECT doc_id FROM documents WHERE {corpus_where}) d
LEFT JOIN hits ON hits.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def contamination_overlap_hashed(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    hash_bits: int = 40,
) -> DataFrame:
    """Same output shape as :func:`contamination_overlap` but membership is
    tested against ``hash_bits``-bit gram hashes instead of raw gram
    strings — the compact-filter path when the benchmark gram set is too
    large to broadcast raw (8 bytes per gram vs ~50 for an 8-word string).

    One-sided error, like any Bloom-style filter: hash collisions can only
    ADD hits (no false negatives), with per-gram false-positive rate
    ``|bench grams| / 2^hash_bits`` (~1e-6 at the defaults for a 1M-gram
    suite) — so a document that screens clean IS clean. Pure Catalyst:
    one broadcast equi-join on longs, no UDF, no filter blob.
    """
    mask = F.lit((1 << hash_bits) - 1)
    toks = corpus.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("l"))
    # dedup per doc on the HASH array (two grams colliding at hash_bits
    # count once — the membership key is the hash), map-side via
    # array_distinct instead of a (doc_id, h) hash exchange (r14, §2.4)
    hash_list = F.when(
        F.size("l") >= n,
        F.array_distinct(
            F.transform(
                F.expr(
                    f"transform(sequence(1, size(l) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(l, i, {n})))"
                ),
                lambda g: F.xxhash64(g).bitwiseAND(mask),
            )
        ),
    ).otherwise(F.array(F.lit(None).cast("long")))
    grams = toks.select("doc_id", F.explode(hash_list).alias("h"))
    bench = (
        _word_grams(benchmark, n)
        .select(F.xxhash64("g").bitwiseAND(mask).alias("h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        grams.join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("h").alias("n_grams"),  # NULL sentinel excluded
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.when(
                F.col("n_grams") > 0,
                F.floor(F.col("n_hit") / F.col("n_grams") * F.lit(float(QUANT))),
            )
            .otherwise(F.lit(0))
            .alias("frac_q"),
        )
        .orderBy("doc_id")
    )


def domain_cap(
    df: DataFrame,
    domain_col: str = "source",
    cap: int = 10,
    priority_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` documents per domain — the standard curation
    guard against domain skew (a handful of hot domains otherwise
    dominating a crawl-derived mixture; every production pre-training
    recipe carries a per-domain cap).

    Priority: highest ``priority_col`` first (a quality score, length,
    recency — NULLs lose), ``id_col`` ascending as the deterministic
    tie-break, so the kept set is identical in any engine and across
    reruns. Without a priority column the cap keeps the lowest ids.

    One hash-partitioned window: Spark plans ``row_number <= cap`` as
    WindowGroupLimit (per-partition top-``cap`` heaps BEFORE the shuffle,
    then per-key limits after) — at 100 TB each task retains at most
    ``cap`` rows per domain it sees, so the shuffle carries
    O(domains × cap × tasks), never the raw corpus."""
    if cap < 1:
        raise ValueError("domain_cap cap must be >= 1")
    from pyspark.sql.window import Window

    order = (
        [F.col(priority_col).desc_nulls_last(), F.col(id_col).asc()]
        if priority_col
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy(domain_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(cap))
        .drop("__rn")
    )


def domain_cap_sql(
    domain_col: str = "source",
    cap: int = 10,
    priority_col: str | None = None,
    id_col: str = "doc_id",
) -> str:
    order = (
        f"{priority_col} DESC NULLS LAST, {id_col} ASC"
        if priority_col
        else f"{id_col} ASC"
    )
    return f"""
SELECT doc_id, {domain_col}
FROM (
  SELECT doc_id, {domain_col},
         row_number() OVER (PARTITION BY {domain_col} ORDER BY {order}) AS rn
  FROM documents
) WHERE rn <= {int(cap)}
ORDER BY doc_id
"""


def hash_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    rate: float = 0.25,
    strata_col: str | None = None,
    strata_rates: dict | None = None,
) -> DataFrame:
    """Deterministic, content-stable sampling: keep a row iff
    ``md5_60(id) mod 1e6 < rate · 1e6``. No RNG state — the same row makes
    the same cut in every run, on every engine, at any parallelism (the
    reproducibility a training-data pipeline needs for ablations), and
    rates are monotone: a 10% sample is a subset of a 25% one.
    ``strata_rates`` overrides the rate per ``strata_col`` value
    (stratified up/down-sampling). Map-only; the predicate reaches the
    scan."""
    h = F.pmod(md5_hash60(F.col(id_col).cast("string")), F.lit(QUANT))
    if strata_rates:
        rate_col = F.lit(float(rate))
        for k, v in strata_rates.items():
            rate_col = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(rate_col)
        thresh = F.floor(rate_col * F.lit(float(QUANT)))
    else:
        thresh = F.lit(int(rate * QUANT))
    return df.where(h < thresh)


def hash_sample_sql(
    rate: float = 0.25, strata_col: str = "source", strata_rates: dict | None = None
) -> str:
    h = HEX15_SQL_FN.format(expr="CAST(doc_id AS VARCHAR)")
    if strata_rates:
        whens = " ".join(
            f"WHEN {strata_col} = '{k}' THEN {int(float(v) * QUANT)}"
            for k, v in strata_rates.items()
        )
        thresh = f"CASE {whens} ELSE {int(rate * QUANT)} END"
    else:
        thresh = str(int(rate * QUANT))
    return f"""
SELECT doc_id, source FROM documents
WHERE ({h}) % {QUANT} < {thresh}
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# global span dedup (C4-style)
# --------------------------------------------------------------------------
SPAN_TOKENS = 8


def span_dedup(
    docs: DataFrame,
    chunk: int = SPAN_TOKENS,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_spans, dup_spans, cleaned_md5): C4-style global span
    dedup — the corpus keeps only the globally FIRST occurrence (min
    (doc_id, position)) of every ``chunk``-token span; all later
    occurrences are removed. ``cleaned_md5`` hashes the document's
    surviving spans in order, proving the reconstruction, without carrying
    the cleaned text through the comparison.

    C4 removed any three-sentence span occurring more than once in the
    corpus (Raffel et al. 2020, §2.2); with no sentence boundaries in the
    corpus this uses fixed ``chunk``-token windows as the span unit.
    Documents shorter than one span are excluded (no span to judge).

    Scale shape: spans are grouped on a 60-bit md5 of the span text, so
    the winner aggregation and the winner join both shuffle 8-byte keys,
    never span text; the winner per span is ``min(struct(doc_id, pos))``
    — a hash aggregate with map-side partial combine, so a boilerplate
    span occurring 10^9 times collapses to one row per map task before
    the shuffle (a ranking window partitioned by span would instead sort
    the full hot partition). The reconstruction is a per-doc
    sort_array over (pos, span) structs — bounded by document length.
    """
    toks = F.split(F.col(content_col), " ")
    spans = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("l"))
        .where(F.size("l") >= chunk)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(l) div {chunk} - 1),"
                    f" i -> array_join(slice(l, i * {chunk} + 1, {chunk}), ' '))"
                )
            ).alias("pos", "span"),
        )
        .withColumn("g", md5_hash60(F.col("span")))
    )
    winners = spans.groupBy("g").agg(
        F.min(F.struct("doc_id", "pos")).alias("w")
    )
    marked = spans.join(winners, "g").select(
        "doc_id",
        "pos",
        "span",
        (
            (F.col("doc_id") == F.col("w.doc_id")) & (F.col("pos") == F.col("w.pos"))
        ).alias("kept"),
    )
    kept_spans = F.array_sort(
        F.collect_list(F.when(F.col("kept"), F.struct("pos", "span")))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("dup_spans"),
            F.md5(
                F.array_join(
                    F.transform(kept_spans, lambda s: s["span"]), " "
                )
            ).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


def span_dedup_sql(chunk: int = SPAN_TOKENS) -> str:
    """DuckDB twin keyed on the raw span text (semantics-pinning; the
    Spark side's 60-bit hash key is an implementation detail)."""
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= {chunk}
),
spans AS (
  SELECT doc_id, i AS pos,
         array_to_string(l[i * {chunk} + 1 : i * {chunk} + {chunk}], ' ') AS span
  FROM (SELECT doc_id, l, unnest(range(0, len(l) // {chunk})) AS i FROM t)
),
marked AS (
  SELECT doc_id, pos, span,
         ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
  FROM spans
)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS dup_spans,
       md5(COALESCE(string_agg(span, ' ' ORDER BY pos) FILTER (WHERE rn = 1), ''))
         AS cleaned_md5
FROM marked GROUP BY doc_id ORDER BY doc_id
"""



# --------------------------------------------------------------------------
# corpus-wide n-gram heavy hitters (boilerplate mining)
# --------------------------------------------------------------------------
def top_ngrams(
    docs: DataFrame, n: int = 5, size: int = 50, min_df: int = 2
) -> DataFrame:
    """(g, df): the ``size`` word ``n``-grams present in the most documents
    — the exact heavy-hitters pass that seeds boilerplate lists (the spans
    `span_dedup` then strips). Document frequency, not occurrence count:
    each doc contributes a gram once (the distinct is per-doc, map-heavy).

    Exact by design: the gram groupBy is a partial+final hash aggregate —
    a boilerplate gram in 10^9 docs collapses to one row per map task
    before the shuffle, so exact heavy hitters costs one aggregation at
    any corpus size (a sketch would only save the final top-``size``
    sort, which is already bounded by distinct-gram count).
    """
    grams = _word_grams(docs, n)
    return (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
        .orderBy(F.col("df").desc(), F.col("g").asc())
        .limit(size)
    )


def top_ngrams_sql(n: int = 5, size: int = 50, min_df: int = 2) -> str:
    return f"""
WITH grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(l) - {n - 1}),
                                 i -> array_to_string(l[i:i+{n - 1}], ' '))) AS g
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents)
    WHERE len(l) >= {n})
)
SELECT g, COUNT(*) AS df FROM grams GROUP BY g
HAVING COUNT(*) >= {min_df}
ORDER BY df DESC, g ASC LIMIT {size}
"""


def boilerplate_strip(
    docs: DataFrame, width: int = 8, max_df: int = 2
) -> DataFrame:
    """(doc_id, n_chunks, n_removed, kept_text): CCNet-style boilerplate
    removal — drop every tumbling ``width``-word segment whose DOCUMENT
    frequency across the corpus exceeds ``max_df`` (navigation chrome,
    cookie banners, license headers…), and reassemble the surviving text in
    order. With newline-delimited corpora the segment is the literal line;
    the synthetic fixture is single-line, so segmentation tumbles over the
    whitespace token array — the df-threshold semantics are identical.

    Distinct from :func:`span_dedup` (which keeps the FIRST occurrence and
    drops later repeats): boilerplate removal drops ALL occurrences once a
    segment is too common — the CCNet/RefinedWeb rule.

    Scale: segments are keyed by ``xxhash64`` (64-bit) so the df
    aggregation and the flag join move 8-byte keys, never segment text;
    df is a two-level exact distinct (dedup (hash, doc) then count). The
    flag join is a plain equi-join on the hash — data-dependent size, left
    to AQE (NOT broadcast: the common-segment set is O(corpus) in the
    worst case). Reassembly sorts each doc's surviving chunk structs
    in-array (``sort_array`` after ``collect_list`` — per-doc data, no
    extra shuffle)."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("__ts"))
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(0, CAST(floor((size(__ts) - 1) / {width}) AS BIGINT))")
        ).alias("chunk_no"),
        "__ts",
    ).select(
        "doc_id",
        "chunk_no",
        F.expr(f"array_join(slice(__ts, chunk_no * {width} + 1, {width}), ' ')").alias(
            "chunk"
        ),
    ).withColumn("__h", F.xxhash64("chunk"))
    df_per_chunk = (
        chunks.select("__h", "doc_id")
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    flagged = chunks.join(df_per_chunk, "__h").withColumn(
        "__bad", F.col("__df") > max_df
    )
    kept = F.expr(
        "filter(sort_array(collect_list(named_struct('no', chunk_no, 'bad', __bad,"
        " 'chunk', chunk))), s -> NOT s.bad)"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("__bad").cast("long")).alias("n_removed"),
            kept.alias("__kept"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_removed",
            F.when(
                F.size("__kept") > 0,
                F.expr("array_join(transform(__kept, s -> s.chunk), ' ')"),
            ).alias("kept_text"),
        )
        .orderBy("doc_id")
    )


def boilerplate_sql(width: int = 8, max_df: int = 2) -> str:
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
chunks AS (
  SELECT doc_id, i AS chunk_no,
         array_to_string(ts[(i*{width}+1):(i*{width}+{width})], ' ') AS chunk
  FROM toks, LATERAL unnest(generate_series(
       0, CAST(floor((len(ts) - 1) / {width}) AS BIGINT))) AS t(i)
),
df AS (SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY chunk),
flagged AS (
  SELECT c.doc_id, c.chunk_no, c.chunk, d.df > {max_df} AS bad
  FROM chunks c JOIN df d USING (chunk)
)
SELECT doc_id, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       string_agg(CASE WHEN NOT bad THEN chunk END, ' ' ORDER BY chunk_no)
         AS kept_text
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# bigram language-model scoring (KenLM-style quality filter, self-trained)
# --------------------------------------------------------------------------
def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, sum_logp_q, avg_logp_q): score every document
    under an add-one-smoothed bigram LM trained on the corpus itself — the
    perplexity-style quality filter real training pipelines run (low
    average log-probability ⇒ boilerplate/garbled text).

    ``logp(w2|w1) = ln((c(w1,w2) + 1) / (c(w1) + V))`` with ``V`` the
    corpus vocabulary size; each bigram's logp is floored to 1e-6 quanta
    (the tfidf/string_stats log-quantization discipline) and summed
    exactly, so cross-engine hashing is deterministic. Docs with < 2
    tokens score NULL with ``n_bigrams = 0``.

    Scale shape: two count aggregations (bigram, unigram) + one join of
    doc-bigrams against the bigram table keyed by (w1, w2) — all
    partial+final hash aggs; V rides along as a 1-row broadcast. At 100 TB
    cap the model to the top-V bigrams broadcast + OOV default instead of
    the full shuffle join (same rewrite as the contamination screen's
    hashed-membership variant).
    """
    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "").alias("__t"),
    )
    big = toks.select(
        "doc_id",
        F.explode(
            # guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
            # being empty, so a single-token doc would index out of bounds
            # under ANSI — emit an explicitly empty array below 2 tokens
            F.expr(
                "CASE WHEN size(__t) >= 2 THEN"
                " transform(sequence(1, size(__t) - 1),"
                " i -> struct(__t[i - 1] AS w1, __t[i] AS w2))"
                " ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    uni = toks.select(F.explode("__t").alias("w1"))
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = uni.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    # V = #distinct unigrams = #rows of the unigram count table — one
    # 1-row agg over vocab-sized cu (whose exchange the cu consumer
    # reuses) instead of a separate countDistinct corpus pass (r14)
    vocab = cu.agg(F.count(F.lit(1)).alias("V"))
    logp_q = F.floor(
        F.log(
            (F.col("cb") + F.lit(1.0))
            / (F.col("cu") + F.col("V").cast("double"))
        )
        * F.lit(float(QUANT))
    )
    scored = (
        big.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", logp_q.alias("__lq"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("__lq").alias("sum_logp_q"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "sum_logp_q",
            # exact floor mean of (negative) log quanta
            F.expr(
                "CASE WHEN n_bigrams > 0 THEN"
                " (sum_logp_q - pmod(sum_logp_q, n_bigrams)) div n_bigrams"
                " END"
            ).alias("avg_logp_q"),
        )
        .orderBy("doc_id")
    )


BIGRAM_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
  FROM documents
),
big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
        FROM toks)
),
uni AS (SELECT unnest(t) AS w1 FROM toks),
cb AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY w1, w2),
cu AS (SELECT w1, COUNT(*) AS cu FROM uni GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w1) AS V FROM uni),
scored AS (
  SELECT big.doc_id,
         CAST(FLOOR(ln((cb.cb + 1.0) / (cu.cu + CAST(v.V AS DOUBLE)))
              * {float(QUANT)}) AS BIGINT) AS lq
  FROM big JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(lq) AS BIGINT) AS sum_logp_q
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_bigrams, 0) AS n_bigrams,
       a.sum_logp_q,
       CASE WHEN a.n_bigrams > 0 THEN
         CAST((a.sum_logp_q - ((a.sum_logp_q % a.n_bigrams + a.n_bigrams)
               % a.n_bigrams)) // a.n_bigrams AS BIGINT)
       END AS avg_logp_q
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling")
# --------------------------------------------------------------------------
DSIR_BUCKETS = 8192


def _hashed_grams(docs: DataFrame, buckets: int = DSIR_BUCKETS) -> DataFrame:
    """(…, b): one row per hashed n-gram of each doc, carrying every column
    of ``docs`` except ``text`` — DSIR's feature map. Grams are unigrams +
    space-joined bigrams (a unigram can never contain a space, so the two
    families can't collide), bucketed by the cross-engine md5 hash mod
    ``buckets``. One map-side HOF projection + explode: narrow, no corpus
    self-join. The scan is widened so the md5 battery parallelizes on
    single-split samples (no-op at real scale)."""
    from ..sources.flows import widen_narrow_scan

    keys = [c for c in docs.columns if c != "text"]
    docs = widen_narrow_scan(docs, "doc_id")
    toks = docs.select(
        *keys,
        F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "").alias("__t"),
    )
    grams = toks.select(
        *keys,
        F.explode(
            F.concat(
                F.col("__t"),
                # sequence(1, 0) DESCENDS — guard single-token docs
                F.expr(
                    "CASE WHEN size(__t) >= 2 THEN"
                    " transform(sequence(1, size(__t) - 1),"
                    " i -> concat_ws(' ', __t[i - 1], __t[i]))"
                    " ELSE CAST(array() AS array<string>) END"
                ),
            )
        ).alias("g"),
    )
    return grams.select(*keys, (md5_hash60(F.col("g")) % F.lit(int(buckets))).alias("b"))


def dsir_weights(
    docs: DataFrame,
    target_where: str = "source = 'src0'",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(doc_id, n_grams, dsir_q): each RAW document's DSIR importance
    weight — its log likelihood-ratio between a hashed-n-gram bag model of
    the TARGET distribution and one of the raw distribution,
    ``Σ_b cnt_doc[b] · (ln p̂_t[b] − ln p̂_r[b])`` with add-one smoothing
    over ``buckets`` hash buckets. High ``dsir_q`` ⇒ the doc looks like
    the target domain; this is the standard public data-selection operator
    for pre-training corpora (DSIR, Xie et al. 2023). A doc whose
    ``target_where`` is NULL is on neither side.

    Float discipline: each bucket's two log-probabilities are floored to
    1e-6 quanta INDEPENDENTLY (the ``bigram_lm_score`` convention), so the
    per-doc weight is an exact integer sum — cross-engine hashable.

    Scale shape: the model is fitted by ONE gram pass over ``docs`` with a
    side flag, summed per bucket into both sides' counts at once; the gram
    totals Nt/Nr are whole-table window sums in the same plan, so ``log``
    runs in the JVM and nothing is collected as a scalar. λ covers the
    buckets the raw side hit, a table bounded by ``buckets`` (8k rows),
    collected once through Arrow and kept as a literal frame. Scoring
    replays the raw gram pass against the broadcast λ table
    (recompute-over-persist is the honest choice for a corpus-sized
    intermediate). No corpus self-join anywhere.
    """
    raw = docs.where(f"NOT ({target_where})")
    doc_b = (
        _hashed_grams(raw.select("doc_id", "text"), buckets)
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # λ memo: the fitted model is deterministic in (input, params), and
    # dsir_weights + dsir_sample would re-fit the identical model otherwise

    def fit_lambda() -> DataFrame:
        sided = docs.select(
            "doc_id", "text", F.expr(f"CAST(({target_where}) AS INT)").alias("__side")
        ).where("__side IS NOT NULL")
        # one partition after the bucket sum, so the totals' window needs
        # no second exchange; SQL text, not Column algebra, for the λ
        # expression (one parse instead of ~10 py4j calls per function)
        per_b = (
            _hashed_grams(sided, buckets)
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("__side").alias("ct"))
            .coalesce(1)
        )
        bl, q = float(buckets), float(QUANT)
        lam = (
            per_b.selectExpr(
                "b", "ct", "n - ct AS cr",
                "sum(ct) OVER () AS nt", "sum(n - ct) OVER () AS nr",
            )
            .where("cr > 0")
            .selectExpr(
                "b",
                f"floor(ln((ct + 1.0D) / (nt + {bl}D)) * {q}D)"
                f" - floor(ln((cr + 1.0D) / (nr + {bl}D)) * {q}D) AS lam_q",
            )
        )
        return literal_frame(docs.sparkSession, lam.toArrow(), "b long, lam_q long")

    key = memo.frame_key(docs, target_where, int(buckets))
    lam = memo.get_or_compute("dsir_lambda", key, docs.sparkSession, fit_lambda)
    scored = (
        doc_b.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("lam_q")).alias("dsir_q"),
        )
    )
    return (
        raw.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            "dsir_q",
        )
        .orderBy("doc_id")
    )


def dsir_weights_sql(
    target_where: str = "source = 'src0'", buckets: int = DSIR_BUCKETS
) -> str:
    h = HEX15_SQL_FN.format(expr="g")
    bl = float(buckets)
    return f"""
WITH raw_toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
  FROM documents WHERE NOT ({target_where})
),
tgt_toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
  FROM documents WHERE {target_where}
),
raw_grams AS (
  SELECT doc_id, unnest(list_concat(t,
           CASE WHEN len(t) >= 2 THEN
             list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])
           ELSE [] END)) AS g
  FROM raw_toks
),
tgt_grams AS (
  SELECT doc_id, unnest(list_concat(t,
           CASE WHEN len(t) >= 2 THEN
             list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])
           ELSE [] END)) AS g
  FROM tgt_toks
),
doc_b AS (
  SELECT doc_id, ({h}) % {int(buckets)} AS b, COUNT(*) AS cnt
  FROM raw_grams GROUP BY 1, 2
),
cr AS (SELECT b, SUM(cnt) AS cr FROM doc_b GROUP BY b),
ct AS (
  SELECT ({h}) % {int(buckets)} AS b, COUNT(*) AS ct
  FROM tgt_grams GROUP BY 1
),
nt AS (SELECT SUM(ct) AS Nt FROM ct),
nr AS (SELECT SUM(cr) AS Nr FROM cr),
lam AS (
  SELECT cr.b,
         CAST(FLOOR(ln((COALESCE(ct.ct, 0) + 1.0) / (nt.Nt + {bl})) * {float(QUANT)}) AS BIGINT)
         - CAST(FLOOR(ln((cr.cr + 1.0) / (nr.Nr + {bl})) * {float(QUANT)}) AS BIGINT) AS lam_q
  FROM cr LEFT JOIN ct USING (b) CROSS JOIN nt CROSS JOIN nr
),
scored AS (
  SELECT doc_b.doc_id, SUM(cnt) AS n_grams, SUM(cnt * lam_q) AS dsir_q
  FROM doc_b JOIN lam USING (b) GROUP BY doc_b.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(s.dsir_q AS BIGINT) AS dsir_q
FROM (SELECT doc_id FROM documents WHERE NOT ({target_where})) d
LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""


def dsir_sample(
    docs: DataFrame,
    n: int = 100,
    salt: str = "dsir-v1",
    target_where: str = "source = 'src0'",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(doc_id, dsir_q, key_q): DSIR's selection step — a weighted sample
    WITHOUT replacement of the raw corpus, proportional to the importance
    weights, via Gumbel-top-k (the log-space twin of
    :func:`weighted_sample`'s A-ES keys, so enormous ``exp(dsir)`` ratios
    never materialize): ``key = logw + Gumbel(0,1)`` with the Gumbel drawn
    from the same salted-md5 deterministic uniform, and the global top-n
    keys ARE the resample (Gumbel-top-k ≡ successive weighted draws).

    Scale: map-side keys over :func:`dsir_weights`' output + one global
    top-n (TakeOrderedAndProject — per-partition heaps, no full sort).
    """
    w = dsir_weights(docs, target_where=target_where, buckets=buckets).where(
        F.col("dsir_q").isNotNull()
    )
    u = (
        (
            md5_hash60(F.concat(F.lit(salt + "#"), F.col("doc_id").cast("string")))
            % F.lit(1_000_000)
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(1_000_000.0)
    return (
        w.withColumn("__u", u)
        .select(
            "doc_id",
            "dsir_q",
            (
                F.col("dsir_q")
                + F.floor(-F.log(-F.log("__u")) * F.lit(float(QUANT))).cast("long")
            ).alias("key_q"),
        )
        .orderBy(F.col("key_q").desc(), "doc_id")
        .limit(int(n))
    )


def dsir_sample_sql(
    n: int = 100,
    salt: str = "dsir-v1",
    target_where: str = "source = 'src0'",
    buckets: int = DSIR_BUCKETS,
) -> str:
    h = HEX15_SQL_FN.format(expr=f"'{salt}#' || CAST(doc_id AS VARCHAR)")
    inner = dsir_weights_sql(target_where=target_where, buckets=buckets)
    return f"""
WITH w AS ({inner}),
keyed AS (
  SELECT doc_id, dsir_q,
         (CAST(({h}) % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS u
  FROM w WHERE dsir_q IS NOT NULL
)
SELECT doc_id, dsir_q,
       dsir_q + CAST(FLOOR(-ln(-ln(u)) * {float(QUANT)}) AS BIGINT) AS key_q
FROM keyed ORDER BY key_q DESC, doc_id LIMIT {int(n)}
"""


# --------------------------------------------------------------------------
# in-engine quality classifier (hashed-feature logistic regression, the
# GPT-3/CCNet-style "looks like the curated domain" gate)
# --------------------------------------------------------------------------
CLF_DIMS = 64
CLF_ITERS = 8
CLF_LR_NUM = 1
CLF_LR_DEN = 50
# Full-batch training holds an n × (dims+1) int64 matrix on the driver (52
# MB at this cap); a quality classifier never needs more than a sample.
# comp_q is tf·idf_q, |comp_q| ≤ ~9e6 on the sf0.1 documents, and each
# gradient term is comp_q · r with |r| ≤ 1e6, so the int64 gradient sum has
# ~1e6 docs of headroom at that magnitude. The driver kernel checks the
# exact bound instead — max column Σ|X| · 1e6 before training, max row
# Σ|X| · max|w| before every margin pass — and declines if a sum could
# wrap; then, and over this cap, the distributed loop trains, where ANSI
# mode raises on overflow. ``max_train_docs`` enforces the cap.
MAX_CLF_TRAIN_DOCS = 100_000
_I64_LIMIT = 2**63 - 1 - QUANT  # margin room for the hard-sigmoid's floor step


def _clf_features(
    docs: DataFrame, dims: int = CLF_DIMS, n_docs: int | None = None
) -> DataFrame:
    """(doc_id, dim, comp_q): the classifier's design matrix — the
    :func:`text.hash_embed` hashed TF-IDF vector (without its output sort)
    plus an intercept row (``dim = -1``, x = 1.0) per document, long-format
    integer quanta. ``n_docs`` is ``docs.count()`` if the caller has it."""
    from .text import _tfidf_contribs

    feats = (
        _tfidf_contribs(docs, dims, n_docs)
        .groupBy("doc_id", "dim")
        .agg(F.sum("c").cast("long").alias("comp_q"))
    )
    icpt = docs.select(
        "doc_id",
        F.lit(-1).cast("long").alias("dim"),
        F.lit(QUANT).cast("long").alias("comp_q"),
    )
    return feats.unionByName(icpt)


def _hardsig_q(m12_sql: str, idiv: str = "div") -> str:
    """Integer hard-sigmoid ``clip(0.5 + z/4, 0, 1)`` in 1e-6 quanta from a
    1e-12-quanta margin — slope 1/4 matches ``sigmoid'(0)`` exactly, and
    the clip keeps EVERY training op in exact integer arithmetic (no exp,
    no ln), so the replay is bit-identical across engines by construction
    rather than by ulp luck. ``idiv`` is the engine's INTEGER division
    operator (Spark ``div``, DuckDB ``//`` — float ``/`` would round
    >2^53 margins); the floor-adjusted numerator is an exact multiple of
    the divisor, so truncating and flooring division coincide."""
    z6 = (
        f"((({m12_sql}) - ((({m12_sql}) % 1000000 + 1000000) % 1000000))"
        f" {idiv} 1000000)"
    )
    return (
        f"LEAST(1000000, GREATEST(0, 500000 + "
        f"CAST((({z6}) - ((({z6}) % 4 + 4) % 4)) {idiv} 4 AS BIGINT)))"
    )


def _hardsig_np(m):
    """:func:`_hardsig_q` over int64 margins: ``//`` floors, as the SQL does."""
    import numpy as np

    return np.clip(500000 + (m // 1000000) // 4, 0, QUANT)


def quality_clf(
    docs: DataFrame,
    target_where: str = "source = 'src0'",
    dims: int = CLF_DIMS,
    n_iter: int = CLF_ITERS,
    lr_num: int = CLF_LR_NUM,
    lr_den: int = CLF_LR_DEN,
    max_train_docs: int = MAX_CLF_TRAIN_DOCS,
) -> DataFrame:
    """(doc_id, y, clf_q): logistic-regression quality gate TRAINED
    IN-ENGINE — full-batch gradient descent on hashed TF-IDF features,
    positives = the curated/target domain (``target_where``), the
    public GPT-3 / CCNet data-filtering recipe. ``clf_q`` is the final
    model's hard-sigmoid score in 1e-6 quanta.

    Determinism (the ``graph_pagerank`` technique, taken further): the
    sigmoid is the integer hard-sigmoid ``clip(0.5 + z/4)`` and every
    margin/residual/gradient/update is exact int64 arithmetic on floored
    quanta — zero float ops anywhere in training, so the whole fixpoint
    replays bit-identically in SQL (:func:`quality_clf_sql` unrolls the
    iterations as MATERIALIZED CTEs).

    Scale shape: one hashed-TF-IDF pass builds the design matrix, collected
    ONCE through Arrow; up to ``MAX_CLF_TRAIN_DOCS`` docs the GD iterations
    and the scoring run on the driver over a dense int64 matrix
    (:func:`_clf_gd_local`) and the scores return as a literal frame.
    Larger inputs, and inputs whose int64 sums could wrap, train through
    the distributed :func:`_clf_gd` and score map-side. A repeat call on
    the same input reuses the trained weights; under the cap it collects
    the design again and scores on the driver. At real scale train on a
    bounded sample (:func:`quality_clf_sampled`).
    """
    labels = _clf_labels(docs, target_where)
    design = []

    def train() -> tuple[dict[int, int], int]:
        # bounded-sample contract, ENFORCED (the lsh_recall_eval
        # discipline): full-batch GD over the whole corpus is never the
        # right call at real scale — train on a sample
        # (quality_clf_sampled / corpus.hash_sample) and score the full
        # corpus with the frozen weights instead
        n = docs.count()
        if n > max_train_docs:
            raise ValueError(
                f"quality_clf trains full-batch over {n} docs "
                f"(> max_train_docs={max_train_docs}); train on a sample "
                f"(quality_clf_sampled, or corpus.hash_sample + the frozen "
                f"weights), or raise max_train_docs to acknowledge the cost"
            )
        feats = _clf_features(docs, dims, n)
        w, d = _clf_train(feats, labels, n, dims, n_iter, lr_num, lr_den)
        design.append(d)
        return w, n

    # trained weights are exact-int64 deterministic, so they are reused
    # for the same input and params (the clf family re-ran the identical
    # train per bench pass otherwise), with the doc count the IDF and the
    # route need
    key = memo.frame_key(
        docs, "full", target_where, dims, n_iter, lr_num, lr_den, max_train_docs
    )
    w, n = memo.get_or_compute("clf_weights", key, docs.sparkSession, train)
    if not design and n <= MAX_CLF_TRAIN_DOCS:
        # memo hit under the cap: the design again from one Arrow collect
        design.append(_clf_design(_clf_features(docs, dims, n), labels, dims))
    d = design[0] if design else None
    if d is not None and _clf_margins(d, [w[k] for k in sorted(w)]) is not None:
        return _clf_score_local(docs.sparkSession, d, w, labels)
    # frozen-weight replay (distributed route): one fused scoring pass —
    # no GD jobs, no (doc, dim) vector materialization
    return _clf_score_frozen(docs, labels, w, dims, n)


def _clf_labels(docs: DataFrame, target_where: str) -> DataFrame:
    return docs.select(
        "doc_id",
        F.expr(
            f"CAST(CASE WHEN {target_where} THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("y"),
    )


def _clf_train(feats, labels, n, dims, n_iter, lr_num, lr_den):
    """Train the integer GD on the driver (:func:`_clf_gd_local`) up to
    ``MAX_CLF_TRAIN_DOCS`` docs unless its int64 bound fails, else with the
    distributed :func:`_clf_gd`. Returns (weights, driver design or None)."""
    design = _clf_design(feats, labels, dims) if n <= MAX_CLF_TRAIN_DOCS else None
    w = design and _clf_gd_local(design, n, dims, n_iter, lr_num, lr_den)
    if w is not None:
        return w, design
    pinned = feats.localCheckpoint(eager=True)
    return _clf_gd(pinned, labels, n, dims, n_iter, lr_num, lr_den), None


def _clf_design(feats: DataFrame, labels: DataFrame, dims: int) -> dict | None:
    """The training input on the driver from ONE Arrow collect of the
    feature rows and the label rows (``dim`` NULL): the dense int64 ``X``
    over the sorted doc ids (column 0 the intercept), cells summed like the
    distributed per-doc sums; per doc the label-row count ``k`` and label
    sum ``ysum``; the label rows ``row``/``y``; max row/column Σ|X|. NULL
    doc ids join nothing in the distributed loop and are dropped. None if
    summing the feature rows could wrap int64."""
    import numpy as np
    import pyarrow.compute as pc

    null = F.lit(None).cast("long")
    t = (
        feats.select("doc_id", "dim", "comp_q", null.alias("y"))
        .unionByName(labels.select("doc_id", null.alias("dim"), null.alias("comp_q"), "y"))
        .where("doc_id IS NOT NULL")
        .toArrow()
    )
    is_lab = pc.is_null(t["dim"])
    ft, lt = t.filter(pc.invert(is_lab)), t.filter(is_lab)
    comp_q, nf = ft["comp_q"].to_numpy(), ft.num_rows
    if nf and max(-int(comp_q.min()), int(comp_q.max())) * nf >= 2**63:
        return None
    ids, inv = np.unique(
        np.concatenate([ft["doc_id"].to_numpy(), lt["doc_id"].to_numpy()]), return_inverse=True
    )
    X, ysum = np.zeros((len(ids), int(dims) + 1), np.int64), np.zeros(len(ids), np.int64)
    row, y = inv[nf:], lt["y"].to_numpy()
    np.add.at(X, (inv[:nf], ft["dim"].to_numpy() + 1), comp_q)
    np.add.at(ysum, row, y)
    absx = np.abs(X)
    return {
        "ids": ids, "X": X, "row": row, "y": y, "ysum": ysum,
        "k": np.bincount(row, minlength=len(ids)),
        "row_abs": int(absx.sum(axis=1).max(initial=0)),
        "col_abs": int(absx.sum(axis=0).max(initial=0)),
    }


def _clf_margins(design: dict, w: list[int]):
    """``X @ w`` (1e-12 quanta), or None if max row Σ|X| · max|w| — the
    bound on every partial margin sum of both routes — could leave int64."""
    import numpy as np

    if design["row_abs"] * max(map(abs, w)) > _I64_LIMIT:
        return None
    return design["X"] @ np.array(w, np.int64)


def _clf_gd_local(design, n, dims, n_iter, lr_num, lr_den) -> dict[int, int] | None:
    """:func:`_clf_gd` bit for bit on :func:`_clf_design`'s matrix: per
    iteration ``m = X @ w``, per doc ``r = k·hardsig(m) − 1e6·ysum`` (each
    label row of a doc meets all of its feature rows in the distributed
    joins), ``S = Xᵀ @ r`` and the update in Python ints. None (decline) if
    an int64 sum could wrap: max column Σ|X| · max k · 1e6 bounds every
    gradient sum, :func:`_clf_margins` every margin, the final one too."""
    ids, k, X = design["ids"], design["k"], design["X"]
    if len(ids) and design["col_abs"] * int(k.max()) * QUANT > _I64_LIMIT:
        return None
    w = [0] * (int(dims) + 1)
    den = int(lr_den) * int(n) * QUANT
    for _ in range(int(n_iter) if len(ids) else 0):
        m = _clf_margins(design, w)
        if m is None:
            return None
        S = X.T @ (k * _hardsig_np(m) - QUANT * design["ysum"])
        w = [wi - (int(lr_num) * si) // den for wi, si in zip(w, S.tolist())]
    if _clf_margins(design, w) is None:
        return None
    return dict(zip(range(-1, int(dims)), w))


def _clf_score_local(spark, design: dict, w: dict[int, int], labels: DataFrame) -> DataFrame:
    """(doc_id, y, clf_q) per label row in doc_id order, scored on the
    driver from the design the weights were trained on (whose final margin
    bound :func:`_clf_gd_local` checked), as a literal frame."""
    import numpy as np
    import pyarrow as pa

    h = _hardsig_np(_clf_margins(design, [w[d] for d in sorted(w)]))
    order = np.argsort(design["row"], kind="stable")
    row = design["row"][order]
    t = pa.table({"doc_id": design["ids"][row], "y": design["y"][order], "clf_q": h[row]})
    id_type = labels.schema["doc_id"].dataType.simpleString()
    return literal_frame(spark, t, f"doc_id {id_type}, y bigint, clf_q bigint")


# Loops that run one tiny-aggregate job per step (the classifier's
# distributed GD loop over the training cap): AQE's per-query replanning
# and a 32-way shuffle add ~0.25 s/job of pure overhead on frames bounded
# by the step's output, so both are scoped off for the loop — one small
# partition at any input size.
_TINY_JOB_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}


def _clf_gd(
    feats: DataFrame,
    labels: DataFrame,
    n: int,
    dims: int,
    n_iter: int,
    lr_num: int,
    lr_den: int,
) -> dict[int, int]:
    """The distributed integer full-batch GD loop over a (pinned) feature
    frame — the route over ``MAX_CLF_TRAIN_DOCS`` and the equality
    reference of :func:`_clf_gd_local`: each iteration is ONE job —
    margins → residuals → a ``dims+1``-row gradient collect; ``n`` is the
    training-doc count entering the denominator. Returns the frozen
    integer weight map."""
    w: dict[int, int] = {d: 0 for d in range(-1, int(dims))}
    with memo.scoped_conf(feats.sparkSession, _TINY_JOB_CONF):
        den = int(lr_den) * int(n) * QUANT
        for _ in range(int(n_iter)):
            margins = (
                feats.withColumn("wq", _wmap_col(w)[F.col("dim")])
                .groupBy("doc_id")
                .agg(F.sum(F.expr("comp_q * coalesce(wq, 0)")).alias("m12"))
            )
            resid = labels.join(margins, "doc_id").select(
                "doc_id",
                F.expr(f"{_hardsig_q('m12')} - y * {QUANT}").alias("r"),
            )
            grads = (
                feats.join(resid, "doc_id")
                .groupBy("dim")
                .agg(F.sum(F.expr("comp_q * r")).alias("S"))
                .collect()
            )
            for row in grads:
                w[int(row.dim)] -= (int(lr_num) * int(row.S)) // den
    return w


def _clf_score_frozen(
    docs: DataFrame,
    labels: DataFrame,
    w: dict[int, int],
    dims: int,
    n_docs: int | None = None,
) -> DataFrame:
    """Frozen-weight scoring fused over the per-term contributions:
    ``m12 = Σ_terms sign·tf·idf·w[dim(term)] + Σ_rows QUANT·w[-1]`` — int64
    addition is associative, so folding the weight into each term row is
    bit-identical to summing the (doc, dim) vector first, and the
    (doc, dim) exchange disappears (r14, guide §2.4). As in
    :func:`quality_clf_sql`, a doc id gets one intercept per source row and
    a NULL doc id joins no label row. Used when no driver design is at hand
    (the distributed route, the sampled trainer's full-corpus pass)."""
    from .text import _tfidf_contribs

    icpt = labels.select(
        "doc_id", F.lit(-1).cast("long").alias("dim"), F.lit(QUANT).cast("long").alias("c")
    )
    margins = (
        _tfidf_contribs(docs, dims, n_docs)
        .unionByName(icpt)
        .withColumn("wq", _wmap_col(w)[F.col("dim")])
        .groupBy("doc_id")
        .agg(F.sum(F.expr("c * coalesce(wq, 0)")).alias("m12"))
    )
    return (
        labels.join(margins, "doc_id")
        .select("doc_id", "y", F.expr(_hardsig_q("m12")).alias("clf_q"))
        .orderBy("doc_id")
    )


def clf_calibration(scored: DataFrame, bins: int = 10) -> DataFrame:
    """(bin, n, pos, mean_clf_q, emp_q): reliability bins for a trained
    quality classifier — the evaluation loop every production data-filter
    needs before its threshold is trusted (is a 0.8 score actually right
    80% of the time?). Equal-width bins over the 1e-6-quanta score; per
    bin the doc count, positive count, mean predicted score and the
    empirical positive rate, all exact int64 (floored quanta) so the
    DuckDB twin replays bit-identically. ONE result-sized aggregation
    over the scored frame — at 100 TB this is a map-side-combinable
    groupBy on ≤ ``bins`` keys."""
    if bins < 2:
        raise ValueError("clf_calibration needs bins >= 2")
    b = F.least(
        F.floor(F.col("clf_q") * bins / F.lit(QUANT)), F.lit(bins - 1)
    ).cast("long")
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
            F.floor(F.sum("clf_q") / F.count(F.lit(1))).cast("long")
            .alias("mean_clf_q"),
        )
        .select(
            "bin", "n", "pos", "mean_clf_q",
            F.floor(F.col("pos") * F.lit(QUANT) / F.col("n")).cast("long")
            .alias("emp_q"),
        )
        .orderBy("bin")
    )


def clf_calibration_sql(bins: int = 10) -> str:
    inner = quality_clf_sql()
    return f"""
WITH scored AS ({inner})
SELECT LEAST(CAST(FLOOR(clf_q * {bins} / {QUANT}.0) AS BIGINT), {bins - 1}) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS pos,
       CAST(FLOOR(SUM(clf_q) / COUNT(*)) AS BIGINT) AS mean_clf_q,
       CAST(FLOOR(SUM(y) * {QUANT}.0 / COUNT(*)) AS BIGINT) AS emp_q
FROM scored GROUP BY 1 ORDER BY bin
"""


def quality_clf_sampled(
    docs: DataFrame,
    sample_rate: float = 0.5,
    target_where: str = "source = 'src0'",
    dims: int = CLF_DIMS,
    n_iter: int = CLF_ITERS,
    lr_num: int = CLF_LR_NUM,
    lr_den: int = CLF_LR_DEN,
    max_train_docs: int = MAX_CLF_TRAIN_DOCS,
) -> DataFrame:
    """:func:`quality_clf`'s 100 TB serving recipe made concrete: train
    the gate on a DETERMINISTIC :func:`hash_sample` cut of the corpus
    (``md5_60(doc_id) mod 1e6 < rate·1e6`` — content-stable, no RNG
    state) and score the FULL corpus map-side with the frozen weights.
    Features (including the IDF table) are computed over the full corpus
    ONCE — the sample restricts which rows enter the gradient, not what
    the vectorizer sees — so sampled and full-batch scores live on the
    same feature scale. The ``max_train_docs`` guard applies to the
    SAMPLE: if the cut is still too big, lower the rate.

    Only the SAMPLE's rows are collected for training (the same routes as
    :func:`quality_clf`); the corpus-sized feature frame stays LAZY,
    consumed once by the final scoring pass."""
    n_docs = docs.count()
    labels = _clf_labels(docs, target_where)

    def train() -> dict[int, int]:
        cut = F.pmod(
            md5_hash60(F.col("doc_id").cast("string")), F.lit(QUANT)
        ) < F.lit(int(float(sample_rate) * QUANT))
        train_ids = F.broadcast(docs.where(cut).select("doc_id"))
        n = train_ids.count()
        if n > max_train_docs:
            raise ValueError(
                f"quality_clf_sampled: the {sample_rate} sample still holds "
                f"{n} docs (> max_train_docs={max_train_docs}); lower the rate"
            )
        feats = _clf_features(docs, dims, n_docs).join(train_ids, "doc_id")
        tlabels = labels.join(train_ids, "doc_id")
        return _clf_train(feats, tlabels, n, dims, n_iter, lr_num, lr_den)[0]

    key = memo.frame_key(
        docs, "sampled", float(sample_rate), target_where, dims, n_iter,
        lr_num, lr_den, max_train_docs,
    )
    w = memo.get_or_compute("clf_weights", key, docs.sparkSession, train)
    # the corpus-sized feature frame was never materialized - score the
    # full corpus with the fused frozen-weight pass instead of replaying
    # the (doc, dim) vector build
    return _clf_score_frozen(docs, labels, w, dims, n_docs)


def _wmap_col(w: dict[int, int]):
    """The integer weight map as ONE parsed SQL literal. The
    Column-algebra spelling (``F.create_map`` over 130 ``F.lit`` calls)
    costs ~95 ms of driver-side Py4J per call — the GD loop calls this
    every iteration, so the clf family was paying ~0.8 s/query of pure
    plan-building.
    Keys/values are ints, so no string escaping is involved; values take
    the BIGINT literal suffix to keep the map type stable regardless of
    magnitude."""
    entries = ", ".join(f"{int(d)}, {int(v)}L" for d, v in w.items())
    return F.expr(f"map({entries})")


def quality_clf_sql(
    target_where: str = "source = 'src0'",
    dims: int = CLF_DIMS,
    n_iter: int = CLF_ITERS,
    lr_num: int = CLF_LR_NUM,
    lr_den: int = CLF_LR_DEN,
    src: str = "documents",
    train_where: str | None = None,
) -> str:
    """DuckDB twin of :func:`quality_clf`: the training loop unrolled as
    MATERIALIZED CTE rounds (the ``bpe_train_sql`` discipline — every
    multiply-referenced step materialized or planning explodes).
    ``train_where`` (the :func:`quality_clf_sampled` twin) restricts
    which doc_ids enter the GD rounds and the denominator; features and
    the final scoring pass stay corpus-wide, mirroring the Spark side."""
    from .text import hash_embed_sql

    hs = _hardsig_q("m12", idiv="//")
    # floored integer division (both engines' operators truncate/floor
    # differently on negatives; spell out floor division explicitly)
    step = (
        f"(({lr_num} * COALESCE(g.S, 0)) - ((({lr_num} * COALESCE(g.S, 0)) % den.d"
        f" + den.d) % den.d)) // den.d"
    )
    tf, tl = ("tfeats", "tlabels") if train_where else ("feats", "labels")
    rounds = []
    prev = "w0"
    for k in range(1, int(n_iter) + 1):
        rounds.append(
            f"""m{k} AS MATERIALIZED (
  SELECT f.doc_id, SUM(f.comp_q * w.wq) AS m12
  FROM {tf} f JOIN {prev} w USING (dim) GROUP BY 1
),
r{k} AS MATERIALIZED (
  SELECT l.doc_id, {hs} - l.y * {QUANT} AS r
  FROM {tl} l JOIN m{k} USING (doc_id)
),
g{k} AS MATERIALIZED (
  SELECT f.dim, SUM(f.comp_q * rr.r) AS S
  FROM {tf} f JOIN r{k} rr USING (doc_id) GROUP BY 1
),
w{k} AS MATERIALIZED (
  SELECT w.dim, CAST(w.wq - ({step}) AS BIGINT) AS wq
  FROM {prev} w LEFT JOIN g{k} g USING (dim) CROSS JOIN den
)"""
        )
        prev = f"w{k}"
    rounds_sql = ",\n".join(rounds)
    train_src = f"(SELECT * FROM {src} WHERE {train_where})" if train_where else src
    train_ctes = (
        f"""tfeats AS MATERIALIZED (
  SELECT f.* FROM feats f JOIN {train_src} t USING (doc_id)
),
tlabels AS MATERIALIZED (
  SELECT l.* FROM labels l JOIN {train_src} t USING (doc_id)
),
"""
        if train_where
        else ""
    )
    return f"""
WITH emb AS MATERIALIZED ({hash_embed_sql(dims, src=src)}),
feats AS MATERIALIZED (
  SELECT doc_id, dim, comp_q FROM emb
  UNION ALL
  SELECT doc_id, CAST(-1 AS BIGINT) AS dim, CAST({QUANT} AS BIGINT) AS comp_q
  FROM {src}
),
labels AS MATERIALIZED (
  SELECT doc_id, CAST(CASE WHEN {target_where} THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM {src}
),
{train_ctes}den AS (SELECT {int(lr_den)} * (SELECT COUNT(*) FROM {train_src}) * {QUANT} AS d),
w0 AS (SELECT CAST(unnest(generate_series(-1, {int(dims) - 1})) AS BIGINT) AS dim,
              CAST(0 AS BIGINT) AS wq),
{rounds_sql},
final AS (
  SELECT f.doc_id, SUM(f.comp_q * w.wq) AS m12
  FROM feats f JOIN {prev} w USING (dim) GROUP BY 1
)
SELECT l.doc_id, l.y, CAST({hs} AS BIGINT) AS clf_q
FROM labels l JOIN final m ON l.doc_id = m.doc_id
ORDER BY l.doc_id
"""


def topic_terms(
    docs: DataFrame,
    emb: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    centroids=None,
) -> DataFrame:
    """(cell, cluster_docs, rank, term, tf, score_q): topic-model-lite —
    documents cluster by their EMBEDDINGS (deterministic seed-centroid IVF
    cells by default; pass ``centroids=kmeans_fit(emb, k=n_clusters)`` for
    Lloyd-TRAINED topics — the serving posture, same plan shape), and each
    cluster is labeled with its ``k`` most distinctive TERMS by
    cluster-level TF-IDF (``idf = ln((C + 1)/(df_clusters + 1))`` where
    ``df_clusters`` counts clusters containing the term). The first
    corpus-exploration query run on any new 100 TB crawl: "what is in
    here, by theme".

    Shape: map-side cell assignment (centroid literals in codegen) → one
    id-co-partitioned join docs↔cells → term aggregation per (cell, term)
    (partial agg collapses before the shuffle) → a broadcast idf join →
    per-cell ranking window. Integer score discipline as tfidf_top_terms.
    """
    from .similarity import _seed_centroids, ivf_assign

    cents = centroids if centroids is not None else _seed_centroids(emb, n_clusters)
    # Pin the cell-assignment table (r14): it feeds BOTH the term join and
    # the cluster_docs sizing agg, and a map-only subtree under two
    # different exchanges is executed once per consumer (AQE's stage cache
    # reuses shuffle stages, not scan+project lineage — measured 0.42 s of
    # duplicated centroid scoring). One eager materialization of the
    # narrow (doc_id, cell) rows serves both; executor-resident, no
    # driver collect, scale-linear.
    cells = (
        ivf_assign(emb, cents)
        .select(F.col("vec_id").alias("doc_id"), "cell")
        .localCheckpoint(eager=True)
    )
    # join the (doc_id, cell) table to the UN-exploded docs and explode
    # after (r14, guide "explode before a join multiplies the shuffle"):
    # the previous _doc_terms(docs).join(cells) shuffled token-level rows
    # by doc_id and paid a per-doc pre-agg; joining at doc granularity
    # moves each text exactly once (strategy left to the planner — cells
    # is corpus-sized, so no broadcast hint), tokens explode map-side
    # after, and the only other shuffle is the (cell, term) partial+
    # final count agg. Σ_docs tf(doc, term) == count of occurrences per
    # (cell, term), so the result is unchanged.
    tokens = (
        docs.join(cells, "doc_id")
        .select(
            "cell",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    ct = tokens.groupBy("cell", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("cluster_docs"))
    n_cells = n_clusters  # fixed by construction (empty cells carry no terms)
    df_tbl = ct.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    idf_q = F.floor(
        F.log(F.lit(float(n_cells + 1)) / (F.col("dfc") + F.lit(1.0)))
        * F.lit(float(QUANT))
    ).alias("idf_q")
    scored = ct.join(F.broadcast(df_tbl.select("term", idf_q)), "term").select(
        "cell", "term", "tf", (F.col("tf") * F.col("idf_q")).alias("score_q")
    )
    w = Window.partitionBy("cell").orderBy(F.col("score_q").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .join(F.broadcast(sizes), "cell")
        .select(
            F.col("cell").cast("long").alias("cell"), "cluster_docs",
            F.col("rank").cast("long").alias("rank"), "term", "tf", "score_q",
        )
        .orderBy("cell", "rank")
    )


def topic_terms_sql(k: int = 5, n_clusters: int = 16) -> str:
    from .similarity import QUANT as SQUANT
    from .similarity import _dot_sql

    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {n_clusters}
),
cn AS (
  SELECT cid, sqrt((SELECT SUM(x * x) FROM (SELECT unnest(cv)::DOUBLE AS x))) AS nm
  FROM cents
),
cell_scores AS (
  SELECT e.vec_id, c.cid,
         CAST(FLOOR({_dot_sql('e.embedding', 'c.cv')} / cn.nm * {float(SQUANT)}) AS BIGINT) AS s
  FROM embeddings e CROSS JOIN cents c JOIN cn ON cn.cid = c.cid
),
assign AS (
  SELECT vec_id AS doc_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM cell_scores) WHERE rn = 1
),
terms AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
  WHERE term <> '' GROUP BY doc_id, term
),
ct AS (
  SELECT a.cell, t.term, CAST(SUM(t.tf) AS BIGINT) AS tf
  FROM terms t JOIN assign a USING (doc_id) GROUP BY a.cell, t.term
),
sizes AS (SELECT cell, COUNT(*) AS cluster_docs FROM assign GROUP BY cell),
dfreq AS (
  SELECT term,
         CAST(FLOOR(ln({float(n_clusters + 1)} / (COUNT(*) + 1.0))
                    * {float(QUANT)}) AS BIGINT) AS idf_q
  FROM ct GROUP BY term
),
scored AS (
  SELECT ct.cell, ct.term, ct.tf, ct.tf * d.idf_q AS score_q
  FROM ct JOIN dfreq d USING (term)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY score_q DESC, term ASC) AS rank
  FROM scored
)
SELECT CAST(r.cell AS BIGINT) AS cell, CAST(s.cluster_docs AS BIGINT) AS cluster_docs,
       CAST(r.rank AS BIGINT) AS rank, r.term, r.tf, r.score_q
FROM ranked r JOIN sizes s USING (cell)
WHERE r.rank <= {k} ORDER BY r.cell, r.rank
"""


def sample_exact(
    df: DataFrame,
    n_per_stratum: int = 50,
    id_col: str = "doc_id",
    strata_col: str = "source",
    salt: str = "sample-v1",
) -> DataFrame:
    """(doc_id, strata, pick_rank): EXACT-size deterministic sampling — the
    ``n_per_stratum`` docs per stratum whose salted md5 hash ranks lowest.
    Complements :func:`hash_sample` (probabilistic rate ⇒ binomial size
    jitter): eval-set construction needs "exactly 5 000 docs per
    language", reproducibly. Same determinism properties (content-stable,
    salt-redrawable); NOT growth-stable — adding docs can displace the
    boundary ranks (inherent to exact-n; documented trade vs hash_sample).

    One ranking window per stratum; with a pre-partition on the stratum
    the sort is local, and at 100 TB the standard refinement is a
    hash-threshold prefilter (keep h < (n/N + ε)·MAX first, then rank the
    survivors) so the window sorts a near-sample-sized set, not the corpus.
    """
    if n_per_stratum < 1:
        raise ValueError("n_per_stratum must be >= 1")
    h = md5_hash60(F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy("strata").orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.select(F.col(id_col), F.col(strata_col).alias("strata"))
        .withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .where(F.col("pick_rank") <= n_per_stratum)
        .orderBy("strata", "pick_rank")
    )


def sample_exact_sql(
    n_per_stratum: int = 50, strata_col: str = "source", salt: str = "sample-v1"
) -> str:
    h = HEX15_SQL_FN.format(expr=f"'{salt}' || '#' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH ranked AS (
  SELECT doc_id, {strata_col} AS strata,
         ROW_NUMBER() OVER (PARTITION BY {strata_col}
                            ORDER BY {h} ASC, doc_id ASC) AS pick_rank
  FROM documents
)
SELECT doc_id, strata, CAST(pick_rank AS BIGINT) AS pick_rank
FROM ranked WHERE pick_rank <= {n_per_stratum}
ORDER BY strata, pick_rank
"""


def _fuzzy_decon(s, d):
    from .dedup import minhash_decontaminate

    return minhash_decontaminate(
        load_table(s, d, "documents").where("source <> 'src0'"),
        load_table(s, d, "documents").where("source = 'src0'"),
    )


def _fuzzy_decon_sql() -> str:
    from .dedup import minhash_decon_sql

    return minhash_decon_sql("source = 'src0'", "source <> 'src0'")


def weighted_sample(docs: DataFrame, n: int = 100, salt: str = "aes-v1") -> DataFrame:
    """(doc_id, source, w, key_q): quality-weighted sampling WITHOUT
    replacement via the Efraimidis–Spirakis A-ES scheme: each doc draws a
    deterministic uniform ``u`` from a salted md5 and competes on
    ``ln(u)/w`` (equivalent to the classic ``u^(1/w)`` key — higher-weight
    docs get keys nearer 0 and win); the global top-``n`` keys ARE a
    weighted sample. Weight = the heuristic quality score, so this is the
    "pick a quality-tilted eval committee" primitive, reproducible across
    runs/engines (change ``salt`` for an independent redraw, like
    :func:`hash_sample`).

    Scale: one map-side key computation + a global top-``n``
    (TakeOrderedAndProject — per-partition heaps, no full sort). Key
    parity follows the corpus-wide floored-log-quanta discipline
    (one ``ln`` per doc, floored at 1e12 after the weight division).
    """
    from .text import quality_score

    scored = (
        quality_score(docs)
        .select("doc_id", F.col("score_q").alias("w"))
        .where(F.col("w") > 0)
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    u = (
        (
            md5_hash60(F.concat(F.lit(salt + "#"), F.col("doc_id").cast("string")))
            % F.lit(1_000_000)
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(1_000_000.0)
    return (
        scored.withColumn("__u", u)
        .select(
            "doc_id",
            "source",
            "w",
            F.expr("CAST(FLOOR(ln(__u) * 1000000000000.0 / w) AS BIGINT)").alias("key_q"),
        )
        .orderBy(F.col("key_q").desc(), "doc_id")
        .limit(n)
    )


def weighted_sample_sql(quality_inner: str, n: int = 100, salt: str = "aes-v1") -> str:
    h = HEX15_SQL_FN.format(expr=f"'{salt}#' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH scored AS (
  SELECT q.doc_id, d.source, q.score_q AS w
  FROM ({quality_inner}) q JOIN documents d ON d.doc_id = q.doc_id
  WHERE q.score_q > 0
),
keyed AS (
  SELECT doc_id, source, w,
         (CAST(({h}) % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS u
  FROM scored
)
SELECT doc_id, source, w,
       CAST(FLOOR(ln(u) * 1000000000000.0 / w) AS BIGINT) AS key_q
FROM keyed ORDER BY key_q DESC, doc_id LIMIT {n}
"""


def log_odds_terms(
    docs: DataFrame,
    fg_where: str = "lang = 'zh'",
    k: int = 30,
) -> DataFrame:
    """(term, y_fg, y_bg, z_mq): the ``k`` most foreground-distinctive
    terms by smoothed log-odds z-score (Monroe et al. 2008, "Fightin'
    Words", +1-smoothed variant): for token counts ``y`` against totals
    ``n``, delta = ln(odds_fg) − ln(odds_bg), var ≈ 1/(y_fg+1) +
    1/(y_bg+1), z = delta/sqrt(var). The vocabulary-drift report — "what
    words make corpus A different from corpus B" — that pairs with
    :func:`pipe_js_divergence`'s scalar drift score.

    Scale: one (side, term) count agg collapses the corpus; the totals
    are a 2-row broadcast; scoring is map-only over the vocabulary. One
    ``ln`` pair + one IEEE ``sqrt`` per term, floored at 1e6 quanta
    (the corpus-wide log-quanta discipline).
    """
    toks = docs.select(
        F.expr(f"CASE WHEN {fg_where} THEN 1 ELSE 0 END").alias("fg"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).where(F.col("term") != "")
    counts = toks.groupBy("term").agg(
        F.sum("fg").alias("y1"),
        F.sum(F.lit(1) - F.col("fg")).alias("y2"),
    )
    totals = counts.agg(F.sum("y1").alias("n1"), F.sum("y2").alias("n2"))
    z = (
        "CAST(FLOOR((ln((y1 + 1.0) / (n1 - y1 + 1.0))"
        " - ln((y2 + 1.0) / (n2 - y2 + 1.0)))"
        " / sqrt(1.0 / (y1 + 1.0) + 1.0 / (y2 + 1.0)) * 1000000.0) AS BIGINT)"
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "term",
            F.col("y1").cast("long").alias("y_fg"),
            F.col("y2").cast("long").alias("y_bg"),
            F.expr(z).alias("z_mq"),
        )
        .orderBy(F.col("z_mq").desc(), "term")
        .limit(k)
    )


def log_odds_sql(fg_where: str = "lang = 'zh'", k: int = 30) -> str:
    return f"""
WITH toks AS (
  SELECT CASE WHEN {fg_where} THEN 1 ELSE 0 END AS fg,
         unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
counts AS (
  SELECT term, SUM(fg) AS y1, SUM(1 - fg) AS y2
  FROM toks WHERE term <> '' GROUP BY term
),
totals AS (SELECT SUM(y1) AS n1, SUM(y2) AS n2 FROM counts)
SELECT term, CAST(y1 AS BIGINT) AS y_fg, CAST(y2 AS BIGINT) AS y_bg,
       CAST(FLOOR((ln((y1 + 1.0) / (n1 - y1 + 1.0))
                   - ln((y2 + 1.0) / (n2 - y2 + 1.0)))
                  / sqrt(1.0 / (y1 + 1.0) + 1.0 / (y2 + 1.0)) * 1000000.0) AS BIGINT) AS z_mq
FROM counts, totals ORDER BY z_mq DESC, term LIMIT {k}
"""


def bpe_pair_counts(docs: DataFrame, k: int = 40) -> DataFrame:
    """(pair, pair_count): corpus-wide adjacent-character-pair frequencies
    weighted by word frequency — the argmax step of one BPE merge round
    (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
    Subword Units"): the top pair is the next merge rule a tokenizer
    trained on this corpus would learn. Tokenizer-vocabulary induction is
    the canonical side computation of an LLM pre-training pipeline.

    Scale: the only corpus-sized stage is the word-frequency groupBy
    (map-side partial count, Zipf-bounded output ≪ corpus). Pair
    generation runs over DISTINCT words via a JVM higher-order function
    (``transform(sequence(...))``, no Python), so per-round cost is
    O(|vocab| · avg_len). A full BPE training loop re-runs this plan on
    the re-segmented vocab per merge — a driver loop with one small
    shuffle per round, the same shape as ``similarity.kmeans_fit``.
    """
    words = docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("w")).where(
        F.length("w") >= 2
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(k)
    )


def bpe_pairs_sql(k: int = 40) -> str:
    return rf"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents
),
wc AS (SELECT w, COUNT(*) AS c FROM words WHERE len(w) >= 2 GROUP BY w),
pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, c
  FROM (SELECT w, c, unnest(range(1, len(w))) AS i FROM wc)
)
SELECT pair, CAST(SUM(c) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair LIMIT {k}
"""


BPE_END = "</w>"


def bpe_train_sql(n_merges: int = 30, max_vocab: int = 50_000) -> str:
    r"""DuckDB twin of :func:`bpe_train` — possible because the merge loop
    is a DETERMINISTIC fold over a SQL-derivable word-frequency table, so
    ``n_merges`` unrolled re-segmentation steps replay it exactly.

    Per step k over the positions table ``s{{k-1}}`` (one row per (word,
    position, symbol)): the winning pair is the full-recount argmax
    (count desc, left, right — the operator's lazy-heap key yields the
    identical sequence), and the merge applies LEFT-TO-RIGHT
    NON-OVERLAPPING exactly like the kernel's scan: within each maximal
    run of consecutive match positions (gaps-and-islands on the
    row-number index) only every ODD member merges — the even ones lost
    their left symbol to the previous merge. A step whose best count is
    < 2 emits nothing and passes the state through unchanged (LEFT JOIN
    ON TRUE against the empty best row), mirroring the loop's early
    break. Every per-step CTE is MATERIALIZED — each is referenced more
    than once, and inlining would grow the plan exponentially in k.
    """
    parts = []
    for k in range(1, int(n_merges) + 1):
        parts.append(f"""
a{k} AS MATERIALIZED (
  SELECT w, c, pos, sym,
         ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS idx,
         LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
  FROM s{k - 1}
),
best{k} AS MATERIALIZED (
  SELECT sym AS l, nxt AS r, cnt, {k - 1} AS rank
  FROM (SELECT sym, nxt, SUM(c) AS cnt FROM a{k}
        WHERE nxt IS NOT NULL GROUP BY sym, nxt)
  WHERE cnt >= 2 ORDER BY cnt DESC, sym, nxt LIMIT 1
),
mt{k} AS MATERIALIZED (
  SELECT a.w, a.c, a.pos, a.sym, a.idx, b.l, b.r,
         CASE WHEN a.sym = b.l AND a.nxt = b.r THEN 1 ELSE 0 END AS ism
  FROM a{k} a LEFT JOIN best{k} b ON TRUE
),
act{k} AS MATERIALIZED (
  SELECT w, idx FROM (
    SELECT w, idx,
           ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY idx) AS j
    FROM (SELECT w, idx,
                 idx - ROW_NUMBER() OVER (PARTITION BY w ORDER BY idx) AS grp
          FROM mt{k} WHERE ism = 1))
  WHERE j % 2 = 1
),
s{k} AS MATERIALIZED (
  SELECT m.w, m.c, m.pos,
         CASE WHEN act.idx IS NOT NULL THEN m.l || m.r ELSE m.sym END AS sym
  FROM mt{k} m
  LEFT JOIN act{k} act ON act.w = m.w AND act.idx = m.idx
  WHERE NOT EXISTS (SELECT 1 FROM act{k} a2
                    WHERE a2.w = m.w AND a2.idx = m.idx - 1)
)""")
    steps = ",".join(parts)
    sel = " UNION ALL ".join(
        f'SELECT CAST(rank AS BIGINT) AS rank, l AS "left", r AS "right", '
        f"CAST(cnt AS BIGINT) AS pair_count FROM best{k}"
        for k in range(1, int(n_merges) + 1)
    )
    return rf"""
WITH wfreq AS MATERIALIZED (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
  WHERE len(w) >= 1
  GROUP BY w ORDER BY c DESC, w LIMIT {int(max_vocab)}
),
s0 AS MATERIALIZED (
  SELECT w, c, i AS pos, substr(w, CAST(i AS INTEGER), 1) AS sym
  FROM (SELECT w, c, unnest(range(1, len(w) + 1)) AS i FROM wfreq)
  UNION ALL
  SELECT w, c, len(w) + 1, '{BPE_END}' FROM wfreq
),
{steps}
SELECT * FROM ({sel}) ORDER BY rank
"""


def bpe_train(
    docs: DataFrame,
    n_merges: int = 50,
    max_vocab: int = 50_000,
    text_col: str = "text",
) -> DataFrame:
    """(rank, left, right, pair_count): the FULL BPE merge table (Sennrich
    et al. 2016) — :func:`bpe_pair_counts` is one argmax round; this runs
    the whole training loop and returns the learned merge rules in order.

    Scale shape (how production tokenizer training actually works, e.g.
    GPT-2's BPE): the corpus collapses to a WORD-FREQUENCY table first —
    one distributed partial+final count, output Zipf-bounded ≪ corpus —
    capped at the ``max_vocab`` most frequent words (count desc, word asc;
    the documented truncation), and the merge loop then runs single-node
    over that bounded vocab with INCREMENTAL pair accounting (the
    subword-nmt / HF-tokenizers shape): a pair→word-ids inverted index +
    a lazy max-heap, so each merge touches only the words containing the
    winning pair — O(affected symbols · log #pairs) per merge, never a
    vocab rescan. Driver state is O(max_vocab · avg_len), never
    corpus-sized; the corpus itself is scanned exactly once; ``n_merges``
    in the tens of thousands stays interactive (1k merges over the sf0.01
    vocab is wall-clock-bounded in pytest).

    Determinism: ties in pair count break lexicographically on (left,
    right) — the heap key (-count, pair) IS that order, and every count
    change pushes a fresh entry (stale ones are skipped on pop), so the
    selection sequence is identical to a full recount each round. Words
    segment as characters + the ``</w>`` end marker. The loop stops early
    when no pair occurs twice. The fold is deterministic over a
    SQL-derivable word-freq table, so it IS oracle-paired:
    :func:`bpe_train_sql` unrolls the merge steps as full-recount
    re-segmentation rounds — any drift in the incremental accounting
    would hash-mismatch there; the classic low/lower/newest/widest golden
    is additionally pinned in pytest.
    """
    rows = (
        docs.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
        .where(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(int(max_vocab))
        .collect()
    )
    merges = _bpe_merge_loop(
        [list(r.w) + [BPE_END] for r in rows], [int(r.c) for r in rows],
        int(n_merges),
    )
    return _bpe_merge_frame(docs.sparkSession, merges)


def _bpe_merge_loop(
    vocab: list, freq: list, n_merges: int
) -> list:
    """The incremental BPE kernel of :func:`bpe_train`: pair→word
    inverted index + lazy max-heap; ``vocab`` is a list of per-word symbol
    lists (mutated in place), ``freq`` the aligned word counts. Output is
    independent of word order (counts are order-free integer sums)."""
    import heapq
    from collections import Counter

    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wid, syms in enumerate(vocab):
        c = freq[wid]
        for p in zip(syms, syms[1:]):
            counts[p] = counts.get(p, 0) + c
            where.setdefault(p, set()).add(wid)
    heap = [(-c, p) for p, c in counts.items()]
    heapq.heapify(heap)

    def bump(p: tuple[str, str], delta: int, wid: int, present: bool):
        c = counts.get(p, 0) + delta
        if c > 0:
            counts[p] = c
            heapq.heappush(heap, (-c, p))
        else:
            counts.pop(p, None)
        ws = where.setdefault(p, set())
        (ws.add if present else ws.discard)(wid)
        if not ws:
            where.pop(p, None)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(int(n_merges)):
        # lazy-heap argmax: skip entries whose count is stale
        while heap:
            negc, pair = heap[0]
            if counts.get(pair, 0) == -negc:
                break
            heapq.heappop(heap)
        if not heap:
            break
        best = -heap[0][0]
        left, right = heap[0][1]
        if best < 2:
            break
        merges.append((rank, left, right, best))
        joined = left + right
        for wid in list(where.get((left, right), ())):
            syms = vocab[wid]
            old = Counter(zip(syms, syms[1:]))
            i = 0
            while i < len(syms) - 1:
                if syms[i] == left and syms[i + 1] == right:
                    syms[i : i + 2] = [joined]
                else:
                    i += 1
            new = Counter(zip(syms, syms[1:]))
            c = freq[wid]
            for p in old.keys() | new.keys():
                d = new.get(p, 0) - old.get(p, 0)
                if d or (p in new) != (p in old):
                    bump(p, d * c, wid, p in new)
    return merges


def _bpe_merge_frame(spark, merges: list) -> DataFrame:
    """Merge table (rank, left, right, pair_count) as a literal frame."""
    return literal_frame(
        spark, merges, "rank long, left string, right string, pair_count long"
    )


def bpe_encode(
    docs: DataFrame, merges, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_words, n_tokens): apply a learned BPE merge table to the
    corpus — the tokenize step of the pre-training pipeline, reporting the
    per-document subword token count (the budget number every packing /
    mixing operator downstream consumes).

    ``merges`` is :func:`bpe_train`'s output (collected rows or (left,
    right) tuples, rank order). The rank table broadcasts inside the Arrow
    kernel closure (KB-sized); encoding is the standard lowest-rank-first
    adjacent merge loop per word — map-only over the corpus, no shuffle.

    Word dialect: ASCII whitespace split (``[ \\t\\n\\r\\f\\v]+``) — the
    SAME set Java/RE2 ``\\s`` matches, so the engine's JVM-side word
    counts and the DuckDB oracle replay this split exactly (Python's
    ``str.split()`` would also split on Unicode spaces like NBSP and
    silently disagree — r14 review finding).
    """
    import re as _re

    _ws = _re.compile(r"[ \t\n\r\f\v]+")
    if hasattr(merges, "collect"):
        merges = merges.collect()
    ranks = {}
    for m in merges:
        left, right = (m.left, m.right) if hasattr(m, "left") else (m[0], m[1])
        ranks[(left, right)] = len(ranks)
    end = BPE_END

    def fn(batches):
        import pandas as pd

        def encode_word(w: str) -> int:
            syms = list(w) + [end]
            while len(syms) > 1:
                best_rank, best_i = None, None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_i = r, i
                if best_i is None:
                    break
                syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
            return len(syms)

        for pdf in batches:
            n_words, n_tokens = [], []
            for text in pdf[text_col]:
                ws = [w for w in _ws.split(str(text)) if w]
                n_words.append(len(ws))
                n_tokens.append(sum(encode_word(w) for w in ws))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_words": n_words, "n_tokens": n_tokens}
            )

    from ..sources.flows import widen_narrow_scan

    return widen_narrow_scan(docs).select("doc_id", text_col).mapInPandas(
        fn, "doc_id long, n_words long, n_tokens long"
    ).orderBy("doc_id")


def bpe_encode_bounds(docs: DataFrame, merges) -> DataFrame:
    """(doc_id, n_words, ok): the oracle-pairable verdict form of
    :func:`bpe_encode` — ``n_words`` is exactly replayable in SQL
    (whitespace word count, the encoder's own split dialect) and ``ok``
    pins the encoder's structural invariant: every word of length L
    encodes to between 1 and L+1 symbols (its chars plus the end
    marker; merges only ever REDUCE the count), so per document
    ``n_words <= n_tokens <= n_chars_nospace + n_words``. The oracle
    emits the word counts with constant TRUE — a merge-loop regression
    (lost end markers, over-merging, dropped words) fails the driver
    hash even though the trained merge table itself has no SQL twin
    (its training replay is ``corpus_bpe_train``'s oracle)."""
    enc = bpe_encode(docs, merges)
    words = "filter(split(text, '\\\\s+'), w -> w <> '')"
    stats = docs.select(
        "doc_id",
        F.expr(f"size({words})").cast("long").alias("__nw"),
        F.expr(
            f"aggregate({words}, 0L, (a, w) -> a + length(w))"
        ).alias("__chars"),
    )
    return (
        enc.join(stats, "doc_id")
        .select(
            "doc_id",
            F.col("__nw").alias("n_words"),
            (
                (F.col("n_words") == F.col("__nw"))
                & (F.col("n_tokens") >= F.col("__nw"))
                & (F.col("n_tokens") <= F.col("__chars") + F.col("__nw"))
            ).alias("ok"),
        )
        .orderBy("doc_id")
    )


BPE_BOUNDS_SQL = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS BIGINT) AS n_words,
       TRUE AS ok
FROM documents ORDER BY doc_id
"""


def zipf_slope(docs: DataFrame, top_n: int = 1000) -> DataFrame:
    """(n_terms, sx_q, sy_q, slope_mq): ordinary-least-squares slope of the
    log-log rank–frequency relation over the corpus's ``top_n`` terms —
    the Zipf-law exponent (natural text ≈ −1; template/boilerplate-heavy
    corpora flatten toward 0; a sudden exponent shift is a corpus-mix
    drift signal alongside :func:`log_odds_terms` / ``pipe_js_divergence``).

    Determinism: one floored ``ln`` quantum per term for BOTH x = ln(rank)
    and y = ln(freq) (the corpus log-quanta discipline); the OLS slope
    ``(N·Σxy − Σx·Σy) / (N·Σx² − (Σx)²)`` is then pure integer arithmetic
    in DECIMAL(38,0) (products overflow int64 at N=1000), with an explicit
    floor-division so the negative slope rounds identically in both
    engines (Spark ``div`` truncates, DuckDB ``//`` floors — the pmod
    correction makes them agree; the es_aggs avg_q pattern).

    Scale: term frequencies are one map-side-combined count agg; the
    rank window and OLS sums act on ``top_n`` rows (result-sized).
    """
    terms = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.col("f").desc(), "term")
        .limit(top_n)
    )
    w = Window.orderBy(F.col("f").desc(), "term")
    xy = terms.withColumn("r", F.row_number().over(w)).select(
        F.expr("CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT)").alias("xq"),
        F.expr("CAST(FLOOR(ln(CAST(f AS DOUBLE)) * 1000000.0) AS BIGINT)").alias("yq"),
    )
    sums = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("xq").cast("long").alias("sx_q"),
        F.sum("yq").cast("long").alias("sy_q"),
        F.sum(F.expr("CAST(xq AS DECIMAL(38,0)) * yq")).alias("sxy"),
        F.sum(F.expr("CAST(xq AS DECIMAL(38,0)) * xq")).alias("sxx"),
    )
    return sums.select(
        "n_terms",
        "sx_q",
        "sy_q",
        F.expr(
            "CAST(((CAST(n_terms AS DECIMAL(38,0)) * sxy - CAST(sx_q AS DECIMAL(38,0)) * sy_q) * 1000"
            " - pmod((CAST(n_terms AS DECIMAL(38,0)) * sxy - CAST(sx_q AS DECIMAL(38,0)) * sy_q) * 1000,"
            "        CAST(n_terms AS DECIMAL(38,0)) * sxx - CAST(sx_q AS DECIMAL(38,0)) * sx_q))"
            " div (CAST(n_terms AS DECIMAL(38,0)) * sxx - CAST(sx_q AS DECIMAL(38,0)) * sx_q)"
            " AS BIGINT)"
        ).alias("slope_mq"),
    )


def zipf_slope_sql(top_n: int = 1000) -> str:
    return f"""
WITH terms AS (
  SELECT term, COUNT(*) AS f
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
  WHERE term <> '' GROUP BY term
  ORDER BY f DESC, term LIMIT {top_n}
),
xy AS (
  SELECT CAST(FLOOR(ln(CAST(ROW_NUMBER() OVER (ORDER BY f DESC, term) AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS xq,
         CAST(FLOOR(ln(CAST(f AS DOUBLE)) * 1000000.0) AS BIGINT) AS yq
  FROM terms
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(xq) AS BIGINT) AS sx_q,
         CAST(SUM(yq) AS BIGINT) AS sy_q,
         SUM(CAST(xq AS HUGEINT) * yq) AS sxy,
         SUM(CAST(xq AS HUGEINT) * xq) AS sxx
  FROM xy
)
SELECT n_terms, sx_q, sy_q,
       CAST(((CAST(n_terms AS HUGEINT) * sxy - CAST(sx_q AS HUGEINT) * sy_q) * 1000
             - ((((CAST(n_terms AS HUGEINT) * sxy - CAST(sx_q AS HUGEINT) * sy_q) * 1000)
                 % (CAST(n_terms AS HUGEINT) * sxx - CAST(sx_q AS HUGEINT) * sx_q)
                 + (CAST(n_terms AS HUGEINT) * sxx - CAST(sx_q AS HUGEINT) * sx_q))
                % (CAST(n_terms AS HUGEINT) * sxx - CAST(sx_q AS HUGEINT) * sx_q)))
            // (CAST(n_terms AS HUGEINT) * sxx - CAST(sx_q AS HUGEINT) * sx_q)
            AS BIGINT) AS slope_mq
FROM sums
"""


# --------------------------------------------------------------------------
# token-window chunking (context-length splitting for training pipelines)
# --------------------------------------------------------------------------
def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_no, start_tok, n_tokens, chunk_fp): sliding
    token-window chunking — the context-length splitter every pre-training
    pipeline runs before packing. Stride = ``chunk_tokens - overlap``;
    windows start at every stride multiple below the document's token
    count, so consecutive chunks share ``overlap`` tokens and the final
    (possibly short) window is kept. ``chunk_fp`` is the md5 of the chunk's
    joined tokens — the dedup/lineage handle downstream chunk-level dedup
    joins on (both engines compute identical md5 hex).

    Map-only: tokenize → explode a bounded integer sequence → slice. No
    shuffle, no UDF; at 100 TB this is pure scan-parallel work and the
    output is ≤ ``ceil(tokens/stride)`` rows per doc.
    """
    if overlap < 0 or chunk_tokens <= overlap:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = int(chunk_tokens) - int(overlap)
    toks = F.split(F.col(text_col), " ")
    base = docs.where(F.length(text_col) > 0).select(
        "doc_id", toks.alias("__ts"), F.size(toks).alias("__n")
    )
    return (
        base.select(
            "doc_id",
            "__ts",
            "__n",
            F.explode(
                F.sequence(F.lit(0), ((F.col("__n") - 1) / stride).cast("int"))
            ).alias("chunk_no"),
        )
        .select(
            "doc_id",
            F.col("chunk_no").cast("long").alias("chunk_no"),
            (F.col("chunk_no") * stride).cast("long").alias("start_tok"),
            F.least(
                F.lit(int(chunk_tokens)),
                F.col("__n") - F.col("chunk_no") * stride,
            ).cast("long").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.slice(
                        F.col("__ts"),
                        F.col("chunk_no") * stride + 1,
                        F.lit(int(chunk_tokens)),
                    ),
                    " ",
                )
            ).alias("chunk_fp"),
        )
        .orderBy("doc_id", "chunk_no")
    )


def chunk_documents_sql(
    chunk_tokens: int = 128, overlap: int = 16, src: str = "documents"
) -> str:
    stride = int(chunk_tokens) - int(overlap)
    return f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ts, len(string_split(text, ' ')) AS n
  FROM {src} WHERE len(text) > 0
),
chunks AS (
  SELECT doc_id, ts, n, CAST(unnest(range(0, CAST((n - 1) // {stride} AS BIGINT) + 1)) AS BIGINT) AS chunk_no
  FROM base
)
SELECT doc_id, chunk_no,
       chunk_no * {stride} AS start_tok,
       CAST(LEAST({int(chunk_tokens)}, n - chunk_no * {stride}) AS BIGINT) AS n_tokens,
       md5(array_to_string(ts[CAST(chunk_no * {stride} + 1 AS BIGINT) :
                              CAST(chunk_no * {stride} + {int(chunk_tokens)} AS BIGINT)], ' ')) AS chunk_fp
FROM chunks
ORDER BY doc_id, chunk_no
"""


# --------------------------------------------------------------------------
# corpus manifest (per-source data card)
# --------------------------------------------------------------------------

def corpus_manifest(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """(source, n_docs, total_ws_tokens, n_exact_dups, q25_score,
    q50_score, q75_score, avg_chars_q): the per-source data card a
    curation run records next to its output manifest — corpus size,
    token volume, exact-duplicate count (md5 fingerprint of the
    normalized text, :func:`text.fingerprints`'s identity), quality-score
    quartiles (exact interpolated percentile over the SAME per-doc
    formula as :func:`text.quality_score` — pinned equal in pytest so the
    two cannot drift), and the exact mean document length in 1e-6 quanta
    (pure integer arithmetic: ``(s div n)·Q + ((s mod n)·Q) div n`` —
    never overflows at any corpus size, unlike ``Q·s``).

    ONE scan and ONE shuffle: every per-doc feature is a map-side
    projection; the groupBy carries count/sum partials map-side. The
    exact percentile sorts each source's score list on the reducer —
    at extreme group sizes swap ``percentile`` for ``percentile_approx``
    (the :mod:`stats` quantiles trade, same plan otherwise)."""
    from .text import PUNCT_RE, STOPWORDS

    toks = F.split(F.lower(F.col("text")), " ")
    n_chars = F.length("text").cast("long")
    n_tokens = F.size(toks).cast("long")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", PUNCT_RE, ""))
    ).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))
    ).cast("long")
    tok_sat = F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(100.0))
    score = (
        tok_sat * F.lit(0.3)
        + (n_stop.cast("double") / n_tokens.cast("double")) * F.lit(0.4)
        + (F.lit(1.0) - n_punct.cast("double") / n_chars.cast("double"))
        * F.lit(0.3)
    )
    fp = md5_hash60(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    base = docs.select(
        F.col(group_col).alias("source"),
        n_chars.alias("n_chars"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.floor(score * F.lit(float(QUANT))).alias("score_q"),
        fp.alias("fp"),
    )
    out = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("total_ws_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("fp"))
        .cast("long")
        .alias("n_exact_dups"),
        F.expr("percentile(score_q, array(0.25, 0.5, 0.75))").alias("__qv"),
        F.sum("n_chars").alias("__sc"),
    )
    return out.select(
        "source",
        "n_docs",
        "total_ws_tokens",
        "n_exact_dups",
        F.floor(F.col("__qv")[0]).cast("long").alias("q25_score"),
        F.floor(F.col("__qv")[1]).cast("long").alias("q50_score"),
        F.floor(F.col("__qv")[2]).cast("long").alias("q75_score"),
        F.expr(
            f"(__sc div n_docs) * {QUANT}L"
            f" + ((__sc % n_docs) * {QUANT}L) div n_docs"
        ).alias("avg_chars_q"),
    ).orderBy("source")


def corpus_manifest_sql(src: str = "documents", group_col: str = "source") -> str:
    from .text import PUNCT_RE, STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    fp = HEX15_SQL_FN.format(
        expr="regexp_replace(lower(text), ' +', ' ', 'g')"
    )
    return f"""
WITH per AS (
  SELECT {group_col} AS source,
         CAST(len(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         CAST(FLOOR((least(1.0, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) / 100.0) * 0.3
            + CAST(len(list_filter(string_split(lower(text), ' '),
                                   t -> list_contains([{stop}], t))) AS DOUBLE)
              / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) * 0.4
            + (1.0 - CAST(len(text) - len(regexp_replace(text, '{PUNCT_RE}', '', 'g')) AS DOUBLE)
                     / CAST(len(text) AS DOUBLE)) * 0.3)
           * {float(QUANT)}) AS BIGINT) AS score_q,
         {fp} AS fp
  FROM {src}
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups,
       CAST(FLOOR(quantile_cont(score_q, 0.25)) AS BIGINT) AS q25_score,
       CAST(FLOOR(quantile_cont(score_q, 0.50)) AS BIGINT) AS q50_score,
       CAST(FLOOR(quantile_cont(score_q, 0.75)) AS BIGINT) AS q75_score,
       CAST((SUM(n_chars) // COUNT(*)) * {QUANT}
         + ((SUM(n_chars) % COUNT(*)) * {QUANT}) // COUNT(*) AS BIGINT)
         AS avg_chars_q
FROM per GROUP BY source ORDER BY source
"""


def queries() -> dict:
    return {
        "corpus_manifest": lambda s, d: corpus_manifest(load_table(s, d, "documents")),
        "corpus_tfidf_top": lambda s, d: tfidf_top_terms(load_table(s, d, "documents")),
        "corpus_topic_terms": lambda s, d: topic_terms(
            load_table(s, d, "documents"), load_table(s, d, "embeddings")
        ),
        "corpus_lm_score": lambda s, d: bigram_lm_score(load_table(s, d, "documents")),
        "corpus_contamination": lambda s, d: contamination_overlap(
            load_table(s, d, "documents").where("source <> 'src0'"),
            load_table(s, d, "documents").where("source = 'src0'"),
        ),
        # fuzzy complement of the exact screen: MinHash near-dup vs bench
        "corpus_fuzzy_decon": _fuzzy_decon,
        "corpus_span_dedup": lambda s, d: span_dedup(load_table(s, d, "documents")),
        "corpus_top_ngrams": lambda s, d: top_ngrams(load_table(s, d, "documents")),
        "corpus_bpe_pairs": lambda s, d: bpe_pair_counts(load_table(s, d, "documents")),
        # chunk window sized below the fixture's 10-99 token docs so the
        # sliding window + overlap actually multiplies (≈ 2-4 chunks/doc)
        "corpus_chunk": lambda s, d: chunk_documents(
            load_table(s, d, "documents"), chunk_tokens=32, overlap=8
        ),
        # full tokenizer-induction story: train the merge table (oracle-
        # paired via the unrolled bpe_train_sql replay), then tokenize the
        # corpus with it (encode stays rows-only — its golden is in pytest)
        "corpus_bpe_train": lambda s, d: bpe_train(
            load_table(s, d, "documents"), n_merges=30
        ),
        "corpus_bpe_encode": lambda s, d: bpe_encode(
            load_table(s, d, "documents"),
            bpe_train(load_table(s, d, "documents"), n_merges=30),
        ),
        # oracle-paired verdict twin: word counts replay exactly in SQL,
        # token counts pinned to the encoder's structural bounds
        "corpus_bpe_bounds": lambda s, d: bpe_encode_bounds(
            load_table(s, d, "documents"),
            bpe_train(load_table(s, d, "documents"), n_merges=30),
        ),
        "corpus_log_odds": lambda s, d: log_odds_terms(load_table(s, d, "documents")),
        # DSIR (Xie et al. 2023): hashed-n-gram importance weights of the
        # raw corpus against the src0 "target" domain, then the Gumbel-
        # top-k resample those weights drive
        "corpus_dsir_weights": lambda s, d: dsir_weights(
            load_table(s, d, "documents")
        ),
        "corpus_dsir_sample": lambda s, d: dsir_sample(
            load_table(s, d, "documents")
        ),
        # in-engine trained quality gate: hashed-feature logistic
        # regression, every training op exact int64 (hard-sigmoid), so
        # even the 8-iteration fixpoint is oracle-paired
        "corpus_quality_clf": lambda s, d: quality_clf(
            load_table(s, d, "documents")
        ),
        # the 100 TB serving recipe: train on the deterministic 50%
        # hash-sample, score the FULL corpus with frozen weights — the
        # path the max_train_docs guard points users at, now registered
        # and oracle-paired end-to-end
        "corpus_quality_clf_sampled": lambda s, d: quality_clf_sampled(
            load_table(s, d, "documents"), sample_rate=0.5
        ),
        "corpus_zipf_slope": lambda s, d: zipf_slope(load_table(s, d, "documents")),
        "corpus_weighted_sample": lambda s, d: weighted_sample(
            load_table(s, d, "documents")
        ),
        "corpus_decon_hashed": lambda s, d: contamination_overlap_hashed(
            load_table(s, d, "documents").where("source <> 'src0'"),
            load_table(s, d, "documents").where("source = 'src0'"),
        ),
        "corpus_sample_exact": lambda s, d: sample_exact(
            load_table(s, d, "documents")
        ),
        "corpus_hash_sample": lambda s, d: hash_sample(
            load_table(s, d, "documents"),
            rate=0.25,
            strata_col="source",
            strata_rates={"src0": 1.0},
        ).select("doc_id", "source").orderBy("doc_id"),
        "corpus_domain_cap": lambda s, d: domain_cap(
            load_table(s, d, "documents"), cap=5, priority_col="n_chars"
        ).select("doc_id", "source").orderBy("doc_id"),
        "corpus_clf_calibration": lambda s, d: clf_calibration(
            quality_clf(load_table(s, d, "documents"))
        ),
        "corpus_boilerplate": lambda s, d: boilerplate_strip(
            load_table(s, d, "documents"), width=8, max_df=2
        ),
    }


def oracle_sql() -> dict:
    return {
        "corpus_manifest": corpus_manifest_sql(),
        "corpus_tfidf_top": tfidf_sql(),
        "corpus_topic_terms": topic_terms_sql(),
        "corpus_lm_score": BIGRAM_LM_SQL,
        "corpus_contamination": contamination_sql("source = 'src0'", "source <> 'src0'"),
        "corpus_fuzzy_decon": _fuzzy_decon_sql(),
        "corpus_bpe_bounds": BPE_BOUNDS_SQL,
        "corpus_span_dedup": span_dedup_sql(),
        "corpus_top_ngrams": top_ngrams_sql(),
        "corpus_bpe_pairs": bpe_pairs_sql(),
        "corpus_bpe_train": bpe_train_sql(n_merges=30),
        "corpus_chunk": chunk_documents_sql(chunk_tokens=32, overlap=8),
        "corpus_log_odds": log_odds_sql(),
        "corpus_dsir_weights": dsir_weights_sql(),
        "corpus_dsir_sample": dsir_sample_sql(),
        "corpus_quality_clf": quality_clf_sql(),
        "corpus_quality_clf_sampled": quality_clf_sql(
            train_where=(
                f"({HEX15_SQL_FN.format(expr='CAST(doc_id AS VARCHAR)')})"
                f" % {QUANT} < {int(0.5 * QUANT)}"
            )
        ),
        "corpus_zipf_slope": zipf_slope_sql(),
        "corpus_weighted_sample": _weighted_sample_oracle(),
        # the compact-filter path has one-sided (collision-adds-hits) error;
        # on this fixed corpus it is collision-free at 40 bits, so it shares
        # the exact screen's oracle — a deterministic, re-checkable claim
        "corpus_decon_hashed": contamination_sql("source = 'src0'", "source <> 'src0'"),
        "corpus_sample_exact": sample_exact_sql(),
        "corpus_hash_sample": hash_sample_sql(
            rate=0.25, strata_col="source", strata_rates={"src0": 1.0}
        ),
        "corpus_domain_cap": domain_cap_sql(cap=5, priority_col="n_chars"),
        "corpus_clf_calibration": clf_calibration_sql(),
        "corpus_boilerplate": boilerplate_sql(width=8, max_df=2),
    }


def _weighted_sample_oracle() -> str:
    from .text import quality_sql

    return weighted_sample_sql(quality_sql())
