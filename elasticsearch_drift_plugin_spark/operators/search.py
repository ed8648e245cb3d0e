"""ES *query-DSL* surfaces (not aggregations) re-expressed relationally:
``percolate`` (reverse search), ``more_like_this`` (TF-IDF similarity
query), and ``intervals``/``span_near`` (positional proximity). Together
with the agg families these close the remaining search-body constructs a
reference user runs around the drift operator (SURVEY.md §2.2 — queries
are host-ES surfaces).

Scale designs:

- **percolate**: ES matches ONE document against thousands of stored
  queries via an in-memory index of the query terms. Relationally the
  stored queries are a TABLE of rule rows — tiny next to the corpus — so
  the match is a broadcast nested evaluation compiled into ONE conditional
  aggregate per rule batch: the corpus scans once, rules never shuffle it.
- **more_like_this**: seed-doc top terms (by corpus IDF) are an O(k) rule
  set; candidate scoring is a broadcast semi-join on those terms + one
  partial+final agg. Exactly ES's "select interesting terms, run a
  disjunction" contract, with integer tf·idf_q scores.
- **intervals near**: per-doc token positions come from one map-side
  posexplode; the pairwise min-distance check is a per-doc aggregate over
  the (few) positions of the two probe terms — never a corpus-wide
  self-join (positions group by doc first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sql_literal import literal_frame
from ..sources.flows import load_table

QUANT = 1_000_000


# --------------------------------------------------------------------------
# percolate: stored queries over the event stream
# --------------------------------------------------------------------------

# the registered stored-query table: (rule_id, predicate-in-both-dialects).
# Predicates are deliberately engine-portable SQL (same text runs in Spark
# and DuckDB), the relational stand-in for the ES query DSL bodies.
PERCOLATE_RULES: tuple[tuple[int, str], ...] = (
    (1, "event_type = 'error'"),
    (2, "event_type = 'purchase' AND value >= 100"),
    (3, "value IS NOT NULL AND NOT isnan(value) AND value < 1"),
    (4, "user_id % 1000 = 0"),
    (5, "event_type IN ('click', 'view') AND value >= 400"),
)


def percolate(events: DataFrame, rules=PERCOLATE_RULES) -> DataFrame:
    """(rule_id, n_matches, value_q): ES ``percolate`` — every stored query
    evaluated against the incoming document stream, reporting per-rule
    match counts and a matched-value rollup (the alerting shape: "which
    registered watches fired, how hard").

    One scan, one aggregation: each rule compiles to a conditional
    aggregate pair, so N stored queries never multiply the corpus (the
    broadcast-rules dual of ES's query-index). Rules with zero matches
    still report (zero-filled via the literal rule spine).
    """
    return percolate_unpivot(events.agg(*percolate_aggs(rules)), rules)


# --------------------------------------------------------------------------
# ES query-DSL execution: the reference's enclosing `_search` query clause
# --------------------------------------------------------------------------

# A representative production-shaped body: range + terms filters, a required
# should (minimum_should_match=1), and a must_not with ES null semantics.
ES_DSL_BODY = {
    "bool": {
        "filter": [
            {"range": {"value": {"gte": 10, "lt": 500}}},
            {"terms": {"event_type": ["click", "view", "purchase"]}},
        ],
        "should": [
            {"prefix": {"event_type": "c"}},
            {"range": {"user_id": {"gte": 100}}},
        ],
        "minimum_should_match": 1,
        "must_not": [{"term": {"user_id": 0}}],
    }
}


def dsl_filter_agg(events: DataFrame, body: dict = ES_DSL_BODY) -> DataFrame:
    """(event_type, doc_count, value_q): an ES ``_search`` body executed
    natively — the query clause compiles through
    ``functions.es_dsl.compile_query`` to ONE Catalyst predicate (scan
    pushdown eligible, zero Python), then an ordinary terms aggregation
    runs over the matching docs. This is the missing half of reference
    parity: the plugin's aggs always ride inside a DSL-filtered search
    (README.md:92-115), and with this a user's existing query bodies run
    unchanged. NaN guard sits OUTSIDE the DSL (engines disagree on
    NaN-vs-number comparisons; ES has no NaN at all, so excluding NaN rows
    IS the ES-faithful domain)."""
    from ..functions.es_dsl import compile_query

    matched = events.where(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).where(compile_query(body))
    return (
        matched.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.sum(F.floor(F.col("value") * 1000)).cast("long").alias("value_q"),
        )
        .orderBy("event_type")
    )


def dsl_filter_agg_sql(body: dict = ES_DSL_BODY) -> str:
    from ..functions.es_dsl import compile_query_sql

    return f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS value_q
FROM events
WHERE value IS NOT NULL AND NOT isnan(value) AND {compile_query_sql(body)}
GROUP BY event_type ORDER BY event_type
"""


def compile_rules(rules, dialect: str = "duckdb") -> tuple:
    """Normalize stored queries to ``(rule_id, SQL)`` pairs. Each rule's
    predicate may be a ready SQL string OR an ES query-DSL body (dict) —
    the percolator's real-world registration format — compiled through
    :mod:`..functions.es_dsl`. Every clause kind emits identical text in
    both dialects EXCEPT `nested` (Spark ``exists`` vs DuckDB
    ``list_filter`` — ADVICE r12 item 1), so the Spark F.expr consumer
    (:func:`percolate_aggs`) passes dialect='spark' and the oracle
    builder (:func:`percolate_sql`) keeps the duckdb default."""
    from ..functions.es_dsl import compile_query_sql

    return tuple(
        (
            rid,
            pred if isinstance(pred, str)
            else compile_query_sql(pred, dialect),
        )
        for rid, pred in rules
    )


def percolate_aggs(rules=PERCOLATE_RULES) -> list:
    """The per-rule conditional-aggregate pair list — SHARED by the batch
    operator and ``streaming.bounded.stream_percolate`` so the two twins
    cannot drift if the rule compilation changes. Rules pass through
    :func:`compile_rules` in the SPARK dialect (these predicates feed
    F.expr), so stored queries may be ES DSL bodies — nested included."""
    rules = compile_rules(rules, dialect="spark")
    vq = (
        "CASE WHEN value IS NOT NULL AND NOT isnan(value)"
        " THEN CAST(FLOOR(value * 1000000.0) AS BIGINT) ELSE 0 END"
    )
    aggs = []
    for rid, pred in rules:
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {pred} THEN 1 ELSE 0 END"))
            .cast("long")
            .alias(f"__n{rid}")
        )
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {pred} THEN {vq} ELSE 0 END"))
            .cast("long")
            .alias(f"__v{rid}")
        )
    return aggs


def percolate_unpivot(row: DataFrame, rules=PERCOLATE_RULES) -> DataFrame:
    """Unpivot the single agg row into (rule_id, n_matches, value_q) —
    shared with the streaming twin (see ``percolate_aggs``)."""
    out = None
    for rid, _ in rules:
        one = row.select(
            F.lit(rid).cast("long").alias("rule_id"),
            F.coalesce(F.col(f"__n{rid}"), F.lit(0)).alias("n_matches"),
            F.coalesce(F.col(f"__v{rid}"), F.lit(0)).alias("value_q"),
        )
        out = one if out is None else out.unionByName(one)
    return out.orderBy("rule_id")


def percolate_sql(table: str = "events", rules=PERCOLATE_RULES) -> str:
    rules = compile_rules(rules)
    vq = (
        "CASE WHEN value IS NOT NULL AND NOT isnan(value)"
        " THEN CAST(FLOOR(value * 1000000.0) AS BIGINT) ELSE 0 END"
    )
    selects = []
    for rid, pred in rules:
        selects.append(f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS __n{rid}")
        selects.append(f"SUM(CASE WHEN {pred} THEN {vq} ELSE 0 END) AS __v{rid}")
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({rid} AS BIGINT) AS rule_id,"
        f" CAST(COALESCE(__n{rid}, 0) AS BIGINT) AS n_matches,"
        f" CAST(COALESCE(__v{rid}, 0) AS BIGINT) AS value_q FROM agg"
        for rid, _ in rules
    )
    return f"""
WITH agg AS (SELECT {', '.join(selects)} FROM {table})
SELECT * FROM ({rows}) ORDER BY rule_id
"""


# --------------------------------------------------------------------------
# more_like_this: similarity query seeded by one document
# --------------------------------------------------------------------------

def more_like_this(
    docs: DataFrame, seed_doc_id: int = 7, n_terms: int = 5, size: int = 10
) -> DataFrame:
    """(doc_id, n_shared, score_q): ES ``more_like_this`` — pick the seed
    document's ``n_terms`` most distinctive terms (tf·idf over the corpus,
    idf floored to integer quanta like :mod:`corpus`'s TF-IDF), then score
    every other document by the summed tf·idf_q of the shared terms; top
    ``size`` by score (doc_id tie-break). The seed itself is excluded,
    like ES.

    Scale (r12 single-pass rewrite — VERDICT r11 found the old
    broadcast(seed) form re-executing the whole tokenize+TF+IDF subtree
    for each side): the corpus-wide TF/IDF aggregation executes ONCE, to
    produce the seed's O(n_terms) interesting terms, which are collected
    to LITERALS (the `_knn_indexed_scored` centroid pattern). The
    candidate pass then re-tokenizes but filters to those literal terms
    BEFORE any aggregation and reads idf from a literal map — no second
    corpus-wide shuffle, no df join, no broadcast subtree re-execution.
    ``docs.count()`` is a zero-column scan (parquet footer row counts).
    """
    n_docs = docs.count()  # O(1) catalog scalar, like corpus.tfidf_top_terms
    # df = #docs containing the term: per-doc array_distinct BEFORE the
    # explode (the r14 corpus-dedup move) makes the doc-level dedup
    # map-side, so the corpus pays ONE term-keyed exchange instead of the
    # old (doc_id, term) pre-aggregation + second term agg; the seed's tf
    # comes from tokenizing just the seed document (the doc_id filter
    # pushes to the scan), broadcast-joined onto the df table (r15,
    # guide §2.3 — plan: 3 hash exchanges -> 1). Same tf/df/idf values,
    # same (w_q desc, term) ranking.
    seed_toks = (
        docs.where(F.col("doc_id") == seed_doc_id)
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        docs.select(
            F.explode(
                F.array_distinct(F.split(F.lower(F.col("text")), " "))
            ).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf_q = F.floor(
        F.log(F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1.0)))
        * F.lit(float(QUANT))
    ).alias("idf_q")
    # ONE execution of the corpus df tree: the seed's top terms,
    # driver-sized (n_terms rows), carrying each term's idf quanta
    seed_rows = (
        dfreq.select("term", idf_q)
        .join(F.broadcast(seed_toks), "term")
        .select("term", "idf_q", (F.col("tf") * F.col("idf_q")).alias("w_q"))
        .orderBy(F.col("w_q").desc(), "term")
        .limit(n_terms)
        .collect()
    )
    terms = [r["term"] for r in seed_rows]
    if not terms:
        return literal_frame(
            docs.sparkSession, [], "doc_id long, n_shared long, score_q long"
        )
    idf_map = F.create_map(
        *[F.lit(v) for r in seed_rows for v in (r["term"], int(r["idf_q"]))]
    )
    return (
        docs.where(F.col("doc_id") != seed_doc_id)
        .select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
        )
        .where(F.col("term").isin(terms))  # cuts tokens before the agg
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(
            "doc_id",
            (F.col("tf") * F.element_at(idf_map, F.col("term"))).alias("w_q"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum("w_q").cast("long").alias("score_q"),
        )
        .orderBy(F.col("score_q").desc(), "doc_id")
        .limit(size)
    )


def more_like_this_sql(seed_doc_id: int = 7, n_terms: int = 5, size: int = 10) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
  WHERE term <> '' GROUP BY doc_id, term
),
dfreq AS (
  SELECT term,
         CAST(FLOOR(ln(((SELECT COUNT(*) FROM documents) + 1.0) / (COUNT(*) + 1.0))
                    * {float(QUANT)}) AS BIGINT) AS idf_q
  FROM toks GROUP BY term
),
scored AS (
  SELECT t.doc_id, t.term, t.tf, t.tf * d.idf_q AS w_q
  FROM toks t JOIN dfreq d USING (term)
),
seed AS (
  SELECT term FROM scored WHERE doc_id = {seed_doc_id}
  ORDER BY w_q DESC, term LIMIT {n_terms}
)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared,
       CAST(SUM(s.w_q) AS BIGINT) AS score_q
FROM scored s JOIN seed USING (term)
WHERE s.doc_id <> {seed_doc_id}
GROUP BY s.doc_id ORDER BY score_q DESC, doc_id LIMIT {size}
"""


# --------------------------------------------------------------------------
# intervals / span_near: positional proximity query
# --------------------------------------------------------------------------

def intervals_near(
    docs: DataFrame, term_a: str = "spark", term_b: str = "table", max_gap: int = 3
) -> DataFrame:
    """(doc_id, min_dist, n_pairs): ES ``intervals``/``span_near`` — docs
    where ``term_a`` occurs within ``max_gap`` token positions of
    ``term_b`` (unordered), with the closest distance and the number of
    qualifying position pairs.

    Positions come from one map-side ``posexplode``; the pair check is a
    per-document join of the two terms' (few) position lists — grouped by
    doc BEFORE pairing, so there is no corpus-wide positional self-join.
    """
    pos = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("p", "term"),
        )
        .where(F.col("term").isin(term_a, term_b))
    )
    a = pos.where(F.col("term") == term_a).select("doc_id", F.col("p").alias("pa"))
    b = pos.where(F.col("term") == term_b).select("doc_id", F.col("p").alias("pb"))
    dist = F.abs(F.col("pa") - F.col("pb"))
    return (
        a.join(b, "doc_id")
        .where(dist <= max_gap)
        .groupBy("doc_id")
        .agg(
            F.min(dist).cast("long").alias("min_dist"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
        .orderBy("doc_id")
    )


def intervals_near_sql(
    term_a: str = "spark", term_b: str = "table", max_gap: int = 3
) -> str:
    return f"""
WITH pos AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, l[CAST(i AS INTEGER)] AS term
  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents))
  WHERE l[CAST(i AS INTEGER)] IN ('{term_a}', '{term_b}')
)
SELECT a.doc_id, CAST(MIN(ABS(a.p - b.p)) AS BIGINT) AS min_dist,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM (SELECT doc_id, p FROM pos WHERE term = '{term_a}') a
JOIN (SELECT doc_id, p FROM pos WHERE term = '{term_b}') b USING (doc_id)
WHERE ABS(a.p - b.p) <= {max_gap}
GROUP BY a.doc_id ORDER BY a.doc_id
"""


def term_suggest(
    docs: DataFrame,
    probes: tuple[str, ...] = ("sparc", "tabel", "qeury"),
    max_edits: int = 2,
    size: int = 3,
) -> DataFrame:
    """(probe, rank, suggestion, freq, dist): ES *term suggester* — for
    each (misspelled) probe word, the closest vocabulary words within
    ``max_edits`` Levenshtein edits, ranked the way ES ranks suggestions
    (distance asc, then document frequency desc, then term asc), top
    ``size`` per probe.

    Scale: the corpus collapses to its vocabulary first (one
    partial+final count agg, Zipf-bounded); the probe set is a literal
    spine (O(probes) rows) cross-joined against the vocab for the
    edit-distance check — ``levenshtein`` is a JVM built-in, exact and
    engine-portable on this corpus (pure ASCII, where Spark's and DuckDB's
    unit-of-edit agree; on multi-byte text the engines count different
    units — add a load-time octet_length==length assertion before relying
    on cross-engine parity there). The whole candidate pass is map-side
    over |vocab|·|probes| rows. ES bounds the same cost with FST transducers;
    at a 100 TB corpus the vocab is still ~millions of rows — cheap.
    """
    vocab = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    spine = literal_frame(docs.sparkSession, [(p,) for p in probes], "probe string")
    from pyspark.sql import Window

    dist = F.levenshtein(F.col("probe"), F.col("term"))
    w = Window.partitionBy("probe").orderBy(
        F.col("dist"), F.col("freq").desc(), F.col("term")
    )
    return (
        vocab.crossJoin(F.broadcast(spine))
        .withColumn("dist", dist.cast("long"))
        .where(F.col("dist") <= max_edits)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= size)
        .select("probe", "rank", F.col("term").alias("suggestion"), "freq", "dist")
        .orderBy("probe", "rank")
    )


def completion_suggest(
    docs: DataFrame,
    prefixes: tuple[str, ...] = ("s", "c", "t"),
    size: int = 3,
    field: str = "text",
) -> DataFrame:
    """(prefix, rank, option, weight): ES *completion suggester* (r10) in
    the engine's analyzer-free dialect — for each typed prefix, the
    corpus-vocabulary terms starting with it, ranked by weight (DOCUMENT
    frequency — countDistinct(doc_id), r11: a doc containing the term
    twice contributes 1, the ES default-weight semantics) desc then term
    asc, top ``size`` per prefix.

    Scale: ES answers from an index-time FST; the relational twin
    collapses the corpus to its vocabulary ONCE (partial+final count agg,
    Zipf-bounded) and probes it with a broadcast prefix spine — the
    prefix predicate is sargable (``startswith`` compiles to a range
    check), so with a materialized/sorted vocab table the probe is an
    index-range scan, never a corpus pass.
    """
    vocab = (
        docs.select(
            F.col("doc_id"),
            F.explode(F.split(F.lower(F.col(field)), " ")).alias("option"),
        )
        .where(F.col("option") != "")
        .groupBy("option")
        .agg(F.countDistinct("doc_id").cast("long").alias("weight"))
    )
    spine = literal_frame(
        docs.sparkSession, [(p,) for p in prefixes], "prefix string"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("prefix").orderBy(
        F.col("weight").desc(), F.col("option")
    )
    return (
        vocab.join(
            F.broadcast(spine), F.col("option").startswith(F.col("prefix"))
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= size)
        .select("prefix", "rank", "option", "weight")
        .orderBy("prefix", "rank")
    )


def completion_suggest_sql(
    prefixes: tuple[str, ...] = ("s", "c", "t"),
    size: int = 3,
) -> str:
    spine = " UNION ALL ".join(f"SELECT '{p}' AS prefix" for p in prefixes)
    return f"""
WITH vocab AS (
  SELECT term AS option, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS weight
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents)
  WHERE term <> '' GROUP BY term
),
probes AS ({spine}),
ranked AS (
  SELECT p.prefix, v.option, v.weight,
         ROW_NUMBER() OVER (PARTITION BY p.prefix
                            ORDER BY v.weight DESC, v.option ASC) AS rank
  FROM vocab v JOIN probes p ON starts_with(v.option, p.prefix)
)
SELECT prefix, CAST(rank AS BIGINT) AS rank, option, weight
FROM ranked WHERE rank <= {int(size)} ORDER BY prefix, rank
"""


def term_suggest_sql(
    probes: tuple[str, ...] = ("sparc", "tabel", "qeury"),
    max_edits: int = 2,
    size: int = 3,
) -> str:
    spine = " UNION ALL ".join(f"SELECT '{p}' AS probe" for p in probes)
    return f"""
WITH vocab AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
  WHERE term <> '' GROUP BY term
),
spine AS ({spine}),
cand AS (
  SELECT s.probe, v.term, v.freq,
         CAST(levenshtein(s.probe, v.term) AS BIGINT) AS dist
  FROM vocab v, spine s
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe
                               ORDER BY dist, freq DESC, term) AS rank
  FROM cand WHERE dist <= {max_edits}
)
SELECT probe, CAST(rank AS BIGINT) AS rank, term AS suggestion, freq, dist
FROM ranked WHERE rank <= {size} ORDER BY probe, rank
"""


def phrase_suggest(
    docs: DataFrame,
    probe: tuple[str, ...] = ("fsat", "dta", "scna"),
    max_edits: int = 2,
    cand_size: int = 3,
    size: int = 5,
) -> DataFrame:
    """(rank, phrase, score_q): ES *phrase suggester* — whole-phrase
    corrections of a misspelled probe, ES's two-stage shape: per-token
    candidate generation (the :func:`term_suggest` ranking: distance asc,
    frequency desc, term asc, top ``cand_size``, ``max_edits``
    Levenshtein; the token itself is its own candidate at distance 0 when
    in-vocab) then bigram language-model rescoring of every candidate
    phrase. The LM is the SAME Laplace-smoothed conditional as
    :func:`corpus.lm_score` (``ln((c(w1,w2)+1)/(c(w1)+V))``, floored 1e-6
    quanta) so the two scorers cannot drift; phrase score = sum of its
    adjacent-pair log-probs, ranked desc with phrase-text tie-break.

    Scale: vocab and bigram tables are partial+final count aggs over one
    corpus scan each — the two corpus passes are the whole data-plane
    cost. Everything downstream of them is bounded by the API contract
    (``len(probe) * cand_size`` candidates, ``cand_size**len(probe)``
    phrases), so candidates and the needed pair counts are fetched with
    two bounded collects (the _seed_centroids pattern) and the phrase
    scoring runs as one literal-backed plan — no corpus bytes are ever
    shuffled to the phrases (r14: construct 2.5 -> ~1.2 s; the previous
    shape paid 4 corpus passes plus five tiny-frame checkpoint jobs)."""
    if len(probe) < 2:
        raise ValueError("phrase_suggest needs a probe of >= 2 tokens")
    import itertools

    from pyspark.sql import Window

    spark = docs.sparkSession
    toks = F.split(F.lower(F.col("text")), " ")
    words = docs.select(F.explode(toks).alias("term")).where(F.col("term") != "")
    # The vocab count table feeds both candidate generation and V — pin it
    # once (the distinct-term count table, the standard LM artifact:
    # vocab-sized, not corpus-sized) so the corpus is scanned exactly twice:
    # the vocab agg here and the bigram agg below.
    vocab = words.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    ).localCheckpoint(eager=False)
    # vocab is distinct by construction, so V = countDistinct(term) is its
    # row count (1-row agg over the pin, not a corpus-wide distinct)
    v_total = int(vocab.agg(F.count(F.lit(1))).collect()[0][0])

    # Candidate generation: SAME ranking expressions as before (levenshtein
    # dist asc, freq desc, term asc, top cand_size, dist <= max_edits),
    # evaluated over the pinned vocab; the result is <= len(probe)*cand_size
    # rows by construction — a bounded collect, not a data-sized one.
    w = Window.partitionBy("slot").orderBy(
        F.col("dist"), F.col("freq").desc(), F.col("term")
    )
    spine = F.explode(
        F.array(*[
            F.struct(F.lit(i).alias("slot"), F.lit(t).alias("tok"))
            for i, t in enumerate(probe)
        ])
    ).alias("s")
    cand_rows = (
        vocab.select(F.col("term"), F.col("freq"), spine)
        .select("term", "freq", "s.slot", "s.tok")
        .withColumn("dist", F.levenshtein(F.col("tok"), F.col("term")).cast("long"))
        .where(F.col("dist") <= max_edits)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= cand_size)
        .select("slot", "term", "freq")
        .collect()
    )
    slot_terms: list[list[tuple[str, int]]] = [[] for _ in probe]
    for r in cand_rows:
        slot_terms[r["slot"]].append((r["term"], r["freq"]))
    uni: dict[str, int] = {t: f for s in slot_terms for t, f in s}

    # Needed bigram counts: the corpus-side bigram agg PREFILTERED to the
    # candidate pair set before the groupBy (per-pair counts are unchanged
    # by dropping non-candidate pairs), then a bounded collect of
    # <= (len(probe)-1) * cand_size**2 rows.
    need: set[tuple[str, str]] = set()
    for i in range(len(probe) - 1):
        for (w1, _), (w2, _) in itertools.product(
            slot_terms[i], slot_terms[i + 1]
        ):
            need.add((w1, w2))
    pair_counts: dict[tuple[str, str], int] = {}
    if need:
        pairs = docs.select(
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                    F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        ).select("p.w1", "p.w2")
        if len(need) <= 256:
            import functools
            import operator

            pair_pred = functools.reduce(
                operator.or_,
                [
                    (F.col("w1") == F.lit(a)) & (F.col("w2") == F.lit(b))
                    for a, b in sorted(need)
                ],
            )
            filtered = pairs.where(pair_pred)
        else:
            # ADVICE r14 item 1: the OR-chain grows as
            # (len(probe)-1)*cand_size^2 equality conjunctions — fine at
            # the defaults (<= 18 terms) but a large cand_size/probe would
            # blow Catalyst analysis and the 64KB codegen method limit.
            # Above a small threshold, prefilter with a broadcast
            # left-semi join on the candidate pair set instead.
            need_df = literal_frame(
                docs.sparkSession, sorted(need), "w1 string, w2 string"
            )
            filtered = pairs.join(
                F.broadcast(need_df), ["w1", "w2"], "left_semi"
            )
        for r in (
            filtered
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("long").alias("cb"))
            .collect()
        ):
            pair_counts[(r["w1"], r["w2"])] = r["cb"]

    # Phrase scoring: one literal-backed plan over the
    # cand_size**len(probe) combinations. The log-prob expression is the
    # SAME JVM expression tree as the join formulation evaluated
    # (coalesced counts ride in as typed long columns), so the floored
    # quanta are bit-identical.
    n = len(probe)
    phrase_rows = [
        tuple(ts)
        + tuple(
            pair_counts.get((ts[i], ts[i + 1]), 0) for i in range(n - 1)
        )
        + tuple(uni[ts[i]] for i in range(n - 1))
        for ts in itertools.product(*[[t for t, _ in s] for s in slot_terms])
    ]
    schema = ", ".join(
        [f"t{i} string" for i in range(n)]
        + [f"cb{i} bigint" for i in range(n - 1)]
        + [f"cu{i} bigint" for i in range(n - 1)]
    )
    # phrase_rows is the largest literal frame in the module
    # (cand_size**len(probe) rows); empty when a probe slot has no
    # candidate within max_edits.
    scored = literal_frame(spark, phrase_rows, schema)
    score = None
    for i in range(n - 1):
        lp = F.floor(
            F.log(
                (F.col(f"cb{i}") + F.lit(1.0))
                / (F.col(f"cu{i}") + F.lit(v_total).cast("double"))
            )
            * F.lit(float(QUANT))
        ).cast("long")
        score = lp if score is None else score + lp
    phrase = F.concat_ws(" ", *[F.col(f"t{i}") for i in range(n)])
    wr = Window.orderBy(F.col("score_q").desc(), F.col("phrase").asc())
    return (
        scored.select(phrase.alias("phrase"), score.alias("score_q"))
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= size)
        .select("rank", "phrase", "score_q")
        .orderBy("rank")
    )


def phrase_suggest_sql(
    probe: tuple[str, ...] = ("fsat", "dta", "scna"),
    max_edits: int = 2,
    cand_size: int = 3,
    size: int = 5,
) -> str:
    spine = " UNION ALL ".join(
        f"SELECT {i} AS slot, '{t}' AS tok" for i, t in enumerate(probe)
    )
    joins, selects, lps = [], [], []
    for i in range(len(probe)):
        joins.append(
            f"JOIN cands c{i} ON c{i}.slot = {i}"
        )
        selects.append(f"c{i}.term AS t{i}")
    for i in range(len(probe) - 1):
        lps.append(
            f"CAST(FLOOR(ln((COALESCE(pc{i}.cb, 0) + 1.0)"
            f" / (COALESCE(uc{i}.freq, 0) + (SELECT CAST(V AS DOUBLE) FROM vtotal)))"
            f" * {float(QUANT)}) AS BIGINT)"
        )
    pair_joins = "\n  ".join(
        f"LEFT JOIN bigrams pc{i} ON pc{i}.w1 = p.t{i} AND pc{i}.w2 = p.t{i+1}\n"
        f"  LEFT JOIN vocab uc{i} ON uc{i}.term = p.t{i}"
        for i in range(len(probe) - 1)
    )
    return f"""
WITH words AS (
  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
),
vocab AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM words
  WHERE term <> '' GROUP BY term
),
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
bigrams AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM (
    SELECT ts[i] AS w1, ts[i + 1] AS w2
    FROM toks, UNNEST(range(1, len(ts))) AS r(i)
  ) WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2
),
vtotal AS (SELECT COUNT(DISTINCT term) AS V FROM vocab),
spine AS ({spine}),
cands AS (
  SELECT slot, term FROM (
    SELECT s.slot, v.term,
           ROW_NUMBER() OVER (PARTITION BY s.slot
                              ORDER BY levenshtein(s.tok, v.term),
                                       v.freq DESC, v.term) AS rk
    FROM vocab v, spine s
    WHERE levenshtein(s.tok, v.term) <= {max_edits}
  ) WHERE rk <= {cand_size}
),
phrases AS (
  SELECT {", ".join(selects)} FROM {" ".join(joins).replace("JOIN cands c0 ON c0.slot = 0", "cands c0", 1)}
  WHERE c0.slot = 0
),
scored AS (
  SELECT p.*, {" + ".join(lps)} AS score_q
  FROM phrases p
  {pair_joins}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC,
        {" || ' ' || ".join("t" + str(i) for i in range(len(probe)))} ASC) AS BIGINT) AS rank,
       {" || ' ' || ".join("t" + str(i) for i in range(len(probe)))} AS phrase, score_q
FROM scored
QUALIFY rank <= {size}
ORDER BY rank
"""



def terms_enum(
    df: DataFrame,
    field: str,
    prefix: str = "",
    size: int = 10,
    case_insensitive: bool = False,
) -> DataFrame:
    """(term,): the ES ``_terms_enum`` API — the first ``size`` distinct
    values of ``field`` with the given prefix, ascending (the
    autocomplete primitive). One partial+final distinct aggregation with
    the prefix predicate pushed to the scan, then TakeOrdered over the
    distinct set — at 100 TB the prefix filter prunes first and the
    distinct set is vocabulary-sized, not corpus-sized."""
    col = F.col(field)
    probe = prefix
    if case_insensitive:
        col, probe = F.lower(col), prefix.lower()
    out = df.where(col.isNotNull())
    if probe:
        out = out.where(col.startswith(probe))
    return (
        out.select(col.alias("term")).distinct()
        .orderBy("term").limit(size)
    )


def terms_enum_sql(
    table: str, field: str, prefix: str = "", size: int = 10,
    case_insensitive: bool = False,
) -> str:
    expr = f"lower({field})" if case_insensitive else field
    pred = f"AND {expr} LIKE '{prefix}%'" if prefix else ""
    return f"""
SELECT DISTINCT {expr} AS term FROM {table}
WHERE {expr} IS NOT NULL {pred}
ORDER BY term LIMIT {size}
"""



# simple_query_string end-to-end: the translated clause filters the
# documents corpus, bucketed by source — same translation in both engines.
SQS_BODY = {"fields": ["text"], "query": 'data -slow "table scan"',
            "default_operator": "or"}


def sqs_filter_agg(docs: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query

    return (
        docs.where(compile_query({"simple_query_string": SQS_BODY}))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("source")
    )


def sqs_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql({"simple_query_string": SQS_BODY})
    return f"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM documents WHERE {pred}
GROUP BY source ORDER BY source
"""



# bool minimum_should_match > 1 end-to-end (r7): "at least 2 of the three
# should clauses" filters events, bucketed by event_type — the flag-sum
# translation is identical in both engines.
MSM_BODY = {"bool": {
    "should": [
        {"term": {"event_type": "click"}},
        {"range": {"value": {"gte": 50}}},
        {"term": {"user_id": 0}},
    ],
    "minimum_should_match": 2,
}}


# the spec-grammar forms (r10): a negative percentage over FOUR should
# clauses — Lucene calculateMinShouldMatch resolves "-25%" of 4 to 3 at
# compile time (one clause may be missing), identical flag-sum plan to
# the integer form. The conditional/percentage resolver itself is
# unit-pinned in tests/test_round10.py.
MSM_PCT_BODY = {"bool": {
    "should": [
        {"term": {"event_type": "click"}},
        {"range": {"value": {"gte": 50}}},
        {"terms": {"user_id": [0, 1, 2, 3, 4, 5, 6, 7, 8, 9]}},
        {"range": {"value": {"lt": 200}}},
    ],
    "minimum_should_match": "-25%",
}}


# range over DATE-STRING bounds in a named time_zone (r10, SCOPE.md §E):
# "the New-York day of 2024-01-10 through 2024-01-12 inclusive" — bounds
# resolve at compile time (ES rounding: gte -> local midnight, lte -> the
# last ms of the local day), identical epoch-ms literals in both engines.
RANGE_TZ_BODY = {"bool": {"filter": [{"range": {"t_ms": {
    "gte": "2024-01-10", "lte": "2024-01-12",
    "time_zone": "America/New_York",
}}}]}}


# range date MATH (r11, SCOPE.md §E — the most user-probable former
# raise; Kibana-style clients emit it constantly): "the 7 full days
# before today, Mondays-anchored rounding" over an EXPLICIT reference
# instant. `now` anchors resolve at compile time against the clause's
# `now` key (epoch ms) — the engine's reproducibility contract (ES reads
# the coordinator clock; a replayed query must not drift). gte `now-1w/d`
# floors to the day start a week back; lt `now/d` floors to today's
# start, excluding the partial current day. The second clause is a
# LEXICOGRAPHIC keyword range (non-date string bounds pass VERBATIM —
# the r10 regression surface ADVICE flagged).
DATE_MATH_NOW_MS = 1705314600000  # 2024-01-15T10:30:00Z, a Monday
DATE_MATH_BODY = {"bool": {"filter": [
    {"range": {"t_ms": {"gte": "now-1w/d", "lt": "now/d",
                        "now": DATE_MATH_NOW_MS}}},
    {"range": {"event_type": {"gte": "c", "lte": "t"}}},
]}}


# multi_match (r11): the field-OR / term-centric compound text query —
# Kibana's default search box emits it. The engine desugars it (ONE rewrite
# shared by both compilers, functions.es_dsl.desugar_compound) to the core
# clause set; in the filter-context dialect best_fields/most_fields differ
# only in score shaping, so the hit set is "any field matches the match
# query". cross_fields is term-centric: under operator:and EVERY term must
# appear in at least one of the fields — here "merge" (text vocabulary)
# AND "src3" (a source key), a cross-column conjunction no single-field
# match can express. Boost suffixes strip (score-only).
MULTI_MATCH_BODY = {"bool": {"filter": [
    {"multi_match": {"query": "merge src3", "type": "cross_fields",
                     "operator": "and", "fields": ["text^2", "source"]}},
]}}


# the score-shaping compounds (r11): constant_score / dis_max / boosting
# reduce to their matching semantics in filter context — constant_score
# wraps its filter, dis_max ORs its queries (tie_breaker is score-only),
# boosting matches its positive clause (ES demotes but never EXCLUDES
# negative matches — a filter-mode reading that dropped them would
# diverge). The composed body: docs that (contain "window" OR are from
# src5) AND match the boosting positive ("data" docs, demoted-not-dropped
# when they also contain "slow").
COMPOUND_BODY = {"bool": {"filter": [
    {"constant_score": {"filter": {"dis_max": {"queries": [
        {"match": {"text": "window"}},
        {"term": {"source": "src5"}},
    ]}}}},
    {"boosting": {
        "positive": {"match": {"text": "data"}},
        "negative": {"match": {"text": "slow"}},
        "negative_boost": 0.2,
    }},
]}}


# query_string (r11): the Lucene search-bar grammar — parsed and lowered
# to the core clause set by functions.query_string.translate_query_string
# (one translation, both compilers). This body exercises phrases, prefix
# and single-char wildcards, AND/OR groups, '-' prohibition, and a
# numeric range, with implicit adjacency at default_operator=and:
# docs that (contain the phrase "table scan" OR a merg*-prefixed token)
# AND come from src10-src19 AND are not German AND have 100-2000 chars.
QUERY_STRING_BODY = {
    "query": '(text:"table scan" OR text:merg*) AND source:src1? '
             '-lang:de n_chars:[100 TO 2000]',
    "default_operator": "and",
}


def query_string_filter_agg(docs: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query

    return (
        docs.where(compile_query({"query_string": QUERY_STRING_BODY}))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def query_string_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql({"query_string": QUERY_STRING_BODY})
    return f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM documents WHERE {pred}
GROUP BY lang ORDER BY lang
"""


def multi_match_filter_agg(docs: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query

    return (
        docs.where(compile_query(MULTI_MATCH_BODY))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def multi_match_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql(MULTI_MATCH_BODY)
    return f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM documents WHERE {pred}
GROUP BY lang ORDER BY lang
"""


def compound_filter_agg(docs: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query

    return (
        docs.where(compile_query(COMPOUND_BODY))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def compound_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql(COMPOUND_BODY)
    return f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM documents WHERE {pred}
GROUP BY lang ORDER BY lang
"""


# r13: the `intervals` QUERY kind (match rule, ordered + max_gaps) as a
# registered filter-agg — "hash join" as an ordered phrase-with-slop
# over the synthetic query-plan prose
INTERVALS_BODY = {"intervals": {"text": {"match": {
    "query": "hash join", "max_gaps": 2, "ordered": True,
}}}}


def intervals_filter_agg(docs: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query

    return (
        docs.where(compile_query(INTERVALS_BODY))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def intervals_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql(INTERVALS_BODY)
    return f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM documents WHERE {pred}
GROUP BY lang ORDER BY lang
"""


def date_math_filter_agg(events: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query
    from ..sources.flows import ts_ms_col

    ev = events.select(ts_ms_col(events).alias("t_ms"), "event_type")
    return (
        ev.where(compile_query(DATE_MATH_BODY))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("event_type")
    )


def date_math_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql(DATE_MATH_BODY)
    return f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM (SELECT epoch_ms(ts) AS t_ms, event_type FROM events)
WHERE {pred}
GROUP BY event_type ORDER BY event_type
"""


def range_tz_filter_agg(events: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query
    from ..sources.flows import ts_ms_col

    ev = events.select(ts_ms_col(events).alias("t_ms"), "event_type")
    return (
        ev.where(compile_query(RANGE_TZ_BODY))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("event_type")
    )


def range_tz_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql(RANGE_TZ_BODY)
    return f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM (SELECT epoch_ms(ts) AS t_ms, event_type FROM events)
WHERE {pred}
GROUP BY event_type ORDER BY event_type
"""


def msm_pct_filter_agg(events: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query

    return (
        events.where(compile_query(MSM_PCT_BODY))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("event_type")
    )


def msm_pct_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql(MSM_PCT_BODY)
    return f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM events WHERE {pred}
GROUP BY event_type ORDER BY event_type
"""


def msm_filter_agg(events: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query

    return (
        events.where(compile_query(MSM_BODY))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("event_type")
    )


def msm_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql(MSM_BODY)
    return f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM events WHERE {pred}
GROUP BY event_type ORDER BY event_type
"""


# terms_set end-to-end (r7): "at least 2 of these 4 tokens appear in the
# document" — the array-membership count clause over the tokenized text,
# identical dedup semantics in both engines (array_intersect /
# list_intersect both count DISTINCT matched terms).
TERMS_SET_BODY = {"terms_set": {"toks": {
    "terms": ["data", "spark", "join", "table"],
    "minimum_should_match": 2,
}}}


def terms_set_filter_agg(docs: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query

    return (
        docs.withColumn("toks", F.split("text", " "))
        .where(compile_query(TERMS_SET_BODY))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("source")
    )


def terms_set_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql(TERMS_SET_BODY)
    return f"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)
WHERE {pred}
GROUP BY source ORDER BY source
"""


# span family end-to-end (r13): Lucene positional queries as row-local
# HOF span sets (functions/es_span.py). Body 1: (hash|merge) then join
# within 2 gaps, ordered. Body 2: a scan..join span with no adjacent
# 'filter' (span_not dist 1), AND some 's'-prefixed token in the first
# 4 positions (span_first over span_multi) — the composed family.
SPAN_NEAR_BODY = {"span_near": {"clauses": [
    {"span_or": {"clauses": [{"span_term": {"text": "hash"}},
                             {"span_term": {"text": "merge"}}]}},
    {"span_term": {"text": "join"}},
], "slop": 2, "in_order": True}}

SPAN_NOT_BODY = {"bool": {"must": [
    {"span_not": {
        "include": {"span_near": {"clauses": [
            {"span_term": {"text": "scan"}},
            {"span_term": {"text": "join"}}], "slop": 3,
            "in_order": True}},
        "exclude": {"span_term": {"text": "filter"}}, "dist": 1}},
    {"span_first": {"match": {"span_multi": {"match": {
        "prefix": {"text": "s"}}}}, "end": 4}},
]}}


def span_near_filter_agg(docs: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query

    return (
        docs.where(compile_query(SPAN_NEAR_BODY))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("source")
    )


def span_near_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql(SPAN_NEAR_BODY)
    return f"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM documents WHERE {pred}
GROUP BY source ORDER BY source
"""


def span_not_filter_agg(docs: DataFrame) -> DataFrame:
    from ..functions.es_dsl import compile_query

    return (
        docs.where(compile_query(SPAN_NOT_BODY))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def span_not_filter_agg_sql() -> str:
    from ..functions.es_dsl import compile_query_sql

    pred = compile_query_sql(SPAN_NOT_BODY)
    return f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM documents WHERE {pred}
GROUP BY lang ORDER BY lang
"""


EXPLAIN_BODY = {"bool": {
    "must": [{"range": {"value": {"gte": 10}}}],
    "should": [{"term": {"event_type": "error"}},
               {"range": {"user_id": {"gte": 500}}}],
    "minimum_should_match": 1,
    "must_not": [{"term": {"event_type": "signup"}}],
}}


def explain_events(events: DataFrame) -> DataFrame:
    return explain_query(events, EXPLAIN_BODY, doc_pred="event_id < 20",
                         id_col="event_id")


def explain_events_sql() -> str:
    import json as _json

    from ..functions.es_dsl import compile_query_sql

    (kind, body), = EXPLAIN_BODY.items()
    parts = []
    for sect in ("must", "filter", "should", "must_not"):
        for i, c in enumerate(body.get(sect, [])):
            parts.append((sect, i, c))
    overall = compile_query_sql(EXPLAIN_BODY)
    arms = []
    for sect, i, c in parts:
        cj = _json.dumps(c, sort_keys=True).replace("'", "''")
        arms.append(f"""
SELECT event_id, '{sect}' AS section, CAST({i} AS BIGINT) AS idx,
       '{cj}' AS clause,
       COALESCE(({compile_query_sql(c)}), FALSE) AS matched,
       COALESCE(({overall}), FALSE) AS overall
FROM events WHERE event_id < 20""")
    return "\nUNION ALL\n".join(arms) + "\nORDER BY event_id, section, idx"


def queries() -> dict:
    return {
        "es_percolate": lambda s, d: percolate(load_table(s, d, "events")),
        "es_percolate_batch": lambda s, d: percolate_batch(
            load_table(s, d, "events")
        ),
        "es_more_like_this": lambda s, d: more_like_this(
            load_table(s, d, "documents")
        ),
        "es_intervals_near": lambda s, d: intervals_near(
            load_table(s, d, "documents")
        ),
        "es_term_suggest": lambda s, d: term_suggest(load_table(s, d, "documents")),
        "es_completion_suggest": lambda s, d: completion_suggest(
            load_table(s, d, "documents")
        ),
        "es_phrase_suggest": lambda s, d: phrase_suggest(load_table(s, d, "documents")),
        "es_terms_enum": lambda s, d: terms_enum(
            load_table(s, d, "events"), "event_type", prefix="s", size=10
        ),
        "es_dsl_query": lambda s, d: dsl_filter_agg(load_table(s, d, "events")),
        "es_dsl_sqs": lambda s, d: sqs_filter_agg(load_table(s, d, "documents")),
        "es_dsl_msm": lambda s, d: msm_filter_agg(load_table(s, d, "events")),
        "es_dsl_range_tz": lambda s, d: range_tz_filter_agg(
            load_table(s, d, "events")
        ),
        "es_dsl_date_math": lambda s, d: date_math_filter_agg(
            load_table(s, d, "events")
        ),
        "es_dsl_msm_pct": lambda s, d: msm_pct_filter_agg(
            load_table(s, d, "events")
        ),
        "es_dsl_query_string": lambda s, d: query_string_filter_agg(
            load_table(s, d, "documents")
        ),
        "es_dsl_multi_match": lambda s, d: multi_match_filter_agg(
            load_table(s, d, "documents")
        ),
        "es_dsl_compound": lambda s, d: compound_filter_agg(
            load_table(s, d, "documents")
        ),
        "es_dsl_intervals": lambda s, d: intervals_filter_agg(
            load_table(s, d, "documents")
        ),
        "es_dsl_terms_set": lambda s, d: terms_set_filter_agg(
            load_table(s, d, "documents")
        ),
        "es_dsl_span_near": lambda s, d: span_near_filter_agg(
            load_table(s, d, "documents")
        ),
        "es_dsl_span_not": lambda s, d: span_not_filter_agg(
            load_table(s, d, "documents")
        ),
        "es_dsl_terms_lookup": lambda s, d: terms_lookup_filter_agg(
            load_table(s, d, "documents")
        ),
        "es_rank_eval": lambda s, d: rank_eval_ndcg(
            load_table(s, d, "documents")
        ),
        "es_termvectors": lambda s, d: termvectors(
            load_table(s, d, "documents")
        ),
        "es_percolate_doc": lambda s, d: percolate_document(s),
        "es_explain": lambda s, d: explain_events(
            load_table(s, d, "events")
        ),
        "es_dsl_geo": lambda s, d: _dsl_geo_query(s, d),
        "es_dsl_geo_dateline": lambda s, d: _dsl_geo_dateline_query(s, d),
        "es_dsl_geo_shape": lambda s, d: _dsl_geo_shape_query(s, d),
    }


# a DSL body with the r5 geo clauses: docs within 3000 km of Paris OR
# inside a mid-Atlantic box, bucketed by event_type
ES_DSL_GEO_BODY = {
    "bool": {
        "should": [
            {"geo_distance": {"distance": "3000km",
                              "origin": {"lat": 48.8566, "lon": 2.3522}}},
            {"geo_bounding_box": {"top_left": {"lat": 20.0, "lon": -60.0},
                                  "bottom_right": {"lat": -20.0, "lon": -20.0}}},
        ],
        "minimum_should_match": 1,
    }
}


def _dsl_geo_query(s, d):
    from ..functions.es_dsl import compile_query
    from .geo import geo_events

    pts = geo_events(load_table(s, d, "events"))
    return (
        pts.where(compile_query(ES_DSL_GEO_BODY))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("event_type")
    )


def dsl_geo_sql() -> str:
    from ..functions.es_dsl import compile_query_sql
    from .geo import GEO_EVENTS_DUCK

    return f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM ({GEO_EVENTS_DUCK})
WHERE {compile_query_sql(ES_DSL_GEO_BODY)}
GROUP BY event_type ORDER BY event_type
"""


# dateline-crossing box (west > east wraps across ±180° — the ES rule,
# compiled to `lon >= west OR lon <= east`): the Pacific band
ES_DSL_GEO_DATELINE_BODY = {
    "geo_bounding_box": {
        "top_left": {"lat": 60.0, "lon": 150.0},
        "bottom_right": {"lat": -60.0, "lon": -150.0},
    }
}


def _dsl_geo_dateline_query(s, d):
    from ..functions.es_dsl import compile_query
    from .geo import geo_events

    pts = geo_events(load_table(s, d, "events"))
    return (
        pts.where(compile_query(ES_DSL_GEO_DATELINE_BODY))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("event_type")
    )


def dsl_geo_dateline_sql() -> str:
    from ..functions.es_dsl import compile_query_sql
    from .geo import GEO_EVENTS_DUCK

    return f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM ({GEO_EVENTS_DUCK})
WHERE {compile_query_sql(ES_DSL_GEO_DATELINE_BODY)}
GROUP BY event_type ORDER BY event_type
"""


# geo_shape (r13): polygon-intersects AND circle-disjoint — exercises
# the desugar (polygon ring -> exact ray cast; circle -> haversine;
# disjoint -> exists+must_not) through both compilers
ES_DSL_GEO_SHAPE_BODY = {"bool": {"must": [
    {"geo_shape": {"loc": {"shape": {
        "type": "polygon",
        "coordinates": [[[-90.0, -45.0], [90.0, -45.0], [90.0, 60.0],
                         [-90.0, 60.0], [-90.0, -45.0]]]},
        "relation": "intersects"}}},
    {"geo_shape": {"loc": {"shape": {
        "type": "circle", "coordinates": [2.3522, 48.8566],
        "radius": "2500km"}, "relation": "disjoint"}}},
]}}


def _dsl_geo_shape_query(s, d):
    from ..functions.es_dsl import compile_query
    from .geo import geo_events

    pts = geo_events(load_table(s, d, "events"))
    return (
        pts.where(compile_query(ES_DSL_GEO_SHAPE_BODY))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("event_type")
    )


def dsl_geo_shape_sql() -> str:
    from ..functions.es_dsl import compile_query_sql
    from .geo import GEO_EVENTS_DUCK

    return f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM ({GEO_EVENTS_DUCK})
WHERE {compile_query_sql(ES_DSL_GEO_SHAPE_BODY)}
GROUP BY event_type ORDER BY event_type
"""


def rank_eval(
    hits: DataFrame,
    ratings: DataFrame,
    metric: str = "ndcg",
    k: int = 10,
    relevant_rating_threshold: int = 1,
) -> DataFrame:
    """The ES ``_rank_eval`` API, relationally: per-query ranking quality
    of a hits frame (``query_id, doc_id, rank`` — any search's ranked
    output) against a ratings frame (``query_id, doc_id, rating``).

    Metrics (ES ranking-evaluation API): ``precision`` (relevant
    retrieved / retrieved within the top-``k`` window), ``recall``
    (relevant retrieved / all relevant for the query), ``mrr``
    (1 / rank of the first relevant hit; 0 when none), ``dcg``
    (Σ (2^rating − 1) / log2(rank + 1) over the window), ``ndcg``
    (DCG / ideal DCG — ratings sorted desc, doc_id tiebreak).

    Returns ``(query_id, score_q)`` — the metric per query, quantized to
    integer 1e-6 (the overall ES ``metric_score`` is the caller's mean).
    Engine-parity discipline: every DCG TERM is quantized to integer
    1e-9 BEFORE summation, so the per-query sums are order-free exact
    integer adds in both engines (IEEE summation order can never flip a
    rank). One join (hits window × ratings — both k-by-queries-sized)
    and one aggregation; at 100 TB the frames entering this operator
    are already top-k pages, not corpora."""
    if metric not in ("precision", "recall", "mrr", "dcg", "ndcg"):
        raise ValueError(f"unsupported rank_eval metric {metric!r}")
    thr = int(relevant_rating_threshold)
    win = hits.where(F.col("rank") <= k)
    j = win.join(ratings, ["query_id", "doc_id"], "left").withColumn(
        "rating", F.coalesce(F.col("rating"), F.lit(0))
    )
    rel = (F.col("rating") >= thr).cast("long")
    if metric == "precision":
        per = j.groupBy("query_id").agg(
            F.floor(
                F.lit(1e6) * F.sum(rel) / F.count(F.lit(1))
            ).cast("long").alias("score_q")
        )
        return per.orderBy("query_id")
    if metric == "recall":
        total = ratings.where(F.col("rating") >= thr).groupBy(
            "query_id"
        ).agg(F.count(F.lit(1)).alias("__nrel"))
        got = j.groupBy("query_id").agg(F.sum(rel).alias("__hit"))
        return (
            got.join(total, "query_id", "left")
            .select(
                "query_id",
                F.when(
                    F.coalesce(F.col("__nrel"), F.lit(0)) > 0,
                    F.floor(F.lit(1e6) * F.col("__hit") / F.col("__nrel")),
                ).otherwise(F.lit(0)).cast("long").alias("score_q"),
            )
            .orderBy("query_id")
        )
    if metric == "mrr":
        per = j.groupBy("query_id").agg(
            F.min(F.when(F.col("rating") >= thr, F.col("rank"))).alias("__r")
        )
        return per.select(
            "query_id",
            F.when(
                F.col("__r").isNotNull(),
                F.floor(F.lit(1e6) / F.col("__r")),
            ).otherwise(F.lit(0)).cast("long").alias("score_q"),
        ).orderBy("query_id")
    # dcg / ndcg: integer-quantized terms, order-free exact sums
    term = F.floor(
        F.lit(1e9)
        * (F.pow(F.lit(2.0), F.col("rating")) - F.lit(1.0))
        / F.log2(F.col("rank") + F.lit(1.0))
    ).cast("long")
    dcg = j.groupBy("query_id").agg(F.sum(term).alias("__dcg"))
    if metric == "dcg":
        return dcg.select(
            "query_id",
            F.floor(F.col("__dcg") / F.lit(1e3)).cast("long").alias(
                "score_q"
            ),
        ).orderBy("query_id")
    from pyspark.sql import Window

    ideal_rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("rating").desc(), F.col("doc_id").asc()
        )
    )
    ideal = (
        ratings.withColumn("rank", ideal_rank)
        .where(F.col("rank") <= k)
        .groupBy("query_id")
        .agg(
            F.sum(
                F.floor(
                    F.lit(1e9)
                    * (F.pow(F.lit(2.0), F.col("rating")) - F.lit(1.0))
                    / F.log2(F.col("rank") + F.lit(1.0))
                ).cast("long")
            ).alias("__idcg")
        )
    )
    return (
        dcg.join(ideal, "query_id", "left")
        .select(
            "query_id",
            F.when(
                F.coalesce(F.col("__idcg"), F.lit(0)) > 0,
                F.floor(F.lit(1e6) * F.col("__dcg") / F.col("__idcg")),
            ).otherwise(F.lit(0)).cast("long").alias("score_q"),
        )
        .orderBy("query_id")
    )


def explain_query(
    df: DataFrame, query: dict, doc_pred: str = "TRUE",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``_explain`` API, filter-context: per-document, per-clause
    verdicts of a query — which leaf of the bool matched, and the
    overall verdict. (id, section, idx, clause, matched, overall); a
    non-bool query explains as one ``query``-section row.

    ES explains ONE doc per call (a point GET); the relational form
    explains every doc matching ``doc_pred`` in one scan — the debugging
    workflow ("why does/doesn't this slice match?") over any number of
    docs at once. Each clause compiles to its ordinary codegen predicate
    projected as a boolean column; NULL verdicts render as false with
    the overall verdict keeping exact filter-context semantics
    (must_not of NULL matches — the es_dsl bool compiler's own rule)."""
    import json as _json

    from ..functions.es_dsl import compile_query

    (kind, body), = query.items()
    parts = []
    if kind == "bool":
        for sect in ("must", "filter", "should", "must_not"):
            cs = body.get(sect, [])
            cs = cs if isinstance(cs, list) else [cs]
            for i, c in enumerate(cs):
                parts.append((sect, i, c))
    else:
        parts.append(("query", 0, query))
    overall = F.coalesce(compile_query(query), F.lit(False))
    base = df.where(doc_pred).select(
        F.col(id_col),
        overall.alias("overall"),
        *[
            F.coalesce(compile_query(c), F.lit(False)).alias(f"__c{j}")
            for j, (_, _, c) in enumerate(parts)
        ],
    )
    rows = None
    for j, (sect, i, c) in enumerate(parts):
        one = base.select(
            id_col,
            F.lit(sect).alias("section"),
            F.lit(i).cast("long").alias("idx"),
            F.lit(_json.dumps(c, sort_keys=True)).alias("clause"),
            F.col(f"__c{j}").alias("matched"),
            "overall",
        )
        rows = one if rows is None else rows.unionAll(one)
    return rows.orderBy(id_col, "section", "idx")


# the ES `percolate` QUERY shape: ONE document probed against the
# registered query table (the alerting direction the _search percolate
# clause serves). Rules are ES DSL bodies — compiled per rule on the
# driver (a percolator index is small BY CONSTRUCTION: thousands of
# rules, bounded collect with a loud guard) and evaluated against the
# literal document in one single-row job.
PERCOLATE_DOC_RULES: tuple[tuple[int, dict], ...] = (
    (1, {"term": {"event_type": "error"}}),
    (2, {"bool": {"must": [{"term": {"event_type": "purchase"}},
                           {"range": {"value": {"gte": 100}}}]}}),
    (3, {"range": {"value": {"lt": 1}}}),
    (4, {"terms": {"event_type": ["click", "view"]}}),
    (5, {"bool": {"must_not": [{"exists": {"field": "props"}}]}}),
)

PERCOLATE_TEST_DOC = {
    "event_type": "purchase", "value": 250.0, "user_id": 7,
    "props": None,
}


def percolate_document(
    spark,
    document: dict = None,
    rules=PERCOLATE_DOC_RULES,
    max_rules: int = 10_000,
) -> DataFrame:
    """(rule_id,): the stored queries the document matches — the ES
    ``percolate`` query, request-shaped (one doc in, matching rule ids
    out). ES runs the doc through a memory index of the percolator
    queries on one node; the relational analogue compiles each rule
    body ONCE on the driver (bounded: ``max_rules`` guard — a
    percolator table is small by construction; for firehose-scale
    matching use the streaming :func:`percolate` operator, which keeps
    rules as conditional aggregates over the event stream) and
    evaluates all of them against the literal document in a single
    1-row job. NULL-evaluating rules do not match (ES filter-context
    parity — rule 5's must_not over a missing field DOES)."""
    from ..functions.es_dsl import compile_query

    document = document if document is not None else PERCOLATE_TEST_DOC
    rules = tuple(rules)
    if len(rules) > max_rules:
        raise ValueError(
            f"{len(rules)} percolator rules > max_rules={max_rules} —"
            " one projection's compile is bounded; use percolate_batch"
            " (chunked rule compilation, linear passes) or the streaming"
            " percolate operator"
        )
    # explicit typed 1-row projection — pandas schema inference dies on
    # all-None columns (CANNOT_DETERMINE_TYPE); a missing field is a
    # typed NULL here (string, matching the SQL twin's VARCHAR NULL).
    # Composite values raise loudly: ES term-vs-array containment
    # semantics are not what equality compiles to, so silently repr-ing
    # a list would make every rule unmatched — register the document as
    # a 1-row frame and use percolate_batch / apply_query instead.
    def _lit(v):
        if v is None:
            return F.lit(None).cast("string")
        if isinstance(v, bool):
            return F.lit(v).cast("boolean")
        if isinstance(v, int):
            return F.lit(v).cast("long")
        if isinstance(v, float):
            return F.lit(v).cast("double")
        if isinstance(v, str):
            return F.lit(v)
        raise ValueError(
            f"percolate_document field type {type(v).__name__} is not"
            " supported (scalar str/int/float/bool/None only) — for"
            " array/object fields build a 1-row DataFrame and use"
            " percolate_batch or apply_query"
        )

    doc_df = spark.range(1).select(
        *[_lit(v).alias(k) for k, v in document.items()]
    )
    probes = doc_df.select(*[
        F.coalesce(compile_query(body), F.lit(False)).alias(f"__m{rid}")
        for rid, body in rules
    ])
    row = probes.first()
    matched = [int(rid) for rid, _ in rules if row[f"__m{rid}"]]
    return literal_frame(spark, [(r,) for r in matched], "rule_id long").orderBy(
        "rule_id"
    )


def percolate_batch(
    events: DataFrame,
    rules=PERCOLATE_RULES,
    doc_pred: str = "user_id < 5",
    id_col: str = "event_id",
    chunk_size: int = 10_000,
) -> DataFrame:
    """(doc_id, rule_id): which stored queries EACH selected document
    matches — the request-scale batch form of :func:`percolate_document`
    (one doc → rule ids) and the per-doc dual of :func:`percolate`
    (per-rule rollups). This is the runnable path the
    ``percolate_document`` max_rules guard names: rules compile in
    CHUNKS of ``chunk_size`` predicates per projection — each chunk is
    one scan-side codegen pass emitting the matched rule-id array
    (``array_compact`` of per-rule conditional literals, exploded), so
    a 100k-rule table costs rules/chunk_size linear passes with a
    bounded expression tree each, never an unbounded driver compile or
    a rules×docs shuffle. Rules may be SQL strings or ES DSL bodies
    (:func:`compile_rules`). NULL-evaluating rules do not match (ES
    filter context)."""
    return percolate_batch_matches(
        events, rules, doc_pred, id_col, chunk_size
    ).orderBy("doc_id", "rule_id")


def percolate_batch_matches(
    events: DataFrame,
    rules=PERCOLATE_RULES,
    doc_pred: str = "user_id < 5",
    id_col: str = "event_id",
    chunk_size: int = 10_000,
) -> DataFrame:
    """UNORDERED (doc_id, rule_id) match stream — the projection body of
    :func:`percolate_batch`, factored so the streaming twin runs the
    SAME chunked codegen passes (map-only, stateless ⇒ append-mode
    legal) and the two cannot drift."""
    rules = compile_rules(tuple(rules), dialect="spark")
    if not rules:
        raise ValueError("percolate_batch needs at least one rule")
    chunks = [
        rules[i : i + int(chunk_size)]
        for i in range(0, len(rules), int(chunk_size))
    ]
    base = events.where(doc_pred)
    out = None
    for chunk in chunks:
        arms = F.array(
            *[
                F.when(
                    F.coalesce(F.expr(pred), F.lit(False)),
                    F.lit(int(rid)).cast("long"),
                )
                for rid, pred in chunk
            ]
        )
        one = base.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(F.array_compact(arms)).alias("rule_id"),
        )
        out = one if out is None else out.unionByName(one)
    return out


def percolate_batch_sql(
    rules=PERCOLATE_RULES, doc_pred: str = "user_id < 5",
    id_col: str = "event_id",
) -> str:
    rules = compile_rules(tuple(rules))
    if not rules:
        raise ValueError("percolate_batch needs at least one rule")
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({id_col} AS BIGINT) AS doc_id,"
        f" CAST({rid} AS BIGINT) AS rule_id"
        f" FROM events WHERE ({doc_pred}) AND COALESCE(({pred}), FALSE)"
        for rid, pred in rules
    )
    return f"SELECT * FROM (\n{arms}\n) ORDER BY doc_id, rule_id"


def percolate_document_sql(
    document: dict = None, rules=PERCOLATE_DOC_RULES
) -> str:
    from ..functions.es_dsl import compile_query_sql

    document = document if document is not None else PERCOLATE_TEST_DOC
    cols = []
    for k, v in document.items():
        if v is None:
            cols.append(f"CAST(NULL AS VARCHAR) AS {k}")
        elif isinstance(v, str):
            cols.append(f"'{v}' AS {k}")
        elif isinstance(v, (bool, int, float)):
            cols.append(f"{v} AS {k}")
        else:
            # parity with percolate_document's typed-scalar contract
            raise ValueError(
                f"percolate_document field type {type(v).__name__} is"
                " not supported (scalar str/int/float/bool/None only)"
            )
    doc = "SELECT " + ", ".join(cols)
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({rid} AS BIGINT) AS rule_id FROM __doc"
        f" WHERE COALESCE(({compile_query_sql(body)}), FALSE)"
        for rid, body in rules
    )
    return f"WITH __doc AS ({doc})\n{arms}\nORDER BY rule_id"


def termvectors(
    docs: DataFrame,
    doc_pred: str = "doc_id < 5",
    with_index_stats: bool = True,
) -> DataFrame:
    """The ES ``_termvectors`` API, relationally: per-(doc, term) stats
    over the whitespace-lowercase token dialect — ``term_freq``, sorted
    1-based ``positions`` (comma-joined string at the result edge — the
    ``es_geo_line`` serialization discipline, so the frame hashes/sorts
    cleanly downstream), and (``term_statistics=true``) corpus-wide
    ``doc_freq`` / ``ttf`` (total term frequency).

    Scale: the requested docs are a predicate (point GETs in ES; a
    pushed filter here) so the positional explode is request-sized; the
    corpus-wide term statistics are ONE aggregation over the corpus —
    ES reads them precomputed from the inverted index, a 100 TB Spark
    deployment materializes the same (term, df, ttf) table once per
    corpus version and broadcast-joins it (this function computes it
    on demand; cache/persist the ``term_stats`` side for repeated
    calls)."""
    toks = F.split(F.lower(F.col("text")), " ")
    # the requested-doc filter sits on the SCAN side (pushed), so the
    # positional explode is request-sized
    tv = (
        docs.where(doc_pred)
        .select("doc_id", F.posexplode(toks).alias("pos0", "term"))
        .select("doc_id", "term", (F.col("pos0") + 1).cast("long").alias("pos"))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("term_freq"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("pos")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("positions"),
        )
    )
    if not with_index_stats:
        return tv.orderBy("doc_id", "term")
    stats = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("doc_freq"),
            F.count(F.lit(1)).cast("long").alias("ttf"),
        )
    )
    return tv.join(stats, "term").select(
        "doc_id", "term", "term_freq", "positions", "doc_freq", "ttf"
    ).orderBy("doc_id", "term")


TERMVECTORS_SQL = """
WITH tok AS (
  SELECT d.doc_id, u.term, CAST(u.pos AS BIGINT) AS pos
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts
        FROM documents) d,
       LATERAL (SELECT ts[i] AS term, i AS pos
                FROM unnest(range(1, len(ts) + 1)) AS r(i)) u
),
tv AS (
  SELECT doc_id, term,
         CAST(COUNT(*) AS BIGINT) AS term_freq,
         array_to_string(list_sort(list(pos)), ',') AS positions
  FROM tok WHERE doc_id < 5 GROUP BY doc_id, term
),
stats AS (
  SELECT term,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
         CAST(COUNT(*) AS BIGINT) AS ttf
  FROM tok GROUP BY term
)
SELECT tv.doc_id, tv.term, tv.term_freq, tv.positions,
       s.doc_freq, s.ttf
FROM tv JOIN stats s ON s.term = tv.term
ORDER BY tv.doc_id, tv.term
"""


# terms LOOKUP form (r13): the stored "watchlist" is a saved-search
# frame (per-source sorted top-3 langs); the clause names one row of it
# and ES's coordinator-GET contract rewrites the clause to plain terms
# before the scan fans out — ONE bounded 1-row collect at any scale.
TERMS_LOOKUP_BODY = {"terms": {"lang": {
    "index": "watchlists", "id": "src7", "path": "langs",
    "id_field": "source"}}}


def terms_lookup_filter_agg(docs: DataFrame) -> DataFrame:
    from ..functions.es_dsl import apply_query

    watch = docs.groupBy("source").agg(
        F.slice(F.sort_array(F.collect_set("lang")), 1, 3).alias("langs")
    )
    return (
        apply_query(docs, TERMS_LOOKUP_BODY, frames={"watchlists": watch})
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy("source")
    )


TERMS_LOOKUP_SQL = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM documents
WHERE lang IN (SELECT unnest(langs) FROM (
  SELECT list_sort(list(DISTINCT lang))[1:3] AS langs
  FROM documents WHERE source = 'src7'))
GROUP BY source ORDER BY source
"""


# _rank_eval end-to-end (r13): queries = langs, hits = top-10 docs per
# lang by length, ratings = 'data'-token count capped at 3; ndcg@10.
def rank_eval_ndcg(docs: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    hits = docs.select(
        F.col("lang").alias("query_id"), "doc_id",
        F.row_number().over(w).cast("long").alias("rank"),
    ).where(F.col("rank") <= 10)
    cnt = F.size(
        F.filter(F.split(F.col("text"), " "), lambda t: t == F.lit("data"))
    )
    ratings = docs.select(
        F.col("lang").alias("query_id"), "doc_id",
        F.least(F.lit(3), cnt).cast("long").alias("rating"),
    ).where(F.col("rating") > 0)
    return rank_eval(hits, ratings, metric="ndcg", k=10)


RANK_EVAL_SQL = """
WITH hits AS (
  SELECT lang AS query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents
),
win AS (SELECT * FROM hits WHERE rank <= 10),
ratings AS (
  SELECT lang AS query_id, doc_id,
         LEAST(3, len(list_filter(string_split(text, ' '),
                                  t -> t = 'data'))) AS rating
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), t -> t = 'data')) > 0
),
j AS (
  SELECT w.query_id, w.rank, COALESCE(r.rating, 0) AS rating
  FROM win w LEFT JOIN ratings r
    ON w.query_id = r.query_id AND w.doc_id = r.doc_id
),
dcg AS (
  SELECT query_id,
         SUM(CAST(FLOOR(1e9 * (pow(2.0, rating) - 1.0)
                        / log2(rank + 1.0)) AS BIGINT)) AS d
  FROM j GROUP BY 1
),
irk AS (
  SELECT query_id, rating,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rating DESC, doc_id) AS rank
  FROM ratings
),
idcg AS (
  SELECT query_id,
         SUM(CAST(FLOOR(1e9 * (pow(2.0, rating) - 1.0)
                        / log2(rank + 1.0)) AS BIGINT)) AS i
  FROM irk WHERE rank <= 10 GROUP BY 1
)
SELECT query_id,
       CAST(CASE WHEN COALESCE(i, 0) > 0
                 THEN FLOOR(1e6 * d / i) ELSE 0 END AS BIGINT) AS score_q
FROM dcg LEFT JOIN idcg USING (query_id) ORDER BY query_id
"""


def oracle_sql() -> dict:
    return {
        "es_percolate": percolate_sql(),
        "es_percolate_batch": percolate_batch_sql(),
        "es_more_like_this": more_like_this_sql(),
        "es_intervals_near": intervals_near_sql(),
        "es_term_suggest": term_suggest_sql(),
        "es_completion_suggest": completion_suggest_sql(),
        "es_phrase_suggest": phrase_suggest_sql(),
        "es_terms_enum": terms_enum_sql("events", "event_type", prefix="s", size=10),
        "es_dsl_query": dsl_filter_agg_sql(),
        "es_dsl_sqs": sqs_filter_agg_sql(),
        "es_dsl_msm": msm_filter_agg_sql(),
        "es_dsl_range_tz": range_tz_filter_agg_sql(),
        "es_dsl_date_math": date_math_filter_agg_sql(),
        "es_dsl_msm_pct": msm_pct_filter_agg_sql(),
        "es_dsl_query_string": query_string_filter_agg_sql(),
        "es_dsl_multi_match": multi_match_filter_agg_sql(),
        "es_dsl_compound": compound_filter_agg_sql(),
        "es_dsl_intervals": intervals_filter_agg_sql(),
        "es_dsl_terms_set": terms_set_filter_agg_sql(),
        "es_dsl_span_near": span_near_filter_agg_sql(),
        "es_dsl_span_not": span_not_filter_agg_sql(),
        "es_dsl_terms_lookup": TERMS_LOOKUP_SQL,
        "es_rank_eval": RANK_EVAL_SQL,
        "es_termvectors": TERMVECTORS_SQL,
        "es_percolate_doc": percolate_document_sql(),
        "es_explain": explain_events_sql(),
        "es_dsl_geo": dsl_geo_sql(),
        "es_dsl_geo_dateline": dsl_geo_dateline_sql(),
        "es_dsl_geo_shape": dsl_geo_shape_sql(),
    }
