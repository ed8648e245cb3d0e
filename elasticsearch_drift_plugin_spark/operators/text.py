"""Text analysis operators for training-data pipelines (north-star
extensions, BASELINE.json): language ID, quality scoring, token counting,
document fingerprinting.

All pure Catalyst expressions over the ``documents`` table — per-row, no
shuffle at all (embarrassingly parallel at any scale; predicates and
projections push to the scan). Fractional outputs are quantized (floor 1e-6)
for deterministic cross-engine hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import HEX15_SQL_FN, md5_hash60
from ..sources.flows import load_table, pin_result

QUANT = 1_000_000

# Tiny per-language stopword lists (n-gram/stopword-hit heuristic language ID;
# precedence order en > es > de > fr on ties, 'und' when no hits).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "y", "que", "los", "se", "del", "las", "un"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein"],
    "fr": ["le", "les", "de", "et", "des", "une", "du", "dans", "est", "pour"],
}
LANGS = list(STOPWORDS)

BPE_ISH_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"
PUNCT_RE = "[.,!?;:]"


def _tokens() -> Column:
    return F.split(F.lower(F.col("text")), " ")


def _stop_count(lang: str) -> Column:
    stop = STOPWORDS[lang]
    return F.size(F.filter(_tokens(), lambda t: t.isin(*stop))).cast("long")


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, c_en, c_es, c_de, c_fr) — stopword-hit argmax.
    The text is lowercased and split exactly once; all four language counts
    filter the same token array (one projection, no shuffle)."""
    out = docs.select("doc_id", _tokens().alias("__toks")).select(
        "doc_id",
        *[
            F.size(F.filter(F.col("__toks"), lambda t: t.isin(*STOPWORDS[lang])))
            .cast("long")
            .alias(f"c_{lang}")
            for lang in LANGS
        ],
    )
    # A language wins if it beats every earlier language strictly and every
    # later one at-least — i.e. ties break by list order (en > es > de > fr).
    pred = F.lit("und")
    for lang in reversed(LANGS):
        earlier = LANGS[: LANGS.index(lang)]
        cond = F.col(f"c_{lang}") > 0
        for e in earlier:
            cond = cond & (F.col(f"c_{lang}") > F.col(f"c_{e}"))
        for later in LANGS[LANGS.index(lang) + 1 :]:
            cond = cond & (F.col(f"c_{lang}") >= F.col(f"c_{later}"))
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pin_result(out.select("doc_id", pred.alias("lang_pred"), *[f"c_{lang}" for lang in LANGS])).orderBy(
        "doc_id"
    )


def lang_id_sql() -> str:
    counts = ", ".join(
        "len(list_filter(string_split(lower(text), ' '), t -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        + f"], t))) AS c_{lang}"
        for lang in LANGS
    )
    whens = []
    for lang in LANGS:
        earlier = LANGS[: LANGS.index(lang)]
        later = LANGS[LANGS.index(lang) + 1 :]
        conds = [f"c_{lang} > 0"]
        conds += [f"c_{lang} > c_{e}" for e in earlier]
        conds += [f"c_{lang} >= c_{l}" for l in later]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"""
WITH counts AS (SELECT doc_id, {counts} FROM documents)
SELECT doc_id, CASE {' '.join(whens)} ELSE 'und' END AS lang_pred,
       c_en, c_es, c_de, c_fr
FROM counts ORDER BY doc_id
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars, n_tokens, n_punct, n_stop, score_q): heuristic
    quality = 0.3·len-sat + 0.4·stopword-frac + 0.3·(1 − punct-frac)."""
    n_chars = F.length("text").cast("long")
    n_tokens = F.size(_tokens()).cast("long")
    n_punct = (F.length("text") - F.length(F.regexp_replace("text", PUNCT_RE, ""))).cast("long")
    n_stop = _stop_count("en")
    d = docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stop"),
    )
    tok_sat = F.least(F.lit(1.0), F.col("n_tokens").cast("double") / F.lit(100.0))
    stop_frac = F.col("n_stop").cast("double") / F.col("n_tokens").cast("double")
    punct_frac = F.col("n_punct").cast("double") / F.col("n_chars").cast("double")
    score = tok_sat * F.lit(0.3) + stop_frac * F.lit(0.4) + (F.lit(1.0) - punct_frac) * F.lit(0.3)
    return pin_result(d.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_punct",
        "n_stop",
        F.floor(score * F.lit(float(QUANT))).alias("score_q"),
    )).orderBy("doc_id")


def quality_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         CAST(len(text) - len(regexp_replace(text, '{PUNCT_RE}', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(string_split(lower(text), ' '),
                              t -> list_contains([{stop}], t))) AS BIGINT) AS n_stop
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, n_punct, n_stop,
       CAST(FLOOR((least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3
                   + CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.4
                   + (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.3)
                  * {float(QUANT)}) AS BIGINT) AS score_q
FROM d ORDER BY doc_id
"""


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, bpe_ish_tokens, n_chars): whitespace tokens plus a
    BPE-ish regex segmentation count."""
    return pin_result(docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(BPE_ISH_RE)).cast("long").alias(
            "bpe_ish_tokens"
        ),
        F.length("text").cast("long").alias("n_chars"),
    )).orderBy("doc_id")


TOKENS_SQL = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{BPE_ISH_RE}')) AS BIGINT) AS bpe_ish_tokens,
       CAST(len(text) AS BIGINT) AS n_chars
FROM documents ORDER BY doc_id
"""


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): 60-bit digest fingerprint of the normalized text
    (lowercased, whitespace-collapsed) — the content-defined identity used
    for cross-run/exact dedup joins."""
    norm = F.regexp_replace(F.lower(F.col("text")), " +", " ")
    return pin_result(docs.select("doc_id", md5_hash60(norm).alias("fp"))).orderBy("doc_id")


def rolling_fingerprint(docs: DataFrame, mod: int = 1_000_000_007) -> DataFrame:
    """(doc_id, fp): polynomial rolling hash h = fold(h·31 + code) mod p over
    the characters — a streaming-friendly fingerprint (computable
    incrementally over chunks, unlike md5-of-whole-doc). DuckDB twin:
    ``list_reduce`` over codepoints with a prepended 0 as the init value
    (ROLLING_FP_SQL)."""
    chars = F.split(F.lower(F.col("text")), "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(mod),
    )
    return pin_result(docs.select("doc_id", fp.alias("fp"))).orderBy("doc_id")


FP_SQL = (
    "SELECT doc_id, "
    + HEX15_SQL_FN.format(expr="regexp_replace(lower(text), ' +', ' ', 'g')")
    + " AS fp FROM documents ORDER BY doc_id"
)

# DuckDB's list_reduce folds from the list's first element, so the init 0 is
# prepended. greatest(c, 0) maps DuckDB's unicode('') == -1 (the [''] that
# string_split('', '') yields) to Spark's ascii('') == 0 for empty texts.
ROLLING_FP_SQL = """
SELECT doc_id,
       CAST(list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(lower(text), ''),
                          c -> CAST(unicode(c) AS BIGINT))),
         (h, c) -> (h * 31 + greatest(c, CAST(0 AS BIGINT))) % 1000000007
       ) AS BIGINT) AS fp
FROM documents ORDER BY doc_id
"""


REP_N = 5


def repetition_score(docs: DataFrame, n: int = REP_N) -> DataFrame:
    """(doc_id, n_grams, n_distinct, rep_q): intra-document repetition —
    1 − distinct/total over word ``n``-grams, the standard boilerplate /
    looping-generation signal. Pure per-row Catalyst (map-only, no
    shuffle): the n-gram list is built with ``transform`` over the token
    array inside the row. Docs shorter than ``n`` tokens report 0/0/0."""
    # tokenize ONCE into a column; referencing `split(...)` inside the
    # transform lambda would re-evaluate it per gram index (O(tokens²),
    # interpreted — measured 5x slower at sf0.1)
    toked = docs.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("__l"))
    grams = F.when(
        F.size("__l") >= n,
        F.expr(
            f"transform(sequence(1, size(__l) - {n - 1}),"
            f" i -> concat_ws(' ', slice(__l, i, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = toked.select("doc_id", grams.alias("__g")).select(
        "doc_id",
        F.size("__g").cast("long").alias("n_grams"),
        F.size(F.array_distinct("__g")).cast("long").alias("n_distinct"),
    )
    rep = F.when(
        F.col("n_grams") > 0,
        F.floor(
            (F.lit(1.0) - F.col("n_distinct") / F.col("n_grams")) * F.lit(float(QUANT))
        ),
    ).otherwise(F.lit(0))
    return pin_result(d.select("doc_id", "n_grams", "n_distinct", rep.alias("rep_q"))).orderBy("doc_id")


def repetition_sql(n: int = REP_N) -> str:
    return f"""
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(l) >= {n}
              THEN list_transform(generate_series(1, len(l) - {n - 1}),
                                  i -> array_to_string(l[i:i+{n - 1}], ' '))
              ELSE [] END AS gs
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents)
)
SELECT doc_id,
       CAST(len(gs) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
       CASE WHEN len(gs) > 0
            THEN CAST(FLOOR((1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs))
                            * {float(QUANT)}) AS BIGINT)
            ELSE 0 END AS rep_q
FROM g ORDER BY doc_id
"""


# Deliberately simple patterns that parse identically under Java regex and
# DuckDB's RE2: no backrefs, no lookaround.
PII_PATTERNS = {
    "n_emails": "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "n_phones": "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "n_ipv4": "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
    "n_urls": "https?://[^ ]+",
    "n_long_digits": "[0-9]{9,}",
}


def pii_scan(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_phones, n_ipv4, n_urls, n_long_digits):
    per-document counts of scrub-relevant patterns — the screening pass a
    curation pipeline runs before redaction. Map-only Catalyst
    (``regexp_count`` per pattern over one lowercased projection)."""
    low = F.lower(F.col("text"))
    return pin_result(docs.select(
        "doc_id",
        *[
            F.regexp_count(low, F.lit(pat)).cast("long").alias(name)
            for name, pat in PII_PATTERNS.items()
        ],
    )).orderBy("doc_id")


def pii_sql() -> str:
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(lower(text), '{pat}')) AS BIGINT) AS {name}"
        for name, pat in PII_PATTERNS.items()
    )
    return f"SELECT doc_id, {counts} FROM documents ORDER BY doc_id"


# Redaction applies most-specific-first so a pattern never eats another's
# placeholder: URLs (greedy, may contain digits/emails in the path) →
# emails → phones → IPv4 → bare long digit runs.
PII_REDACTIONS = (
    ("[URL]", PII_PATTERNS["n_urls"]),
    ("[EMAIL]", PII_PATTERNS["n_emails"]),
    ("[PHONE]", PII_PATTERNS["n_phones"]),
    ("[IPV4]", PII_PATTERNS["n_ipv4"]),
    ("[NUMBER]", PII_PATTERNS["n_long_digits"]),
)
_PII_TOKEN_RE = "\\[(URL|EMAIL|PHONE|IPV4|NUMBER)\\]"


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, redacted, n_redacted): the scrub pass after
    :func:`pii_scan` — each PII pattern replaced by its typed placeholder
    over the lowercased projection (the scan's convention), plus the
    total placeholder count. Map-only Catalyst: a chain of native
    ``regexp_replace`` (global in both engines), zero shuffle; at 100 TB
    this runs embarrassingly parallel at scan parallelism. ``n_redacted``
    counts placeholders in the OUTPUT (pre-existing literal ``[EMAIL]``
    strings in a document would inflate it — acceptable for a screening
    metric; the redacted text itself is exact)."""
    red = F.lower(F.col(text_col))
    for ph, pat in PII_REDACTIONS:
        red = F.regexp_replace(red, F.lit(pat), F.lit(ph))
    return pin_result(docs.select(
        "doc_id",
        red.alias("redacted"),
        F.regexp_count(red, F.lit(_PII_TOKEN_RE)).cast("long").alias(
            "n_redacted"
        ),
    )).orderBy("doc_id")


def pii_redact_sql(source: str = "documents", text_expr: str = "text") -> str:
    red = f"lower({text_expr})"
    for ph, pat in PII_REDACTIONS:
        red = f"regexp_replace({red}, '{pat}', '{ph}', 'g')"
    return f"""
SELECT doc_id, {red} AS redacted,
       CAST(len(regexp_extract_all({red}, '{_PII_TOKEN_RE}')) AS BIGINT)
         AS n_redacted
FROM {source} ORDER BY doc_id
"""


# The driver corpus carries no organic PII, so the registered query
# decorates each doc with deterministic doc_id-derived PII-shaped spans
# (one of each pattern class) BEFORE redacting — the same SQL expression
# evaluated by both engines, so the kernel is exercised on every row.
PII_DECORATE_EXPR = (
    "concat(text, ' contact u', cast(doc_id as string),"
    " '@mail.example.com via http://ex.com/d', cast(doc_id as string),"
    " ' or 555-123-', lpad(cast(doc_id % 10000 as string), 4, '0'),"
    " ' at 10.0.', cast(doc_id % 200 as string), '.7 ref 9',"
    " lpad(cast(doc_id as string), 9, '0'))"
)



def readability(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_sents, n_syll, fre_q): Flesch Reading-Ease in
    exact milli-units — ``206.835 − 1.015·(words/sents) − 84.6·(syll/
    words)`` with a vowel-group syllable proxy (the standard code-level
    approximation) and sentences = terminator runs + 1. A staple of
    curation quality stacks next to the Gopher rules.

    Integer discipline: counts come from ``regexp_count`` (RE2-portable
    patterns, the pii_scan convention); the final formula evaluates once
    in IEEE doubles from those exact integers, floored to milli-units —
    identical on both engines. Map-only, zero shuffle."""
    low = F.lower(F.col("text"))
    n_words = (F.size(F.split(low, " +"))).cast("long")
    n_sents = (F.regexp_count(low, F.lit(r"[.!?]+")) + F.lit(1)).cast("long")
    n_syll = F.greatest(
        F.regexp_count(low, F.lit(r"[aeiouy]+")), F.lit(1)
    ).cast("long")
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    return pin_result(docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
        F.floor(fre * F.lit(1000.0)).alias("fre_q"),
    )).orderBy("doc_id")


def readability_sql() -> str:
    return r"""
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(lower(text), ' +')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '[.!?]+')) + 1 AS BIGINT) AS n_sents,
         CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
              AS BIGINT) AS n_syll
  FROM documents
)
SELECT doc_id, n_words, n_sents, n_syll,
       CAST(FLOOR((206.835
                   - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
                   - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)))
                  * 1000.0) AS BIGINT) AS fre_q
FROM c ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Gopher-style quality rule battery
# --------------------------------------------------------------------------
GOPHER_RULES = (
    "wc_low", "wc_high", "mwl_low", "mwl_high", "symbol", "stop2",
)


def gopher_filter(
    docs: DataFrame,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_wl_q: int = 3 * QUANT,
    max_mean_wl_q: int = 10 * QUANT,
    max_symbol_q: int = QUANT // 10,
    min_stop_hits: int = 2,
) -> DataFrame:
    """(doc_id, n_tokens, mean_wl_q, sym_q, n_stop, failed_rules, verdict):
    the Gopher repetition-free document-quality rules (Rae et al. 2021,
    "Scaling Language Models", table A1 subset) as one map-only pass:

    - ``wc_low``/``wc_high``: word count within [min_tokens, max_tokens];
    - ``mwl_low``/``mwl_high``: mean word length in [3, 10] chars
      (``mean_wl_q`` = total token chars · 1e6 div n_tokens — integer);
    - ``symbol``: punctuation-to-word ratio ≤ 0.1 (``sym_q`` quantized);
    - ``stop2``: at least 2 English stopword hits.

    ``failed_rules`` lists the failed rule names in declaration order
    (empty string = clean); ``verdict`` is ``keep``/``drop``. Zero
    shuffles — a 100 TB corpus filters at scan speed; every metric is
    integer-exact so both engines agree on every boundary document.
    """
    toks = _tokens()
    n_tokens = F.size(toks).cast("long")
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", PUNCT_RE, ""))
    ).cast("long")
    d = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        tok_chars.alias("__tc"),
        n_punct.alias("__np"),
        _stop_count("en").alias("n_stop"),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr(f"__tc * {QUANT} div n_tokens").alias("mean_wl_q"),
        F.expr(f"__np * {QUANT} div n_tokens").alias("sym_q"),
        "n_stop",
    )
    fails = [
        F.when(F.col("n_tokens") < min_tokens, F.lit("wc_low")),
        F.when(F.col("n_tokens") > max_tokens, F.lit("wc_high")),
        F.when(F.col("mean_wl_q") < min_mean_wl_q, F.lit("mwl_low")),
        F.when(F.col("mean_wl_q") > max_mean_wl_q, F.lit("mwl_high")),
        F.when(F.col("sym_q") > max_symbol_q, F.lit("symbol")),
        F.when(F.col("n_stop") < min_stop_hits, F.lit("stop2")),
    ]
    failed = F.array_join(
        F.filter(F.array(*fails), lambda x: x.isNotNull()), ","
    )
    return pin_result(d.select(
        "doc_id",
        "n_tokens",
        "mean_wl_q",
        "sym_q",
        "n_stop",
        failed.alias("failed_rules"),
        F.when(failed == "", "keep").otherwise("drop").alias("verdict"),
    )).orderBy("doc_id")


def gopher_sql(
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_wl_q: int = 3 * QUANT,
    max_mean_wl_q: int = 10 * QUANT,
    max_symbol_q: int = QUANT // 10,
    min_stop_hits: int = 2,
) -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(string_split(lower(text), ' '),
                                      t -> len(t))) AS BIGINT) AS tc,
         CAST(len(text) - len(regexp_replace(text, '{PUNCT_RE}', '', 'g')) AS BIGINT) AS np,
         CAST(len(list_filter(string_split(lower(text), ' '),
                              t -> list_contains([{stop}], t))) AS BIGINT) AS n_stop
  FROM documents
),
q AS (
  SELECT doc_id, n_tokens,
         tc * {QUANT} // n_tokens AS mean_wl_q,
         np * {QUANT} // n_tokens AS sym_q,
         n_stop
  FROM m
),
r AS (
  SELECT *, COALESCE(array_to_string(list_filter([
      CASE WHEN n_tokens < {min_tokens} THEN 'wc_low' END,
      CASE WHEN n_tokens > {max_tokens} THEN 'wc_high' END,
      CASE WHEN mean_wl_q < {min_mean_wl_q} THEN 'mwl_low' END,
      CASE WHEN mean_wl_q > {max_mean_wl_q} THEN 'mwl_high' END,
      CASE WHEN sym_q > {max_symbol_q} THEN 'symbol' END,
      CASE WHEN n_stop < {min_stop_hits} THEN 'stop2' END
    ], x -> x IS NOT NULL), ','), '') AS failed_rules
  FROM q
)
SELECT doc_id, n_tokens, mean_wl_q, sym_q, n_stop, failed_rules,
       CASE WHEN failed_rules = '' THEN 'keep' ELSE 'drop' END AS verdict
FROM r ORDER BY doc_id
"""

def hash_embed(docs: DataFrame, dims: int = 64) -> DataFrame:
    """(doc_id, dim, comp_q): feature-hashing TF-IDF document vectors
    (the "hashing trick", Weinberger et al. 2009) — every term routes to
    bucket ``md5_60(term) mod dims`` with sign ``±1`` from the next hash
    bit, accumulating ``tf · idf_q``; the result is a fixed-width sparse
    embedding computed WITHOUT any trained model, the featurizer that
    feeds :mod:`similarity`'s ANN/clustering when no neural embedding
    exists. Output is long-format (zero components omitted), all-integer.

    Scale: one (doc, term) tf agg + a term-keyed idf join (both partial
    map-side) + one (doc, dim) sum — the exact TF-IDF pipeline shape of
    :func:`corpus.tfidf_top_terms`, ending at ``dims`` values per doc.
    """
    return (
        _tfidf_contribs(docs, dims)
        .groupBy("doc_id", "dim")
        .agg(F.sum("c").cast("long").alias("comp_q"))
        .orderBy("doc_id", "dim")
    )


def _tfidf_contribs(docs: DataFrame, dims: int, n_docs: int | None = None) -> DataFrame:
    """(doc_id, dim, c): the signed per-term tf·idf contributions BEFORE
    the per-dim sum — :func:`hash_embed`'s routing stage, shared with the
    classifier's design matrix (``corpus._clf_features``) and its
    frozen-weight scoring (``corpus._clf_score_frozen``), which folds the
    weight into each term row instead of materializing the (doc, dim)
    vector first (int64 addition is associative, so the regrouped sum is
    bit-identical). ``n_docs`` is ``docs.count()`` when the caller already
    has it; otherwise it is counted here (one eager job)."""
    toks = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if n_docs is None:
        n_docs = docs.count()
    dfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_q = F.floor(
        F.log(F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1.0)))
        * F.lit(float(QUANT))
    ).alias("idf_q")
    return (
        toks.join(dfreq.select("term", idf_q), "term")
        .withColumn("__h", md5_hash60(F.col("term")))
        .select(
            "doc_id",
            F.pmod(F.col("__h"), F.lit(dims)).cast("long").alias("dim"),
            # sign bit: the next base-2 digit of the same 60-bit hash
            # (integer div — `/` would be float division and corrupt the bit)
            F.expr(f"(1 - 2 * pmod(__h div {dims}, 2)) * tf * idf_q").alias("c"),
        )
    )


def hash_embed_sql(dims: int = 64, src: str = "documents") -> str:
    h = HEX15_SQL_FN.format(expr="term")
    return f"""
WITH toks AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM {src})
  WHERE term <> '' GROUP BY doc_id, term
),
dfreq AS (
  SELECT term,
         CAST(FLOOR(ln(((SELECT COUNT(*) FROM {src}) + 1.0) / (COUNT(*) + 1.0))
                    * {float(QUANT)}) AS BIGINT) AS idf_q
  FROM toks GROUP BY term
),
routed AS (
  SELECT t.doc_id,
         CAST(({h}) % {dims} AS BIGINT) AS dim,
         (1 - 2 * CAST((({h}) // {dims}) % 2 AS BIGINT)) * t.tf * d.idf_q AS c
  FROM toks t JOIN dfreq d USING (term)
)
SELECT doc_id, dim, CAST(SUM(c) AS BIGINT) AS comp_q
FROM routed GROUP BY doc_id, dim ORDER BY doc_id, dim
"""


def queries() -> dict:
    return {
        "text_lang_id": lambda s, d: lang_id(load_table(s, d, "documents")),
        "text_quality": lambda s, d: quality_score(load_table(s, d, "documents")),
        "text_tokens": lambda s, d: token_counts(load_table(s, d, "documents")),
        "text_fingerprint": lambda s, d: fingerprints(load_table(s, d, "documents")),
        "text_rolling_fp": lambda s, d: rolling_fingerprint(load_table(s, d, "documents")),
        "text_repetition": lambda s, d: repetition_score(load_table(s, d, "documents")),
        "text_pii_scan": lambda s, d: pii_scan(load_table(s, d, "documents")),
        "text_pii_redact": lambda s, d: pii_redact(
            load_table(s, d, "documents").withColumn(
                "text", F.expr(PII_DECORATE_EXPR)
            )
        ),
        "text_gopher_filter": lambda s, d: gopher_filter(load_table(s, d, "documents")),
        "text_readability": lambda s, d: readability(load_table(s, d, "documents")),
        "text_hash_embed": lambda s, d: hash_embed(load_table(s, d, "documents")),
    }


def oracle_sql() -> dict:
    return {
        "text_lang_id": lang_id_sql(),
        "text_quality": quality_sql(),
        "text_tokens": TOKENS_SQL,
        "text_fingerprint": FP_SQL,
        "text_rolling_fp": ROLLING_FP_SQL,
        "text_repetition": repetition_sql(),
        "text_pii_scan": pii_sql(),
        # DuckDB accepts STRING as a VARCHAR alias, so the decorate
        # expression is shared VERBATIM with the Spark side
        "text_pii_redact": pii_redact_sql(
            source=f"(SELECT doc_id, {PII_DECORATE_EXPR} AS text FROM documents)"
        ),
        "text_gopher_filter": gopher_sql(),
        "text_readability": readability_sql(),
        "text_hash_embed": hash_embed_sql(),
    }
