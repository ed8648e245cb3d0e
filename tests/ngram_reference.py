"""References for the char-3-gram pair kernel's equality tests.

``ngram_pairs_ref`` is a pure-Python model of the DuckDB twins
(``NGRAM_SQL``, ``CONTAINMENT_SQL``, ``NGRAM_CONTAINMENT_SQL``) at any
threshold; ``run_twin`` runs a twin itself over literal rows. Both follow
the twins' semantics: a doc's grams are the DISTINCT (doc_id, source, gram)
rows, so a doc on several rows of a block gets their union; a NULL doc_id
or source never pairs; only pairs with at least one shared gram appear.
"""

from __future__ import annotations

import math
from collections import defaultdict

QUANT = 1_000_000


def ngram_pairs_ref(rows, threshold: float, score: str = "jaccard") -> list:
    """Sorted (a, b, q) rows of ``ngram_jaccard_pairs_gemm(..., score=score)``
    over ``rows`` of (doc_id, source, text)."""
    grams: dict = defaultdict(set)
    for doc_id, source, text in rows:
        if text is not None and len(text) >= 3:
            grams[(doc_id, source)] |= {text[i:i + 3] for i in range(len(text) - 2)}
    n: dict = defaultdict(int)
    for (doc_id, _), gs in grams.items():
        n[doc_id] += len(gs)
    keyed = [k for k in grams if k[0] is not None and k[1] is not None]
    inter: dict = defaultdict(int)
    for a, sa in keyed:
        for b, sb in keyed:
            if sa == sb and a < b:
                inter[(a, b)] += len(grams[(a, sa)] & grams[(b, sb)])
    out = []
    for (a, b), i in inter.items():
        if not i:
            continue
        na, nb = n[a], n[b]
        if score == "containment_dir":
            if i / na >= threshold:
                out.append((a, b, math.floor(i * QUANT / na)))
            if i / nb >= threshold:
                out.append((b, a, math.floor(i * QUANT / nb)))
            continue
        v = i / (na + nb - i) if score == "jaccard" else i / min(na, nb)
        if v >= threshold:
            out.append((a, b, math.floor(v * QUANT)))
    return sorted(out)


def run_twin(rows, sql: str) -> list:
    """The DuckDB twin ``sql`` over ``rows`` of (doc_id, source, text)."""
    import duckdb
    import pandas as pd

    docs = pd.DataFrame(rows, columns=["doc_id", "source", "text"]).astype(
        {"doc_id": "Int64", "source": "object", "text": "object"}
    )
    con = duckdb.connect()
    con.register("documents", docs)
    return [tuple(r) for r in con.sql(sql).fetchall()]
