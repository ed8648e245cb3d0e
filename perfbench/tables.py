"""Seeded synthetic source tables with the schemas of the package's fixtures.

Every generator is a pure function of its seed and size: it draws from one
``numpy.random.Generator(PCG64(seed))`` in a fixed order and writes parquet
with pyarrow, so the same seed gives byte-identical files.

The schemas match what ``sources.flows`` derives flows from (``events``)
and what the curation operators read (``documents``, ``embeddings``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
# the fixture corpus' vocabulary: documents are bags of these words
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])

_US = 1_000_000
EVENTS_T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype("int64"))
EVENTS_SPAN_US = 30 * 86_400 * _US


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (seed, purpose): adding a draw to one input
    never shifts the values of another."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_events(path: str, seed: int, n: int) -> dict:
    r = rng_for(seed, "events")
    ts = np.sort(EVENTS_T0_US + r.integers(0, EVENTS_SPAN_US, n))
    tbl = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": r.integers(0, 1500, n).astype(np.int64),
            "event_type": pa.array(EVENT_TYPES[r.integers(0, 5, n)]),
            "value": np.round(r.random(n) * 560.0, 2),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        }
    )
    _write(tbl, path)
    return {"rows": n, "ts_lo_us": int(ts[0]), "ts_hi_us": int(ts[-1])}


def _doc_text(r: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[r.integers(0, len(VOCAB), n_words)])


PLANT_PERIOD = 50


def write_documents(
    path: str, seed: int, n: int, exact_share: float, near_share: float
) -> dict:
    """A corpus with planted duplicates. In every run of ``PLANT_PERIOD``
    documents, ``exact_share`` of them copy an earlier document verbatim
    and ``near_share`` copy one with two word substitutions, so the planted
    counts depend on ``n`` only. Originals go round-robin over ten
    ``source`` blocks; copies stay in their original's block (the dedup
    operators block on it). Returns the planted pair counts."""
    r = rng_for(seed, "documents")
    n_exact = round(PLANT_PERIOD * exact_share)
    n_near = round(PLANT_PERIOD * near_share)
    texts: list[str] = []
    sources: list[str] = []
    planted_exact = planted_near = 0
    for i in range(n):
        slot = PLANT_PERIOD - 1 - i % PLANT_PERIOD  # copies close each period
        if i >= PLANT_PERIOD and slot < n_exact + n_near:
            j = int(r.integers(0, i))
            words = texts[j].split()
            if slot < n_exact:
                planted_exact += 1
            else:
                planted_near += 1
                for _ in range(2):
                    words[int(r.integers(0, len(words)))] = str(VOCAB[r.integers(0, len(VOCAB))])
            texts.append(" ".join(words))
            sources.append(sources[j])
        else:
            texts.append(_doc_text(r, int(r.integers(10, 100))))
            sources.append(f"src{i % 10}")
    langs = LANGS[r.integers(0, len(LANGS), n)]
    tbl = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(sources),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    _write(tbl, path)
    return {"rows": n, "planted_exact_pairs": planted_exact, "planted_near_pairs": planted_near}


def write_embeddings(path: str, seed: int, n: int, dim: int, near_share: float) -> dict:
    """Unit-scale float32 vectors; every ``1 / near_share``-th of them is a
    small perturbation of an earlier vector (planted semantic
    near-duplicates)."""
    r = rng_for(seed, "embeddings")
    vecs = r.standard_normal((n, dim)).astype(np.float32)
    every = round(1 / near_share)
    planted = 0
    for i in range(1, n):
        if i % every == every - 1:
            j = int(r.integers(0, i))
            vecs[i] = vecs[j] + 0.05 * r.standard_normal(dim).astype(np.float32)
            planted += 1
    # round to 1/1024 so both engines see exactly representable inputs
    vecs = np.round(vecs * 1024.0) / 1024.0
    tbl = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": r.integers(0, 8, n).astype(np.int32),
        }
    )
    _write(tbl, path)
    return {"rows": n, "dim": dim, "planted_near_pairs": planted}
