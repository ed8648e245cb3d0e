"""Round-11 property tests.

1. Date-math resolver vs an INDEPENDENT pure-Python model: random
   ``now±N<unit>`` / ``/unit`` expressions evaluated against a
   dateutil-free reference built directly on datetime field surgery —
   none of the params.py calendar helpers — so a shared bug cannot hide.
2. RFC 5952 renderer (Spark fold) vs Python's ipaddress on random group
   vectors with zero-heavy distributions (the compression-relevant part
   of the space).
3. The BPE trainer vs its DuckDB twin on random small corpora (the
   bit-identity contract beyond the fixed goldens).
"""

from __future__ import annotations

import calendar as _cal
import random
from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_drift_plugin_spark.functions.es_dsl import (
    resolve_range_bounds,
)

UNITS = ["y", "M", "w", "d", "h", "H", "m", "s"]
_UNIT_NAME = {
    "y": "year", "M": "month", "w": "week", "d": "day",
    "h": "hour", "H": "hour", "m": "minute", "s": "second",
}


def _model_trunc(dt: datetime, unit: str) -> datetime:
    if unit == "year":
        return dt.replace(month=1, day=1, hour=0, minute=0, second=0,
                          microsecond=0)
    if unit == "month":
        return dt.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    if unit == "week":
        d0 = dt.replace(hour=0, minute=0, second=0, microsecond=0)
        return d0 - timedelta(days=d0.weekday())
    if unit == "day":
        return dt.replace(hour=0, minute=0, second=0, microsecond=0)
    if unit == "hour":
        return dt.replace(minute=0, second=0, microsecond=0)
    if unit == "minute":
        return dt.replace(second=0, microsecond=0)
    return dt.replace(microsecond=0)


def _model_add(dt: datetime, unit: str, n: int) -> datetime:
    if unit == "year":
        last = _cal.monthrange(dt.year + n, dt.month)[1]
        return dt.replace(year=dt.year + n, day=min(dt.day, last))
    if unit == "month":
        total = dt.year * 12 + (dt.month - 1) + n
        y, m = divmod(total, 12)
        last = _cal.monthrange(y, m + 1)[1]
        return dt.replace(year=y, month=m + 1, day=min(dt.day, last))
    span = {"week": 7 * 86400, "day": 86400, "hour": 3600,
            "minute": 60, "second": 1}[unit]
    return dt + timedelta(seconds=span * n)


def _model_eval(expr: str, now_ms: int, round_up: bool) -> int:
    """Pure-datetime UTC reference for now-anchored math."""
    assert expr.startswith("now")
    dt = datetime.fromtimestamp(now_ms / 1000.0, tz=timezone.utc)
    i = 3
    while i < len(expr):
        op = expr[i]
        if op == "/":
            unit = _UNIT_NAME[expr[i + 1]]
            dt = _model_trunc(dt, unit)
            if round_up:
                dt = _model_add(dt, unit, 1) - timedelta(milliseconds=1)
            i += 2
        else:
            j = i + 1
            while expr[j].isdigit():
                j += 1
            n = int(expr[i + 1:j]) if j > i + 1 else 1
            unit = _UNIT_NAME[expr[j]]
            dt = _model_add(dt, unit, n if op == "+" else -n)
            i = j + 1
    # exact integer epoch-ms: float .timestamp()*1000 loses an ulp at
    # ...999 round-up boundaries (~5e11 ms magnitudes exceed float53
    # exactness for the *1000 product), which showed as a 1 ms model
    # error against the exact resolver
    return (
        dt - datetime(1970, 1, 1, tzinfo=timezone.utc)
    ) // timedelta(milliseconds=1)


@st.composite
def date_math_exprs(draw):
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        op = draw(st.sampled_from(["+", "-"]))
        n = draw(st.integers(0, 40))
        n_s = "" if (n == 1 and draw(st.booleans())) else str(n)
        parts.append(f"{op}{n_s}{draw(st.sampled_from(UNITS))}")
    if draw(st.booleans()):
        parts.append("/" + draw(st.sampled_from(UNITS)))
    return "now" + "".join(parts)


@settings(max_examples=300, deadline=None)
@given(
    expr=date_math_exprs(),
    now_ms=st.integers(0, 4_102_444_800_000),  # 1970..2100
    op=st.sampled_from(["gte", "lt", "gt", "lte"]),
)
def test_date_math_matches_pure_datetime_model(expr, now_ms, op):
    got = resolve_range_bounds({op: expr, "now": now_ms})[op]
    want = _model_eval(expr, now_ms, round_up=op in ("gt", "lte"))
    assert got == want, (expr, now_ms, op)


# ---------------------------------------------------------------------------
# RFC 5952 rendering — randomized, zero-heavy groups
# ---------------------------------------------------------------------------


def _rfc5952(groups):
    import ipaddress

    val = 0
    for g in groups:
        val = (val << 16) | g
    return str(ipaddress.IPv6Address(val))


@pytest.mark.parametrize("seed", [7, 23])
def test_ipv6_canonical_random_groups(spark, seed):
    from pyspark.sql import functions as F

    from elasticsearch_drift_plugin_spark.operators.relational import (
        ipv6_canonical,
    )

    rng = random.Random(seed)
    cases = [
        [rng.choice([0, 0, 0, rng.randrange(65536)]) for _ in range(8)]
        for _ in range(120)
    ]
    df = spark.createDataFrame([(g,) for g in cases], "gs array<int>")
    got = [r[0] for r in df.select(ipv6_canonical(F.col("gs"))).collect()]
    assert got == [_rfc5952(g) for g in cases]


# ---------------------------------------------------------------------------
# BPE trainer == DuckDB twin on random corpora
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [3, 11])
def test_bpe_batched_equals_sequential_random_corpus(spark, seed):
    import duckdb
    import pandas as pd

    from elasticsearch_drift_plugin_spark.operators.corpus import (
        bpe_train,
        bpe_train_sql,
    )

    rng = random.Random(seed)
    alphabet = "abcdef"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 6)))
        for _ in range(40)
    ]
    rows = [(" ".join(rng.choices(words, k=12)),) for _ in range(25)]
    docs = spark.createDataFrame(rows, "text string")
    drv = [tuple(r) for r in bpe_train(docs, n_merges=12).collect()]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["text"]))
    twin = con.sql(bpe_train_sql(n_merges=12)).fetchall()
    assert drv == twin and len(drv) >= 5


# ---------------------------------------------------------------------------
# 4. query_string parser (r11 second pass): random grammar trees rendered to
#    Lucene text; the Spark predicate (compile_query) and the DuckDB twin
#    (compile_query_sql) must select identical hit sets on a shared fixture.
#    The tree is generated STRUCTURALLY (we know the intended grammar), so a
#    lexer/parser bug that misreads precedence, modifiers, or ranges shows
#    up as a cross-engine mismatch or a loud raise on valid input.
# ---------------------------------------------------------------------------

_QS_VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
_QS_ROWS = [
    (i,
     " ".join(_QS_VOCAB[(i + j) % 6] for j in range(3)),
     f"src{i % 4}",
     (i * 37) % 100)
    for i in range(12)
]


def _qs_leaf(rng: random.Random) -> str:
    kind = rng.randrange(6)
    if kind == 0:
        return rng.choice(_QS_VOCAB)                       # bare term
    if kind == 1:
        return f"text:{rng.choice(_QS_VOCAB)}"             # field term
    if kind == 2:
        a = rng.choice(_QS_VOCAB)
        b = rng.choice(_QS_VOCAB)
        return f'text:"{a} {b}"'                           # phrase
    if kind == 3:
        lo, hi = sorted((rng.randrange(100), rng.randrange(100)))
        lb = "[" if rng.random() < 0.5 else "{"
        rb = "]" if rng.random() < 0.5 else "}"
        return f"n:{lb}{lo} TO {hi}{rb}"                   # range
    if kind == 4:
        return f"src:src{rng.randrange(4)}*"[:-1] + ("*" if rng.random() < 0.5 else "?")
    op = rng.choice([">", ">=", "<", "<="])
    return f"n:{op}{rng.randrange(100)}"                   # comparison


def _qs_node(rng: random.Random, depth: int) -> str:
    if depth <= 0 or rng.random() < 0.4:
        leaf = _qs_leaf(rng)
        if rng.random() < 0.15:
            return f"NOT {leaf}"
        return leaf
    n = rng.randrange(2, 4)
    parts = [_qs_node(rng, depth - 1) for _ in range(n)]
    out = [parts[0]]
    for p in parts[1:]:
        j = rng.choice(["", "AND ", "OR "])
        out.append(f"{j}{p}")
    body = " ".join(out)
    if rng.random() < 0.3:
        mod = rng.choice(["+", "-", ""])
        return f"{mod}({body})"
    return f"({body})"


def test_query_string_cross_engine_property(spark):
    import duckdb

    from elasticsearch_drift_plugin_spark.functions.es_dsl import (
        compile_query,
        compile_query_sql,
    )

    df = spark.createDataFrame(
        _QS_ROWS, "doc_id long, text string, src string, n long"
    ).cache()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR, src VARCHAR, n BIGINT)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", _QS_ROWS)
    rng = random.Random(0xE5D11)
    checked = 0
    for _ in range(40):
        qtext = _qs_node(rng, 2)
        body = {"query_string": {
            "query": qtext, "default_field": "text",
            "default_operator": rng.choice(["or", "and"]),
        }}
        spark_ids = sorted(
            r["doc_id"] for r in df.where(compile_query(body)).collect()
        )
        sql_ids = sorted(
            r[0] for r in con.execute(
                f"SELECT doc_id FROM t WHERE {compile_query_sql(body)}"
            ).fetchall()
        )
        assert spark_ids == sql_ids, qtext
        checked += 1
    assert checked == 40


# ---------------------------------------------------------------------------
# 5. Compound-kind desugar vs an INDEPENDENT Python model (r11 third pass):
#    the cross-engine twin sweeps share desugar_compound, so a desugaring
#    bug passes both engines. This model evaluates the ES semantics
#    directly on rows — token sets, term-centric cross_fields, BooleanQuery
#    optional-beside-required — with none of the production code.
# ---------------------------------------------------------------------------

_CP_VOCAB = ["ant", "bee", "cat", "dog", "elk", "fox"]
_CP_ROWS = [
    (i,
     " ".join(_CP_VOCAB[(i * 2 + j) % 6] for j in range(1 + i % 4)),
     " ".join(_CP_VOCAB[(i + j) % 6] for j in range(1 + (i * 3) % 3)))
    for i in range(14)
]


def _toks(s):
    return s.split(" ") if s else []


def _cp_model_match(text, query, op="or"):
    qt = [t for t in query.split() if t]
    hits = [t in _toks(text) for t in qt]
    return all(hits) if op == "and" else any(hits)


def _cp_model_eval(q, row):
    _, text, src = row
    fields = {"text": text, "src": src}
    (kind, body), = q.items()
    if kind == "multi_match":
        query, ftypes = body["query"], body.get("type", "best_fields")
        op = body.get("operator", "or")
        msm = body.get("minimum_should_match")
        names = [f.split("^")[0] for f in body["fields"]]
        terms = query.split()
        if ftypes in ("best_fields", "most_fields"):
            if msm is not None:
                need = msm if msm >= 0 else max(0, len(terms) + msm)
                return any(
                    sum(t in _toks(fields[f]) for t in terms) >= need
                    for f in names
                )
            return any(_cp_model_match(fields[f], query, op) for f in names)
        if ftypes == "cross_fields":
            per_term = [
                any(t in _toks(fields[f]) for f in names) for t in terms
            ]
            return all(per_term) if op == "and" else any(per_term)
        raise AssertionError(ftypes)
    if kind == "dis_max":
        return any(_cp_model_eval(c, row) for c in body["queries"])
    if kind == "boosting":
        return _cp_model_eval(body["positive"], row)
    if kind == "pinned":
        return row[0] in body["ids"] or _cp_model_eval(body["organic"], row)
    if kind == "match_bool_prefix":
        (f, spec), = body.items()
        query = spec["query"] if isinstance(spec, dict) else spec
        op = spec.get("operator", "or") if isinstance(spec, dict) else "or"
        toks = query.split()
        ftoks = _toks(fields[f])
        checks = [t in ftoks for t in toks[:-1]] + [
            any(ft.startswith(toks[-1]) for ft in ftoks)
        ]
        return all(checks) if op == "and" else any(checks)
    if kind == "match":
        (f, v), = body.items()
        return _cp_model_match(fields[f], v)
    raise AssertionError(kind)


def _random_compound(rng: random.Random) -> dict:
    k = rng.randrange(5)
    q2 = " ".join(rng.choice(_CP_VOCAB) for _ in range(rng.randrange(1, 4)))
    flds = rng.choice([["text"], ["src"], ["text", "src"], ["text^2", "src"]])
    if k == 0:
        mm = {"query": q2, "fields": flds,
              "type": rng.choice(["best_fields", "most_fields", "cross_fields"]),
              "operator": rng.choice(["or", "and"])}
        if mm["type"] != "cross_fields" and rng.random() < 0.4:
            mm["minimum_should_match"] = rng.choice([1, 2, -1])
            mm.pop("operator")
        return {"multi_match": mm}
    if k == 1:
        return {"dis_max": {"queries": [
            {"match": {"text": rng.choice(_CP_VOCAB)}},
            {"match": {"src": rng.choice(_CP_VOCAB)}},
        ]}}
    if k == 2:
        return {"boosting": {
            "positive": {"match": {"text": q2}},
            "negative": {"match": {"src": rng.choice(_CP_VOCAB)}},
            "negative_boost": 0.3,
        }}
    if k == 3:
        return {"pinned": {"ids": [rng.randrange(14) for _ in range(2)],
                           "organic": {"match": {"text": q2}},
                           "field": "doc_id"}}
    return {"match_bool_prefix": {
        rng.choice(["text", "src"]):
        {"query": q2, "operator": rng.choice(["or", "and"])}
    }}


def test_compound_desugar_vs_python_model(spark):
    from elasticsearch_drift_plugin_spark.functions.es_dsl import compile_query

    df = spark.createDataFrame(
        _CP_ROWS, "doc_id long, text string, src string"
    ).cache()
    rng = random.Random(0xC0417)
    for _ in range(40):
        q = _random_compound(rng)
        want = sorted(r[0] for r in _CP_ROWS if _cp_model_eval(q, r))
        got = sorted(
            r["doc_id"] for r in df.where(compile_query(q)).collect()
        )
        assert got == want, q
