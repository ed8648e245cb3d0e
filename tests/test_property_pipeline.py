"""Property tests: pipeline ML aggs vs independent pure-Python models on
randomized bucket series."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from elasticsearch_drift_plugin_spark.operators.pipeline import (
    change_point,
    ks_test,
    moving_fn,
)

series = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=1, max_size=25
)


def _ref_change_point(vals):
    """argmax_t of the QUANTIZED gain_mq (replicating the operator's exact
    IEEE order: d²/den, /1e4, /1e4, *1000, floor), earliest split on ties
    (key asc tie-break == earliest change_key). Mirroring the quantization
    matters: two splits with different raw gains can collide in gain_mq,
    and then the tie-break decides."""
    import math

    n = len(vals)
    if n < 2:
        return None
    s = sum(vals)
    best = None
    s1 = 0
    for i in range(1, n):
        s1 += vals[i - 1]
        n1, n2 = i, n - i
        d = s1 * n2 - (s - s1) * n1
        gain = (float(d) * float(d)) / float(n1 * n2 * n)
        gain_mq = math.floor(gain / 10_000.0 / 10_000.0 * 1000.0)
        if best is None or gain_mq > best[1]:
            best = (i, gain_mq)
    return best[0]


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=series)
def test_change_point_matches_argmax_model(spark, vals):
    rows = [("g", k, float(v)) for k, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, key long, value double")
    got = change_point(df, group_by=("g",)).collect()[0]
    if len(vals) == 1:
        assert got["change_key"] is None
        return
    # integer vq == v*10^4 exactly, so gains order identically to the model
    want_split = _ref_change_point([v * 10_000 for v in vals])
    assert got["n_before"] == want_split
    assert got["change_key"] == want_split  # keys are 0..n-1: key == index
    assert got["mean_before_q"] == (
        sum(v * 10_000 for v in vals[:want_split]) // want_split
    )


def _ref_moving(vals, window, shift):
    out = []
    for i in range(len(vals)):
        lo, hi = i - window + shift, i + shift  # [lo, hi)
        seg = vals[max(lo, 0): max(hi, 0)]
        out.append(
            (len(seg), max(seg) if seg else None, min(seg) if seg else None,
             sum(seg) if seg else None)
        )
    return out


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=series, window=st.integers(min_value=1, max_value=6),
       shift=st.integers(min_value=0, max_value=1))
def test_moving_fn_matches_rolling_model(spark, vals, window, shift):
    rows = [(k, float(v)) for k, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key long, value double")
    got = sorted(moving_fn(df, window=window, shift=shift).collect(),
                 key=lambda r: r["key"])
    q = 10_000
    for r, (n, mx, mn, sm) in zip(got, _ref_moving([v * q for v in vals],
                                                   window, shift)):
        assert r["mfn_n"] == n
        assert r["mfn_max_q"] == mx and r["mfn_min_q"] == mn
        assert r["mfn_sum_q"] == sm
        if n:
            assert r["mfn_avg_q"] == sm // n  # floor semantics


def _ref_ks(a, b):
    import itertools
    na, nb = len(a), len(b)
    pts = sorted(set(a) | set(b))
    best = 0
    for v in pts:
        ca = sum(1 for x in a if x <= v)
        cb = sum(1 for x in b if x <= v)
        best = max(best, abs(ca * nb - cb * na))
    return int(best / (na * nb) * 1_000_000 // 1)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(a=series, b=series)
def test_ks_test_matches_ecdf_model(spark, a, b):
    rows = [("a", k, float(v)) for k, v in enumerate(a)]
    rows += [("b", k, float(v)) for k, v in enumerate(b)]
    df = spark.createDataFrame(rows, "g string, key long, value double")
    r = ks_test(df, "g", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    assert r["d_q"] == _ref_ks([v * 10_000 for v in a], [v * 10_000 for v in b])


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(st.integers(min_value=0, max_value=10**7),
                     min_size=1, max_size=40))
def test_holt_fold_matches_python_model(spark, vals):
    """The JVM aggregate-HOF fold must reproduce the reference recurrence
    bit-for-bit (all ops dyadic at alpha=beta=1/2)."""
    import math

    from pyspark.sql import Row

    from elasticsearch_drift_plugin_spark.operators.pipeline import holt_forecast

    rows = [Row(g="x", key=i, value=float(v)) for i, v in enumerate(vals)]
    out = holt_forecast(spark.createDataFrame(rows), group_by=("g",),
                        quantize=0).collect()[0]
    s, b = float(vals[0]), 0.0
    for x in vals[1:]:
        s2 = 0.5 * float(x) + 0.5 * (s + b)
        b = 0.5 * (s2 - s) + 0.5 * b
        s = s2
    assert out.n_buckets == len(vals)
    assert out.level_mq == math.floor(s * 1000.0)
    assert out.trend_mq == math.floor(b * 1000.0)
    assert out.fc2_mq == math.floor((s + 2.0 * b) * 1000.0)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(st.text(alphabet="abcd", min_size=3, max_size=12),
                      min_size=2, max_size=8))
def test_containment_matches_bruteforce(spark, texts):
    """GEMM containment == brute-force set arithmetic on arbitrary tiny
    corpora (threshold 0 => every co-occurring pair emitted)."""
    from ngram_reference import ngram_pairs_ref

    from elasticsearch_drift_plugin_spark.operators.dedup import ngram_jaccard_pairs_gemm

    rows = [(i, "s", t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = [tuple(r) for r in ngram_jaccard_pairs_gemm(
        docs, threshold=0.0, score="containment").collect()]
    assert got == ngram_pairs_ref(rows, 0.0, "containment")
