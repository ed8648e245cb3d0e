"""Round-15 (optimization round 2) regressions: the BPE trainer against
its DuckDB twin, the bench memo-clearing hook, and the psum
projection-boundary gating.
"""

from __future__ import annotations

import importlib

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from elasticsearch_drift_plugin_spark import clear_result_memos
from elasticsearch_drift_plugin_spark.operators.corpus import (
    bpe_train,
    bpe_train_sql,
)

_psum_mod = importlib.import_module(
    "elasticsearch_drift_plugin_spark.operators.proportional_sum"
)


# --- BPE driver kernel vs its DuckDB twin ------------------------------

def _duck(sql: str, docs: pd.DataFrame):
    con = duckdb.connect()
    con.register("documents", docs)
    return con.sql(sql).fetchall()


def test_bpe_driver_route_matches_distributed(spark):
    """The driver kernel's merge table equals the unrolled full-recount
    replay of ``bpe_train_sql`` on the Sennrich worked example."""
    rows = [
        ("low " * 5).strip(),
        ("lower " * 2).strip(),
        ("newest " * 6).strip(),
        ("widest " * 3).strip(),
    ]
    docs = spark.createDataFrame([(r,) for r in rows], "text string")
    driver = [tuple(r) for r in bpe_train(docs, n_merges=10).collect()]
    twin = _duck(bpe_train_sql(n_merges=10), pd.DataFrame({"text": rows}))
    assert driver == twin
    assert [(m[1], m[2]) for m in driver[:3]] == [
        ("e", "s"), ("es", "t"), ("est", "</w>")
    ]


# --- bench memo clearing (VERDICT r14 item 2) --------------------------

def test_clear_result_memos_empties_every_memo(spark, tmp_path):
    from elasticsearch_drift_plugin_spark import memo
    from elasticsearch_drift_plugin_spark.sources.flows import load_table

    similarity = importlib.import_module(
        "elasticsearch_drift_plugin_spark.operators.similarity"
    )
    # populate two result kinds through their public paths, and one scan
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    similarity._seed_centroids(emb, 4)
    df = spark.createDataFrame(
        [(0, 1000, 1.0)], "start_ms long, end_ms long, value double"
    )
    _psum_mod._estimated_fanout(df, "start_ms", "end_ms", 100)
    spark.range(3).write.parquet(f"{tmp_path}/region.parquet")
    load_table(spark, str(tmp_path), "region")
    assert memo._STORE["ivf_seeds"] and memo._STORE["psum_width"]
    clear_result_memos()
    for kind in memo.RESULT_KINDS:
        assert not memo._STORE.get(kind)
    # loader scans are not job results and survive the clear
    assert memo._STORE["scan"]


# --- psum projection boundary gating (VERDICT r14 item 1) --------------

def test_psum_boundary_only_on_tz_paths(spark):
    """The pinned __ps_cs/__ps_ce projection exists exactly on the
    zone-shifted grids; plain UTC grids keep the r13 inline shape."""
    df = spark.createDataFrame(
        [(0, 250, 10.0)], "start_ms long, end_ms long, value double"
    )
    from elasticsearch_drift_plugin_spark import proportional_sum

    utc = proportional_sum(df, "start_ms", "end_ms", "value", interval=100)
    tz = proportional_sum(
        df, "start_ms", "end_ms", "value", interval=100,
        time_zone="America/New_York",
    )
    utc_plan = utc._jdf.queryExecution().executedPlan().toString()
    tz_plan = tz._jdf.queryExecution().executedPlan().toString()
    assert "__ps_cs" not in utc_plan
    assert "__ps_cs" in tz_plan
    # identical totals either way (values cannot depend on the boundary)
    assert [
        (r["key"], r["doc_count"], r["value"]) for r in utc.collect()
    ] == [(0, 1, 4.0), (100, 1, 4.0), (200, 1, 2.0)]


# --- psum probe twin (ADVICE r15) ---------------------------------------

def test_lineitem_probe_twin_gives_the_widened_width(spark, tmp_path):
    """The un-widened probe twin holds the widened frame's rows: sampled
    over the whole table, the average width is the same on both."""
    from datetime import datetime, timedelta

    from elasticsearch_drift_plugin_spark.sources.flows import lineitem_flows

    rows = [
        (k // 4, k % 4 + 1, datetime(2024, 1, 1) + timedelta(days=k % 90),
         k * 7 % 200, float(k), k % 10, "AR"[k % 2], 1.0)
        for k in range(600)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_shipdate timestamp_ntz,"
        " l_partkey long, l_extendedprice double, l_suppkey long,"
        " l_returnflag string, l_quantity double",
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")
    # one small file is a narrow scan, so the derivation widens it
    df = lineitem_flows(spark, str(tmp_path))
    twin = df._spark_graft_probe_twin
    n = df.count()
    assert twin.count() == n
    widened = df.select("*")  # a new frame: no twin attribute, probes itself
    assert not hasattr(widened, "_spark_graft_probe_twin")
    args = ("start_ms", "end_ms", 86_400_000)
    assert _psum_mod._estimated_fanout(
        widened, *args, sample_rows=n
    ) == _psum_mod._estimated_fanout(twin, *args, sample_rows=n)


# --- phrase_suggest empty candidate slot (ADVICE r15) --------------------

def test_phrase_suggest_slot_without_candidates_is_empty(spark):
    from elasticsearch_drift_plugin_spark.operators.search import phrase_suggest

    docs = spark.createDataFrame(
        [(1, "fast data scan"), (2, "fast data")], "doc_id long, text string"
    )
    out = phrase_suggest(docs, probe=("qqqqqqqqqqqq", "data"), max_edits=1)
    assert out.columns == ["rank", "phrase", "score_q"]
    assert out.collect() == []
