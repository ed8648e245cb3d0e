"""Round-5 operator tests: ES nested/reverse_nested over a hand-built
struct-array fixture (the actual nested mapping shape), and the parquet
footer-bounds path for auto_date_histogram."""

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from elasticsearch_drift_plugin_spark.operators.relational import (
    nested_agg,
    nested_parent_docs,
    reverse_nested_agg,
)


def _fixture(spark):
    # 3 parents; parent 3 has no urgent priority; nested terms overlap
    rows = [
        (1, "1-URGENT", [("A", 2.0, 10.0), ("B", 3.0, 20.0), ("A", 1.0, 5.0)]),
        (2, "1-URGENT", [("A", 4.0, 7.0)]),
        (3, "5-LOW", [("B", 9.0, 9.0)]),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderpriority string, items array<struct<"
        "l_returnflag string, l_quantity double, l_extendedprice double>>",
    )
    return df


def test_nested_agg_counts_nested_docs(spark):
    """ES contract: the nested agg's doc_count is the count of NESTED docs
    under matching parents, not parents."""
    got = {r.key: (r.n_items, r.qty1000) for r in nested_agg(_fixture(spark)).collect()}
    # parent 3 excluded by the parent-level filter
    assert got == {"A": (3, 7000), "B": (1, 3000)}


def test_reverse_nested_counts_parent_docs(spark):
    """ES contract: reverse_nested jumps back to the PARENT context —
    term 'A' appears in 3 nested docs but only 2 parents."""
    got = {
        r.key: (r.n_items, r.n_parents)
        for r in reverse_nested_agg(_fixture(spark)).collect()
    }
    assert got == {"A": (3, 2), "B": (1, 1)}


def test_nested_parent_docs_builds_mapping_shape(spark):
    orders = spark.createDataFrame(
        [(1, "1-URGENT"), (2, "5-LOW")],
        "o_orderkey long, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [(1, "A", 2.0, 10.0), (1, "B", 3.0, 20.0), (2, "A", 4.0, 7.0)],
        "l_orderkey long, l_returnflag string, l_quantity double,"
        " l_extendedprice double",
    )
    built = nested_parent_docs(orders, lineitem)
    assert [f.name for f in built.schema] == ["o_orderkey", "o_orderpriority", "items"]
    by = {r.o_orderkey: sorted(it.l_returnflag for it in r["items"])
          for r in built.collect()}
    assert by == {1: ["A", "B"], 2: ["A"]}


def test_auto_histogram_bounds_hint_same_result(spark):
    """auto_date_histogram(bounds=...) must equal the scan-derived plan."""
    from elasticsearch_drift_plugin_spark.operators.es_aggs import (
        auto_date_histogram,
    )

    df = spark.range(0, 500).select(
        (F.lit(1_700_000_000_000) + F.col("id") * 60_000).alias("t_ms"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    scan = auto_date_histogram(df, "t_ms", target_buckets=12, value_col="value")
    hint = auto_date_histogram(
        df, "t_ms", target_buckets=12, value_col="value",
        bounds=(1_700_000_000_000, 1_700_000_000_000 + 499 * 60_000),
    )
    assert scan.collect() == hint.collect()


def test_time_series_rate_counter_resets(spark):
    """TSDB counter-rate contract: a sample LOWER than its predecessor is a
    reset — the increase is the new value, never a negative delta."""
    from elasticsearch_drift_plugin_spark.operators.es_aggs import (
        time_series_counter_rate,
    )

    # one series; vq cumsum with reset_mod=10 -> counters 4,9,(14%10=4: reset),...
    rows = [
        (1, "2024-01-01 00:00:01", "s", 0.004),
        (2, "2024-01-01 00:00:02", "s", 0.005),
        (3, "2024-01-01 00:00:03", "s", 0.005),  # cum 14 -> counter 4 (reset)
        (4, "2024-01-02 00:00:01", "s", 0.003),  # cum 17 -> counter 7
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
             "event_type", "value")
    got = {r.bucket: (r.n_samples, r.increase) for r in
           time_series_counter_rate(ev, reset_mod=10).collect()}
    day1 = 1_704_067_200_000
    # day 1: first sample inc 0, second inc 5, third RESET -> inc = counter 4
    assert got[day1] == (3, 9)
    # day 2: 7 - 4 = 3 (no reset)
    assert got[day1 + 86_400_000] == (1, 3)


def test_counter_rate_stream_state_across_batches(spark, tmp_path):
    """The streaming counter-rate carries (cum_vq, last_counter) state
    across micro-batches: the first sample of batch 2 gets a real delta
    against batch 1's tail, not a fresh-series zero."""
    from elasticsearch_drift_plugin_spark.streaming.counter_rate import (
        counter_rate_stream,
    )

    schema = "event_id long, event_type string, t_ms long, value double"
    src = f"{tmp_path}/ctr"
    day = 1_704_067_200_000
    spark.createDataFrame(
        [(1, "s", day + 1000, 0.004), (2, "s", day + 2000, 0.005)], schema
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = counter_rate_stream(stream, dims=("event_type",), reset_mod=10)
    q = (
        out.writeStream.outputMode("update")
        .format("memory").queryName("ctr_out").start()
    )
    try:
        q.processAllAvailable()
        # batch 2: cum 9 + 5 = 14 -> counter 4 < last 9 => RESET, inc = 4
        spark.createDataFrame(
            [(3, "s", day + 3000, 0.005)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM ctr_out").collect()
    # partials: batch1 -> (2 samples, inc 0+5); batch2 -> (1 sample, inc 4)
    folded = {}
    for r in rows:
        n, inc = folded.get(r.bucket, (0, 0))
        folded[r.bucket] = (n + r.n_samples, inc + r.increase)
    assert folded == {day: (3, 9)}


def test_bpe_train_classic_golden(spark):
    """Sennrich et al.'s worked example: vocab low(5) lower(2) newest(6)
    widest(3) learns es, est, est</w>, lo, low as its first merges."""
    from elasticsearch_drift_plugin_spark.operators.corpus import (
        bpe_encode,
        bpe_train,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = bpe_train(docs, n_merges=5)
    got = [(r.left, r.right, r.pair_count) for r in merges.orderBy("rank").collect()]
    assert got == [
        ("e", "s", 9),
        ("es", "t", 9),
        ("est", "</w>", 9),
        ("l", "o", 7),
        ("lo", "w", 7),
    ]

    # encode an UNSEEN word with the learned table: lowest -> low + est</w>... 
    # ('low' merge needs rank 5 ('low','e')? no: l+o->lo, lo+w->low, est</w>)
    enc = bpe_encode(
        spark.createDataFrame([(1, "lowest newest")], "doc_id long, text string"),
        merges,
    ).collect()[0]
    # lowest: [low, e, st?] -> merges: es, est, est</w>, lo, low => tokens
    # l o w e s t</w>: es->est->est</w>, lo->low => [low, est</w>] = 2
    # newest: n e w est</w> -> no (n,e)/(e,w) merges => [n, e, w, est</w>] = 4
    assert enc.n_words == 2 and enc.n_tokens == 6


def test_bpe_encode_monotone_in_merges(spark):
    """More merges can only shrink (or hold) the token count."""
    from elasticsearch_drift_plugin_spark.operators.corpus import (
        bpe_encode,
        bpe_train,
    )
    from elasticsearch_drift_plugin_spark.sources.flows import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    docs = docs.localCheckpoint(eager=True)
    m10 = bpe_train(docs, n_merges=10)
    m40 = bpe_train(docs, n_merges=40)
    t10 = {r.doc_id: r.n_tokens for r in bpe_encode(docs, m10).collect()}
    t40 = {r.doc_id: r.n_tokens for r in bpe_encode(docs, m40).collect()}
    assert set(t10) == set(t40) and len(t10) == 50
    assert all(t40[d] <= t10[d] for d in t10)
    assert sum(t40.values()) < sum(t10.values())


def test_counter_rate_negative_values_stream_equals_batch(spark, tmp_path):
    """Negative gauges drive the synthesized cumulative sum negative; the
    streaming kernel's truncated-mod must match Spark SQL's % (sign of the
    dividend), so stream and batch twins agree bit-for-bit."""
    from elasticsearch_drift_plugin_spark.operators.es_aggs import (
        time_series_counter_rate,
    )
    from elasticsearch_drift_plugin_spark.streaming.counter_rate import (
        counter_rate_stream,
    )

    day = 1_704_067_200_000
    rows = [
        (i, "s", day + i * 3_600_000, v)
        for i, v in enumerate([5.0, -20.0, 3.0, -1.0, 8.0])
    ]
    schema = "event_id long, event_type string, t long, value double"
    batch = spark.createDataFrame(rows, schema).select(
        "event_id", "event_type",
        F.timestamp_millis(F.col("t")).alias("ts"), "value",
    )
    expected = {
        (r.event_type, r.bucket): (r.n_samples, r.increase)
        for r in time_series_counter_rate(batch, reset_mod=10).collect()
    }

    src = f"{tmp_path}/neg_ctr"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src).withColumn(
        "t_ms", F.col("t")
    )
    out = counter_rate_stream(stream, dims=("event_type",), reset_mod=10)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("neg_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    folded = {}
    for r in spark.sql("SELECT * FROM neg_out").collect():
        k = (r.event_type, r.bucket)
        n, inc = folded.get(k, (0, 0))
        folded[k] = (n + r.n_samples, inc + r.increase)
    assert folded == expected


def _duck(sql: str, docs: pd.DataFrame):
    con = duckdb.connect()
    con.register("documents", docs)
    return con.sql(sql).fetchall()


def test_bpe_train_distributed_matches_driver(spark):
    """The BPE trainer produces the BIT-IDENTICAL merge sequence to its
    DuckDB twin — on the classic Sennrich golden and on a random
    multi-partition corpus — inside a wall-clock bound."""
    import random
    import time

    from elasticsearch_drift_plugin_spark.operators.corpus import (
        bpe_train,
        bpe_train_sql,
    )

    golden = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    rows = [(0, " ".join(golden))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = _duck(bpe_train_sql(n_merges=12), pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = [tuple(r) for r in bpe_train(docs, n_merges=12).collect()]
    assert got == want and len(want) == 12

    rng = random.Random(11)
    words = [
        "".join(rng.choices("abcd", k=rng.randint(3, 8))) for _ in range(4000)
    ]
    rows2 = [(i, " ".join(words[i * 500:(i + 1) * 500])) for i in range(8)]
    docs2 = spark.createDataFrame(
        rows2, "doc_id long, text string"
    ).repartition(8).localCheckpoint(eager=True)
    t0 = time.time()
    got2 = [tuple(r) for r in bpe_train(docs2, n_merges=60).collect()]
    dt = time.time() - t0
    want2 = _duck(bpe_train_sql(n_merges=60), pd.DataFrame(rows2, columns=["doc_id", "text"]))
    assert got2 == want2 and len(want2) == 60
    assert dt < 120.0, f"60 merges took {dt:.1f}s"


def test_bpe_train_1k_merges_wall_clock(spark):
    """r6: the incremental pair-index trainer sustains 1000 REAL merges
    (small alphabet -> pairs stay frequent for thousands of rounds) inside
    a tight wall-clock bound — the full-rescan shape this replaced was
    O(n_merges x vocab) and would blow through it."""
    import random
    import time

    from elasticsearch_drift_plugin_spark.operators.corpus import bpe_train

    rng = random.Random(6)
    words = [
        "".join(rng.choices("abcdef", k=rng.randint(4, 10)))
        for _ in range(15_000)
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i * 500:(i + 1) * 500])) for i in range(30)],
        "doc_id long, text string",
    ).localCheckpoint(eager=True)
    t0 = time.time()
    merges = bpe_train(docs, n_merges=1000).collect()
    dt = time.time() - t0
    assert len(merges) == 1000
    assert dt < 60.0, f"1k merges took {dt:.1f}s"
    # counts are the TRUE corpus pair counts at selection time: monotone
    # sanity on the first rule (most frequent bigram of a 6-letter alphabet
    # corpus must occur far more than twice)
    assert merges[0].pair_count > 1000


def test_chunk_documents_windows(spark):
    """r6: sliding token windows — stride = chunk - overlap, final short
    window kept, fingerprints identify chunk content."""
    from elasticsearch_drift_plugin_spark.operators.corpus import (
        chunk_documents,
    )

    # 10 tokens, chunk 4, overlap 2 -> stride 2 -> starts 0,2,4,6,8
    text = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame([(1, text), (2, "a b"), (3, "")],
                                 "doc_id long, text string")
    rows = chunk_documents(docs, chunk_tokens=4, overlap=2).collect()
    got = [(r.doc_id, r.chunk_no, r.start_tok, r.n_tokens) for r in rows]
    assert got == [
        (1, 0, 0, 4), (1, 1, 2, 4), (1, 2, 4, 4), (1, 3, 6, 4), (1, 4, 8, 2),
        (2, 0, 0, 2),  # short doc: one short window; empty doc 3 skipped
    ]
    # overlap invariant: consecutive windows share `overlap` tokens, so the
    # trailing tokens of chunk k equal the leading tokens of chunk k+1 —
    # verified through the fingerprint of an aligned reconstruction
    import hashlib

    toks = text.split(" ")
    fp0 = hashlib.md5(" ".join(toks[0:4]).encode()).hexdigest()
    assert rows[0].chunk_fp == fp0
    with __import__("pytest").raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)
