"""The package's one memo store and one scoped session-conf change
(``elasticsearch_drift_plugin_spark.memo``): data-keyed invalidation, the
keying rules, the LRU bound, conf scoping under concurrency, and a source
scan that keeps every cache and conf change on those two paths."""

from __future__ import annotations

import ast
import shutil
import threading
import time
from pathlib import Path

from pyspark.sql import functions as F

import elasticsearch_drift_plugin_spark as pkg
from elasticsearch_drift_plugin_spark import memo
from elasticsearch_drift_plugin_spark.operators import similarity
from elasticsearch_drift_plugin_spark.sources.flows import load_table

EMB_SCHEMA = "vec_id long, embedding array<float>"


def _write_embeddings(spark, path, rows):
    spark.createDataFrame(rows, EMB_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _vecs(rows):
    return [[float(x) for x in r["__v"]] for r in rows]


def test_rewritten_input_is_read_again(spark, tmp_path):
    """After the parquet at the same path is rewritten, memoized collects
    and the loader's scan reflect the new data."""
    d = str(tmp_path)
    path = f"{d}/embeddings.parquet"
    _write_embeddings(spark, path, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    emb = load_table(spark, d, "embeddings")
    assert _vecs(similarity._collect_query_vecs(emb, "vec_id", 10)) == [
        [1.0, 0.0], [0.0, 1.0]
    ]
    assert [c[1] for c in similarity._seed_centroids(emb, 2)] == [
        [1.0, 0.0], [0.0, 1.0]
    ]

    _write_embeddings(spark, path, [(0, [0.0, 5.0]), (1, [7.0, 7.0])])
    new = [[0.0, 5.0], [7.0, 7.0]]
    reloaded = load_table(spark, d, "embeddings")
    assert sorted(
        (r.vec_id, [float(x) for x in r.embedding]) for r in reloaded.collect()
    ) == [(0, new[0]), (1, new[1])]
    fresh = spark.read.parquet(path)
    assert _vecs(similarity._collect_query_vecs(fresh, "vec_id", 10)) == new
    assert [c[1] for c in similarity._seed_centroids(fresh, 2)] == new


def test_frame_key_rules(spark, tmp_path):
    path = f"{tmp_path}/t.parquet"
    spark.range(5).write.parquet(path)
    # file leaves: a fresh read of the same files keys identically
    key = memo.frame_key(spark.read.parquet(path), "p")
    assert key is not None and key[-1] == "p"
    assert memo.frame_key(spark.read.parquet(path), "p") == key
    # no file leaves: literal rows and range key on the plan alone
    assert memo.frame_key(spark.range(5)) is not None
    lit = spark.createDataFrame([(1, "a")], "a long, b string")
    assert memo.frame_key(lit) == memo.frame_key(lit)
    # nondeterministic plans are never keyed
    assert memo.frame_key(spark.range(5).withColumn("r", F.rand())) is None
    # a scan whose files are gone is not keyed
    gone = f"{tmp_path}/gone.parquet"
    spark.range(3).write.parquet(gone)
    stale = spark.read.parquet(gone)
    shutil.rmtree(gone)
    assert memo.frame_key(stale) is None
    assert memo.path_key(spark, gone) is None


def test_store_is_a_bounded_lru_per_kind(spark):
    calls = []

    def compute(i):
        calls.append(i)
        return i

    try:
        for i in range(memo.CAP + 1):
            assert memo.get_or_compute("test_kind", (i,), spark, lambda: compute(i)) == i
        assert len(memo._STORE["test_kind"]) == memo.CAP
        # key 0 was the least recent and is gone; key CAP is a hit
        memo.get_or_compute("test_kind", (memo.CAP,), spark, lambda: compute(-1))
        memo.get_or_compute("test_kind", (0,), spark, lambda: compute(0))
        assert calls == list(range(memo.CAP + 1)) + [0]
        # an unkeyable input computes every time and stores nothing
        memo.get_or_compute("test_kind", None, spark, lambda: compute(-2))
        memo.get_or_compute("test_kind", None, spark, lambda: compute(-2))
        assert calls[-2:] == [-2, -2]
    finally:
        memo.clear("test_kind")


def test_scoped_conf_concurrent_blocks_restore(spark):
    """Two threads inside ``scoped_conf`` at once: each sees its own
    values for its whole block, and the session ends at its original
    values."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    seen = []
    start = threading.Barrier(2)

    def worker(n):
        start.wait()
        with memo.scoped_conf(spark, {keys[0]: str(n), keys[1]: "false"}):
            time.sleep(0.2)
            seen.append(
                (spark.conf.get(keys[0]), spark.conf.get(keys[1])) == (str(n), "false")
            )

    threads = [threading.Thread(target=worker, args=(n,)) for n in (3, 5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert seen == [True, True]
    assert {k: spark.conf.get(k) for k in keys} == before


# module-level mutable mappings that are not caches would also trip the
# scan below; there are none today
_MAPPING_CTORS = {"dict", "OrderedDict", "defaultdict", "WeakValueDictionary",
                  "WeakKeyDictionary"}
_CACHE_DECORATORS = {"lru_cache", "cache", "cached_property"}
# the loader's permanent session pins are not scoped changes
_CONF_SET_ALLOWED = {("memo.py", "scoped_conf"), ("sources/flows.py", "load_table")}


def _name(node):
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    return node.id if isinstance(node, ast.Name) else None


def _is_empty_mapping(value) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    return isinstance(value, ast.Call) and _name(value) in _MAPPING_CTORS and (
        _name(value) != "dict" or not (value.args or value.keywords)
    )


def _is_conf_set(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and _name(node.func.value) == "conf"
    )


def test_one_memo_store_and_one_conf_scope():
    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        if rel != "memo.py":
            for node in tree.body:
                if isinstance(node, (ast.Assign, ast.AnnAssign)) and _is_empty_mapping(
                    node.value
                ):
                    offenders.append(f"{rel}:{node.lineno} module-level memo dict")
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if any(_name(d) in _CACHE_DECORATORS for d in fn.decorator_list):
                offenders.append(f"{rel}:{fn.lineno} cache decorator on {fn.name}")
            if (rel, fn.name) in _CONF_SET_ALLOWED:
                continue
            for node in ast.walk(fn):
                if _is_conf_set(node):
                    offenders.append(f"{rel}:{node.lineno} conf change in {fn.name}")
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                for sub in ast.walk(node):
                    if _is_conf_set(sub):
                        offenders.append(f"{rel}:{sub.lineno} module-level conf change")
    assert not offenders, offenders


def test_one_way_to_build_a_literal_frame():
    """Every ``createDataFrame(`` call in the package sits inside
    ``functions/sql_literal.py:literal_frame``."""
    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        allowed = set()
        if rel == "functions/sql_literal.py":
            (fn,) = [n for n in tree.body
                     if isinstance(n, ast.FunctionDef) and n.name == "literal_frame"]
            allowed = {id(n) for n in ast.walk(fn)}
        offenders += [
            f"{rel}:{n.lineno}" for n in ast.walk(tree)
            if isinstance(n, ast.Call) and _name(n) == "createDataFrame"
            and id(n) not in allowed
        ]
    assert not offenders, offenders
