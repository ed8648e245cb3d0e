"""SparkSession factory with the engine's required settings.

UTC session time zone is load-bearing: the reference rounds exclusively in
UTC (time-zone support is stubbed out everywhere in the reference —
es-8.18.2 ProportionalSumAggregationBuilder.java:432-434), and the DuckDB
correctness oracle compares naive-UTC timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _export_package_path() -> None:
    """Make this package importable on executor Python workers.

    Arrow-kernel operators (mapInPandas/applyInPandas) cloudpickle
    functions that reference this package; workers import it by name. When
    the driver script runs OUTSIDE the repo (sys.path.insert only patches
    the driver), workers would fail with ModuleNotFoundError — local-mode
    workers inherit the driver's *environment*, not its sys.path, so
    export the package parent dir via PYTHONPATH before the JVM/daemon
    starts. On a real cluster the equivalent is ``--py-files`` / a wheel on
    the executors; this keeps single-machine use zero-config."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{parent}{os.pathsep}{existing}" if existing else parent
        )


def _default_driver_memory() -> str:
    """min(24g, ~50% of MemAvailable), floor 2g. 24g fixes the measured
    32-thread GC stalls on the 128 GiB bench host (r10), but a hardcoded
    24g OOM-kills the JVM in a container/cgroup with less than that
    (ADVICE r10) — so the default scales down with the machine.
    SPARK_DRIVER_MEMORY always wins."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(2, min(24, int(avail_gib * 0.5)))}g"
    except OSError:
        pass
    return "8g"


# Janino-generated classes kept compiled per JVM
# (spark.sql.codegen.cache.maxEntries, Spark's default 100). The cache is an
# LRU, and the engine's working sets cycle: one curation pass over a shard
# (dedup, n-gram, MinHash, classifier, DSIR, BPE, kNN) uses 162-180
# distinct classes, the dashboard panel templates ~110, the export windows
# ~40. Under 100 entries every curation class is evicted
# before its next use, so each later shard pass compiled ~150 classes
# again, and the JIT compiled their new bytecode again; at 1024 it compiles
# 0-4 (4 cores, 400-doc shards), and Metaspace after three passes is lower,
# 169 -> 163 MB. 1024 holds those working sets together with headroom.
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(app_name: str = "spark-drift", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    _export_package_path()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by SIZE, not up to the cluster's
        # parallelism (the Spark tuning guide's recommended production
        # setting): at scale partitions stay ~advisory-size; on small inputs
        # it collapses near-empty shuffle tasks instead of scheduling
        # hundreds of them.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # a static conf: a session created before this call keeps 100
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # local mode: the driver IS the executor — 8g for 32 task threads
        # caused measurable GC stalls across a 200-query session (r10:
        # es_search_nested 5.3s -> 1.2s, es_search_ip_range 8.6s -> 2.1s,
        # whole bench -14% at 24g on the 128 GiB host). On a real cluster
        # executor memory is sized separately; this default only shapes
        # single-machine runs — and clamps to available memory so small
        # containers don't get OOM-killed (r11).
        .config("spark.driver.memory", _default_driver_memory())
        .getOrCreate()
    )
