"""Session defaults that shape the engine's speed rather than its results."""

import os

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_curation_pass_reuses_generated_classes(spark, tmp_path, monkeypatch):
    """One curation pass (the seven stage calls of the ``curation``
    benchmark) cycles through ~160 Janino-generated classes. With Spark's
    default 100-entry codegen cache the LRU evicts each before its next
    use and a second shard of the same shape compiles ~150 classes again;
    with ``session.CODEGEN_CACHE_ENTRIES`` it reuses them."""
    # perfbench modules import their siblings by name
    monkeypatch.syspath_prepend(PERFBENCH)
    import curation
    import harness

    manifest = curation.generate(5, "tiny", str(tmp_path))
    runner = curation.Runner(spark, str(tmp_path), manifest, harness.Tracer(spark, False))
    ops = manifest["families"][0]["ops"]
    n = len(curation.STAGES)
    assert len(ops) == 2 * n
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for spec in ops[:n]:
        runner.run(spec)
    before = compiles.getCount()
    for spec in ops[n:]:
        runner.run(spec)
    compiled = compiles.getCount() - before
    assert compiled <= 10, f"second shard compiled {compiled} classes"
