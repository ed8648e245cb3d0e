"""Per-layer metrics of a traced run, aggregated from the tracer's spans and
counts. Every metric is emitted on every workload: a layer a workload does
not touch reads 0, which is the "predicted flat" column of the README
table made visible.

Each value is the median over the timed ops of that op's total for the
layer, taken over the ops that entered the layer (0 if none did).
"""

from __future__ import annotations

import json
import os
import statistics

from elasticsearch_drift_plugin_spark.plans.inspect import explain_str

# span name -> the metric that holds an op's seconds, py4j round trips or
# jobs started inside spans of that name
SPAN_SECONDS = {
    "functions.es_search.compile": "functions.es_search.compile_s",
    "operators.proportional_sum.construct": "operators.proportional_sum.construct_s",
    "operators.dedup.construct": "operators.dedup.construct_s",
    "operators.corpus.construct": "operators.corpus.construct_s",
    "operators.similarity.construct": "operators.similarity.construct_s",
    "sources.flows.derive": "sources.flows.derive_s",
    "sources.netflow.parse_construct": "sources.netflow.parse_construct_s",
    "sources.sinks.write": "sources.sinks.write_s",
    "sources.sinks.read": "sources.sinks.read_s",
    "streaming.replay": "streaming.replay_s",
    "exec.sink": "exec.sink_s",
}
SPAN_PY4J = {
    "functions.es_search.compile": "functions.es_search.py4j_calls",
    "operators.proportional_sum.construct": "operators.proportional_sum.py4j_calls",
}
SPAN_EAGER = {
    "operators.proportional_sum.construct": "operators.proportional_sum.eager_jobs",
    "operators.dedup.construct": "operators.dedup.eager_jobs",
    "operators.corpus.construct": "operators.corpus.eager_jobs",
    "operators.similarity.construct": "operators.similarity.eager_jobs",
}
EXEC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "idle_slot_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "failed_tasks",
)
PHASES = {
    "queryPlanning": "streaming.phase_query_planning_ms",
    "addBatch": "streaming.phase_add_batch_ms",
    "walCommit": "streaming.phase_wal_commit_ms",
    "commitOffsets": "streaming.phase_commit_offsets_ms",
    "latestOffset": "streaming.phase_latest_offset_ms",
}
# unit by name suffix, first match wins; anything else is a count
UNITS = {"bytes_written": "bytes", "_s": "s", "_ms": "ms", "_bytes": "bytes",
         "_share": "ratio", "_row": "ratio"}


def metric_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    return [
        *SPAN_SECONDS.values(), *SPAN_PY4J.values(), *SPAN_EAGER.values(),
        *(f"exec.{k}" for k in EXEC_KEYS),
        "exec.result_rows", "exec.shuffle_rows_per_input_row",
        "operators.proportional_sum.sweep_share",
        "sources.sinks.bytes_written",
        "streaming.batches", "streaming.startup_s", *PHASES.values(),
        "session.dispatch_floor_s", "host.steal_ticks",
        "trace.latency_p50_s", "trace.hook_s",
    ]


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _median_over(values: list) -> float:
    return float(statistics.median(values)) if values else 0.0


def per_layer(tr, ops: list[dict], cores: int, witness: dict) -> dict:
    tr.collect_exec(cores)
    per_op: dict[str, dict] = {}
    routes = []
    for rec, ex in zip(ops, tr.ops):
        oid = ex["op"]
        m: dict = {}
        totals = tr.op_span_totals(oid)
        for span, name in SPAN_SECONDS.items():
            if span in totals:
                m[name] = totals[span]["s"]
        for span, name in SPAN_PY4J.items():
            if span in totals:
                m[name] = totals[span]["py4j_calls"]
        for span, name in SPAN_EAGER.items():
            if span in totals:
                m[name] = totals[span]["eager_jobs"]
        for k in EXEC_KEYS:
            m[f"exec.{k}"] = ex["exec"][k]
        m["exec.result_rows"] = len(rec.get("rows") or [])
        if ex["exec"]["input_rows"]:
            m["exec.shuffle_rows_per_input_row"] = (
                ex["exec"]["shuffle_write_rows"] / ex["exec"]["input_rows"]
            )
        for name, v in tr.counts.get(oid, {}).items():
            m[name] = v
        psum_df = rec.get("psum_df")
        if psum_df is not None:
            routes.append("__dq" in explain_str(psum_df, "simple"))
        lo, hi = ex["progress"]
        prog = [p for p in tr.progress[lo:hi] if "ms" in p]
        if "streaming.replay_s" in m:
            m["streaming.batches"] = len(prog)
            for key, name in PHASES.items():
                m[name] = sum(p["ms"].get(key, 0) for p in prog)
            busy = sum(p["ms"].get("triggerExecution", 0) for p in prog) / 1e3
            m["streaming.startup_s"] = max(0.0, m["streaming.replay_s"] - busy)
        m["trace.hook_s"] = tr.hook_s.get(oid, 0.0)
        per_op[oid] = m

    out = {}
    for name in metric_names():
        vals = [m[name] for m in per_op.values() if name in m]
        out[name] = _median_over(vals)
    out["operators.proportional_sum.sweep_share"] = (
        sum(routes) / len(routes) if routes else 0.0
    )
    out["session.dispatch_floor_s"] = statistics.median(
        [witness["dispatch_floor_start_s"], witness["dispatch_floor_end_s"]]
    )
    out["host.steal_ticks"] = witness["steal_ticks_end"] - witness["steal_ticks_start"]
    out["trace.latency_p50_s"] = statistics.median(r["latency"] for r in ops)
    return {k: {"value": v, "unit": unit_of(k)} for k, v in out.items()}


def write_trace(tr, root: str, args, ops: list[dict]) -> str:
    """Spans and per-op exec counters, written once at the end of the run."""
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "spans": tr.spans,
                "ops": tr.ops,
                "counts": tr.counts,
                "latency_s": {str(r["i"]): r["latency"] for r in ops},
            },
            fh,
            default=str,
        )
    return os.path.relpath(path, root)
