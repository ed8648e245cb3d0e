"""Measurement machinery shared by the workloads: host witnesses, peak
RSS, result comparison and tracing.

Tracing (``--trace 1``) is off by default and every hook here is a no-op
then: the untraced run times exactly the calls a user makes.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

# --------------------------------------------------------------------------
# host witnesses and process figures
# --------------------------------------------------------------------------


def process_age_s() -> float:
    """Seconds since this interpreter process was started by the OS."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> int:
    """Cumulative steal ticks of all CPUs (``/proc/stat``): time this guest
    wanted a CPU the hypervisor gave to someone else."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def dispatch_floor_s(spark, reps: int = 3) -> float:
    """Median wall of a one-task job: the fixed cost every Spark job pays."""
    sc = spark.sparkContext
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        sc.parallelize([0], 1).count()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stat_fields(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_s(spark) -> float:
    """CPU seconds used so far by this driver, its JVM and every process
    under the JVM (the Python workers), reaped children included. CPU the
    hypervisor steals is not charged to a process, so differences of this
    are steadier on a shared host than wall time."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children.setdefault(int(_stat_fields(name)[1]), []).append(int(name))
            except (OSError, IndexError):
                continue
    todo = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    ticks = 0
    seen = set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        if pid != os.getpid():
            todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus its JVM child."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_hwm_kb("self") + _hwm_kb(jvm)) / 1024.0


# --------------------------------------------------------------------------
# result comparison — the order-insensitive hash convention of the repo's
# correctness gate (tools/check_correctness.py): cells normalised to text,
# columns sorted by name, rows sorted, then hashed
# --------------------------------------------------------------------------


def compare(got_cols, got_rows, want_cols, want_rows, cols=None) -> str | None:
    """None when equal on ``cols`` (default: the oracle's columns), else a
    one-line description of the first difference."""
    from tools.check_correctness import table_hash

    cols = list(cols or want_cols)
    missing = [c for c in cols if c not in got_cols]
    if missing:
        return f"missing columns {missing} (got {list(got_cols)})"
    gi = [list(got_cols).index(c) for c in cols]
    wi = [list(want_cols).index(c) for c in cols]
    g = [tuple(r[i] for i in gi) for r in got_rows]
    w = [tuple(r[i] for i in wi) for r in want_rows]
    if len(g) != len(w):
        return f"rows {len(g)} != oracle {len(w)}"
    if table_hash(cols, g) != table_hash(cols, w):
        return "value hash differs from oracle"
    return None


def tail_percentile(values: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least ten samples beyond it,
    nearest-rank. Below twenty samples no percentile above the median has
    ten beyond it, and the median is returned as percentile 50."""
    n = len(values)
    if n < 20:
        return 50, statistics.median(values)
    q = int(100 * (1 - 10 / n))
    idx = min(n - 1, max(0, -(-q * n // 100) - 1))
    return q, sorted(values)[idx]


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


class Tracer:
    """Spans around the benchmark's calls into each layer, plus the counts
    read at the same boundaries: py4j round trips, Spark jobs started, and
    per-op stage metrics from the status store. Kept in memory; written
    out once at the end of the run."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op_id = None
        self.py4j_calls = 0
        self._counting = False
        self.progress: list[dict] = []
        self.counts: dict = {}
        self.hook_s: dict = {}
        self._lock = threading.Lock()
        self.spark = spark
        if enabled:
            self._install(spark)

    # -- hooks -------------------------------------------------------------
    def _install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self
        main = threading.get_ident()

        def counting_send(*args, **kwargs):
            # the listener's callbacks talk to the JVM from another thread
            if tracer._counting and threading.get_ident() == main:
                tracer.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        from pyspark.sql.streaming import StreamingQueryListener

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.append(
                        {
                            "id": str(p.id),
                            "batch": p.batchId,
                            "rows": p.numInputRows,
                            "ms": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._lock:
                    tracer.progress.append({"id": str(event.id), "terminated": True})

        self._listener = _Progress()
        spark.streams.addListener(self._listener)

    def _next_job_id(self) -> int:
        t0 = time.perf_counter()
        self._counting = False
        try:
            return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
        finally:
            self._counting = bool(self._stack)
            if self._op_id is not None:
                self.hook_s[self._op_id] = (
                    self.hook_s.get(self._op_id, 0.0) + time.perf_counter() - t0
                )

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to a per-op counter (traced runs only)."""
        if self.enabled:
            c = self.counts.setdefault(self._op_id, {})
            c[name] = c.get(name, 0) + value

    # -- spans -------------------------------------------------------------
    @contextmanager
    def op(self, op_id: str, kind: str):
        """One timed op. Untraced: nothing but the yield. The caller stops
        its clock inside the ``with`` block; what runs here after the
        yield (job id read, waiting for streaming events) is bookkeeping
        between ops."""
        if not self.enabled:
            yield
            return
        self._op_id = op_id
        t0 = time.perf_counter()
        self.spark.sparkContext.setJobGroup(f"perfbench-{op_id}", kind)
        self.hook_s[op_id] = time.perf_counter() - t0
        j0 = self._next_job_id()
        n_term = self._terminated()
        n_prog = len(self.progress)
        n_spans = len(self.spans)
        try:
            with self.span("op", kind=kind):
                yield
        finally:
            self._op_id = None
            j1 = self._next_job_id()
            replays = sum(1 for s in self.spans[n_spans:] if s["name"] == "streaming.replay")
            if replays:
                self._await_terminated(n_term + replays)
            self.ops.append(
                {"op": op_id, "kind": kind, "jobs": (j0, j1),
                 "progress": (n_prog, len(self.progress))}
            )

    def _terminated(self) -> int:
        with self._lock:
            return sum(1 for p in self.progress if p.get("terminated"))

    def _await_terminated(self, n: int, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait for a replay's."""
        deadline = time.monotonic() + timeout_s
        while self._terminated() < n and time.monotonic() < deadline:
            time.sleep(0.01)

    @contextmanager
    def span(self, name: str, **attrs):
        """One call into a layer: start, end, parent span, op id, and the
        py4j round trips and Spark jobs started inside it."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": self._op_id, "parent": parent, **attrs}
        rec["job0"] = self._next_job_id()
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        self._counting = True
        calls0 = self.py4j_calls
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j_calls - calls0
            self._stack.pop()
            self._counting = bool(self._stack)
            rec["eager_jobs"] = self._next_job_id() - rec["job0"]

    # -- post-op reads (outside the timed window) --------------------------
    def collect_exec(self, cores: int) -> None:
        """Stage metrics of every job each traced op started, from the
        status store (works with the Spark UI disabled). Job ids are
        sequential and one client runs one op at a time, so an op's jobs
        are exactly the ids it saw allocated — which also catches the
        streaming micro-batch jobs that run under their query's own job
        group."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for rec in self.ops:
            stages = set()
            j0, j1 = rec["jobs"]
            for jid in range(j0, j1):
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            ex = dict.fromkeys(
                (
                    "stages", "tasks", "failed_tasks", "executor_run_s",
                    "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
                    "shuffle_write_rows", "input_bytes", "input_rows",
                ),
                0,
            )
            for sid in sorted(stages):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                ex["stages"] += 1
                ex["tasks"] += sd.numTasks()
                ex["failed_tasks"] += sd.numFailedTasks()
                ex["executor_run_s"] += sd.executorRunTime() / 1e3
                ex["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                ex["shuffle_read_bytes"] += sd.shuffleReadBytes()
                ex["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                ex["shuffle_write_rows"] += sd.shuffleWriteRecords()
                ex["input_bytes"] += sd.inputBytes()
                ex["input_rows"] += sd.inputRecords()
            ex["jobs"] = j1 - j0
            op_span = next(s for s in self.spans if s["op"] == rec["op"] and s["name"] == "op")
            wall = op_span["end"] - op_span["start"]
            ex["idle_slot_s"] = max(0.0, cores * wall - ex["executor_run_s"])
            rec["exec"] = ex

    def close(self) -> None:
        if self.enabled:
            self.spark.streams.removeListener(self._listener)

    # -- aggregation -------------------------------------------------------
    def op_span_totals(self, op_id: str) -> dict:
        """{span name: {s, py4j_calls, eager_jobs}} summed over one op."""
        out: dict = {}
        for s in self.spans:
            if s["op"] != op_id or "end" not in s:
                continue
            t = out.setdefault(s["name"], {"s": 0.0, "py4j_calls": 0, "eager_jobs": 0, "n": 0})
            t["s"] += s["end"] - s["start"]
            t["py4j_calls"] += s["py4j_calls"]
            t["eager_jobs"] += s["eager_jobs"]
            t["n"] += 1
        return out
