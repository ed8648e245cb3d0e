"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Asserts, for every workload in BENCHMARK.json:

1. an untraced run emits every ``end_to_end`` metric and a traced run every
   ``per_layer`` metric, each with the unit BENCHMARK.json gives it; both
   runs are correct, and the traced run saw Spark jobs and collected
   results;
2. a deliberately perturbed result row (``--perturb``) is counted as one
   failed op, and as an oracle mismatch of the first op, not an error;
3. the same seed generates byte-identical inputs and two seeds different
   ones.

Exits 0 when all hold.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(*args: str) -> list[str]:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return [line for line in p.stdout.splitlines() if line.strip()]


def _check_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    assert set(got) == set(want), f"{what}: emitted {sorted(got)} != declared {sorted(want)}"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{what}: {name} unit {got[name]['unit']} != {unit}"
        assert isinstance(got[name]["value"], (int, float)), f"{what}: {name} not a number"


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), path).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in (w["name"] for w in bench["workloads"]):
        lines = _run("--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0",
                     "--scale", "tiny")
        result = json.loads(lines[-1])
        _check_metrics(result, bench["end_to_end"], f"{w} untraced")
        assert result["correct"] and result["failed"] == 0, f"{w}: {lines[-2]}"
        print(f"ok  {w}: end-to-end metrics and units; {result['attempted']} ops verified")

        lines = _run("--workload", w, "--seed", "1", "--seconds", "1", "--trace", "1",
                     "--scale", "tiny")
        result = json.loads(lines[-1])
        _check_metrics(result, bench["per_layer"], f"{w} traced")
        assert result["correct"] and result["failed"] == 0, f"{w} traced: {lines[-2]}"
        for name in ("exec.jobs", "exec.tasks", "exec.sink_s"):
            assert result["metrics"][name]["value"] > 0, f"{w} traced: {name} is 0"
        print(f"ok  {w}: per-layer metrics and units; traced run correct, exec counters > 0")

        lines = _run("--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0",
                     "--scale", "tiny", "--perturb")
        result, detail = json.loads(lines[-1]), json.loads(lines[-2])
        assert result["failed"] == 1 and not result["correct"], \
            f"{w}: perturbed row not counted as one failure: {lines[-1]}"
        fail = detail["failures"][0]
        assert fail["op"] == 0 and "mismatch" in fail and "error" not in fail, \
            f"{w}: perturbed op not caught as a mismatch: {fail}"
        print(f"ok  {w}: perturbed row counted as one oracle mismatch ({fail['mismatch']})")

        tmp = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=ROOT)
        try:
            digests = []
            for seed, sub in (("1", "a"), ("1", "b"), ("2", "c")):
                _run("--workload", w, "--seed", seed, "--seconds", "1", "--scale", "tiny",
                     "--keep-inputs", os.path.join(tmp, sub))
                digests.append(_digest(os.path.join(tmp, sub)))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        assert digests[0] == digests[1], f"{w}: same seed gave different inputs"
        assert digests[0] != digests[2], f"{w}: two seeds gave the same inputs"
        print(f"ok  {w}: seed 1 twice byte-identical, seed 2 different")
    return 0


if __name__ == "__main__":
    sys.exit(main())
