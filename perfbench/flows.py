"""flows: the flow engine's read path and write path, each measured on its own.

Two families of ops run in one process, one after the other, never
interleaved: dashboard panel requests (:mod:`dashboard`, over an
sf0.1-sized ``events`` flow table), then NetFlow v5 / IPFIX export windows
ingested through the streaming path and read back from the histogram sink
(:mod:`ingest`). Each family gets its own share of the timed window and its
own CPU per op; the run's figure is their geometric mean, so each family
weighs the same whatever its op count or cost. Every panel and every window
is checked against ``oracle.psum_oracle_sql`` on DuckDB.
"""

from __future__ import annotations

import os

import dashboard
import ingest


def generate(seed: int, scale: str, root: str) -> dict:
    panels = dashboard.generate(seed, scale, os.path.join(root, "panels"))
    windows = ingest.generate(seed, scale, os.path.join(root, "ingest"))
    for s in panels["ops"]:
        s["family"] = "panel"
    for s in windows["ops"]:
        s["family"] = "window"
    return {
        "families": [
            {"name": "panel", "ops": panels["ops"], "cycle": panels["cycle"]},
            {"name": "window", "ops": windows["ops"], "cycle": windows["cycle"]},
        ],
        "warm_ops": panels["warm_ops"] + windows["warm_ops"],
        "properties": {**panels["properties"],
                       **{f"ingest_{k}": v for k, v in windows["properties"].items()}},
    }


class Runner:
    def __init__(self, spark, root: str, manifest: dict, tr):
        self.panels = dashboard.Runner(spark, os.path.join(root, "panels"), manifest, tr)
        self.ingest = ingest.Runner(spark, os.path.join(root, "ingest"), manifest, tr)

    def run(self, spec: dict):
        return (self.panels if spec["family"] == "panel" else self.ingest).run(spec)


def duck_setup(con, root: str, manifest: dict) -> None:
    dashboard.duck_setup(con, os.path.join(root, "panels"), manifest)
    ingest.duck_setup(con, os.path.join(root, "ingest"), manifest)


def oracle(con, root: str, spec: dict):
    if spec["family"] == "panel":
        return dashboard.oracle(con, os.path.join(root, "panels"), spec)
    return ingest.oracle(con, os.path.join(root, "ingest"), spec)
