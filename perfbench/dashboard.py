"""Dashboard panel requests: the read family of the ``flows`` workload.

Each request is either an ES ``_search`` body run through ``run_search``
(bool filter, ``terms(event_type)`` with a nested ``proportional_sum``, or a
``date_histogram`` with metric sub-aggs) or a direct ``proportional_sum``
call. Intervals run from five seconds to a month, in UTC and
``America/New_York``, with ``min_doc_count`` 0 and 1; one request per
cycle repeats an earlier panel exactly (a refresh). Rows are collected to
the driver. Checked against ``oracle.psum_oracle_sql`` on DuckDB.

One template is a two-hour panel at five-second resolution: its flows span
~576 buckets each, past the operator's ``SWEEP_AUTO_FANOUT`` (500), so it
takes the sweep route while every other request explodes.

The stream is stratified: every cycle of ``CYCLE`` requests draws one
request from each template, with seeded ranges, filters and time zones,
so two seeds load the engine the same way with different inputs.
"""

from __future__ import annotations

import json
import os

import tables

MIN = 60_000
HOUR = 3_600_000
DAY = 86_400_000
NY = "America/New_York"
FIELDS = ["start_ms", "end_ms", "value", "sampling"]
EV_T0_MS = tables.EVENTS_T0_US // 1000
EV_SPAN_MS = tables.EVENTS_SPAN_US // 1000

SCALES = {"full": 100_000, "warm": 4_000, "tiny": 1_000}
N_CYCLES = 6
SWEEP_AUTO_FANOUT = 500

# unit ms used only to record the expected buckets-per-flow of a request
_UNIT_MS = {"day": DAY, "month": 30 * DAY}
# mean flow duration of the events derivation: (event_id % 97) minutes
_MEAN_FLOW_MS = 48 * MIN


def _panel(r, length_ms: int) -> tuple[int, int]:
    lo = EV_T0_MS + int(r.integers(0, max(EV_SPAN_MS - length_ms, 1) // MIN)) * MIN
    return lo, lo + length_ms


def _user_range(r) -> tuple[int, int]:
    """A fifth of the users, at a seeded offset."""
    lo = int(r.integers(0, 1200))
    return lo, lo + 300


def _search_terms_psum(r, interval: int, panel_ms: int, tz, mdc: int) -> dict:
    s, e = _panel(r, panel_ms)
    ulo, uhi = _user_range(r)
    psum = {"fields": FIELDS, "interval": interval, "offset": 1, "quantize": 4,
            "start": s, "end": e, "min_doc_count": mdc}
    if tz:
        psum["time_zone"] = tz
    return {
        "kind": "search", "agg": "per_type",
        "body": {"size": 0,
                 "query": {"bool": {"filter": [{"range": {"user_id": {"gte": ulo, "lt": uhi}}}]}},
                 "aggs": {"per_type": {"terms": {"field": "event_type"},
                                       "aggs": {"bytes": {"proportional_sum": psum}}}}},
        "oracle": {"where": f"user_id >= {ulo} AND user_id < {uhi}", "group_by": ["event_type"],
                   **_psum_oracle_kw(psum)},
    }


def _search_psum_calendar(r) -> dict:
    etype = str(tables.EVENT_TYPES[r.integers(0, 5)])
    s, e = _panel(r, 7 * DAY)
    psum = {"fields": FIELDS, "calendar_interval": "day", "offset": 1, "quantize": 4,
            "start": s, "end": e, "time_zone": NY, "min_doc_count": 0}
    return {
        "kind": "search", "agg": "bytes",
        "body": {"size": 0, "query": {"bool": {"filter": [{"term": {"event_type": etype}}]}},
                 "aggs": {"bytes": {"proportional_sum": psum}}},
        "oracle": {"where": f"event_type = '{etype}'", "group_by": [], **_psum_oracle_kw(psum)},
    }


def _search_date_histogram(r, spec: dict, panel_ms: int, tz, mdc: int) -> dict:
    s, e = _panel(r, panel_ms)
    dh = {"field": "start_ms", "offset": 0, "min_doc_count": mdc, **spec}
    if tz:
        dh["time_zone"] = tz
    return {
        "kind": "search", "agg": "hist",
        "body": {"size": 0, "query": {"range": {"start_ms": {"gte": s, "lt": e}}},
                 "aggs": {"hist": {"date_histogram": dh,
                                   "aggs": {"mx": {"max": {"field": "value"}},
                                            "mn": {"min": {"field": "value"}}}}}},
        "oracle": {
            "date_histogram": True,
            "where": f"start_ms >= {s} AND start_ms < {e}",
            "interval": dh.get("fixed_interval"),
            "calendar_interval": dh.get("calendar_interval"),
            "min_doc_count": mdc,
            "time_zone": tz,
            "group_by": [],
        },
    }


def _psum_direct(r, mdc: int, panel_ms=None, group=False, **grid) -> dict:
    """``grid``: ``interval`` (ms), ``calendar_interval`` and/or ``time_zone``."""
    kw = {"offset": 1, "quantize": 4, "min_doc_count": mdc, **grid}
    if panel_ms:
        kw["start"], kw["end"] = _panel(r, panel_ms)
    ulo, uhi = _user_range(r)
    where = f"user_id >= {ulo} AND user_id < {uhi}"
    gb = ["event_type"] if group else []
    return {"kind": "psum", "where": where, "kw": {**kw, "group_by": gb},
            "oracle": {"where": where, "group_by": gb, **kw}}


def _psum_oracle_kw(psum: dict) -> dict:
    out = {k: psum[k] for k in ("interval", "calendar_interval", "offset", "start", "end",
                                "min_doc_count", "time_zone") if k in psum}
    out["quantize"] = psum["quantize"]
    return out


def _cycle(r) -> list[dict]:
    """One cycle in a seeded order. What sets a request's cost — template,
    interval, time zone, min_doc_count — is fixed per template; the seed
    draws panel positions, filters and the order."""
    refreshed = _search_terms_psum(r, HOUR, 7 * DAY, NY, 1)
    cyc = [
        _search_terms_psum(r, MIN, 6 * HOUR, None, 0),
        refreshed,
        _search_psum_calendar(r),
        _search_date_histogram(r, {"fixed_interval": 15 * MIN}, 3 * DAY, NY, 1),
        _psum_direct(r, 1, group=True, calendar_interval="month"),
        # two hours at 5 s: fixed grid, quantized, no sub-aggs, ~576
        # buckets per flow — the sweep route
        _psum_direct(r, 1, panel_ms=2 * HOUR, interval=5_000),
    ]
    cyc = [cyc[i] for i in r.permutation(len(cyc))]
    # the refresh: the 7-day panel asked again, later in the same cycle
    at = cyc.index(refreshed) + 1
    cyc.insert(int(r.integers(at, len(cyc) + 1)), dict(refreshed, repeat=True))
    return cyc


CYCLE = 7  # six templates + one exact repeat


def _buckets_per_flow(o: dict) -> float:
    if o.get("date_histogram"):
        return 1.0
    step = o.get("interval") or _UNIT_MS[o["calendar_interval"]]
    return _MEAN_FLOW_MS / step + 1.0


def generate(seed: int, scale: str, root: str) -> dict:
    n = SCALES[scale]
    props = tables.write_events(os.path.join(root, "events.parquet"), seed, n)
    r = tables.rng_for(seed, "dashboard-requests")
    ops: list[dict] = []
    for _ in range(N_CYCLES):
        ops += _cycle(r)
    for i, spec in enumerate(ops):
        spec["id"] = f"d{i}"
        # the verification cache key: a repeat shares its original's oracle
        spec["key"] = json.dumps({k: v for k, v in spec.items() if k not in ("id", "repeat")},
                                 sort_keys=True)
        o = spec["oracle"]
        bpf = _buckets_per_flow(o)
        spec["buckets_per_flow"] = round(bpf, 2)
        # the sweep route needs a fixed grid without time zone, quantize,
        # no sub-aggs and >= SWEEP_AUTO_FANOUT buckets per flow
        sweep = (spec["kind"] == "psum" and o.get("interval") and not o.get("time_zone")
                 and bpf >= SWEEP_AUTO_FANOUT)
        spec["expected_route"] = "sweep" if sweep else "explode"
    repeats = sum(1 for s in ops if s.get("repeat"))
    # warm-up, when these are the warm-up inputs: one request of every
    # template, so no template runs its code paths for the first time
    # inside the timed window
    warm = [s for s in ops[:CYCLE] if not s.get("repeat")]
    return {
        "cycle": CYCLE,
        "ops": ops,
        "warm_ops": warm,
        "properties": {
            "events_rows": props["rows"],
            "requests": len(ops),
            "repeat_share": round(repeats / len(ops), 4),
            "buckets_per_flow": sorted({s["buckets_per_flow"] for s in ops}),
            "sweep_share_expected": round(
                sum(s["expected_route"] == "sweep" for s in ops) / len(ops), 4),
        },
    }


class Runner:
    def __init__(self, spark, root: str, manifest: dict, tr):
        from elasticsearch_drift_plugin_spark.sources import flows

        self.spark, self.root, self.tr = spark, root, tr
        self._flows = flows
        # the first derivation loads the scan (set-up); requests re-derive
        # through the package's scan cache as every registered query does
        flows.events_flows(spark, root)

    def run(self, spec: dict):
        from elasticsearch_drift_plugin_spark import proportional_sum
        from elasticsearch_drift_plugin_spark.functions.es_search import run_search

        tr = self.tr
        with tr.span("sources.flows.derive"):
            fl = self._flows.events_flows(self.spark, self.root)
        if spec["kind"] == "search":
            with tr.span("functions.es_search.compile"):
                out = run_search(fl, spec["body"])[spec["agg"]]
        else:
            with tr.span("operators.proportional_sum.construct"):
                out = proportional_sum(fl.where(spec["where"]), *FIELDS, **spec["kw"])
        with tr.span("exec.sink"):
            rows = out.collect()
        return {"out": out, "rows": rows, "psum_df": out if spec["kind"] == "psum" else None}


def duck_setup(con, root: str, manifest: dict) -> None:
    con.sql(f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{root}/events.parquet'")


def oracle(con, root: str, spec: dict):
    from elasticsearch_drift_plugin_spark.oracle import psum_oracle_sql
    from elasticsearch_drift_plugin_spark.sources.flows import events_flows_duckdb_sql

    o = dict(spec["oracle"])
    flows_sql = events_flows_duckdb_sql("")
    kw = {k: o[k] for k in ("interval", "calendar_interval", "offset", "start", "end",
                            "min_doc_count", "time_zone", "quantize", "where")
          if o.get(k) is not None}
    gb = tuple(o["group_by"])
    if o.get("date_histogram"):
        # date_histogram == proportional_sum over instants with value 1 per
        # doc; metric sub-aggs ride along as extra aggregates
        flows_sql = (
            "SELECT start_ms, start_ms AS end_ms, 1.0 AS value, "
            "CAST(NULL AS DOUBLE) AS sampling, value AS m_value, user_id, event_type "
            f"FROM ({flows_sql})"
        )
        sql = psum_oracle_sql(
            flows_sql, sampling=False, group_by=gb, carry_cols=("m_value",),
            extra_aggs=(("mx", "MAX(m_value)"), ("mn", "MIN(m_value)")), **kw,
        )
        cols = [*gb, "key", "doc_count", "mx", "mn"]
    else:
        sql = psum_oracle_sql(flows_sql, group_by=gb, **kw)
        cols = [*gb, "key", "doc_count", "value"]
    res = con.sql(sql)
    return res.columns, res.fetchall(), cols
