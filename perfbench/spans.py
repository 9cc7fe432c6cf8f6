"""Spans recorded around the benchmark's calls into the program, and
Spark's own per-operator SQL metrics read back from its event log.

Spans are kept in memory and written as one JSON file when the run
ends. The event log is enabled only for traced runs (through
``session.get_spark(extra_conf=...)``); :func:`python_stage_metrics`
turns it into the ArrowEvalPython figures of each SQL execution.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            self._stack.pop()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_SQL = "org.apache.spark.sql.execution.ui."
# PythonSQLMetrics display names -> benchmark names
_PY_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


def _python_nodes(plan: dict):
    if plan.get("nodeName", "").startswith("ArrowEvalPython"):
        yield plan
    for child in plan.get("children", ()):
        yield from _python_nodes(child)


def python_stage_metrics(log_dir: str, windows: list[tuple[float, float]]) -> list[dict]:
    """Summed ArrowEvalPython metrics of the SQL executions that start
    inside each (start, end) window, in epoch seconds.

    A cached plan shows up again under every InMemoryTableScan that
    reads it, with the same accumulators, so each accumulator is
    counted once per window."""
    totals: dict[int, float] = {}
    plans: dict[int, list[dict]] = {}
    starts: dict[int, float] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerTaskEnd":
                    for acc in ev.get("Task Info", {}).get("Accumulables", ()):
                        try:
                            upd = float(acc["Update"])
                        except (KeyError, TypeError, ValueError):
                            continue
                        totals[acc["ID"]] = totals.get(acc["ID"], 0.0) + upd
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, upd in ev["accumUpdates"]:
                        totals[acc_id] = totals.get(acc_id, 0.0) + float(upd)
                elif kind == _SQL + "SparkListenerSQLExecutionStart":
                    starts[ev["executionId"]] = ev["time"] / 1e3
                    plans.setdefault(ev["executionId"], []).append(ev["sparkPlanInfo"])
                elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    plans.setdefault(ev["executionId"], []).append(ev["sparkPlanInfo"])
    out = []
    for lo, hi in windows:
        accs: dict[int, tuple[str, float]] = {}
        for eid, infos in plans.items():
            if not lo <= starts.get(eid, -1.0) <= hi:
                continue
            for info in infos:
                for node in _python_nodes(info):
                    for m in node.get("metrics", ()):
                        key = _PY_METRICS.get(m["name"])
                        if key:
                            accs[m["accumulatorId"]] = (key, _SCALE.get(m["metricType"], 1.0))
        vals = dict.fromkeys(_PY_METRICS.values(), 0.0)
        for acc_id, (key, scale) in accs.items():
            vals[key] += totals.get(acc_id, 0.0) * scale
        out.append(vals)
    return out
