"""Spark event-log reader for the traced run.

Everything is attributed to the job group the benchmark set around the
call that caused it. A stage is charged to exactly one group: the group
of the first job that lists it. A later job that lists the same stage
again (a reused shuffle, shown as a skipped stage) adds nothing but the
skip count, so no task is counted twice.
"""

from __future__ import annotations

import json
from collections import defaultdict

PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}
PLAN_NODES = {
    "Exchange": "exchanges",
    "Sort": "sorts",
    "SortMergeJoin": "smj_joins",
    "BroadcastHashJoin": "bhj_joins",
}
_TO_SECONDS = {"nsTiming": 1e-9, "timing": 1e-3}


def _walk(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _walk(child)


class EventLog:
    """Per-group counters read from one application's event log."""

    def __init__(self) -> None:
        self.groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.first_submit_ms: dict[str, int] = {}
        self._stage_group: dict[int, str] = {}
        self._exec_group: dict[int, str] = {}
        self._plans: dict[int, dict] = {}
        # accumulator id -> (metric name, seconds per unit or None for a count)
        self._py_accums: dict[int, tuple[str, float | None]] = {}

    def read(self, path: str) -> EventLog:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of an unfinished log
                handler = getattr(self, "_on_" + ev["Event"].rsplit(".", 1)[-1], None)
                if handler:
                    handler(ev)
        for exec_id, info in self._plans.items():
            group = self._exec_group.get(exec_id)
            if group:
                for node in _walk(info):
                    key = PLAN_NODES.get(node.get("nodeName"))
                    if key:
                        self.groups[group][key] += 1
        return self

    def _note_python_metrics(self, info: dict) -> None:
        for node in _walk(info):
            metrics = node.get("metrics", ())
            if not any(m["name"] in PY_METRICS for m in metrics):
                continue
            for m in metrics:
                if m["name"] in PY_METRICS:
                    scale = _TO_SECONDS.get(m.get("metricType"), 1e-3)
                    self._py_accums[m["accumulatorId"]] = (PY_METRICS[m["name"]], scale)
                elif m["name"] == "number of output rows":
                    self._py_accums[m["accumulatorId"]] = ("py_rows", None)

    def _on_SparkListenerJobStart(self, ev: dict) -> None:
        props = ev.get("Properties") or {}
        group = props.get("spark.jobGroup.id")
        if group is None:
            return
        g = self.groups[group]
        g["jobs"] += 1
        self.first_submit_ms[group] = min(
            self.first_submit_ms.get(group, ev["Submission Time"]), ev["Submission Time"]
        )
        for sid in ev.get("Stage IDs", ()):
            g["stages_listed"] += 1
            self._stage_group.setdefault(sid, group)
        exec_id = props.get("spark.sql.execution.id")
        if exec_id is not None:
            self._exec_group.setdefault(int(exec_id), group)

    def _on_SparkListenerStageSubmitted(self, ev: dict) -> None:
        info = ev["Stage Info"]
        group = self._stage_group.get(info["Stage ID"])
        if group and info.get("Stage Attempt ID", 0) == 0:
            self.groups[group]["stages_run"] += 1

    def _on_SparkListenerTaskEnd(self, ev: dict) -> None:
        group = self._stage_group.get(ev["Stage ID"])
        if group is None:
            return
        g = self.groups[group]
        g["tasks"] += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            g["failed_tasks"] += 1
        m = ev.get("Task Metrics") or {}
        g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        g["run_s"] += m.get("Executor Run Time", 0) / 1e3
        g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        g["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        sr = m.get("Shuffle Read Metrics") or {}
        g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        g["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            known = self._py_accums.get(acc.get("ID"))
            if known and "Update" in acc:
                name, scale = known
                g[name] += float(acc["Update"]) * (scale or 1.0)

    def _on_SparkListenerSQLExecutionStart(self, ev: dict) -> None:
        self._plans[ev["executionId"]] = ev["sparkPlanInfo"]
        self._note_python_metrics(ev["sparkPlanInfo"])

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, ev: dict) -> None:
        self._plans[ev["executionId"]] = ev["sparkPlanInfo"]
        self._note_python_metrics(ev["sparkPlanInfo"])
