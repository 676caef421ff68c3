"""Stage and SQL metrics of one traced action, read from Spark's REST API.

Each traced action runs under its own job group.  ``Collector.after``
waits until the status store has seen every job of the group finish, then
reads, over the loopback UI endpoint:

- per stage: task count, executorRunTime, jvmGcTime, shuffle read/write
  bytes, spill and output bytes, plus each task's run time;
- per SQL execution: the Python-worker metrics of every MapInPandas node.

It only reads the status store, so it adds no Spark jobs.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
SETTLE_TIMEOUT_S = 60.0  # wait for the status store to see a group finish
PMAX_MIN_BEYOND = 10  # samples a reported percentile must have above it
_STAGE_OF_MAX = re.compile(r"\(stage (\d+)\.\d+: task")
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# MapInPandas SQL metric labels -> short names
PYTHON_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}

STAGE_SUMS = {
    "executorRunTime": "run_ms",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_bytes",
    "outputBytes": "output_bytes",
}


def parse_metric(value: str) -> float:
    """'total (min, med, max ...)\\n12.3 s (...)' or '10,000' -> 12.3 / 10000."""
    if "\n" in value:
        value = value.split("\n", 1)[1]
    m = _NUM.match(value)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class Collector:
    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is off: no REST endpoint to read")
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def after(self, group: str) -> dict:
        """Metrics of every job run under ``group`` (call after the action)."""
        want = set(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in want]
            if len(jobs) == len(want) and all(
                j["status"] in ("SUCCEEDED", "FAILED") for j in jobs
            ):
                stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
                stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids]
                if all(s["status"] in ("COMPLETE", "SKIPPED", "FAILED") for s in stages):
                    break
            if time.monotonic() > deadline:
                raise TimeoutError(f"status store never settled for job group {group}")
            time.sleep(0.05)
        out = {"jobs": len(jobs), "stages": []}
        for s in stages:
            if s["status"] == "SKIPPED":
                continue
            rec = {"stage_id": s["stageId"], "name": s["name"]}
            for k, short in STAGE_SUMS.items():
                rec[short] = s.get(k, 0)
            tasks = self._get(
                f"/stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000"
            )
            rec["task_ms"] = sorted(
                t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")
            )
            out["stages"].append(rec)
        out["python"] = self._python_metrics(want, deadline)
        return out

    def _python_metrics(self, job_ids: set, deadline: float) -> dict:
        total = {v: 0.0 for v in PYTHON_METRICS.values()}
        total["python_nodes"] = 0
        stage_ids: set[int] = set()
        while True:
            execs = [
                e
                for e in self._get("/sql?details=true&planDescription=false&length=100000")
                if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                                 + e.get("runningJobIds", []))
            ]
            if all(e["status"] != "RUNNING" for e in execs) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        for e in execs:
            for node in e["nodes"]:
                if node["nodeName"] not in ("MapInPandas", "MapInArrow", "PythonMapInArrow"):
                    continue
                total["python_nodes"] += 1
                for m in node["metrics"]:
                    short = PYTHON_METRICS.get(m["name"])
                    if short:
                        total[short] += parse_metric(m["value"])
                        stage_ids.update(int(x) for x in _STAGE_OF_MAX.findall(m["value"]))
        total["stage_ids"] = sorted(stage_ids)
        return total


def stage_totals(snapshot: dict) -> dict:
    """Sums over all stages of one ``Collector.after`` snapshot."""
    tot = {short: 0 for short in STAGE_SUMS.values()}
    for s in snapshot["stages"]:
        for short in STAGE_SUMS.values():
            tot[short] += s[short]
    return tot


def percentile_max(values: list[float]) -> tuple[float, float]:
    """(quantile, value) of the highest of p90/p99/p99.9 with
    ``PMAX_MIN_BEYOND`` samples above it; the maximum (quantile 1.0) when no
    such one exists."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return 1.0, 0.0
    for q in (0.999, 0.99, 0.9):
        if n * (1 - q) >= PMAX_MIN_BEYOND:
            return q, float(vals[int(q * n)])
    return 1.0, float(vals[-1])
