"""Per-job-group stage metrics from Spark's status REST API.

The traced run tags each layer's actions with a Spark job group; this
module sums the group's completed stages (executor run/CPU/GC time,
shuffle, spill, tasks) and reads the max/median task duration of its
busiest stage.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request


class StageStats:
    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read().decode())

    def _jobs(self, group: str, timeout: float = 10.0) -> list:
        """The group's jobs, once the listener has marked each finished."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs")
                    if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" for j in jobs) \
                    or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def group(self, group: str) -> dict:
        out = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
               "spill_mb": 0.0, "tasks": 0, "task_skew": 1.0}
        stage_ids = sorted({s for j in self._jobs(group)
                            for s in j["stageIds"]})
        busiest = None
        for sid in stage_ids:
            for st in self._get(f"/stages/{sid}"):
                if st["status"] != "COMPLETE":
                    continue
                out["run_s"] += st["executorRunTime"] / 1e3
                out["cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st["jvmGcTime"] / 1e3
                out["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                out["shuffle_read_mb"] += st["shuffleReadBytes"] / 1e6
                out["spill_mb"] += st["diskBytesSpilled"] / 1e6
                out["tasks"] += st["numCompleteTasks"]
                if busiest is None or (st["executorRunTime"]
                                       > busiest["executorRunTime"]):
                    busiest = st
        if busiest is not None:
            q = self._get(f"/stages/{busiest['stageId']}/"
                          f"{busiest['attemptId']}/taskSummary"
                          "?quantiles=0.5,1.0")
            med, top = q["duration"]
            out["task_skew"] = top / med if med > 0 else 1.0
        return out
