"""Stage and task rows from the driver's local monitoring REST API
(``<sc.uiWebUrl>/api/v1``). The benchmark is the only job submitter, so the
jobs of one measured operation are the job ids that appeared during it."""

from __future__ import annotations

import json
import statistics
import time
import urllib.request


class SparkRest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def job_ids(self) -> set[int]:
        return {j["jobId"] for j in self._get("/jobs")}

    def _settled_jobs(self, ids: set[int]) -> list[dict]:
        # the status store is fed by an asynchronous listener: wait until
        # every job of the operation reads as finished
        deadline = time.monotonic() + 10
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in ids]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def summary(self, ids: set[int], wall_s: float, cores: int) -> dict:
        """Totals over the completed stages of jobs ``ids``."""
        stage_ids = sorted({s for j in self._settled_jobs(ids) for s in j["stageIds"]})
        tot = {"input_bytes": 0, "output_bytes": 0, "shuffle_write_bytes": 0,
               "gc_ms": 0}
        durations: list[float] = []
        run_ms = 0.0
        straggler, heaviest = 1.0, -1.0
        for sid in stage_ids:
            for st in self._get(f"/stages/{sid}"):
                if st["status"] != "COMPLETE":
                    continue
                tot["input_bytes"] += st["inputBytes"]
                tot["output_bytes"] += st["outputBytes"]
                tot["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                tot["gc_ms"] += st["jvmGcTime"]
                tasks = self._get(
                    f"/stages/{sid}/{st['attemptId']}/taskList?length=1000000"
                )
                d = [t["duration"] for t in tasks if t.get("status") == "SUCCESS"]
                durations += d
                stage_run = sum(
                    t["taskMetrics"]["executorRunTime"] for t in tasks
                    if t.get("taskMetrics")
                )
                run_ms += stage_run
                # straggler ratio of the stage that carried the most work
                if d and stage_run > heaviest:
                    heaviest = stage_run
                    straggler = max(d) / max(statistics.median(d), 1e-9)
        qs = statistics.quantiles(durations, n=10) if len(durations) >= 2 else [0.0] * 9
        return {
            **tot,
            "tasks": len(durations),
            "task_p50_ms": statistics.median(durations) if durations else 0.0,
            "task_p90_ms": qs[8],
            "straggler_ratio": straggler,
            "slot_busy_share": run_ms / (wall_s * 1000.0 * cores) if wall_s else 0.0,
        }
