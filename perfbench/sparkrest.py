"""Read jobs and stages from the application's own status REST API (the
local Spark UI), which Spark fills from its listener bus."""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime

from perfbench.spans import Job

# how long jobs() waits for the listener to record the jobs as finished
WAIT_S = 10.0


def _ts(s: str | None) -> float:
    # e.g. "2026-10-17T07:40:01.123GMT"
    if not s:
        return 0.0
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Rest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, since: float) -> list[Job]:
        """Jobs submitted at or after ``since`` (epoch s). Waits until the
        listener has recorded every such job as finished."""
        deadline = time.time() + WAIT_S
        while True:
            raw = [j for j in self._get("/jobs") if _ts(j.get("submissionTime")) >= since - 0.001]
            if all(j.get("completionTime") for j in raw) or time.time() > deadline:
                break
            time.sleep(0.1)
        return [Job(j["jobId"], j.get("jobGroup"), _ts(j.get("submissionTime")),
                    _ts(j.get("completionTime")) or time.time(), list(j.get("stageIds", ())))
                for j in raw]

    def stages(self) -> dict[int, dict]:
        """Completed stage attempts, summed per stage id."""
        out: dict[int, dict] = {}
        for s in self._get("/stages?status=complete"):
            agg = out.setdefault(s["stageId"], {k: 0 for k in _STAGE_KEYS})
            for k in _STAGE_KEYS:
                agg[k] += s.get(k, 0) or 0
        return out


_STAGE_KEYS = ("numTasks", "executorRunTime", "executorCpuTime", "inputBytes",
               "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
               "diskBytesSpilled", "jvmGcTime")
