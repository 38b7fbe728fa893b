"""Spark's own metrics, read from the live application's UI REST API.

Every pass (and, in a traced run, every span) runs its jobs under a job
group; :meth:`SparkStats.groups` sums the stage metrics of each group's jobs
and :meth:`SparkStats.join_rows` reads executed-plan row counts from
``/sql/{id}?details=true``. Reads wait until the status listener has caught
up with the jobs the driver reports for the group, so a scrape taken right
after an action sees all of it.
"""

from __future__ import annotations

import json
import time
import urllib.request

#: stage field → (metric name, scale to the metric's unit)
STAGE_FIELDS = {
    "executorCpuTime": ("cpu_s", 1e-9),
    "executorRunTime": ("executor_run_s", 1e-3),
    "jvmGcTime": ("jvm_gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_rows", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "numTasks": ("tasks", 1),
}
ZERO = {name: 0 for name, _ in STAGE_FIELDS.values()} | {"jobs": 0, "stages": 0}


class SparkStats:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def _settled_jobs(self, groups: set[str], timeout_s: float = 20.0) -> list[dict]:
        expected = {
            j for g in groups for j in self._tracker.getJobIdsForGroup(g)
        }
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if done and expected <= {j["jobId"] for j in jobs}:
                return jobs
            if time.monotonic() > deadline:
                raise TimeoutError(f"status listener lagging for {sorted(groups)}")
            time.sleep(0.05)

    def groups(self, groups: set[str]) -> tuple[dict[str, dict], dict[str, list[int]]]:
        """Per job group: summed stage metrics, and the group's job ids."""
        if not groups:
            return {}, {}
        jobs = self._settled_jobs(groups)
        stage_owner = {}
        job_ids: dict[str, list[int]] = {g: [] for g in groups}
        out = {g: dict(ZERO) for g in groups}
        for j in jobs:
            g = j["jobGroup"]
            job_ids[g].append(j["jobId"])
            out[g]["jobs"] += 1
            for sid in j.get("stageIds", []):
                stage_owner[sid] = g
        for st in self._get("/stages"):
            g = stage_owner.get(st["stageId"])
            if g is None or st["status"] != "COMPLETE":
                continue
            m = out[g]
            m["stages"] += 1
            for fld, (name, scale) in STAGE_FIELDS.items():
                m[name] += st.get(fld, 0) * scale
        return out, job_ids

    def join_rows(self, job_ids: list[int]) -> int:
        """Output rows of the largest join in the SQL executions that ran
        ``job_ids``."""
        wanted = set(job_ids)
        best = 0
        for ex in self._get("/sql?details=true&offset=0&length=100000"):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & wanted:
                continue
            for node in ex.get("nodes", []):
                if "Join" not in node.get("nodeName", ""):
                    continue
                for metric in node.get("metrics", []):
                    if metric.get("name") == "number of output rows":
                        best = max(best, int(metric["value"].replace(",", "")))
        return best
