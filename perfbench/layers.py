"""Layer tracing from outside the engine.

Reads only public surfaces: Spark's status REST API under ``uiWebUrl``
(``/jobs``, ``/stages``, ``/sql``), ``SparkContext.statusTracker()`` and
``StreamingQuery.recentProgress``.  Spans are kept in memory and written
out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from datetime import datetime, timezone

# stage counters summed per op: REST field -> metric name
STAGE_FIELDS = {
    "executorRunTime": "exec.task_run_ms",
    "executorDeserializeTime": "exec.task_deser_ms",
    "jvmGcTime": "exec.gc_ms",
    "inputBytes": "io.input_bytes",
    "inputRecords": "io.input_records",
    "shuffleReadBytes": "shuffle.read_bytes",
    "shuffleWriteBytes": "shuffle.write_bytes",
    "diskBytesSpilled": "shuffle.spill_bytes",
}
# SQL-node metrics of the Python-worker operators (ArrowEvalPython,
# FlatMapGroupsInPandas[WithState], MapInPandas, ...): UI name -> metric
PYTHON_NODE_METRICS = {
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "B": 1.0,
          "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_AMOUNT = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_amount(text: str) -> float:
    """'5.2 s' -> 5200 (ms); '460.3 KiB' -> bytes; '1,500' -> 1500.
    Aggregated SQL metrics read 'total (min, med, max ...)\\n<total> (...)'
    and the total is taken."""
    m = _AMOUNT.search(text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def epoch_ms(stamp: str) -> float:
    """'2026-10-17T05:11:30.911GMT' (REST) or '...911Z' (progress) ->
    epoch ms."""
    dt = datetime.strptime(stamp.rstrip("GMTZ"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1e3


def interval_union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Rest:
    """Status REST client for one application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.tracker = sc.statusTracker()

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def finished_jobs(self, job_ids) -> list[dict]:
        """Job records once the status store has seen every job end (the
        listener bus runs behind the action's return), or after 10 s."""
        deadline = time.monotonic() + 10
        while True:
            jobs = [self.get(f"jobs/{j}") for j in sorted(job_ids)]
            if all(j.get("completionTime") for j in jobs) \
                    or time.monotonic() > deadline:
                return jobs
            time.sleep(0.02)

    def stage_counters(self, stage_ids) -> dict[str, float]:
        out = {m: 0.0 for m in STAGE_FIELDS.values()}
        out["exec.stages"] = out["exec.tasks"] = 0.0
        for sid in sorted(set(stage_ids)):
            for att in self.get(f"stages/{sid}?details=false"):
                if att["status"] == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += att["numCompleteTasks"]
                for field, name in STAGE_FIELDS.items():
                    out[name] += att.get(field, 0)
        return out

    def python_counters(self, job_ids) -> dict[str, float]:
        """Python-worker SQL-node counters of the SQL executions that ran
        ``job_ids`` (a micro-batch runs in a child of the execution its
        job tags name, so executions are matched on their job ids)."""
        out = {m: 0.0 for m in PYTHON_NODE_METRICS.values()}
        job_ids = set(job_ids)
        if not job_ids:
            return out
        listing = self.get("sql?details=false&planDescription=false"
                           "&length=1000000")
        for ex in listing:
            if not job_ids & set(ex["successJobIds"] + ex["failedJobIds"]
                                 + ex["runningJobIds"]):
                continue
            sql = self.get(f"sql/{ex['id']}?details=true"
                           "&planDescription=false")
            for node in sql.get("nodes", []):
                for m in node.get("metrics", []):
                    name = PYTHON_NODE_METRICS.get(m["name"])
                    if name:
                        out[name] += parse_amount(m["value"])
        return out


def job_layer(rest: Rest, jobs: list[dict], t0_ms: float, t1_ms: float,
              spans: list, parent: str) -> dict[str, float]:
    """Counters for the jobs an interval [t0, t1] (epoch ms) launched:
    job-interval union clipped to the interval, how far any job reaches
    outside it, stage counters and Python-worker SQL-node counters."""
    iv, outside = [], 0.0
    for j in jobs:
        a = epoch_ms(j["submissionTime"])
        b = epoch_ms(j["completionTime"]) if j.get("completionTime") \
            else t1_ms
        spans.append({"name": f"job {j['jobId']}", "parent": parent,
                      "start_ms": a, "end_ms": b, "status": j["status"]})
        outside = max(outside, t0_ms - a, b - t1_ms)
        if min(b, t1_ms) > max(a, t0_ms):
            iv.append((max(a, t0_ms), min(b, t1_ms)))
    out = {"jobs": float(len(jobs)), "union_ms": interval_union_ms(iv),
           "outside_ms": max(0.0, outside)}
    stage_ids = [s for j in jobs for s in j.get("stageIds", [])]
    out.update(rest.stage_counters(stage_ids))
    out.update(rest.python_counters(j["jobId"] for j in jobs))
    return out


def descendants(pid: int) -> list[int]:
    """``pid``'s child processes, recursively."""
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                out.extend(kids)
                stack.extend(kids)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def record_hwm_kb(pids, seen: dict[int, tuple[str, int]]) -> None:
    """Keep each process's name and largest RSS high-water mark (VmHWM,
    kB) seen so far."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(ln.split(":", 1) for ln in f if ":" in ln)
            hwm = int(status["VmHWM"].split()[0])
        except (FileNotFoundError, ProcessLookupError, KeyError):
            continue   # gone, or a zombie without memory
        seen[pid] = (status["Name"].strip(),
                     max(seen.get(pid, ("", 0))[1], hwm))

