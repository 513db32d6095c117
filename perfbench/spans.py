"""Spans around the benchmark's calls into geospark, plus Spark's own
metrics for each call, read from the live UI's REST API.

Untraced (`Tracer(spark, on=False)`) a call is only timed.  Traced,
each call runs under its own Spark job group; once it returns, the
tracer waits for the status store to settle and reads the group's jobs,
stages and SQL executions over `/api/v1`, from outside the program.
Spans stay in memory until `dump`.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(value: str) -> float:
    """SQL metric text → float (bytes for sizes, seconds for times).

    Values come as "12,345", "11.9 MiB", "408 ms" or, for per-task
    metrics, "total (min, med, max (...))\\n337 ms (69 ms, ...)" where
    the figure after the newline is the total."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _NUM_UNIT.search(text)
    if m is None:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


class Tracer:
    def __init__(self, spark, on: bool):
        self.spark = spark
        self.on = on
        self.spans: list = []
        self.calls: list = []  # per traced call: name, wall, spark metrics
        self.walls: list = []  # every span: (trace id, name, wall seconds)
        self._seq = 0
        self._parent = None
        self._sql_seen = 0
        sc = spark.sparkContext
        self._api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}" if on else None

    # -- spans ---------------------------------------------------------
    def span(self, name: str, fn, trace_id: str = "", job_group: bool = True):
        """Run fn() inside a span; returns (result, wall seconds).

        A span opened inside another one names it as parent.  With
        job_group=False the span only times (used for whole rounds)."""
        self._seq += 1
        sid = self._seq
        parent, self._parent = self._parent, sid
        group = f"perfbench-{sid}" if (self.on and job_group) else None
        if group:
            self.spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            t1 = time.perf_counter()
            self._parent = parent
            if group:
                self.spark.sparkContext.setJobGroup("perfbench-idle", "between spans")
        wall = t1 - t0
        self.walls.append((trace_id, name, wall))
        if self.on:
            self.spans.append(
                {"id": sid, "parent": parent, "trace": trace_id, "name": name, "start": t0, "end": t1}
            )
        if group:
            rec = {"name": name, "trace": trace_id, "wall_s": wall}
            rec.update(self.spark_metrics(group))
            self.calls.append(rec)
        return out, wall

    # -- Spark status store --------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=30) as r:
            return json.load(r)

    def _group_jobs(self, group: str, timeout: float = 10.0):
        """Jobs of the group once the listener has recorded them all as
        finished (events reach the status store asynchronously)."""
        deadline = time.time() + timeout
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" and "completionTime" in j for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.05)

    def spark_metrics(self, group: str) -> dict:
        jobs = self._group_jobs(group)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = {
            "job_s": _union_seconds(
                (_ts(j["submissionTime"]), _ts(j["completionTime"])) for j in jobs if "completionTime" in j
            ),
            "exec_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "python_s": 0.0, "to_python_mb": 0.0, "from_python_mb": 0.0,
            "scan_s": 0.0, "scan_mb": 0.0,
        }
        if stage_ids:
            for st in self._get("stages?status=complete"):
                if st["stageId"] not in stage_ids:
                    continue
                out["exec_cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st["jvmGcTime"] / 1e3
                out["shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
                out["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                out["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 2**20
        for ex in self._sql_executions(job_ids):
            for node in ex.get("nodes", []):
                m = {x["name"]: parse_sql_metric(x["value"]) for x in node.get("metrics", [])}
                if "time to run Python workers" in m:
                    out["python_s"] += m["time to run Python workers"]
                    out["to_python_mb"] += m.get("data sent to Python workers", 0.0) / 2**20
                    out["from_python_mb"] += m.get("data returned from Python workers", 0.0) / 2**20
                if node.get("nodeName", "").startswith("Scan"):
                    out["scan_s"] += m.get("scan time", 0.0)
                    out["scan_mb"] += m.get("size of files read", 0.0) / 2**20
        return out

    def _sql_executions(self, job_ids: set, timeout: float = 10.0) -> list:
        """Completed SQL executions that ran any of job_ids."""
        if not job_ids:
            return []
        deadline = time.time() + timeout
        while True:
            batch = self._get(f"sql?details=true&planDescription=false&offset={self._sql_seen}&length=1000")
            hits = [e for e in batch if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))]
            done = bool(hits) and all(e["status"] != "RUNNING" for e in hits)
            if done or time.time() > deadline:
                # earlier executions are never needed again
                finished = [i for i, e in enumerate(batch) if e["status"] != "RUNNING"]
                if finished and finished == list(range(len(finished))):
                    self._sql_seen += len(finished)
                return hits
            time.sleep(0.05)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "calls": self.calls}, f, indent=1)


def _ts(s: str) -> float:
    """'2026-10-17T02:16:20.037GMT' → epoch seconds."""
    import calendar

    base, frac = s.rstrip("GMT").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + float("0." + frac)


def _union_seconds(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
