"""Benchmark-side tracing: spans around calls into the engine's layers.

Everything here lives in the benchmark; the package is not modified.

- A span is (name, start, end, parent, run_id), kept in memory and
  printed with the run record when the run ends.  Opening a span sets the Spark job
  group on the calling thread so that jobs submitted from it carry the
  span's name.
- py4j calls (host -> JVM crossings) are counted by a wrapper installed
  on the gateway client; each call's timestamp is kept so that any time
  window can be counted afterwards.
- The tracer's own time in a window (span bookkeeping, and the
  wrapper's cost per call, measured on a no-op when it is installed)
  gives the untraced wall it is compared with.
- Job, stage and SQL-execution metrics (tasks, CPU, GC, shuffle, spill,
  operator row counts) are read from the Spark UI's REST API, which is
  on only in traced runs.  Row counts come from the SQL metrics Spark
  records anyway, so no extra job runs to count rows.
"""

from __future__ import annotations

import bisect
import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


def parse_ts(s: str) -> float:
    """REST timestamp ('2026-10-17T03:43:34.124GMT') -> epoch seconds."""
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _counting(times: list, call):
    """``call`` wrapped so that each call appends its start time."""
    def wrapper(*args, **kwargs):
        times.append(time.time())
        return call(*args, **kwargs)

    return wrapper


class Py4jCounter:
    """Counts gateway round trips by wrapping ``send_command``."""

    def __init__(self, sc):
        self.client = sc._gateway._gateway_client
        self.times: list[float] = []
        self._orig = self.client.send_command
        self.client.send_command = _counting(self.times, self._orig)
        self.per_call = self._wrapper_cost()

    @staticmethod
    def _wrapper_cost(n: int = 20000) -> float:
        """Seconds the wrapper adds to one call, measured on a no-op."""
        def noop(*args, **kwargs):
            return None

        wrapped = _counting([], noop)
        t0 = time.perf_counter()
        for _ in range(n):
            noop("c")
        t1 = time.perf_counter()
        for _ in range(n):
            wrapped("c")
        return max(0.0, ((time.perf_counter() - t1) - (t1 - t0)) / n)

    def count(self, t0: float, t1: float) -> int:
        # threads append concurrently, so the list is only nearly sorted
        times = sorted(self.times)
        return bisect.bisect_right(times, t1) - bisect.bisect_left(times, t0)

    def close(self) -> None:
        self.client.send_command = self._orig


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.py4j = Py4jCounter(self.sc)
        self.base = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        )

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(name, name)
        self._stack.append(name)
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "start": time.time()}
        own = time.perf_counter() - t
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self.spans.append(rec)
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, parent)
            # the tracer's own time: job-group calls and bookkeeping
            rec["tracer_s"] = own + time.perf_counter() - t

    def own_time(self, t0: float, t1: float) -> float:
        """Seconds the tracer itself spent between t0 and t1: span
        bookkeeping plus the py4j wrapper's cost per counted call."""
        return (sum(s["tracer_s"] for s in self.spans if t0 <= s["start"] <= t1)
                + self.py4j.count(t0, t1) * self.py4j.per_call)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self, t0: float) -> "Snapshot":
        """Jobs, stages and SQL executions submitted at or after ``t0``.
        Waits until the UI's listener has recorded every job as ended."""
        deadline = time.time() + 20
        while True:
            jobs = [j for j in self._get("/jobs")
                    if parse_ts(j["submissionTime"]) >= t0 - 0.001]
            if all(j["status"] != "RUNNING" and "completionTime" in j
                   for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = [s for s in self._get("/stages")
                  if "submissionTime" in s
                  and parse_ts(s["submissionTime"]) >= t0 - 0.001]
        sql = [q for q in self._get(
                   "/sql?details=true&planDescription=false&length=100000")
               if parse_ts(q["submissionTime"]) >= t0 - 0.001]
        return Snapshot(jobs, stages, sql)

    def close(self) -> None:
        self.py4j.close()


def rows(node: dict) -> int:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return int(m["value"].replace(",", ""))
    return 0


class Snapshot:
    """REST records of one traced iteration, with window helpers."""

    def __init__(self, jobs: list, stages: list, sql: list):
        for j in jobs:
            j["t0"] = parse_ts(j["submissionTime"])
            j["t1"] = parse_ts(j.get("completionTime", j["submissionTime"]))
        for s in stages:
            s["t0"] = parse_ts(s["submissionTime"])
            s["t1"] = parse_ts(s.get("completionTime", s["submissionTime"]))
        for q in sql:
            q["t0"] = parse_ts(q["submissionTime"])
            q["t1"] = q["t0"] + q.get("duration", 0) / 1000.0
        self.jobs = sorted(jobs, key=lambda j: (j["t0"], j["jobId"]))
        self.stages = sorted(stages, key=lambda s: (s["t0"], s["stageId"]))
        self.sql = sorted(sql, key=lambda q: (q["t0"], q["id"]))
        self._stage_by_id = {s["stageId"]: s for s in self.stages}

    def jobs_in(self, t0: float, t1: float) -> list:
        return [j for j in self.jobs if t0 - 0.001 <= j["t0"] <= t1 + 0.001]

    def stages_of(self, jobs: list) -> list:
        ids = {sid for j in jobs for sid in j["stageIds"]}
        return [self._stage_by_id[i] for i in sorted(ids)
                if i in self._stage_by_id]

    def sql_in(self, t0: float, t1: float) -> list:
        return [q for q in self.sql if t0 - 0.001 <= q["t0"] <= t1 + 0.001]

    def sql_of_job(self, job_id: int) -> dict | None:
        for q in self.sql:
            if job_id in q.get("successJobIds", []) + q.get("failedJobIds", []):
                return q
        return None

    @staticmethod
    def node_rows(q: dict, name: str) -> list[int]:
        return [rows(n) for n in q["nodes"] if n["nodeName"] == name]

    @staticmethod
    def dedup_rows(q: dict) -> tuple[int, int]:
        """(rows entering, rows leaving) the top-level set-dedup of a
        write execution: the first HashAggregate below the write is the
        final dedup, the next one below its Exchange is the map-side
        partial aggregate feeding it."""
        nodes = {n["nodeId"]: n for n in q["nodes"]}
        children: dict[int, list[int]] = {}
        for e in q.get("edges", []):
            children.setdefault(e["toId"], []).append(e["fromId"])
        roots = [n["nodeId"] for n in q["nodes"] if n["nodeName"] == "WriteFiles"]
        if not roots:
            return 0, 0
        aggs: list[int] = []
        frontier = roots
        while frontier and len(aggs) < 2:
            nid = frontier.pop(0)
            if nodes[nid]["nodeName"] == "HashAggregate":
                aggs.append(nid)
            frontier.extend(sorted(children.get(nid, [])))
        if len(aggs) < 2:
            return 0, 0
        return rows(nodes[aggs[1]]), rows(nodes[aggs[0]])

    @staticmethod
    def totals(stages: list) -> dict:
        return {
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                            for s in stages) / 2**20,
            "out_mb": sum(s["outputBytes"] for s in stages) / 2**20,
        }


def sweep(t0: float, t1: float, intervals: list[tuple[float, float, int]],
          n_classes: int) -> list[float]:
    """Tile [t0, t1] by class: each instant is shared equally by the
    classes active then (stages of different layers run concurrently),
    or goes to class 0 when none is (driver-only time).  The returned
    seconds per class sum to exactly t1 - t0."""
    cuts = sorted({t0, t1, *(max(t0, min(t1, x)) for a, b, _ in intervals
                             for x in (a, b))})
    out = [0.0] * n_classes
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        active = {c for s, e, c in intervals if s <= mid < e} or {0}
        for c in active:
            out[c] += (b - a) / len(active)
    return out
