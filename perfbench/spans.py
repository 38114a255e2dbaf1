"""Spans recorded from the benchmark's side of each call into a layer.

A span is (name, layer, job group, parent, start, end).  Spans that carry
a job group tag every Spark job started inside them through
``SparkContext.setJobGroup``.  After the workload, ``collect`` waits for
the listener bus to drain and copies the jobs, their stages and the SQL
executions' Python-UDF metrics out of the status stores (the UI stays
disabled), so no status-store read falls inside a timed region.  The
stores keep the last 1000 jobs and stages by default; a workload that
outgrows them is reported on stderr.  Everything stays in memory until
``dump``.
"""

from __future__ import annotations

import json
import re
import sys
import time
from contextlib import contextmanager

# SQL metric display names of the Python-runner metrics
PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_start_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '9.9 s', '782.9 KiB', '100,000', or
    the 'total (min, med, max ...)\\n<total> (...)' form."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


class Tracer:
    """Records spans and the Spark jobs/stages/executions they caused."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.executions: dict[int, dict] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        if group is not None:
            sc.setJobGroup(group, name)
        rec = {"name": name, "layer": layer, "group": group,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                sc.setLocalProperty("spark.job.description", prev_desc)

    # -- status stores ------------------------------------------------------
    def collect(self) -> None:
        """Copy every finished job, its stages and the SQL executions.

        Each store is read as one JSON document (Spark's own Jackson with
        the Scala module), not object by object over the py4j bridge."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = sc._jvm
        scala = jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$").getField("MODULE$").get(None)
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala)

        def read(obj):
            return json.loads(mapper.writeValueAsString(obj))

        store = jsc.statusStore()
        for j in read(store.jobsList(None)):
            self.jobs[j["jobId"]] = {
                "group": j.get("jobGroup"),
                "start": j["submissionTime"] / 1000.0 if j.get("submissionTime") else None,
                "end": j["completionTime"] / 1000.0 if j.get("completionTime") else None,
                "stages": j["stageIds"],
            }
        if self.jobs and len(self.jobs) <= max(self.jobs):
            print(f"perfbench: {max(self.jobs) + 1 - len(self.jobs)} jobs were evicted "
                  "from the status store; layer figures are incomplete", file=sys.stderr)
        last: dict[int, dict] = {}
        for st in read(store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0),
                                       None)):
            if st["stageId"] not in last or st["attemptId"] > last[st["stageId"]]["attemptId"]:
                last[st["stageId"]] = st
        # a stage listed by several jobs (a reused shuffle) ran once: charge
        # it to the first job that lists it
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stages"]:
                st = last.get(sid)
                if st is None or sid in self.stages:
                    continue
                self.stages[sid] = {
                    "job": jid,
                    "run_s": st["executorRunTime"] / 1e3,
                    "cpu_s": st["executorCpuTime"] / 1e9,
                    "gc_s": st["jvmGcTime"] / 1e3,
                    "shuffle_bytes": st["shuffleReadBytes"] + st["shuffleWriteBytes"],
                    "spill_bytes": st["diskBytesSpilled"],
                }
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in read(sql.executionsList()):
            names = {m["accumulatorId"]: PY_METRICS[m["name"]]
                     for m in e["metrics"] if m["name"] in PY_METRICS}
            py: dict[str, float] = {}
            if names:
                # keyed by accumulator, so a node AQE lists once per plan
                # version counts once
                for acc, text in read(sql.executionMetrics(e["executionId"])).items():
                    key = names.get(int(acc))
                    if key is not None:
                        py[key] = py.get(key, 0.0) + parse_metric(text)
            self.executions[e["executionId"]] = {"jobs": [int(j) for j in e["jobs"]],
                                                 "python": py}

    # -- queries over what was recorded ------------------------------------
    def group_jobs(self, pred) -> list[int]:
        return [jid for jid, j in self.jobs.items() if pred(j["group"])]

    def stage_sum(self, job_ids, field: str) -> float:
        ids = set(job_ids)
        return sum(s[field] for s in self.stages.values() if s["job"] in ids)

    def python_sum(self, job_ids, field: str) -> float:
        ids = set(job_ids)
        return sum(e["python"].get(field, 0.0) for e in self.executions.values()
                   if ids.intersection(e["jobs"]))

    def job_intervals(self, job_ids) -> list[tuple[float, float]]:
        return [(self.jobs[j]["start"], self.jobs[j]["end"]) for j in job_ids
                if self.jobs[j]["start"] is not None and self.jobs[j]["end"] is not None]

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["parent"] == idx]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return (s["end"] - s["start"]) - sum(
            self.spans[c]["end"] - self.spans[c]["start"] for c in self.children(idx))

    def dump(self, path) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6),
             "self_s": round(self.self_time(i), 6)}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "jobs": self.jobs, "stages": self.stages,
                       "executions": self.executions}, f)
