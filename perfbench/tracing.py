"""Spans recorded around calls into the engine's layers, and the Spark
event log read back to attribute jobs, tasks and bytes to them.

A span is (name, start, end, parent, run id). Spans are kept in memory;
each one also sets the Spark job group, and jobs are attributed to the
innermost span whose interval holds their submission time (the engine
submits commit writes from its own threads, which do not inherit the job
group). A span's self time is its duration minus its children's.
"""

from __future__ import annotations

import collections
import json
import os
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def begin(self, name: str) -> dict:
        s = dict(name=name, start=time.time(), end=None, run=self.run_id,
                 parent=self._stack[-1]["id"] if self._stack else None,
                 id=len(self.spans))
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"{self.run_id}:{name}", name)
        return s

    def end(self, s: dict) -> None:
        s["end"] = time.time()
        if not self._stack or self._stack[-1] is not s:
            raise RuntimeError(f"span {s['name']} ended out of order")
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"{self.run_id}:{top['name']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setJobDescription(None)

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def self_times(self) -> dict[str, float]:
        """name -> summed self time (s) over all spans of that name."""
        child = collections.defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = collections.defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def innermost(self, t_ms: float) -> dict | None:
        """Innermost span holding the epoch-millisecond time `t_ms`."""
        t = t_ms / 1000.0
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (
                    best is None or s["start"] >= best["start"]):
                best = s
        return best


# -- event log ----------------------------------------------------------------

_KEEP = (b"SparkListenerJobStart", b"SparkListenerTaskEnd")


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (single, closed) application log in `log_dir`, each
    with its submission time and the task metrics of its stages. Only the
    two event kinds needed are JSON-decoded; the large SQL plan events
    are skipped by prefix."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path, "rb") as f:
            for line in f:
                head = line[:48]
                if not any(k in head for k in _KEEP):
                    continue
                e = json.loads(line)
                if e["Event"] == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = dict(
                        submitted=e["Submission Time"], stages={})
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = e["Job ID"]
                elif e["Event"] == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    if job is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    om = m.get("Output Metrics") or {}
                    job["stages"].setdefault(e["Stage ID"], []).append(dict(
                        run_ms=m.get("Executor Run Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_b=sw.get("Shuffle Bytes Written", 0),
                        spill_b=m.get("Disk Bytes Spilled", 0),
                        out_b=om.get("Bytes Written", 0)))
    return list(jobs.values())


def job_totals(jobs: list[dict]) -> dict:
    tasks = [t for j in jobs for ts in j["stages"].values() for t in ts]
    mb = 1 << 20
    return dict(jobs=len(jobs), tasks=len(tasks),
                shuffle_mb=sum(t["shuffle_b"] for t in tasks) / mb,
                spill_mb=sum(t["spill_b"] for t in tasks) / mb,
                out_mb=sum(t["out_b"] for t in tasks) / mb,
                gc_s=sum(t["gc_ms"] for t in tasks) / 1000.0)


def worst_skew(jobs: list[dict], min_tasks: int) -> float:
    """max/median executor run time over the tasks of each stage with at
    least `min_tasks` tasks; the worst stage's ratio (1.0 if none)."""
    worst = 1.0
    for j in jobs:
        for ts in j["stages"].values():
            if len(ts) < min_tasks:
                continue
            med = statistics.median(t["run_ms"] for t in ts)
            worst = max(worst, max(t["run_ms"] for t in ts) / max(med, 1))
    return worst


# -- plan shape ---------------------------------------------------------------

_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def python_nodes(df) -> int:
    """Python evaluation nodes in the physical plan that computes `df`.
    A persisted `df` counts the plan that fills its cache; cached inputs
    (InMemoryTableScan) and reused exchanges are leaves, so work that is
    cached once is counted once."""
    cached = (df.sparkSession._jsparkSession.sharedState().cacheManager()
              .lookupCachedData(df._jdf))
    plan = (cached.get().cachedRepresentation().cachedPlan()
            if cached.isDefined() else df._jdf.queryExecution().executedPlan())
    n, stack = 0, [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage") and "TableCache" not in name:
            stack.append(node.plan())
            continue
        if _PYTHON_NODE.search(name):
            n += 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n
