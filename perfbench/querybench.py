"""queries: the harness query mix over seeded harness tables, each query
timed cold (cache cleared first) from DataFrame build through collecting
its result, which is then hash-checked against DuckDB oracle_sql().

Untraced run (end-to-end metrics): set-up (session plus one warm-up query
outside the mix), then passes over the mix until --seconds have passed.
Traced run (per-layer metrics): every query once untraced and once with a
span (children: build, sink), alternating the order, plus the event log.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench import inputs, tracing
from perfbench.env import build_session, cores
from selfcheck import _norm, _value_hash
from transmogrify_webcrawler_spark import harness


INPUTS = "queries"  # inputs.ensure kind


def setup(tables: str, event_log_dir: str | None = None):
    """Session and the warm-up query."""
    spark = build_session(cores(), event_log_dir)
    harness.queries()[inputs.WARMUP_QUERY](spark, tables).toPandas()
    spark.catalog.clearCache()
    return spark


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def run_query(spark, tables: str, q: str, oracle: dict, tracer=None) -> dict:
    """One cold query: wall time from build through the collected result,
    the persisted RDDs it left behind, and the oracle verdict."""
    spark.catalog.clearCache()
    before = _persisted(spark)
    span = tracer.begin(f"harness.{q}") if tracer else None
    t0 = time.perf_counter()
    try:
        if tracer:
            with tracer.span("build"):
                df = harness.queries()[q](spark, tables)
            b = time.perf_counter() - t0
            with tracer.span("sink"):
                pdf = df.toPandas()
        else:
            df = harness.queries()[q](spark, tables)
            b = time.perf_counter() - t0
            pdf = df.toPandas()
        err = None
    except Exception as e:  # noqa: BLE001 — a failing query is counted
        pdf, b, err = None, 0.0, f"{type(e).__name__}: {e}"[:300]
    wall = time.perf_counter() - t0
    if span:
        tracer.end(span)
    ok = False
    if pdf is not None:
        got = _norm(pdf)
        want = oracle[q]
        ok = (len(got) == want["rows"]
              and sorted(got.columns) == want["cols"]
              and _value_hash(got) == want["hash"])
    return dict(s=wall, build_s=b, ok=ok, err=err,
                leaked=len(_persisted(spark) - before))


def run_pass(spark, tables: str, oracle: dict) -> dict:
    res = {q: run_query(spark, tables, q, oracle) for q in inputs.QUERIES}
    spark.catalog.clearCache()
    return res


def _load_oracle(tables: str) -> dict:
    with open(os.path.join(tables, "oracle.json")) as f:
        return json.load(f)


def run_untraced(spark, tables: str, seconds: float):
    """Passes over the mix until `seconds` have passed. Returns (passes,
    end-to-end metrics, info)."""
    oracle = _load_oracle(tables)
    passes, t_end = [], time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(run_pass(spark, tables, oracle))
    walls = [sum(r["s"] for r in p.values()) for p in passes]
    geomeans = [statistics.geometric_mean([r["s"] for r in p.values()])
                for p in passes]
    metrics = {
        "items_per_s": statistics.median(
            sum(r["ok"] for r in p.values()) / w
            for p, w in zip(passes, walls)),
        "step_s.geomean": statistics.median(geomeans),
    }
    info = {"queries_wall_s": statistics.median(walls),
            "queries_geomean_s": metrics["step_s.geomean"],
            "passes": len(passes),
            "query_s": {q: round(r["s"], 3) for q, r in passes[0].items()},
            "failed_queries": {q: r["err"] for p in passes
                               for q, r in p.items() if not r["ok"]}}
    return passes, metrics, info


def tally(passes) -> tuple[int, int, str]:
    """(attempted, failed, base of the fail ratio)."""
    failed = [q for p in passes for q, r in p.items() if not r["ok"]]
    return sum(len(p) for p in passes), len(failed), "queries run"


def run_traced(spark, tables: str, event_log_dir: str, seed: int):
    """Each query once untraced and once traced, alternating which runs
    first so that the JIT warm-up left by the first run does not all land
    on one side. Returns (both passes, per-layer metrics, info). Stops
    `spark`."""
    oracle = _load_oracle(tables)
    tr = tracing.Tracer(spark, f"queries-seed{seed}")
    plain, traced = {}, {}
    for i, q in enumerate(inputs.QUERIES):
        for use_tracer in ((False, True) if i % 2 == 0 else (True, False)):
            side = traced if use_tracer else plain
            side[q] = run_query(spark, tables, q, oracle,
                                tr if use_tracer else None)
    spark.catalog.clearCache()
    spark.stop()  # closes the event log
    jobs = tracing.read_event_log(event_log_dir)

    shuffle = {q: 0.0 for q in inputs.QUERIES}
    for j in jobs:
        s = tr.innermost(j["submitted"])
        while s is not None and s["parent"] is not None:
            s = tr.spans[s["parent"]]
        if s is not None:
            shuffle[s["name"][len("harness."):]] += (
                tracing.job_totals([j])["shuffle_mb"])
    m = {}
    for q, r in traced.items():
        m[f"harness.{q}.s"] = r["s"]
        m[f"harness.{q}.build_s"] = r["build_s"]
        m[f"harness.{q}.shuffle_mb"] = shuffle[q]
        m[f"harness.{q}.leaked_persists"] = r["leaked"]
    m["trace.overhead_s"] = (sum(r["s"] for r in traced.values())
                             - sum(r["s"] for r in plain.values()))
    # time inside a query span but outside its build and sink children
    self_t = tr.self_times()
    m["trace.unattributed_s"] = sum(self_t.get(f"harness.{q}", 0.0)
                                    for q in inputs.QUERIES)
    failed = {q: r["err"] for p in (plain, traced) for q, r in p.items()
              if not r["ok"]}
    return [plain, traced], m, {"failed_queries": failed}
