"""crawl-small-pages: closed-loop crawls of a seeded small-page corpus, each
checked page by page against OracleCrawler on the same corpus and config.

Untraced run (end-to-end metrics): set-up (session, SparkCrawler
construction, a warm-up crawl), then crawls back to back until
--seconds have passed. Traced run (per-layer metrics): one untraced crawl,
one traced crawl (TracedCrawler below), the event log of both, and one
untraced crawl on a local[1] context for the scaling ratio.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import statistics
import tempfile
import time

from pyspark.sql import functions as F

from perfbench import inputs, tracing
from perfbench.env import SCRATCH, build_session, cores
from transmogrify_webcrawler_spark.operators.dedup import (
    bloom_probe, seen_anti_join)
from transmogrify_webcrawler_spark.plans.crawl import SparkCrawler

INPUTS = "crawl"  # inputs.ensure kind


# layer spans recorded by TracedCrawler -> per-layer metric names
LAYERS = {
    "crawl.prepare": "crawl.prepare_s",
    "crawl.plan_build": "crawl.plan_build_s",
    "frontier.select": "frontier.select_s",
    "extract.fetch": "extract.fetch_s",
    "links.pipeline": "links.pipeline_s",
    "dedup.url_seen": "dedup.url_seen_s",
    "frontier.merge": "frontier.merge_s",
    "icetable.commit": "icetable.commit_s",
    "crawl.finalize": "crawl.finalize_s",
}
# spans of the tracer's own extra work (plan scans, the Bloom FP re-probe)
TRACE_WORK = ("trace.plan_scan", "trace.fp_probe")
# time inside the crawl but in no layer span
UNATTRIBUTED = ("crawl", "wave")


class TimedCrawler(SparkCrawler):
    """SparkCrawler that records each run_wave call's (start, end)."""

    def __init__(self, spark, store_path, cfg):
        super().__init__(spark, store_path, cfg)
        self.wave_windows: list[tuple[float, float]] = []

    def run_wave(self, *args, **kwargs):
        t0 = time.time()
        try:
            return super().run_wave(*args, **kwargs)
        finally:
            self.wave_windows.append((t0, time.time()))


class TracedCrawler(TimedCrawler):
    """Attribution only: wraps build_wave, materializes the handles it
    returns in dependency order (each in its own span), and lets the
    engine's run_wave commit them. The shipped path is not modified."""

    def __init__(self, spark, store_path, cfg, tracer):
        super().__init__(spark, store_path, cfg)
        self.tr = tracer
        self.counts = collections.Counter()
        self.python_nodes: list[int] = []
        self._prepare = None

    def run(self, pages, seeds):
        self._prepare = self.tr.begin("crawl.prepare")
        return super().run(pages, seeds)

    def _end_prepare(self):
        if self._prepare is not None:
            self.tr.end(self._prepare)
            self._prepare = None

    def run_wave(self, *args, **kwargs):
        self._end_prepare()
        with self.tr.span("wave"):
            return super().run_wave(*args, **kwargs)

    def finalize(self):
        self._end_prepare()
        with self.tr.span("crawl.finalize"):
            return super().finalize()

    def _commit(self, *args, **kwargs):
        with self.tr.span("icetable.commit"):
            return super()._commit(*args, **kwargs)

    def build_wave(self, wave, frontier, seen, shards, *args, **kwargs):
        tr, cfg, c = self.tr, self.cfg, self.counts
        with tr.span("crawl.plan_build"):
            w = super().build_wave(wave, frontier, seen, shards, *args,
                                   **kwargs)
        with tr.span("trace.plan_scan"):
            handles = ("selected", "parsed", "cand", "new_entries",
                       "crawled_new", "links_new", "ext_links", "errors",
                       "seen_new", "metrics", "frontier_next",
                       "bloom_append", "bloom_replace")
            self.python_nodes.append(sum(
                tracing.python_nodes(w[h]) for h in handles
                if w[h] is not None))
        with tr.span("frontier.select"):
            c["selected"] += w["selected"].count()
        with tr.span("extract.fetch"):
            for r in (w["parsed"].groupBy(F.col("status") == "ok")
                      .agg(F.count("*"), F.sum("n_bytes")).collect()):
                c["ok" if r[0] else "not_ok"] += r[1]
                c["bytes_in"] += r[2] or 0
        with tr.span("links.pipeline"):
            c["candidates"] += w["cand"].count()
        with tr.span("dedup.url_seen"):
            c["new"] += w["new_entries"].count()
        if shards is not None:
            with tr.span("trace.fp_probe"):
                flagged = bloom_probe(w["cand"], shards, cfg.n_bloom_shards,
                                      cfg.bloom_shard_bytes)
                suspects = flagged.filter("_maybe_seen").drop("_maybe_seen")
                c["bloom_fp"] += seen_anti_join(suspects, seen).count()
        with tr.span("frontier.merge"):
            c["frontier_rows"] += w["frontier_next"].count()
        return w


class Corpus:
    def __init__(self, path: str):
        self.path = path
        with open(os.path.join(path, "seeds.json")) as f:
            self.seeds = json.load(f)
        with open(os.path.join(path, "oracle.json")) as f:
            o = json.load(f)
        self.oracle: dict[str, str] = o["pages"]
        self.waves: int = o["waves"]


def _store() -> str:
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(prefix="store_", dir=SCRATCH)


def crawl_once(spark, crawler, corpus: Corpus, tracer=None) -> dict:
    """One timed crawl (run() plus the count of its output), then the
    oracle check outside the timed region."""
    pages = spark.read.parquet(os.path.join(corpus.path, "pages.parquet"))
    root = tracer.begin("crawl") if tracer else None
    t0 = time.perf_counter()
    out = crawler.run(pages, corpus.seeds)
    if tracer:
        with tracer.span("crawl.finalize"):
            n = out.count()
    else:
        n = out.count()
    wall = time.perf_counter() - t0
    if tracer:
        tracer.end(root)
    res = dict(wall=wall, rows=n, waves=len(crawler.wave_windows),
               wave_s=[b - a for a, b in crawler.wave_windows],
               **check(out, corpus.oracle))
    shutil.rmtree(crawler.store.root, ignore_errors=True)
    return res


def check(out, oracle: dict[str, str]) -> dict:
    rows = out.select("url_canon", "sortorder", "wave", "depth",
                      "extracted_text", "backlinks").collect()
    got = {r[0]: inputs.row_digest(*r[1:]) for r in rows}
    missing = oracle.keys() - got.keys()
    extra = len(got.keys() - oracle.keys()) + len(rows) - len(got)
    diff = sum(1 for u in got.keys() & oracle.keys() if got[u] != oracle[u])
    return dict(attempted=len(oracle), failed=len(missing) + extra + diff,
                matching=len(oracle) - len(missing) - diff)


def setup(inputs_dir: str, event_log_dir: str | None = None):
    """Session, crawler construction and a warm-up crawl of the workload's
    own corpus: the timed crawls then find the same plan shapes compiled
    and the same Python worker pool started. On the 4-vCPU box a crawl in
    a fresh JVM takes ~27 s and the next ~17 s; later ones fall ~1 s per
    crawl."""
    spark = build_session(cores(), event_log_dir)
    cfg, _ = inputs.crawl_configs()
    crawl_once(spark, TimedCrawler(spark, _store(), cfg), Corpus(inputs_dir))
    return spark


def run_untraced(spark, inputs_dir: str, seconds: float):
    """Crawls until `seconds` have passed. Returns (runs, end-to-end
    metrics, info)."""
    corpus = Corpus(inputs_dir)
    cfg, _ = inputs.crawl_configs()
    runs, t_end = [], time.perf_counter() + seconds
    while not runs or time.perf_counter() < t_end:
        runs.append(crawl_once(spark, TimedCrawler(spark, _store(), cfg),
                               corpus))
    waves = [s for r in runs for s in r["wave_s"]]
    pages_per_s = statistics.median(r["matching"] / r["wall"] for r in runs)
    metrics = {"items_per_s": pages_per_s,
               "step_s.geomean": statistics.geometric_mean(waves)}
    info = {"pages_per_s": pages_per_s,
            "wave_s.p50": statistics.median(waves),
            "crawls": len(runs), "waves_per_crawl": runs[0]["waves"],
            "oracle_waves": corpus.waves,
            "crawl_wall_s": [round(r["wall"], 3) for r in runs]}
    return runs, metrics, info


def tally(runs) -> tuple[int, int, str]:
    """(attempted, failed, base of the fail ratio)."""
    return (sum(r["attempted"] for r in runs),
            sum(r["failed"] for r in runs), "oracle pages x crawls")


def run_traced(spark, inputs_dir: str, event_log_dir: str, seed: int):
    """Returns (runs, per-layer metrics, wall/span breakdown). Stops
    `spark`; the local[1] context it starts afterwards is left to the
    caller's shutdown."""
    corpus = Corpus(inputs_dir)
    cfg, _ = inputs.crawl_configs()
    plain = TimedCrawler(spark, _store(), cfg)
    r4 = crawl_once(spark, plain, corpus)
    tr = tracing.Tracer(spark, f"crawl-seed{seed}")
    traced = TracedCrawler(spark, _store(), cfg, tr)
    rt = crawl_once(spark, traced, corpus, tracer=tr)
    spark.stop()  # closes the event log
    jobs = tracing.read_event_log(event_log_dir)

    spark1 = build_session(1)
    # the engine's module-level UDFs keep the Java UDF built in the first
    # context, whose Python accumulator server is gone: each task then logs
    # a harmless accumulator-update ERROR; silence it for this context
    spark1.sparkContext.setLogLevel("OFF")
    r1 = crawl_once(spark1, TimedCrawler(spark1, _store(), cfg), corpus)

    m = {}
    self_t = tr.self_times()
    for span, name in LAYERS.items():
        m[name] = self_t.get(span, 0.0)
    m["trace.probe_s"] = sum(self_t.get(s, 0.0) for s in TRACE_WORK)
    m["trace.unattributed_s"] = sum(self_t.get(s, 0.0) for s in UNATTRIBUTED)
    m["trace.overhead_s"] = rt["wall"] - r4["wall"]
    c = traced.counts
    m["crawl.waves"] = rt["waves"]
    m["frontier.selected_rows"] = c["selected"]
    m["extract.mb_in"] = c["bytes_in"] / (1 << 20)
    m["extract.ok_ratio"] = c["ok"] / max(c["ok"] + c["not_ok"], 1)
    m["links.candidates"] = c["candidates"]
    m["dedup.new_ratio"] = c["new"] / max(c["candidates"], 1)
    m["dedup.bloom_fp_ratio"] = c["bloom_fp"] / max(c["new"], 1)
    m["frontier.rows"] = c["frontier_rows"]

    def in_span(job, names):
        s = tr.innermost(job["submitted"])
        return s is not None and s["name"] in names

    commit = [j for j in jobs if in_span(j, ("icetable.commit",))]
    m["icetable.commit_jobs"] = len(commit)
    m["icetable.mb_written"] = tracing.job_totals(commit)["out_mb"]
    m["trace.unattributed_jobs"] = sum(
        1 for j in jobs if in_span(j, UNATTRIBUTED))

    # engine counters per wave, from the UNTRACED crawl's wave windows
    # (the traced crawl adds its own materialization jobs)
    wave_jobs = [j for j in jobs
                 if any(a <= j["submitted"] / 1000.0 <= b
                        for a, b in plain.wave_windows)]
    n_waves = max(len(plain.wave_windows), 1)
    tot = tracing.job_totals(wave_jobs)
    m["spark.jobs_per_wave"] = tot["jobs"] / n_waves
    m["spark.tasks_per_wave"] = tot["tasks"] / n_waves
    m["spark.shuffle_mb"] = tot["shuffle_mb"] / n_waves
    m["spark.spill_mb"] = tot["spill_mb"] / n_waves
    m["spark.gc_s"] = tot["gc_s"] / n_waves
    m["spark.task_skew"] = tracing.worst_skew(wave_jobs, cores())
    m["spark.python_nodes_per_wave"] = (
        sum(traced.python_nodes) / max(len(traced.python_nodes), 1))
    m["scaling.eff_1_to_4"] = r1["wall"] / r4["wall"] / cores()

    breakdown = dict(traced_wall_s=rt["wall"], span_sum_s=sum(self_t.values()),
                     untraced_wall_s=r4["wall"], local1_wall_s=r1["wall"],
                     self_times=self_t)
    return [r4, rt, r1], m, breakdown
