#!/usr/bin/env python3
"""Crawl-and-query benchmark for the transmogrify_webcrawler_spark engine.

    python3 perfbench/run.py --workload crawl-small-pages|queries \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from --seed (and
cached under .perfbench/inputs), every output is checked against the pinned
oracles, and the last stdout line is one JSON object:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value",
"unit"}}} with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it records the environment and the workload's
own metric names. NOTES.md describes the workloads and metrics.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env, inputs  # noqa: E402

# workload -> the perfbench module that runs it
WORKLOADS = {"crawl-small-pages": "crawlbench",
             "queries-sf0.01": "querybench"}

END_TO_END = {
    "items_per_s": "1/s",
    "step_s.geomean": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

_CRAWL_LAYER = {
    "crawl.waves": "count",
    "crawl.prepare_s": "s",
    "crawl.plan_build_s": "s",
    "frontier.select_s": "s",
    "frontier.selected_rows": "count",
    "extract.fetch_s": "s",
    "extract.mb_in": "MB",
    "extract.ok_ratio": "ratio",
    "links.pipeline_s": "s",
    "links.candidates": "count",
    "dedup.url_seen_s": "s",
    "dedup.new_ratio": "ratio",
    "dedup.bloom_fp_ratio": "ratio",
    "frontier.merge_s": "s",
    "frontier.rows": "count",
    "icetable.commit_s": "s",
    "icetable.commit_jobs": "count",
    "icetable.mb_written": "MB",
    "crawl.finalize_s": "s",
    "spark.jobs_per_wave": "count",
    "spark.tasks_per_wave": "count",
    "spark.python_nodes_per_wave": "count",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "scaling.eff_1_to_4": "ratio",
    "trace.probe_s": "s",
    "trace.unattributed_jobs": "count",
}
_QUERY_LAYER = {}
for _q in inputs.QUERIES:
    _QUERY_LAYER.update({f"harness.{_q}.s": "s",
                         f"harness.{_q}.build_s": "s",
                         f"harness.{_q}.shuffle_mb": "MB",
                         f"harness.{_q}.leaked_persists": "count"})
PER_LAYER = {**_CRAWL_LAYER, **_QUERY_LAYER,
             "trace.overhead_s": "s", "trace.unattributed_s": "s"}


def _run(args, t_inputs_start: float):
    """Inputs, set-up, then the untraced or the traced run of the
    workload's module (crawlbench or querybench)."""
    mod = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    inputs_dir = inputs.ensure(mod.INPUTS, args.seed)
    t_inputs = time.perf_counter() - t_inputs_start
    log_dir = os.path.join(env.SCRATCH, "eventlog") if args.trace else None
    with env.RssSampler() as rss:
        spark = mod.setup(inputs_dir, log_dir)
        setup_s = time.perf_counter() - T_START - t_inputs
        info = env.describe(spark)
        if args.trace:
            runs, metrics, extra = mod.run_traced(spark, inputs_dir, log_dir,
                                                  args.seed)
        else:
            runs, metrics, extra = mod.run_untraced(spark, inputs_dir,
                                                    args.seconds)
            metrics["setup_s"] = setup_s
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak_mb
    attempted, failed, base = mod.tally(runs)
    info.update(extra, fail_ratio=failed / attempted, fail_ratio_base=base)
    return info, metrics, attempted, failed


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    try:
        import pyspark  # noqa: F401
        import transmogrify_webcrawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    env.prepare_process_env()

    t_inputs_start = time.perf_counter()
    try:
        info, metrics, attempted, failed = _run(args, t_inputs_start)
    finally:
        env.shutdown()
        shutil.rmtree(env.SCRATCH, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    values = {name: float(metrics.get(name, 0.0)) for name in units}
    info.update(workload=args.workload, seed=args.seed, trace=args.trace)
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
