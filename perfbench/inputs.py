"""Seeded benchmark inputs and their oracle digests.

Each workload's inputs are generated from --seed and checked against the
pinned single-process oracles in a CHILD process (``python3 -m
perfbench.inputs <workload> --seed N``), so neither the generated rows nor
the oracle's working set ever sit in the measured driver process. The
result is cached under .perfbench/inputs/<workload>/seed-<N>/ and reused by
every later run with the same seed.

- crawl: a ``generate_corpus`` pages parquet, its seed list, and per-URL
  digests of ``OracleCrawler`` output on the same corpus and config.
- queries: documents / lineitem / embeddings parquet tables shaped like the
  harness test data, and a dtype-strict value hash per query from DuckDB
  ``harness.oracle_sql()`` (the ``selfcheck.py`` comparator).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

from perfbench.env import CACHE, ROOT

# crawl-small-pages: 30-word (~4 KB) pages, 60% of them on one domain. A
# dense seed sample (every 4th page) fills the wave budget of a quarter of
# the corpus from the first wave on. One wave per crawl: every wave costs
# ~10 s of fixed cost on a 4-vCPU box, and the run budget holds one.
CRAWL = dict(pages=1600, body_words=30, hot_share=0.6, seed_every=4,
             max_waves=1)

# queries-sf0.01: table sizes (rows) of the harness's sf0.01 data
DOCS, LINEITEM, EMBEDDINGS = 500, 60_000, 500
# One query per operator family, plus the two cheap scans. Left out for the
# run budget (cold-pass cost on 4 vCPUs): dup_clusters and dedup_retention
# (~18 s together) and ngram_jaccard (~4 s), whose ngram_jaccard_pairs
# canonical_quality also runs; simhash_verified (~3.5 s), the second
# similarity query beside minhash_incremental; hits (~3.5 s), the second
# graph query beside pagerank; and kmeans (~5 s).
QUERIES = ("canonical_quality", "minhash_incremental", "pagerank",
           "cms_topk", "token_count", "pricing_summary")
WARMUP_QUERY = "doc_fingerprint"


def crawl_configs():
    """(SparkCrawlConfig, oracle CrawlConfig) for CRAWL: the shipped
    defaults (per-wave fetch, Bloom on, full corpus cache, synchronous
    commits) with a wave budget of a quarter of the corpus."""
    from transmogrify_webcrawler_spark.oracle import CrawlConfig
    from transmogrify_webcrawler_spark.plans.crawl import SparkCrawlConfig
    from transmogrify_webcrawler_spark.sources.corpus import DEFAULT_IGNORE

    common = dict(wave_size=CRAWL["pages"] // 4,
                  per_domain_budget=10**9, maxsize=512 * 1024,
                  ignore=DEFAULT_IGNORE, max_waves=CRAWL["max_waves"],
                  # crawl-delay politeness made non-binding, as bench.py
                  wave_seconds=1e18)
    return (SparkCrawlConfig(arrow_batch=2048, **common),
            CrawlConfig(**common))


def row_digest(sortorder, wave, depth, text, backlinks) -> str:
    """Digest of one crawled page over the checked columns."""
    payload = json.dumps([int(sortorder), int(wave), int(depth), text,
                          list(backlinks)], ensure_ascii=False)
    return hashlib.md5(payload.encode("utf-8")).hexdigest()


# -- child-process side -------------------------------------------------------

def _build_crawl(out: str, seed: int) -> None:
    from transmogrify_webcrawler_spark.oracle import OracleCrawler
    from transmogrify_webcrawler_spark.sources.corpus import (
        generate_corpus, pages_index, write_parquet)

    n = CRAWL["pages"]
    rows, seeds, robots = generate_corpus(
        n_domains=max(8, n // 500), total_pages=n, seed=seed,
        body_words=CRAWL["body_words"], hot_share=CRAWL["hot_share"],
        parallel=False)
    dense = [r["url"] for r in rows[::CRAWL["seed_every"]]
             if not r["url"].endswith("/robots.txt")]
    seeds = sorted(set(seeds) | set(dense))
    write_parquet(rows, os.path.join(out, "pages.parquet"))
    _, ocfg = crawl_configs()
    crawled = OracleCrawler(pages_index(rows), robots, seeds, ocfg).run()
    digest = {r["url_canon"]: row_digest(r["sortorder"], r["wave"],
                                         r["depth"], r["extracted_text"],
                                         r["backlinks"])
              for r in crawled}
    with open(os.path.join(out, "seeds.json"), "w") as f:
        json.dump(seeds, f)
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(dict(pages=digest,
                       waves=max((r["wave"] for r in crawled), default=-1)
                       + 1), f)


_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()


def _build_tables(out: str, seed: int) -> None:
    """Harness tables with the shapes and value ranges of the harness's
    synthetic sf test data: 30-word vocabulary texts of 10-100 words with 5%
    near-duplicates ('<earlier text> dup'), a TPC-H-like lineitem, and
    64-dim float embeddings."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed % 2**63)  # numpy takes no negatives
    texts = []
    for i in range(DOCS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, n)))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], DOCS,
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(DOCS)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    n = LINEITEM
    day0 = np.datetime64("1995-01-02")
    ship = day0 + rng.integers(0, 2498, n).astype("timedelta64[D]")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n // 30, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(n // 600, 1), n),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float),
                               pa.float64()),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900, 105000, n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n),
                                 pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"),
                               pa.timestamp("us")),
    }), os.path.join(out, "lineitem.parquet"))

    emb = rng.normal(0, 0.13, (EMBEDDINGS, 64)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS), pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))

    import duckdb

    from selfcheck import _norm, _value_hash
    from transmogrify_webcrawler_spark import harness

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "lineitem", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(out, t + '.parquet')}'")
    oracles = harness.oracle_sql()
    want = {}
    for q in QUERIES:
        pdf = _norm(con.sql(oracles[q]).df())
        want[q] = dict(rows=len(pdf), cols=sorted(pdf.columns),
                       hash=_value_hash(pdf))
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(want, f)


def _dir(workload: str, seed: int) -> str:
    return os.path.join(CACHE, workload, f"seed-{seed}")


def ensure(workload: str, seed: int) -> str:
    """Inputs dir for (workload, seed), built by a child process when not
    cached. `workload` is 'crawl' or 'queries'."""
    out = _dir(workload, seed)
    if not os.path.exists(out):
        subprocess.run([sys.executable, "-m", "perfbench.inputs", workload,
                        "--seed", str(seed)], cwd=ROOT, check=True)
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("workload", choices=("crawl", "queries"))
    p.add_argument("--seed", type=int, required=True)
    a = p.parse_args()
    out = _dir(a.workload, a.seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if a.workload == "queries":
        _build_tables(tmp, a.seed)
    else:
        _build_crawl(tmp, a.seed)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


if __name__ == "__main__":
    main()
