"""Benchmark harness: headline crawl throughput + query battery timings.

Default run (driver contract): one JSON line
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
   "sf": ..., "crawl": {...}}

Headline: full deterministic BFS crawl of the scaled synthetic web
(documents.parquet × MULT) — the north_rule metric is frontier-expansion
throughput (URLs scheduled + deduped per second).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# crawl scale: pages = docs × MULT; budget sized for ~6-8 BFS rounds
MULT = int(os.environ.get("BENCH_MULT", "8"))

# The battery entries that run a FULL crawl: the bench measures one crawl,
# as crawl_bfs_full, instead. Every other battery entry is timed.
FULL_CRAWL_QUERIES = ("crawl_reach_seen", "crawl_bfs_trace", "crawl_host_stats")


def build_session(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("webcrawl-bench")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.default.parallelism", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("BENCH_DRIVER_MEM", "16g"))
        .getOrCreate()
    )


def session(cpus: int):
    """Session with webcrawl_spark shipped to executor workers
    (spark-submit --py-files model; see __spark_entry__)."""
    spark = build_session(cpus)
    import __spark_entry__ as E

    E._ensure_shipped(spark)
    return spark


def run_crawl(spark, sf_dir: str, mult: int, n_seeds: int = 4, target_rounds: int = 7,
              n_hosts: int | None = None):
    """Returns (elapsed_s, urls_fetch_scheduled, new_links_deduped, rounds, pages).

    The politeness budget is sized from the LARGEST host's queue (host 0
    holds ~23% of pages by construction) so the mega-host drains in a
    handful of rounds instead of serializing the crawl. On a real cluster
    the same round sizes arise from host COUNT (10^7 hosts × small per-host
    budget); with 32 synthetic hosts the per-host budget stands in for it.
    """
    from webcrawl_spark.plans.crawl import SparkCrawler
    from webcrawl_spark.sources import synth_web as SW

    pages = SW.synth_pages(
        spark, sf_dir, None, mult=mult, n_hosts=n_hosts or SW.N_HOSTS
    ).localCheckpoint(eager=True)  # synthesis cost outside the timed region
    n_pages = pages.count()
    if n_hosts is None:
        n_hosts = SW.N_HOSTS
    # mega-host holds ~1/MEGA_MOD of pages; size its drain to ~target_rounds
    budget = max(8, n_pages // SW.MEGA_MOD // target_rounds)
    bloom_bits = 1 << max(17, (n_pages * 16 // 32).bit_length())
    # partition count sized to the DATA, not the core count: a round moves
    # ~n_pages/target_rounds rows, and a handful of thousands of rows per
    # task amortizes the per-task (python worker + scheduler) overhead.
    n_part = min(64, max(8, n_pages // 2500))
    cfg = SW.crawl_config(
        num_partitions=n_part,
        max_connections_per_server=budget,
        bloom_bits=bloom_bits,
    )
    state = tempfile.mkdtemp(prefix="bench_state_")
    try:
        t0 = time.time()
        c = SparkCrawler(spark, pages, SW.seed_urls(n_seeds, n_hosts), state, cfg)
        m = c.run()
        elapsed = time.time() - t0
        return elapsed, m.next_fetch_seq, m.next_seq, m.next_round, n_pages
    finally:
        shutil.rmtree(state, ignore_errors=True)


def run_queries(spark, sf_dir: str) -> dict:
    import webcrawl_spark.queries as Q

    times = {}
    for name, fn in Q.QUERIES.items():
        if name in FULL_CRAWL_QUERIES:
            continue
        t0 = time.time()
        n = fn(spark, sf_dir).count()
        times[name] = round(time.time() - t0, 3)
        assert n >= 0
    return times


def main_default():
    spark = session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # Machine-state control (VERDICT r4 item 2): a fixed zero-engine Arrow
    # stage (regex scan over documents.parquet, no shuffle, no engine code)
    # timed and recorded in every BENCH_r*.json as ``control_sec``. Any
    # reader can normalize suite numbers across machine states by the ratio
    # of control_sec between two records — the stage never changes with the
    # engine. A short warm-up action first so JVM/python-worker cold start
    # doesn't pollute the control itself.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    docs_path = os.path.join(SF_DIR, "documents.parquet")
    run_control(spark, docs_path)  # warm python workers + parquet footer
    ctrl_s, _ = run_control(spark, docs_path)
    run_shuffle_control(spark)  # warm the shuffle path once
    ctrl_sh_s = run_shuffle_control(spark)
    ctrl_job_ms = run_job_latency_control(spark)

    t_all = time.time()
    # endswith, not substring: "0.1" in SF_DIR would match sf0.01 too
    n_base = 5000 if SF_DIR.rstrip("/").endswith("sf0.1") else 500
    crawl_s, n_urls, n_dedup, rounds, n_pages = run_crawl(
        spark, SF_DIR, MULT,
        n_seeds=max(4, n_base * MULT // 50),
        n_hosts=max(32, n_base * MULT // 250),
    )
    qtimes = run_queries(spark, SF_DIR)
    total = round(time.time() - t_all, 3)

    # Second control AFTER the suite: the box state can drift WITHIN a
    # run (observed round 5: start-control 0.38 with a suite 2.7x the
    # clean record — interference arriving mid-run). Bracketing the suite
    # with two controls makes intra-run drift visible in the record
    # itself: a reader trusts the suite number only when start and end
    # controls agree.
    ctrl_end_s, _ = run_control(spark, docs_path)

    out = {
        "metric": "bench suite wall time (crawl + query battery)",
        "value": total,
        "unit": "sec",
        "queries": dict(
            {"crawl_bfs_full": round(crawl_s, 3)}, **qtimes
        ),
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "control_sec": round(ctrl_s, 3),
        "control_end_sec": round(ctrl_end_s, 3),
        "control_shuffle_sec": round(ctrl_sh_s, 3),
        "control_job_ms": round(ctrl_job_ms, 1),
        "crawl": {
            "pages": n_pages,
            "rounds": rounds,
            "urls_scheduled": n_urls,
            "urls_deduped": n_dedup,
            "seconds": round(crawl_s, 3),
            "urls_per_sec": round(n_urls / crawl_s, 1),
            "frontier_throughput_per_sec": round((n_urls + n_dedup) / crawl_s, 1),
        },
    }
    print(json.dumps(out))


def run_control(spark, pages_path: str):
    """Machine-state control: ONE embarrassingly-parallel Arrow stage
    (regex scan per page, no shuffle, no engine code), so its wall time
    moves with the box, never with the engine. Returns (seconds, links)."""
    import re
    import pandas as pd

    rx = re.compile(r'<a\s[^>]*?href\s*=\s*"([^"]+)"', re.I | re.S)

    def stage(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [sum(len(rx.findall(t)) for t in pdf["text"])]})

    from pyspark.sql import functions as F

    df = spark.read.parquet(pages_path).select("text")
    t0 = time.time()
    total = df.mapInPandas(stage, "n long").agg(F.sum("n")).first()[0]
    return time.time() - t0, int(total)


def run_shuffle_control(spark):
    """Second machine-state control: ONE fixed zero-engine SHUFFLE
    (range → repartition(32) → sum). The Arrow control above is pure
    compute and misses the axis the crawl leg lives on — scheduler
    latency + shuffle write/fetch. Round-5 session 13 observed a box
    where the Arrow control matched the clean reference (0.23-0.37 vs
    0.30) while this stage and trivial-job latency ran ~1.5-1.7x slower,
    inflating ONLY the many-small-jobs crawl leg (26.5s -> 44-45s on
    bit-identical code). Recording both controls makes the two slowdown
    classes separately normalizable."""
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.range(10_000_000).repartition(32).agg(F.sum("id")).collect()
    return time.time() - t0


def run_job_latency_control(spark):
    """Third control: median wall time of a trivial single-stage job
    (milliseconds) — pure driver/scheduler round-trip, no data. The
    crawl pays ~20 such round-trips per round (AQE stage jobs, state
    writes, checkpoint cuts), so its fixed floor scales with THIS number,
    not with Arrow throughput."""
    samples = []
    for _ in range(11):
        t0 = time.time()
        spark.range(100).selectExpr("count(*)").collect()
        samples.append(time.time() - t0)
    samples.sort()
    return samples[len(samples) // 2] * 1000.0


if __name__ == "__main__":
    main_default()
