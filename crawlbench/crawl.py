"""One measured crawl of a workload, and the machine-state controls.

The crawl is a closed loop with one client: one ``SparkCrawler`` at a time
in this process, no other load. Timing hooks sit on the crawler instance
only (its ``_run_one`` and its state's ``commit``), so an untraced crawl
runs the program's own classes unwrapped.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field


@dataclass
class CrawlResult:
    crawl_s: float
    resume_s: float            # construction to first committed round
    rounds: int
    round_s: list = field(default_factory=list)
    scheduled: int = 0         # URLs selected for fetch (next_fetch_seq)
    deduped: int = 0           # URLs admitted to the seen set (next_seq)
    state_dir: str = ""
    crawler: object = None     # the last crawler, for the oracle check


def _hook_instance(c, round_s: list, first_commit: list, start_round: int):
    run_one, commit = c._run_one, c.state.commit

    def timed_run_one(m, carry):
        t = time.perf_counter()
        try:
            return run_one(m, carry)
        finally:
            round_s.append(time.perf_counter() - t)

    def timed_commit(manifest):
        commit(manifest)
        if not first_commit and manifest.next_round > start_round:
            first_commit.append(time.perf_counter())

    c._run_one = timed_run_one
    c.state.commit = timed_commit


def run_crawl(spark, w, inputs, state_dir: str) -> CrawlResult:
    """Crawl ``w`` over ``inputs`` into a fresh ``state_dir``; with
    ``w.kill_after`` the crawl stops after that many rounds and a new
    crawler resumes it from the committed state."""
    from webcrawl_spark.plans.crawl import SparkCrawler

    pages = spark.read.parquet(inputs.pages_path)
    cfg = w.config()
    legs = [w.kill_after, None] if w.kill_after else [None]
    round_s: list = []
    t_resume = 0.0
    t0 = time.perf_counter()
    for max_rounds in legs:
        t_leg = time.perf_counter()
        c = SparkCrawler(spark, pages, inputs.seeds, state_dir, cfg)
        prior = c.state.latest_manifest()
        first_commit: list = []
        _hook_instance(c, round_s, first_commit,
                       prior.next_round if prior else 0)
        m = c.run(max_rounds=max_rounds)
        if first_commit:
            t_resume = first_commit[0] - t_leg
    crawl_s = time.perf_counter() - t0
    return CrawlResult(
        crawl_s=crawl_s, resume_s=t_resume, rounds=m.next_round,
        round_s=round_s, scheduled=m.next_fetch_seq, deduped=m.next_seq,
        state_dir=state_dir, crawler=c,
    )


def warm_up(spark, w, inputs, state_dir: str) -> None:
    """Untimed: the first round of ``w``'s crawl, then the state is
    deleted, so the next crawl is not the JVM's first."""
    from webcrawl_spark.plans.crawl import SparkCrawler

    pages = spark.read.parquet(inputs.pages_path)
    SparkCrawler(spark, pages, inputs.seeds, state_dir, w.config()).run(
        max_rounds=1)
    shutil.rmtree(state_dir, ignore_errors=True)


def dir_mb(path: str) -> float:
    """Bytes under ``path`` in MB, each hard-linked file counted once."""
    seen, total = set(), 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total / 1e6


# ---------------------------------------------------------------- memory
def _tree_rss_kb(root_pid: int) -> int:
    """Resident set of ``root_pid`` and all its descendants, in kB."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


class RssSampler:
    """Samples the resident set of the Spark JVM and the Python workers it
    forks (the JVM's process tree) every ``period`` seconds."""

    def __init__(self, jvm_pid: int, period: float = 0.5):
        self.pid, self.period, self.peak_kb = jvm_pid, period, 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# ---------------------------------------------------------------- controls
def controls(spark, pages_path: str) -> dict:
    """Machine-state controls (bench.py's three): trivial-job latency, a
    fixed shuffle, a fixed Arrow stage. They never change with the
    program; a reader compares them across records to spot a slow box."""
    import re

    import pandas as pd

    job = []
    for _ in range(11):
        t = time.perf_counter()
        spark.range(100).selectExpr("count(*)").collect()
        job.append(time.perf_counter() - t)
    job.sort()

    t = time.perf_counter()
    spark.range(10_000_000).repartition(32).selectExpr("sum(id)").collect()
    shuffle_s = time.perf_counter() - t

    rx = re.compile(r'<a\s[^>]*?href\s*=\s*"([^"]+)"', re.I | re.S)

    def stage(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [sum(len(rx.findall(x)) for x in pdf["text"])]})

    df = spark.read.parquet(pages_path).select("text")
    t = time.perf_counter()
    df.mapInPandas(stage, "n long").selectExpr("sum(n)").collect()
    arrow_s = time.perf_counter() - t
    return {
        "control.job_ms": job[len(job) // 2] * 1000.0,
        "control.shuffle_s": shuffle_s,
        "control.arrow_s": arrow_s,
    }
