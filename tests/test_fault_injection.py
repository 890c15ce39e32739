"""Hard-crash fault injection (SURVEY.md §5 item 4, VERDICT r2 item 9).

The kill/resume golden (tests/test_resume_determinism.py) stops BETWEEN
rounds — a graceful shutdown. This test dies with ``os._exit`` at the worst
moment the commit protocol allows: after a round's compute returned but
while its background state writes are still in flight and its manifest is
UNCOMMITTED (each round's committer publishes its manifest only once all
of that round's writes land, in round order; plans/crawl.py ``run``
docstring). Every manifest that did commit must name complete round dirs,
and resume from the surviving manifests must replay to a trace
byte-identical to an uninterrupted run — partially-written round
directories are invisible until their manifest exists and are simply
overwritten on replay (plans/state.py layout contract).

The other tests here pin the commit protocol itself: no ``_Job``
(committers included) outlives ``run()`` on an error path, and a round's
manifest is committed while later rounds still compute.
"""

import os
import subprocess
import sys

from webcrawl_spark import schemas
from webcrawl_spark.fixtures.gen import tree
from webcrawl_spark.plans.crawl import SparkCrawler

_CRASH_SCRIPT = r"""
import os, sys
from pyspark.sql import SparkSession
from webcrawl_spark import schemas
from webcrawl_spark.fixtures.gen import tree
from webcrawl_spark.plans.crawl import SparkCrawler

state_dir, n_rounds = sys.argv[1], int(sys.argv[2])

# round 1's fetch_log write never lands before the crash, so round 1's
# manifest (round-2.json) is certainly uncommitted at os._exit
import time
from webcrawl_spark.plans.state import CrawlState
_write = CrawlState.write_table
def slow_write(self, table, rnd, df):
    if table == "fetch_log" and rnd == 1:
        time.sleep(600)
    _write(self, table, rnd, df)
CrawlState.write_table = slow_write

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
fx = tree(branching=2, depth=2)
pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
c = SparkCrawler(spark, pages, fx.seeds, state_dir,
                 fx.config.with_(num_partitions=4))
m, carry = c._init_seeds()
for _ in range(n_rounds):
    m, carry = c._run_one(m, carry)
# round 0's writes are not held back: its manifest commits while round 1's
# writes are still in flight
done = os.path.join(state_dir, "_manifests", "round-1.json")
deadline = time.monotonic() + 120
while not os.path.exists(done) and time.monotonic() < deadline:
    time.sleep(0.05)
# hard crash: no drain — the last round's manifest is uncommitted and its
# background writes are mid-flight. os._exit skips every destructor.
os._exit(137)
"""


def test_hard_crash_resume_identical(spark, tmp_path):
    state = str(tmp_path / "crashed")
    script = tmp_path / "crash.py"
    script.write_text(_CRASH_SCRIPT)
    env = dict(os.environ, PYTHONPATH=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    p = subprocess.run(
        [sys.executable, str(script), state, "2"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 137, p.stderr[-2000:]
    # the crashed run computed rounds 0 and 1; round 1's fetch_log write
    # was held back, so its manifest (round-2.json) cannot exist, and every
    # manifest that did commit names round dirs whose writes all landed
    committed = sorted(os.listdir(os.path.join(state, "_manifests")))
    assert committed == ["round-0.json", "round-1.json"]
    for name in committed:
        k = int(name[len("round-"):-len(".json")])
        dirs = [("frontier", k), ("seen", k)]
        if k > 0:
            dirs.append(("fetch_log", k - 1))
        for table, rnd in dirs:
            assert os.path.exists(os.path.join(
                state, table, f"round={rnd}", "_SUCCESS")), (name, table, rnd)

    fx = tree(branching=2, depth=2)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    cfg = fx.config.with_(num_partitions=4)

    resumed = SparkCrawler(spark, pages, fx.seeds, state, cfg)
    resumed.run()

    clean = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "clean"), cfg)
    clean.run()

    t_res = [tuple(r) for r in resumed.trace().collect()]
    t_cln = [tuple(r) for r in clean.trace().collect()]
    assert t_res == t_cln
    s_res = sorted((r["host"], r["url_key"]) for r in resumed.seen().collect())
    s_cln = sorted((r["host"], r["url_key"]) for r in clean.seen().collect())
    assert s_res == s_cln


def test_run_exception_joins_carry_threads(spark, tmp_path):
    """A round that THROWS mid-run() must not orphan the carried round's
    committer or its background writer threads (two live writers on one
    round dir could mix data under a later-committed manifest) and must not
    commit the failed round's manifest; the round before it, whose writes
    all landed, is committed; a fresh crawler on the same state resumes to
    the uninterrupted trace."""
    import threading

    import pytest

    fx = tree(branching=2, depth=2)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    cfg = fx.config.with_(num_partitions=4)
    state = str(tmp_path / "boom")

    c = SparkCrawler(spark, pages, fx.seeds, state, cfg)
    real = c._run_one
    calls = {"n": 0}

    def boom(m, carry):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected round failure")
        return real(m, carry)

    c._run_one = boom
    before = {t for t in threading.enumerate()}
    with pytest.raises(RuntimeError, match="injected round failure"):
        c.run()
    # no _Job (writer or committer) outlives run()
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.is_alive() and type(t).__name__ == "_Job"
    ]
    assert leaked == []
    # round 0's writes landed, so its manifest is committed; round 1 failed
    # and its manifest must NOT have been committed
    committed = sorted(os.listdir(os.path.join(state, "_manifests")))
    assert "round-1.json" in committed
    assert "round-2.json" not in committed

    resumed = SparkCrawler(spark, pages, fx.seeds, state, cfg)
    resumed.run()
    clean = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "clean2"), cfg)
    clean.run()
    assert [tuple(r) for r in resumed.trace().collect()] == [
        tuple(r) for r in clean.trace().collect()
    ]


def test_round_exception_joins_its_own_jobs(spark, tmp_path, monkeypatch):
    """A round that throws after launching its fetch_log write (a
    background commit) and its carried cut joins both before the error
    leaves ``run_round`` — neither may outlive ``run()``."""
    import threading
    import time

    import pytest

    from webcrawl_spark.plans import round as R
    from webcrawl_spark.plans.state import CrawlState

    real_write, real_seq = CrawlState.write_table, R._lazy_seq

    def slow_write(self, table, rnd, df):
        if table == "fetch_log":
            time.sleep(1.5)   # still writing when ENQUEUE fails
        real_write(self, table, rnd, df)

    def boom(df, order_cols, start, out_col):
        if out_col == "seq":
            raise RuntimeError("injected enqueue failure")
        return real_seq(df, order_cols, start, out_col)

    monkeypatch.setattr(CrawlState, "write_table", slow_write)
    monkeypatch.setattr(R, "_lazy_seq", boom)
    fx = tree(branching=2, depth=2)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    c = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "boom"),
                     fx.config.with_(num_partitions=4))
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected enqueue failure"):
        c.run()
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.is_alive() and type(t).__name__ == "_Job"
    ]
    assert leaked == []


def _wait_for(path: str, timeout: float) -> bool:
    import time

    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def test_round_commits_before_next_round_returns(spark, tmp_path, monkeypatch):
    """A round's manifest is committed as soon as its writes land, while the
    next round still computes: round k's manifest (``round-{k+1}.json``)
    appears before round k+1's ``run_round`` returns."""
    from webcrawl_spark.plans import crawl as C

    fx = tree(branching=2, depth=2)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    state = str(tmp_path / "early")
    mdir = os.path.join(state, "_manifests")
    real = C.run_round
    seen_early = []

    def spy(spark, ctx, state, pages, m, carry):
        out = real(spark, ctx, state, pages, m, carry)
        k = m.next_round
        if k > 0:
            # round k-1's manifest, awaited before round k's run_round returns
            seen_early.append(
                (k, _wait_for(os.path.join(mdir, f"round-{k}.json"), 60))
            )
        return out

    monkeypatch.setattr(C, "run_round", spy)
    m = SparkCrawler(spark, pages, fx.seeds, state,
                     fx.config.with_(num_partitions=4)).run()
    assert m.next_round >= 3
    assert seen_early and all(ok for _, ok in seen_early), seen_early


def test_fresh_crawl_round0_reads_seed_frames(spark, tmp_path, monkeypatch):
    """A fresh crawl hands round 0 the in-memory seed frames: it never reads
    the round-0 frontier or seen table back, and the seed manifest is
    committed before round 0's."""
    from webcrawl_spark.plans.state import CrawlState

    reads, commits = [], []
    real_rf, real_rs = CrawlState.read_frontier, CrawlState.read_seen
    real_commit = CrawlState.commit

    def read_frontier(self, rnd):
        reads.append(("frontier", rnd))
        return real_rf(self, rnd)

    def read_seen(self, upto_round):
        reads.append(("seen", upto_round))
        return real_rs(self, upto_round)

    def commit(self, manifest):
        commits.append(manifest.next_round)
        real_commit(self, manifest)

    monkeypatch.setattr(CrawlState, "read_frontier", read_frontier)
    monkeypatch.setattr(CrawlState, "read_seen", read_seen)
    monkeypatch.setattr(CrawlState, "commit", commit)
    fx = tree(branching=2, depth=2)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    c = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "seeds"),
                     fx.config.with_(num_partitions=4))
    m = c.run(max_rounds=2)
    assert reads == []
    assert commits == list(range(m.next_round + 1))


def test_finished_jobs_are_freed(spark, tmp_path, monkeypatch):
    """A finished ``_Job`` drops its closure, so the committer chain does
    not keep every earlier round's jobs (and the checkpointed frames their
    closures hold) alive until ``run()`` returns: the count of finished
    jobs still in memory after each round stays under a fixed bound."""
    import gc

    from webcrawl_spark.fixtures.gen import chain
    from webcrawl_spark.plans import crawl as C
    from webcrawl_spark.plans.round import _Job

    real = C.run_round
    finished = []

    def spy(*args):
        out = real(*args)
        gc.collect()
        finished.append(sum(
            1 for o in gc.get_objects()
            if isinstance(o, _Job) and o.ident is not None and not o.is_alive()
        ))
        return out

    monkeypatch.setattr(C, "run_round", spy)
    fx = chain(n=10, depth_limit=9)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    c = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "jobs"),
                     fx.config.with_(num_partitions=4))
    c.run(max_rounds=8)
    assert len(finished) == 8
    # one round's writes, its carried cut and the previous committer
    assert max(finished) <= 6, finished
