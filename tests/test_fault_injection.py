"""Hard-crash fault injection (SURVEY.md §5 item 4, VERDICT r2 item 9).

The kill/resume golden (tests/test_resume_determinism.py) stops BETWEEN
rounds — a graceful shutdown. This test dies with ``os._exit`` at the worst
moment the commit protocol allows: after a round's compute returned but
while its background state writes are (possibly) still in flight and its
manifest is UNCOMMITTED (commits lag compute by one round; plans/crawl.py
``run`` docstring). Resume from the surviving manifests must replay to a
trace byte-identical to an uninterrupted run — partially-written round
directories are invisible until their manifest exists and are simply
overwritten on replay (plans/state.py layout contract).
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
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
fx = tree(branching=2, depth=2)
pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
c = SparkCrawler(spark, pages, fx.seeds, state_dir,
                 fx.config.with_(num_partitions=4))
m = c.state.latest_manifest()
if m is None:
    m = c._init_seeds()
carry = None
for _ in range(n_rounds):
    m, carry = c._run_one(m, carry)
# hard crash: no drain — the last round's manifest is uncommitted and its
# background writes may be mid-flight. os._exit skips every destructor.
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
    # the crashed run computed 2 rounds but could only have committed round 1
    # (commit lags by one); round 2's dirs may exist, its manifest must not
    committed = sorted(os.listdir(os.path.join(state, "_manifests")))
    assert "round-2.json" not in committed

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
    background writer threads (two live writers on one round dir could mix
    data under a later-committed manifest) and must not commit the failed
    round's manifest; a fresh crawler on the same state resumes to the
    uninterrupted trace."""
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
    # no _Job writer threads outlive run()
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.is_alive() and type(t).__name__ == "_Job"
    ]
    assert leaked == []
    # round 1 computed but its manifest must NOT have been committed
    committed = sorted(os.listdir(os.path.join(state, "_manifests")))
    assert "round-1.json" not in committed

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
