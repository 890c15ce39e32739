"""Resume + parallelism-invariance guards (SURVEY.md §5 items 4-5).

- kill after round k commit → fresh driver on the same state dir → final
  state identical to an uninterrupted run (north_rule checkpoint criterion).
- the trace must not depend on partition count: every ordering key is
  data-derived (SURVEY.md §4 item 2). In-session we vary the engine's
  partition configs; the master (and so the core count) is fixed per JVM
  and is not varied here.
"""

from webcrawl_spark import schemas
from webcrawl_spark.fixtures.gen import broken, tree
from webcrawl_spark.plans.crawl import SparkCrawler

from .golden import assert_match, run_oracle


def _trace(c: SparkCrawler):
    return [tuple(r) for r in c.trace().collect()]


def _seen(c: SparkCrawler):
    return sorted(
        (r["host"], r["url_key"], r["first_depth"], r["first_round"])
        for r in c.seen().collect()
    )


def test_kill_resume_identical(spark, tmp_path):
    fx = tree(branching=2, depth=2)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    cfg = fx.config.with_(num_partitions=4)

    c1 = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "a"), cfg)
    m = c1.run(max_rounds=2)
    assert not m.done
    # "kill": drop the driver object; a new one resumes from the manifest
    c1b = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "a"), cfg)
    c1b.run()

    c2 = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "b"), cfg)
    c2.run()

    assert _trace(c1b) == _trace(c2)
    assert _seen(c1b) == _seen(c2)


def test_partitioning_invariance(spark, tmp_path):
    """Same fixture at P=2 vs P=8 partitions → byte-identical trace."""
    fx = broken()
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    traces = []
    for p in (2, 8):
        c = SparkCrawler(
            spark, pages, fx.seeds, str(tmp_path / f"p{p}"),
            fx.config.with_(num_partitions=p),
        )
        c.run()
        traces.append(_trace(c))
    assert traces[0] == traces[1]
    # and both match the sequential oracle
    ot = run_oracle(fx).trace
    assert traces[0] == [tuple(r) for r in ot.itertuples(index=False)]


def _crawl_in_runs(spark, fx, state_dir, runs) -> SparkCrawler:
    """Crawl ``fx`` on one state dir in one run per (config changes,
    max_rounds) pair; each run resumes the previous one's committed state.
    Returns the last run's crawler."""
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    for changes, max_rounds in runs:
        cfg = fx.config.with_(**{"num_partitions": 4, **changes})
        c = SparkCrawler(spark, pages, fx.seeds, state_dir, cfg)
        c.run(max_rounds=max_rounds)
    return c


def test_bloom_check_off_between_checking_runs(spark, tmp_path):
    """Check, no check, check: the keys added by rounds without the check
    never reach the Bloom sidecar, so the third run must not trust it (a
    stale sidecar would miss them and re-enqueue seen URLs)."""
    fx = tree(branching=2, depth=3)
    c = _crawl_in_runs(spark, fx, str(tmp_path / "s"), [
        ({"bloom_min_seen": 0}, 1),
        ({"bloom_min_seen": None}, 2),
        ({"bloom_min_seen": 0}, None),
    ])
    assert_match(run_oracle(fx), c)


def test_bloom_bits_change_on_resume(spark, tmp_path):
    """A resume with another ``bloom_bits`` rebuilds the sidecar instead of
    probing bitsets of the old size."""
    fx = tree(branching=2, depth=3)
    c = _crawl_in_runs(spark, fx, str(tmp_path / "s"), [
        ({"bloom_min_seen": 0, "bloom_bits": 1 << 12}, 1),
        ({"bloom_min_seen": 0, "bloom_bits": 1 << 10}, None),
    ])
    assert_match(run_oracle(fx), c)


def test_partition_count_change_on_resume(spark, tmp_path):
    """A resume with another partition count rebuilds the sidecar, placing
    every seen key by the new host-hash partitioning (tree.test lands in
    partition 0 of 4 but 2 of 5)."""
    fx = tree(branching=2, depth=3)
    c = _crawl_in_runs(spark, fx, str(tmp_path / "s"), [
        ({"bloom_min_seen": 0, "num_partitions": 4}, 2),
        ({"bloom_min_seen": 0, "num_partitions": 5}, None),
    ])
    assert_match(run_oracle(fx), c)
