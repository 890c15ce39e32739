"""State compaction (plans/state.py compact / replace_table): the
Iceberg rewrite_data_files analog — per-round delta dirs merge into one
compacted generation published by an atomic marker flip. Reads must be
identical before/after, at every crash point of the protocol, and a
compacted crawl must resume bit-identically."""

import json
import os
import shutil

from webcrawl_spark import schemas
from webcrawl_spark.fixtures.gen import tree
from webcrawl_spark.plans.crawl import SparkCrawler
from webcrawl_spark.plans.state import CrawlState


def _trace(c):
    return [tuple(r) for r in c.trace().collect()]


def _seen(c):
    return sorted(
        (r["host"], r["url_key"], r["first_depth"], r["first_round"])
        for r in c.seen().collect()
    )


def _crawl(spark, tmp_path, name, max_rounds=None):
    fx = tree(branching=2, depth=2)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    cfg = fx.config.with_(num_partitions=4)
    c = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / name), cfg)
    m = c.run(max_rounds=max_rounds) if max_rounds else c.run()
    return fx, pages, cfg, c, m


def test_compact_preserves_reads_and_bounds_dirs(spark, tmp_path):
    _, _, _, c, m = _crawl(spark, tmp_path, "a")
    before_trace, before_seen = _trace(c), _seen(c)

    st = c.state
    st.compact("seen", m.next_round)
    st.compact("fetch_log", m.next_round - 1)

    # round dirs are gone; one compacted generation per table remains
    for table in ("seen", "fetch_log"):
        entries = os.listdir(os.path.join(str(tmp_path / "a"), table))
        assert entries == ["compacted-0"], (table, entries)

    assert _trace(c) == before_trace
    assert _seen(c) == before_seen

    # second compaction (idempotent, bumps generation, still identical)
    st.compact("seen", m.next_round)
    assert _seen(c) == before_seen
    assert st._compact_info("seen")[1] == 1


def test_resume_after_compaction_identical(spark, tmp_path):
    fx, pages, cfg, c1, m = _crawl(spark, tmp_path, "a", max_rounds=2)
    assert not m.done
    st = c1.state
    st.compact("seen", m.next_round)
    st.compact("fetch_log", m.next_round - 1)

    c1b = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "a"), cfg)
    c1b.run()
    c2 = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "b"), cfg)
    c2.run()
    assert _trace(c1b) == _trace(c2)
    assert _seen(c1b) == _seen(c2)


def test_crash_windows_never_change_reads(spark, tmp_path):
    _, _, _, c, m = _crawl(spark, tmp_path, "a")
    want = _seen(c)
    st = c.state
    root = str(tmp_path / "a")

    # window 1: compacted dir fully written, marker NOT flipped — reads
    # must ignore it (simulate: run compact, then delete the marker and
    # restore round dirs? simpler: write a fake orphan compacted dir)
    orphan = os.path.join(root, "seen", "compacted-7")
    os.makedirs(orphan, exist_ok=True)
    st.read_seen(m.next_round)  # must not try to read the orphan
    assert _seen(c) == want
    shutil.rmtree(orphan)

    # window 2: marker flipped, stale round dirs still present — reads
    # must use the compacted generation only (no duplicates)
    st.compact("seen", m.next_round)
    stale = os.path.join(root, "seen", "round=0")
    os.makedirs(stale)
    # copy the compacted parquet in as a would-be duplicate source
    comp = os.path.join(root, "seen", "compacted-0")
    for f in os.listdir(comp):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(comp, f), stale)
    assert _seen(c) == want  # stale dir ignored below the watermark

    # the next compaction retries the cleanup
    st.compact("seen", m.next_round)
    assert not os.path.exists(stale)
    assert _seen(c) == want


def test_remove_requeue_after_compaction(spark, tmp_path):
    # partial crawl so the frontier is non-empty, then compact, then the
    # requeue-removal path must consolidate THROUGH the compacted seen
    _, _, _, c, m = _crawl(spark, tmp_path, "a", max_rounds=2)
    before = _seen(c)
    c.state.compact("seen", m.next_round)
    n = c.remove_uris(r".*", allow_requeue=True)
    assert n > 0
    # consolidated seen published as the next generation, no round dirs
    info = c.state._compact_info("seen")
    assert info is not None and info[1] >= 1
    after = _seen(c)
    assert len(after) < len(before)     # queued keys were requeued away
    assert set(after) <= set(before)    # and nothing else changed


def test_compacted_read_pushes_round_filter_to_parquet(spark, tmp_path):
    """The watermark filter on the in-row round column must reach the
    parquet scan (PushedFilters) — at scale the compacted file is read
    with rowgroup pruning, not post-scan filtering."""
    import contextlib
    import io

    _, _, _, c, m = _crawl(spark, tmp_path, "a")
    c.state.compact("seen", m.next_round)
    df = c.state.read_seen(1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "LessThanOrEqual(first_round,1" in pushed[0]


def test_vacuum_frontier_keeps_live_resume_identical(spark, tmp_path):
    fx, pages, cfg, c1, m = _crawl(spark, tmp_path, "a", max_rounds=2)
    assert not m.done
    removed = c1.state.vacuum_frontier(m.next_round)
    assert removed == m.next_round  # every superseded snapshot deleted
    assert os.path.exists(
        os.path.join(str(tmp_path / "a"), "frontier", f"round={m.next_round}")
    )
    c1b = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "a"), cfg)
    c1b.run()
    c2 = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "b"), cfg)
    c2.run()
    assert _trace(c1b) == _trace(c2)
    assert _seen(c1b) == _seen(c2)


def test_compact_rejects_a_watermark_past_the_committed_state(spark, tmp_path):
    """Reads ignore round dirs at or below the watermark, so a watermark
    past ``next_round`` would hide the seen deltas of the rounds still to
    run: seen_rows would outgrow seen() and those keys could be enqueued
    again."""
    import pytest

    from webcrawl_spark.fixtures.gen import chain

    fx = chain(n=6)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    cfg = fx.config.with_(num_partitions=4)
    root = str(tmp_path / "a")
    c = SparkCrawler(spark, pages, fx.seeds, root, cfg)
    m = c.run(max_rounds=2)
    with pytest.raises(ValueError):
        c.state.compact("seen", m.next_round + 3)
    with pytest.raises(ValueError):
        c.state.compact("fetch_log", m.next_round)
    with pytest.raises(ValueError):
        CrawlState(spark, str(tmp_path / "empty")).compact("seen", 0)

    c.state.compact("seen", m.next_round)
    c.state.compact("fetch_log", m.next_round - 1)
    m = SparkCrawler(spark, pages, fx.seeds, root, cfg).run(max_rounds=2)
    assert m.seen_rows == c.seen().count()
