"""The crawl state's Parquet codec (plans/state.py ``CrawlState._write``).

Every state write — the seed and per-round writes, ``compact``, the
``remove_uris`` requeue rewrite and ``enqueue_uri`` — lands as zstd
Parquet without touching the session's codec conf, and a state dir whose
committed rounds are snappy (written before the codec was pinned) still
resumes bit-identically. Also covers ``tools/state_bytes.py``."""

import glob
import importlib.util
import os

import pyarrow.parquet as pq
import pytest

from webcrawl_spark import schemas
from webcrawl_spark.fixtures.gen import tree
from webcrawl_spark.plans.crawl import SparkCrawler

from .golden import assert_match, run_oracle

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "state_bytes.py",
)
_spec = importlib.util.spec_from_file_location("state_bytes", _PATH)
SB = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(SB)

_CODEC_CONF = "spark.sql.parquet.compression.codec"


def _parquet_files(path):
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def _codecs(path):
    """The codec of every column chunk of every Parquet file under path."""
    out = set()
    for f in _parquet_files(path):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            out.update(rg.column(c).compression for c in range(rg.num_columns))
    return out


def _seen(c):
    return sorted(
        (r["host"], r["url_key"], r["first_depth"], r["first_round"])
        for r in c.seen().collect()
    )


def _crawler(spark, fx, root):
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    return SparkCrawler(spark, pages, fx.seeds, root,
                        fx.config.with_(num_partitions=4))


@pytest.fixture(scope="module")
def surgered(spark, tmp_path_factory):
    """A tree crawl that went through every state write path: two rounds,
    both compactions, ``enqueue_uri`` into the compacted seen,
    ``remove_uris`` with requeue, then the rest of the crawl."""
    codec_before = spark.conf.get(_CODEC_CONF)
    root = str(tmp_path_factory.mktemp("codec") / "state")
    c = _crawler(spark, tree(branching=2, depth=2), root)
    m = c.run(max_rounds=2)
    assert not m.done
    c.state.compact("seen", m.next_round)
    c.state.compact("fetch_log", m.next_round - 1)
    assert c.enqueue_uri("http://tree.test/extra.html")
    assert c.remove_uris(r"n00\.html", allow_requeue=True) == 1
    assert c.run().done
    return c, root, codec_before


def test_every_state_write_is_zstd(spark, surgered):
    c, root, codec_before = surgered
    files = _parquet_files(root)
    # every table, including the compacted generations the surgery wrote
    for sub in ("frontier/round=0", "fetch_log/round=2", "fetch_log/compacted-0",
                "seen/compacted-2"):
        assert any(os.sep + sub + os.sep in f for f in files), sub
    assert _codecs(root) == {"ZSTD"}
    # the codec rides the writer: the session conf is as the caller left it
    assert spark.conf.get(_CODEC_CONF) == codec_before


def _to_snappy(root):
    """Rewrite every Parquet file under root as snappy, as a state dir
    written before the codec was pinned holds it. The stale checksum
    sidecars go too: Hadoop would fail the read on their mismatch."""
    for f in _parquet_files(root):
        table = pq.ParquetFile(f).read()
        os.remove(f)
        pq.write_table(table, f.replace(".zstd.parquet", ".snappy.parquet"),
                       compression="snappy")
    for d, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".crc"):
                os.remove(os.path.join(d, name))


def test_snappy_state_dir_resumes_bit_identically(spark, tmp_path):
    fx = tree(branching=2, depth=2)
    root = str(tmp_path / "a")
    m = _crawler(spark, fx, root).run(max_rounds=2)
    assert not m.done
    _to_snappy(root)
    assert _codecs(root) == {"SNAPPY"}

    c = _crawler(spark, fx, root)
    assert c.run().done
    assert_match(run_oracle(fx), c)
    # the resumed rounds' dirs are zstd; the killed run's stay snappy
    final = c.state.latest_manifest().next_round
    for table, lo, hi in (("fetch_log", 2, final - 1), ("seen", 3, final),
                          ("frontier", 3, final)):
        # an empty last delta holds no Parquet file, so union the rounds
        resumed = set().union(*(_codecs(c.state._dir(table, k))
                                for k in range(lo, hi + 1)))
        assert resumed == {"ZSTD"}, table
    assert _codecs(c.state._dir("seen", 2)) == {"SNAPPY"}

    # a compaction over the mixed-codec dirs reads both and writes zstd
    want = _seen(c)
    c.state.compact("seen", final)
    assert _seen(c) == want
    assert _codecs(os.path.join(root, "seen")) == {"ZSTD"}


def test_state_bytes_reports_each_table(surgered, capsys):
    c, root, _ = surgered
    stats = {t["table"]: t for t in SB.table_stats(root)}
    assert sorted(stats) == ["fetch_log", "frontier", "seen"]
    for t in stats.values():
        files = _parquet_files(os.path.join(root, t["table"]))
        assert t["files"] == len(files)
        assert t["bytes"] == sum(os.path.getsize(f) for f in files)
        assert 0 < t["footer_bytes"] < t["bytes"]
        assert t["codecs"] == ["ZSTD"]
        sizes = list(t["columns"].values())
        assert sizes == sorted(sizes, reverse=True)
    assert set(stats["fetch_log"]["columns"]) == set(schemas.FETCH_LOG.names)
    # the compactions left no stale round dirs, so the files hold each view
    assert stats["seen"]["rows"] == c.seen().count()
    assert stats["fetch_log"]["rows"] == c.fetch_log().count()

    assert SB.main([root]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split()[0] for ln in lines[1:4]] == ["fetch_log", "frontier", "seen"]
    assert lines[1].split()[1:3] == [str(stats["fetch_log"]["files"]),
                                     str(stats["fetch_log"]["rows"])]
    assert lines[-1].endswith(f"{SB.total_bytes(root)} bytes")
