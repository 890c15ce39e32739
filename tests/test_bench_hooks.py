"""Guards for the names the ``crawlbench`` benchmark hooks into.

The benchmark wraps engine functions by name (``crawlbench/trace.py``
``WRAPPED``), sizes the Bloom sidecar through ``bloom.sidecar_dir``, and
times a crawl by patching a crawler's ``_run_one`` and its state's
``commit`` (``crawlbench/crawl.py`` ``_hook_instance``). Renaming any of
them fails the benchmark's traced run, so they are pinned here.
"""

import importlib
import os

from crawlbench.crawl import _hook_instance
from crawlbench.trace import WRAPPED, Tracer
from webcrawl_spark import schemas
from webcrawl_spark.fixtures.gen import chain
from webcrawl_spark.operators import bloom as B
from webcrawl_spark.plans.crawl import SparkCrawler


def _resolve(mod_name, attr):
    owner = importlib.import_module(mod_name)
    *path, leaf = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner.__dict__[leaf]


def test_tracer_wraps_every_name_and_restores_it():
    before = [_resolve(mod, attr) for mod, attr, _ in WRAPPED]
    t = Tracer()
    t.install()
    try:
        wrapped = [_resolve(mod, attr) for mod, attr, _ in WRAPPED]
        assert all(w is not b for w, b in zip(wrapped, before))
    finally:
        t.uninstall()
    assert [_resolve(mod, attr) for mod, attr, _ in WRAPPED] == before


def test_sidecar_dir_takes_a_round(tmp_path):
    d = B.sidecar_dir(str(tmp_path), 3)
    assert isinstance(d, str)
    assert os.path.dirname(d) == str(tmp_path)


def test_crawler_instance_hooks_time_a_crawl(spark, tmp_path):
    fx = chain(n=3, depth_limit=9)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    c = SparkCrawler(spark, pages, fx.seeds, str(tmp_path / "s"),
                     fx.config.with_(num_partitions=4))
    round_s, first_commit = [], []
    _hook_instance(c, round_s, first_commit, 0)
    m = c.run()
    assert len(round_s) == m.next_round
    assert len(first_commit) == 1
