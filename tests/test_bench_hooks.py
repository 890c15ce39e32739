"""Guards for the names the ``crawlbench`` benchmark hooks into.

The benchmark wraps engine functions by name (``crawlbench/trace.py``
``WRAPPED``), sizes the Bloom sidecar through ``bloom.sidecar_dir``, and
times a crawl by patching a crawler's ``_run_one`` and its state's
``commit`` (``crawlbench/crawl.py`` ``_hook_instance``), and times the two
UDF stages on plain pandas frames built from ``plans.round.FRONTIER_COLS``
(``crawlbench/layers.py`` ``kernel_metrics``). Renaming any of them fails
the benchmark's traced run, so they are pinned here.
"""

import importlib
import os

import pandas as pd

from crawlbench.crawl import _hook_instance
from crawlbench.trace import WRAPPED, Tracer
from webcrawl_spark import schemas
from webcrawl_spark.config import CrawlConfig
from webcrawl_spark.fixtures.gen import chain
from webcrawl_spark.functions import crawl_udfs as U
from webcrawl_spark.kernels.filters import compile_uri_filters
from webcrawl_spark.operators import bloom as B
from webcrawl_spark.plans.crawl import SparkCrawler
from webcrawl_spark.plans.round import FRONTIER_COLS


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


class _Bc:
    """Stands in for a Spark broadcast outside Spark."""

    def __init__(self, value):
        self.value = value


def test_udf_stages_run_outside_spark():
    """One page through the decode stage and the parse-candidate stage,
    called with the arguments and input columns ``kernel_metrics`` uses."""
    cfg = CrawlConfig()
    url = "http://a.test/index.html"
    base_bc = _Bc([{"scheme": "http", "host": "a.test", "path": "/index.html"}])
    dec_in = pd.DataFrame({c: [None] for c in FRONTIER_COLS})
    dec_in = dec_in.assign(
        url=url, path="/index.html", link_type="link", depth=0, failures=0,
        fetch_seq=0, html=[b'<html><body><a href="b.html">b</a></body></html>'],
        final_url=None, server_mime=None, http_status=200, present=True,
        exceeded=False, final_present=True, ok=True,
    )
    (dec,) = U.make_decode_stage(cfg, base_bc)(iter([dec_in]))
    assert dec["mime"].tolist() == ["text/html"]

    cand_in = pd.DataFrame({
        "url": [url], "depth": 0, "fetch_seq": [0], "rtype": "html",
        "text": dec["text"], "base0": [url],
    })
    filters = compile_uri_filters(
        cfg.change_filters, cfg.positive_filters, cfg.negative_filters
    )
    stage = U.make_parse_candidate_stage(cfg, base_bc, filters, None)
    cand = pd.concat(list(stage(iter([cand_in]))))
    assert cand["url"].tolist() == ["http://a.test/b.html"]
