"""Shared golden-trace harness: run the Spark engine and the sequential
oracle on the same fixture and assert byte-identical outputs (SURVEY.md §5
item 1): crawl order, seen-set membership, extracted text, errors."""

from __future__ import annotations

import pandas as pd
from pandas.testing import assert_frame_equal
from pyspark.sql import types as T

from webcrawl_spark import schemas
from webcrawl_spark.fixtures.gen import Fixture
from webcrawl_spark.oracle.crawler import OracleCrawler, OracleResult
from webcrawl_spark.plans.crawl import SparkCrawler


def run_oracle(fx: Fixture):
    return OracleCrawler(
        fx.pages_dict(), fx.seeds, fx.config, fx.robots,
        redirects=fx.redirects, statuses=fx.statuses, mimes=fx.mimes,
        # no ranks means no rank fold, as run_spark passes no ranks table
        ranks=fx.ranks or None,
    ).run()


_OPT_PAGE_FIELDS = {
    "redirect_to": T.StructField("redirect_to", T.StringType(), True),
    "http_status": T.StructField("http_status", T.IntegerType(), True),
    "mime": T.StructField("mime", T.StringType(), True),
}


def _pages_schema(pdf) -> T.StructType:
    fields = list(schemas.PAGES.fields)
    fields += [_OPT_PAGE_FIELDS[c] for c in pdf.columns if c in _OPT_PAGE_FIELDS]
    return T.StructType(fields)


def run_spark(spark, fx: Fixture, state_dir: str, num_partitions: int = 4) -> SparkCrawler:
    cfg = fx.config.with_(num_partitions=num_partitions)
    pages_df = spark.createDataFrame(fx.pages, schema=_pages_schema(fx.pages))
    ranks_df = None
    if fx.ranks:
        ranks_df = spark.createDataFrame(
            list(fx.ranks.items()), "url string, rank long"
        )
    crawler = SparkCrawler(
        spark, pages_df, fx.seeds, state_dir, cfg, fx.robots, ranks=ranks_df
    )
    crawler.run()
    return crawler


def _sorted(df: pd.DataFrame, by) -> pd.DataFrame:
    return df.sort_values(by).reset_index(drop=True)


def assert_match(oracle: OracleResult, crawler: SparkCrawler):
    # 1. crawl order (the golden trace)
    et = crawler.trace().toPandas()
    ot = oracle.trace
    assert_frame_equal(
        _sorted(et, ["fetch_seq"]),
        _sorted(ot, ["fetch_seq"]).astype(et.dtypes.to_dict()),
        check_dtype=False,
    )

    # 2. seen-set membership + first depth/round
    es = crawler.seen().toPandas()[["host", "url_key", "first_depth", "first_round"]]
    assert_frame_equal(
        _sorted(es, ["host", "url_key"]),
        _sorted(oracle.seen, ["host", "url_key"]),
        check_dtype=False,
    )

    # 3. byte-identical extracted_text per url
    ef = crawler.fetched().toPandas()
    of = oracle.fetched
    em = dict(zip(ef["url"], ef["extracted_text"]))
    om = dict(zip(of["url"], of["extracted_text"]))
    assert em.keys() == om.keys()
    for u in om:
        a, b = em[u], om[u]
        assert (a is None and b is None) or (pd.isna(a) and pd.isna(b)) or a == b, u

    # 4. mime/charset/bytes/redirect metadata
    meta_cols = ["url", "round", "fetch_seq", "http_status", "mime", "charset",
                 "bytes", "final_url"]
    assert_frame_equal(
        _sorted(ef[meta_cols], ["fetch_seq"]),
        _sorted(of[meta_cols], ["fetch_seq"]),
        check_dtype=False,
    )

    # 5. error routing
    ee = crawler.errors().toPandas()
    oe = oracle.errors
    assert_frame_equal(
        _sorted(ee, ["round", "url", "failures"]),
        _sorted(oe, ["round", "url", "failures"]).astype(ee.dtypes.to_dict()),
        check_dtype=False,
    )


def run_and_check(spark, fx: Fixture, tmp_path) -> SparkCrawler:
    oracle = run_oracle(fx)
    crawler = run_spark(spark, fx, str(tmp_path / f"state_{fx.name}"))
    assert_match(oracle, crawler)
    return crawler
