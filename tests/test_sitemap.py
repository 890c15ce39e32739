"""Sitemap parser unit battery (operators/sitemap.py).

Literal XML bodies pin each sitemaps.org branch; the oracle battery
entry (queries.sitemap_parse) hash-checks the composed plan against an
independent DuckDB re-derivation over all 32 synthetic hosts.
"""

from webcrawl_spark.operators.sitemap import parse_sitemaps

URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>http://a.test/p?x=1&amp;y=2</loc>
    <lastmod>2024-03-05T10:00:00+00:00</lastmod>
    <priority>0.9</priority>
  </url>
  <url><loc>
      http://a.test/plain.html
  </loc></url>
  <url><lastmod>2024-01-01</lastmod></url>
  <url><loc>http://a.test/bad-date</loc><lastmod>soon</lastmod></url>
</urlset>
"""

INDEX = """<?xml version="1.0"?>
<sitemapindex>
  <sitemap><loc>http://b.test/maps/1.xml</loc><lastmod>2024-06-30</lastmod></sitemap>
  <sitemap><loc>http://b.test/maps/2.xml</loc></sitemap>
</sitemapindex>
"""

NOT_A_SITEMAP = "<html><body>hello</body></html>"


def _parse(spark, cases):
    bodies = spark.createDataFrame(cases, "host string, body string")
    out = parse_sitemaps(bodies).toPandas()
    return {
        (r.host, r.kind, r.loc): (
            None if r.lastmod is None else str(r.lastmod),
            None if r.priority != r.priority else r.priority,
        )
        for r in out.itertuples()
    }


def test_urlset_and_index(spark):
    rows = _parse(
        spark,
        [("a.test", URLSET), ("b.test", INDEX), ("c.test", NOT_A_SITEMAP)],
    )
    # entity decode + datetime prefix + explicit priority
    assert rows[("a.test", "url", "http://a.test/p?x=1&y=2")] == ("2024-03-05", 0.9)
    # whitespace-padded loc trimmed; protocol default priority 0.5
    assert rows[("a.test", "url", "http://a.test/plain.html")] == (None, 0.5)
    # loc-less entry dropped
    assert not any(k[0] == "a.test" and "2024-01-01" in str(v) for k, v in rows.items())
    # unparseable lastmod → NULL, row kept
    assert rows[("a.test", "url", "http://a.test/bad-date")] == (None, 0.5)
    # index children, kind='sitemap', no default priority
    assert rows[("b.test", "sitemap", "http://b.test/maps/1.xml")] == ("2024-06-30", None)
    assert rows[("b.test", "sitemap", "http://b.test/maps/2.xml")] == (None, None)
    # non-sitemap bodies contribute nothing
    assert not any(k[0] == "c.test" for k in rows)
    assert len(rows) == 5


def test_plan_single_scan_no_exchange(spark):
    import re

    bodies = spark.createDataFrame([("a.test", URLSET)], "host string, body string")
    plan = parse_sitemaps(bodies)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert len(re.findall(r"\bExchange\b", plan)) == 0


def test_sitemap_recrawl_actions(spark):
    """Every action branch over a DATE lastmod (parse_sitemaps' type):
    never-fetched -> new; our copy newer -> fresh; lastmod newer than our
    fetch, absent, or not comparable with a malformed fetch date ->
    refetch."""
    from pyspark.sql import functions as F

    from webcrawl_spark.operators.sitemap import sitemap_recrawl

    entries = spark.createDataFrame(
        [
            ("h", "url", "http://s/a", "2024-05-01", None),
            ("h", "url", "http://s/b", "2024-05-01", None),
            ("h", "url", "http://s/c", None, None),
            ("h", "url", "http://s/d", "2024-05-01", None),
            ("h", "url", "http://s/e", "2024-05-01", None),
            ("h", "sitemap", "http://s/map.xml", "2024-05-01", None),
        ],
        "host string, kind string, loc string, lastmod string, priority string",
    ).withColumn("lastmod", F.col("lastmod").cast("date"))
    fetched = spark.createDataFrame(
        [
            ("http://s/a", "2024-01-01"),   # stale copy -> refetch
            ("http://s/b", "2024-12-01"),   # newer copy -> fresh
            ("http://s/c", "2024-12-01"),   # no lastmod claim -> refetch
            ("http://s/e", "garbage"),      # corrupt fetch state -> refetch
        ],
        "loc string, last_fetch string",
    )
    got = {r.loc: r.action for r in sitemap_recrawl(entries, fetched).collect()}
    assert got == {
        "http://s/a": "refetch",
        "http://s/b": "fresh",
        "http://s/c": "refetch",
        "http://s/d": "new",
        "http://s/e": "refetch",
    }
    # child sitemaps are discovery edges, not fetch targets
    assert "http://s/map.xml" not in got
