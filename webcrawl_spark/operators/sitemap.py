"""Sitemap XML → URL-discovery table (crawl ingestion edge).

The reference discovers URLs only by scanning fetched bodies
(Crawler.cs ``ScanForLinks`` regexes); a Common-Crawl-scale frontier
also ingests the sites' own ``sitemap.xml`` files (sitemaps.org
protocol) — the other half of the discovery story next to
``robotsparse`` (robots.txt points at sitemaps via ``Sitemap:`` lines).
This operator parses sitemap bodies into frontier-feedable rows as a
pure column plan (``regexp_extract_all`` + explode — JVM-side, no
Python):

- ``<urlset>`` documents → one row per ``<url>`` entry with
  ``kind='url'``: ``loc`` (required; entries without a ``<loc>`` are
  dropped per the protocol), optional ``lastmod`` (W3C datetime,
  prefix-parsed to a date when possible), optional ``priority``
  (float; protocol default 0.5)
- ``<sitemapindex>`` documents → one row per child ``<sitemap>`` with
  ``kind='sitemap'`` (the fetch loop enqueues these for another pass)
- minimal XML entity decoding on ``loc`` (``&lt; &gt; &quot; &apos;
  &amp;`` — the five the protocol requires escaping; ``&amp;`` last so
  double-escapes stay escaped)

100-TB shape: ONE scan of the bodies table, zero exchanges —
embarrassingly parallel narrow explode (≤50k entries per file by
protocol cap); the caller joins the output against the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SITEMAP_SCHEMA = (
    "host string, kind string, loc string, lastmod date, priority double"
)

_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
]

_URL_BLOCKS = "regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)"
_MAP_BLOCKS = "regexp_extract_all(body, '(?s)<sitemap>(.*?)</sitemap>', 1)"


def _decode_entities(col):
    for ent, ch in _ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def parse_sitemaps(bodies: DataFrame) -> DataFrame:
    """Parse ``(host, body)`` sitemap-XML rows into discovery rows
    ``(host, kind, loc, lastmod, priority)`` — single scan, no exchange."""
    return (
        bodies.withColumn(
            "kind",
            F.when(F.col("body").contains("<urlset"), "url").when(
                F.col("body").contains("<sitemapindex"), "sitemap"
            ),
        )
        .where(F.col("kind").isNotNull())
        .select(
            "host",
            "kind",
            F.explode(
                F.expr(
                    f"CASE WHEN kind = 'url' THEN {_URL_BLOCKS} ELSE {_MAP_BLOCKS} END"
                )
            ).alias("entry"),
        )
        .select(
            "host",
            "kind",
            F.regexp_extract("entry", r"(?s)<loc>\s*(.*?)\s*</loc>", 1).alias(
                "rawloc"
            ),
            F.regexp_extract("entry", r"(?s)<lastmod>\s*(.*?)\s*</lastmod>", 1).alias(
                "rawmod"
            ),
            F.regexp_extract(
                "entry", r"(?s)<priority>\s*(.*?)\s*</priority>", 1
            ).alias("rawpri"),
        )
        .where(F.col("rawloc") != "")
        .select(
            "host",
            "kind",
            _decode_entities(F.col("rawloc")).alias("loc"),
            # W3C datetime: the date is always the first 10 chars (YYYY-MM-DD)
            F.expr("try_cast(substring(rawmod, 1, 10) AS date)").alias("lastmod"),
            F.when(
                F.col("kind") == "url",
                F.coalesce(F.expr("try_cast(rawpri AS double)"), F.lit(0.5)),
            )
            .otherwise(F.expr("try_cast(rawpri AS double)"))
            .alias("priority"),
        )
    )


def sitemap_recrawl(
    entries: DataFrame, fetched: DataFrame
) -> DataFrame:
    """Sitemap-driven recrawl classification — what a crawler does with
    a parsed ``<urlset>`` on the NEXT visit: join each advertised loc
    against the stored per-URL fetch state and emit ``(loc, lastmod,
    last_fetch, action)`` with ``action`` ∈ ``new`` (never fetched),
    ``fresh`` (our copy postdates the advertised change) and ``refetch``
    (everything else: the advertised lastmod is newer than our fetch, or
    the two do not compare). ``last_fetch`` is try-cast to ``lastmod``'s
    type (DATE, as :func:`parse_sitemaps` emits it), so an absent lastmod
    or a malformed fetch date makes the comparison NULL — and a row with
    no freshness evidence takes the conservative branch, ``refetch``.

    Composes with the other recrawl producers (snapshot diff, Poisson
    change-rate): a sitemap is the site ANNOUNCING change, those two are
    the crawler MEASURING it.

    100-TB shape: one uniform-key left join of the parsed entries
    against the fetch-state table; the classification is a per-row CASE.
    """
    e = entries.filter(F.col("kind") == "url").select("loc", "lastmod")
    j = e.join(fetched.select("loc", "last_fetch"), "loc", "left")
    lastmod = F.col("lastmod")
    last_fetch = F.col("last_fetch").try_cast(e.schema["lastmod"].dataType)
    return j.select(
        "loc", "lastmod", "last_fetch",
        F.when(F.col("last_fetch").isNull(), F.lit("new"))
        .when(lastmod > last_fetch, F.lit("refetch"))
        .when(lastmod <= last_fetch, F.lit("fresh"))
        .otherwise(F.lit("refetch"))
        .alias("action"),
    )
