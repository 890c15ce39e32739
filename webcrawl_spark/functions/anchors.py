"""Inbound anchor-text aggregation — the classic web-search relevance /
quality signal (anchor words describe the TARGET page better than the
target's own boilerplate; see Brin & Page 1998 §2.2, and anchor-text
features in modern quality classifiers).

Pure ``pyspark.sql.functions`` expressions; the tag scan is a
whole-stage-codegen ``regexp_extract_all`` + explode, NOT the crawl
kernel's five-regex scanner (kernels/links.py) — that scanner feeds the
frontier and deliberately drops the anchor TEXT (the reference crawler
never reads it, Backend/Crawler.cs:2172-2182); this module exists for the
analytics question the crawler does not ask.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# one full <a href="...">text</a> element, double-quoted href, no nested
# tags inside the anchor body — (?i) case-insensitive, RE2-safe so the
# DuckDB oracle runs the SAME pattern strings verbatim.
ANCHOR_TAG_RE = '(?i)<a\\s[^>]*href="[^"]*"[^>]*>[^<]*</a>'
ANCHOR_HREF_RE = '(?i)href="([^"]*)"'
ANCHOR_TEXT_RE = ">([^<]*)<"


def extract_anchors(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """One row per ``<a href>`` element: ``(src, target, anchor)`` with
    ``anchor`` the trimmed inner text ('' for image-only/empty anchors).

    100-TB shape: zero exchanges — tag scan, explode, and the two field
    extractions are map-side codegen over the pages scan.
    """
    tags = F.regexp_extract_all(
        F.col(html_col), F.lit(ANCHOR_TAG_RE), F.lit(0)
    )
    return pages.select(
        F.col(url_col).alias("src"), F.explode(tags).alias("tag")
    ).select(
        "src",
        F.regexp_extract("tag", ANCHOR_HREF_RE, 1).alias("target"),
        F.trim(F.regexp_extract("tag", ANCHOR_TEXT_RE, 1)).alias("anchor"),
    )


def anchor_text_stats(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Per-target inbound anchor profile: ``(target, n_inbound,
    n_sources, top_anchor, top_anchor_count)`` — total inbound anchors,
    distinct linking pages, and the most frequent anchor text (ties →
    lexicographically smallest), the signal a search index or a
    link-quality classifier stores per URL.

    100-TB shape: two hash aggregates on the uniform target / (target,
    anchor) keys, both partial-combining map-side; the per-target arg-max
    is ``min(struct(-count, anchor))`` (the struct-min trick — no window,
    so a mega-target like a homepage never pins one task); the final join
    keys on the uniform target.
    """
    a = extract_anchors(pages, html_col, url_col)
    per = a.groupBy("target", "anchor").agg(F.count(F.lit(1)).alias("cnt"))
    tot = a.groupBy("target").agg(
        F.count(F.lit(1)).alias("n_inbound"),
        F.countDistinct("src").alias("n_sources"),
    )
    top = per.groupBy("target").agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("nc"),
                F.col("anchor").alias("a"),
                F.col("cnt").alias("c"),
            )
        ).alias("m")
    ).select(
        "target",
        F.col("m.a").alias("top_anchor"),
        F.col("m.c").alias("top_anchor_count"),
    )
    return tot.join(top, "target").select(
        "target",
        F.col("n_inbound").cast("long").alias("n_inbound"),
        F.col("n_sources").cast("long").alias("n_sources"),
        "top_anchor",
        F.col("top_anchor_count").cast("long").alias("top_anchor_count"),
    )


def anchor_counts(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """The PERSISTABLE anchor state: ``(target, anchor, src, cnt)`` —
    the smallest granularity from which every :func:`anchor_text_stats`
    output is derivable AND which merges additively across crawls (counts
    sum; distinct-source sets are unions of the src column). A deployment
    writes this once per crawl; it is orders of magnitude smaller than
    the HTML it summarizes."""
    return (
        extract_anchors(pages, html_col, url_col)
        .groupBy("target", "anchor", "src")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def anchor_postings(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """The anchor FIELD as a search index: ``(id, term, tf)`` postings
    where ``id`` is the TARGET url and terms come from its inbound
    anchor texts — the Brin & Page §2.2 signal as a retrieval field
    (anchors describe the target better than its own boilerplate, and
    they exist even for unfetchable targets: images, PDFs, dead links).
    Same schema as ``textstats.postings_state``, so
    ``textstats.bm25_from_postings`` ranks targets by anchor relevance
    directly, and the table merges additively across crawls (tf sums).
    Targets whose every inbound anchor is empty get no postings (no
    describable text → not retrievable by this field), and neither does
    an empty ``href=""`` (it names no target). Relative hrefs index under
    their raw text; they are not resolved against the source url.

    100-TB shape: tag scan + field extraction + tokenization are
    map-side codegen; the only exchange is the vocabulary-bounded
    (target, term) aggregate with map-side partial combine.
    """
    a = extract_anchors(pages, html_col, url_col).filter(F.col("target") != "")
    return (
        a.select(
            F.col("target").alias("id"),
            F.explode(
                F.split(F.lower(F.trim("anchor")), r"\s+")
            ).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def anchor_stats_incremental(
    delta_pages: DataFrame, stored_counts: DataFrame,
    html_col: str = "html", url_col: str = "url",
) -> DataFrame:
    """Incremental anchor-profile maintenance — the ADDITIVE-STATE member
    of the delta-vs-corpus family (the six dedup members probe a stored
    table; here the stored table is a mergeable aggregate): extract
    anchors from ONLY the delta's HTML, merge the delta's counts into the
    persisted :func:`anchor_counts` state by summing, and recompute the
    :func:`anchor_text_stats` rollup from the merged state. The corpus
    HTML is never re-read; unit/battery checks assert the result equals
    the whole-corpus ``anchor_text_stats`` over corpus ∪ delta.

    100-TB shape: the merge is one uniform-key (target, anchor, src)
    aggregate over state-table-sized inputs (the delta side is small by
    definition, AQE broadcasts it); the rollup is the same two
    partial-combining aggregates + struct-min as the batch operator.
    """
    merged = (
        stored_counts.unionByName(
            anchor_counts(delta_pages, html_col, url_col)
        )
        .groupBy("target", "anchor", "src")
        .agg(F.sum("cnt").alias("cnt"))
    )
    per = merged.groupBy("target", "anchor").agg(F.sum("cnt").alias("cnt"))
    tot = merged.groupBy("target").agg(
        F.sum("cnt").alias("n_inbound"),
        F.countDistinct("src").alias("n_sources"),
    )
    top = per.groupBy("target").agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("nc"),
                F.col("anchor").alias("a"),
                F.col("cnt").alias("c"),
            )
        ).alias("m")
    ).select(
        "target",
        F.col("m.a").alias("top_anchor"),
        F.col("m.c").alias("top_anchor_count"),
    )
    return tot.join(top, "target").select(
        "target",
        F.col("n_inbound").cast("long").alias("n_inbound"),
        F.col("n_sources").cast("long").alias("n_sources"),
        "top_anchor",
        F.col("top_anchor_count").cast("long").alias("top_anchor_count"),
    )
