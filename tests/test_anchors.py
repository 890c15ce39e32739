"""Unit battery for inbound anchor-text aggregation (functions/anchors)."""

from webcrawl_spark.functions.anchors import anchor_text_stats, extract_anchors


def test_extract_anchors_fields_case_and_trim(spark):
    pages = spark.createDataFrame(
        [
            (
                "http://a.test/",
                '<p>x</p><a href="http://t.test/p.html"> hello world </a>'
                '<A HREF="http://t.test/q.html">UPPER</A>'
                '<a class="z" href="http://t.test/r.html"></a>'
                '<img src="http://img.test/i.png">',
            )
        ],
        "url string, html string",
    )
    rows = {r.target: r for r in extract_anchors(pages).collect()}
    # the img src is NOT an anchor and must not appear
    assert set(rows) == {
        "http://t.test/p.html", "http://t.test/q.html", "http://t.test/r.html"
    }
    assert rows["http://t.test/p.html"].anchor == "hello world"  # trimmed
    assert rows["http://t.test/q.html"].anchor == "UPPER"        # (?i) tag
    assert rows["http://t.test/r.html"].anchor == ""             # empty body


def test_anchor_text_stats_counts_and_top(spark):
    t = "http://hub.test/"
    pages = spark.createDataFrame(
        [
            ("s1", f'<a href="{t}">home</a><a href="{t}">home</a>'),
            ("s2", f'<a href="{t}">start</a>'),
            ("s3", f'<a href="{t}">home</a><a href="http://x.test/">x</a>'),
        ],
        "url string, html string",
    )
    out = {r.target: r for r in anchor_text_stats(pages).collect()}
    hub = out[t]
    assert hub.n_inbound == 4          # all anchors, including s1's two
    assert hub.n_sources == 3          # distinct linking pages
    assert hub.top_anchor == "home" and hub.top_anchor_count == 3
    assert out["http://x.test/"].n_inbound == 1


def test_anchor_text_stats_tie_breaks_lexicographically(spark):
    t = "http://tie.test/"
    pages = spark.createDataFrame(
        [
            ("s1", f'<a href="{t}">zeta</a>'),
            ("s2", f'<a href="{t}">alpha</a>'),
        ],
        "url string, html string",
    )
    row = anchor_text_stats(pages).collect()[0]
    assert row.top_anchor == "alpha" and row.top_anchor_count == 1


def test_anchor_stats_incremental_merges_counts_and_sources(spark):
    from webcrawl_spark.functions.anchors import (
        anchor_counts,
        anchor_stats_incremental,
        anchor_text_stats,
    )

    t = "http://hub.test/"
    corpus = spark.createDataFrame(
        [("s1", f'<a href="{t}">home</a>'), ("s2", f'<a href="{t}">start</a>')],
        "url string, html string",
    )
    # delta: s1 RE-links (count merges into the same (t, home, s1) row),
    # s3 is a brand-new source, and a new target appears
    delta = spark.createDataFrame(
        [
            ("s1", f'<a href="{t}">home</a><a href="http://new.test/">n</a>'),
            ("s3", f'<a href="{t}">home</a>'),
        ],
        "url string, html string",
    )
    got = {
        r.target: r
        for r in anchor_stats_incremental(delta, anchor_counts(corpus)).collect()
    }
    hub = got[t]
    assert hub.n_inbound == 4 and hub.n_sources == 3
    assert hub.top_anchor == "home" and hub.top_anchor_count == 3
    assert got["http://new.test/"].n_inbound == 1
    # merged state must equal the batch answer over corpus ∪ delta
    want = {
        r.target: r
        for r in anchor_text_stats(corpus.unionByName(delta)).collect()
    }
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in want.items()
    }


def test_url_alias_groups_shortest_url_wins(spark):
    from webcrawl_spark.operators.textdedup import url_alias_groups

    pages = spark.createDataFrame(
        [
            ("http://a.test/x.html", "same content body"),
            ("http://a-very-long-mirror.example/x.html", "same content body"),
            ("http://b.test/y.html", "unique content body"),
            # equal length → lexicographic tie-break
            ("http://c.test/z1.html", "tied content body"),
            ("http://c.test/z0.html", "tied content body"),
        ],
        "url string, text string",
    )
    out = {r.url: r for r in url_alias_groups(pages).collect()}
    assert out["http://a.test/x.html"].is_canonical
    assert not out["http://a-very-long-mirror.example/x.html"].is_canonical
    assert out["http://a-very-long-mirror.example/x.html"].canonical_url == (
        "http://a.test/x.html"
    )
    assert out["http://b.test/y.html"].is_canonical
    assert out["http://b.test/y.html"].group_size == 1
    assert out["http://c.test/z0.html"].is_canonical
    assert not out["http://c.test/z1.html"].is_canonical


def test_anchor_postings_and_search(spark):
    """Anchor-field retrieval: targets rank by their INBOUND anchor
    texts; empty-anchor-only targets are not retrievable; the postings
    schema plugs straight into the maintained-index scorer."""
    from webcrawl_spark.functions.anchors import anchor_postings
    from webcrawl_spark.functions.textstats import bm25_from_postings

    pages = spark.createDataFrame(
        [
            ("http://s1.test/", '<a href="http://t/a">deep learning guide</a>'
                                '<a href="http://t/b">home</a>'),
            ("http://s2.test/", '<a href="http://t/a">learning notes</a>'
                                '<a href="http://t/c"></a>'),
        ],
        "url string, html string",
    )
    p = {(r.id, r.term): r.tf for r in anchor_postings(pages).collect()}
    assert p[("http://t/a", "learning")] == 2
    assert p[("http://t/b", "home")] == 1
    assert not any(k[0] == "http://t/c" for k in p)  # empty anchors only
    top = bm25_from_postings(
        anchor_postings(pages), ["learning", "guide"], k=5
    ).collect()
    assert top[0].id == "http://t/a" and top[0].n_hits == 2
    assert all(r.id != "http://t/c" for r in top)


def test_anchor_postings_drops_empty_targets(spark):
    """An anchor with ``href=""`` names no target: it yields no posting, so
    no empty-string id becomes retrievable. Relative hrefs still index
    under their raw text (they are not resolved against the source)."""
    from webcrawl_spark.functions.anchors import anchor_postings

    pages = spark.createDataFrame(
        [
            ("http://s1.test/", '<a href="">empty target</a>'
                                '<a href="http://t/a">kept</a>'
                                '<a href="rel.html">relative</a>'),
            ("http://s2.test/", None),
        ],
        "url string, html string",
    )
    ids = {r.id for r in anchor_postings(pages).collect()}
    assert ids == {"http://t/a", "rel.html"}
