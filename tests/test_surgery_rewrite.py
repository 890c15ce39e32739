"""Frontier surgery (RemoveUris/ClearUris, SURVEY.md §2 op 17) and
offline-mirror link rewriting (§2 op 14)."""

import pytest

from webcrawl_spark import schemas
from webcrawl_spark.fixtures.gen import chain
from webcrawl_spark.operators.rewrite import rewrite_links
from webcrawl_spark.plans.crawl import SparkCrawler


def _mk(spark, tmp_path, name, **cfg):
    fx = chain(n=8, depth_limit=10)
    pages = spark.createDataFrame(fx.pages, schema=schemas.PAGES)
    c = SparkCrawler(
        spark, pages, fx.seeds, str(tmp_path / name),
        fx.config.with_(num_partitions=4, **cfg),
    )
    return c


def test_remove_uris_no_requeue(spark, tmp_path):
    c = _mk(spark, tmp_path, "a")
    c.run(max_rounds=2)           # fetched p0, p1; frontier has p2
    n = c.remove_uris(r"/p2\.html", allow_requeue=False)
    assert n == 1
    c.run()
    urls = {r["url"].rsplit("/", 1)[-1] for r in c.fetched().collect()}
    # p2 removed and marked seen: p2 and everything only reachable
    # through it never fetched
    assert urls == {"p0.html", "p1.html"}


def test_remove_uris_with_requeue(spark, tmp_path):
    c = _mk(spark, tmp_path, "b")
    c.run(max_rounds=2)
    # p2 queued (discovered by p1); p1 already fetched. Removing p2 WITH
    # requeue erases it from seen — but nothing still queued links to it,
    # so it stays unfetched; re-adding via a fresh crawl driver seeded at
    # p2 re-enqueues it (seen no longer blocks).
    assert c.remove_uris(r"/p2\.html", allow_requeue=True) == 1
    # the requeue removal counts the consolidated seen set it writes
    assert c.state.latest_manifest().seen_rows == c.seen().count()
    m = c.run()
    urls = {r["url"].rsplit("/", 1)[-1] for r in c.fetched().collect()}
    assert "p2.html" not in urls
    seen_keys = {r["url_key"] for r in c.seen().collect()}
    assert "/p2.html" not in seen_keys      # erased, re-discoverable


@pytest.mark.parametrize("rewrite", ["compact", "requeue_removal"])
def test_enqueue_uri_after_seen_rewrite(spark, tmp_path, rewrite):
    """A seen compaction and a requeue removal both publish seen as a
    compacted generation whose watermark covers the current round, so
    reads ignore that round's dir: a key enqueued afterwards must still
    reach seen(), or its rediscovery enqueues it a second time."""
    c = _mk(spark, tmp_path, rewrite)
    m = c.run(max_rounds=2)       # fetched p0, p1; frontier has p2
    if rewrite == "compact":
        c.state.compact("seen", m.next_round)
    else:
        assert c.enqueue_uri("http://chain.test/p6.html")
        assert c.remove_uris(r"/p6\.html", allow_requeue=True) == 1
    assert c.enqueue_uri("http://chain.test/p5.html", force=False)
    assert "/p5.html" in {r["url_key"] for r in c.seen().collect()}
    assert c.state.latest_manifest().seen_rows == c.seen().count()
    c.run()                       # p4 rediscovers p5
    urls = [r["url"] for r in c.trace().collect()]
    assert len(urls) == len(set(urls)) == 8


def test_clear_uris(spark, tmp_path):
    c = _mk(spark, tmp_path, "c")
    c.run(max_rounds=1)
    assert c.clear_uris() >= 1
    m = c.run()
    assert m.done
    assert c.fetched().count() == 1         # only the seed round happened


def test_rewrite_links(spark, tmp_path):
    c = _mk(spark, tmp_path, "d")
    c.run()
    out = {r["url"]: r["rewritten"] for r in rewrite_links(spark, c.fetched()).collect()}
    # p0's link to /p1.html becomes the local mirror path
    p0 = out["http://chain.test/p0.html"]
    assert "chain.test/p1.html" in p0 and 'href="/p1.html"' not in p0
    # last page has no links -> unchanged text
    last = max(out)
    assert "</html>" in out[last]


def test_rewrite_substring_collision(spark):
    """Span-anchored replacement: one href being a substring of another (or
    appearing in body text) must not corrupt the longer URL or the body."""
    import pandas as pd

    html = (
        '<a href="/a.html">one</a>'
        '<a href="/a.html?id=1">two</a>'
        'body mentions /a.html literally'
    )
    fetched = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["http://h.test/a.html", "http://h.test/a.html?id=1",
                        "http://h.test/index.html"],
                "host": ["h.test"] * 3,
                "url_key": ["/a.html", "/a.html?id=1", "/index.html"],
                "extracted_text": [
                    "<html></html>", "<html></html>", html,
                ],
            }
        )
    )
    from webcrawl_spark.operators.rewrite import rewrite_links

    out = {r["url"]: r["rewritten"] for r in rewrite_links(spark, fetched).collect()}
    doc = out["http://h.test/index.html"]
    # the query-string variant keeps its md5-suffixed local path intact
    assert 'href="h.test/a.html">' in doc
    assert 'href="h.test/a.html_' in doc
    # body text untouched
    assert "body mentions /a.html literally" in doc


def test_rewrite_unmapped_relative_to_original(spark):
    """A relative link to an UNFETCHED page must be spliced to its absolute
    original URL so it still resolves offline (BeginRewritingToOriginalUrl,
    Crawler.cs:3246-3294); absolute unmapped links stay untouched; mapped
    links still localize."""
    import pandas as pd

    html = (
        '<a href="/a.html">mirrored</a>'
        '<a href="/missing.html">unfetched-rel</a>'
        '<a href="http://other.test/x.html">unfetched-abs</a>'
    )
    fetched = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["http://h.test/a.html", "http://h.test/index.html"],
                "host": ["h.test"] * 2,
                "url_key": ["/a.html", "/index.html"],
                "extracted_text": ["<html></html>", html],
            }
        )
    )
    from webcrawl_spark.operators.rewrite import rewrite_links

    out = {r["url"]: r["rewritten"] for r in rewrite_links(spark, fetched).collect()}
    doc = out["http://h.test/index.html"]
    assert 'href="h.test/a.html">' in doc                      # localized
    assert 'href="http://h.test/missing.html">' in doc         # rel → original
    assert 'href="http://other.test/x.html">' in doc           # abs untouched
    # opt-out keeps the dangling relative href as-is
    out2 = {
        r["url"]: r["rewritten"]
        for r in rewrite_links(spark, fetched, unmapped_to_original=False).collect()
    }
    assert 'href="/missing.html">' in out2["http://h.test/index.html"]


def test_rewrite_want_flags(spark):
    """WantResource (Crawler.cs:3330-3335) at the mirror layer: a fetched
    but UNWANTED type gets no local path — it is deleted and its links
    rewrite to the original URL (Crawler.cs:1673-1678) — while wanted types
    still localize."""
    import pandas as pd

    html = (
        '<a href="/page.html">html-link</a>'
        '<img src="/pic.png">'
    )
    fetched = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [
                    "http://h.test/index.html",
                    "http://h.test/page.html",
                    "http://h.test/pic.png",
                ],
                "host": ["h.test"] * 3,
                "url_key": ["/index.html", "/page.html", "/pic.png"],
                "mime": ["text/html", "text/html", "image/png"],
                "extracted_text": [html, "<html></html>", None],
            }
        )
    )
    from webcrawl_spark.operators.rewrite import rewrite_links

    # NonHtml unwanted: the image loses its mirror path → original URL
    out = {
        r["url"]: r["rewritten"]
        for r in rewrite_links(spark, fetched, want_nonhtml=False).collect()
    }
    doc = out["http://h.test/index.html"]
    assert 'href="h.test/page.html">' in doc           # html still localized
    assert 'src="http://h.test/pic.png">' in doc       # binary → original
    # Html unwanted: the html page loses its path, the image keeps its own
    out2 = {
        r["url"]: r["rewritten"]
        for r in rewrite_links(spark, fetched, want_html=False).collect()
    }
    doc2 = out2["http://h.test/index.html"]
    assert 'href="http://h.test/page.html">' in doc2   # html → original
    assert 'src="h.test/pic.png">' in doc2             # binary localized


def test_rewrite_want_flags_null_mime(spark):
    """A NULL/absent mime classifies as the html class (the decode path's
    unknown-defaults-to-HTML rule) instead of dropping out of BOTH classes
    under three-valued `~isin` logic (ADVICE r4): with want_nonhtml=False
    it keeps a mirror path; with want_html=False it rewrites to original."""
    import pandas as pd

    html = '<a href="/noext">no-mime-link</a>'
    fetched = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["http://h.test/index.html", "http://h.test/noext"],
                "host": ["h.test"] * 2,
                "url_key": ["/index.html", "/noext"],
                "mime": ["text/html", None],
                "extracted_text": [html, "<html></html>"],
            }
        )
    )
    from webcrawl_spark.operators.rewrite import rewrite_links

    out = {
        r["url"]: r["rewritten"]
        for r in rewrite_links(spark, fetched, want_nonhtml=False).collect()
    }
    assert 'href="h.test/noext">' in out["http://h.test/index.html"]
    out2 = {
        r["url"]: r["rewritten"]
        for r in rewrite_links(spark, fetched, want_html=False).collect()
    }
    assert 'href="http://h.test/noext">' in out2["http://h.test/index.html"]


def test_enqueue_uri_between_runs(spark, tmp_path, monkeypatch):
    """EnqueueUri API (Crawler.cs:1081-1101): force-enqueue between runs —
    an orphan page gets fetched, a force dup refetches a seen url, and a
    non-forced dup is rejected."""
    import random

    import pandas as pd

    from webcrawl_spark import schemas
    from webcrawl_spark.fixtures import gen
    from webcrawl_spark.plans.crawl import SparkCrawler

    fx = gen.chain(n=4, depth_limit=9)
    orphan = "http://chain.test/orphan.html"
    extra = gen._mk_pages(
        [(orphan, gen.render_html([], rng=random.Random(1), title="o"))]
    )
    pages = pd.concat([fx.pages, extra], ignore_index=True)
    pdf = spark.createDataFrame(pages, schema=schemas.PAGES)
    # the check on from round 0, so a complete sidecar exists to insert into
    cfg = fx.config.with_(num_partitions=4, bloom_min_seen=0)
    c = SparkCrawler(spark, pdf, fx.seeds, str(tmp_path / "s"), cfg)
    c.run(max_rounds=1)
    from webcrawl_spark.operators import bloom as B

    bd = B.sidecar_dir(c.state.root)
    assert c.enqueue_uri(orphan)
    # the key is ORed in through the rounds' sidecar update path: the
    # sidecar stays complete, so the next run queues no O(seen-set) rebuild
    assert B.is_complete(bd, cfg.bloom_bits, cfg.num_partitions)
    assert c.enqueue_uri(fx.seeds[0], force=True)
    assert not c.enqueue_uri(fx.seeds[0], force=False)
    assert not c.enqueue_uri("mailto:not-a-crawl-url")
    # the manifest tracks the true seen count: chain seeds + discoveries
    # + the orphan; the force-dup re-enqueue must NOT inflate it
    m = c.state.latest_manifest()
    assert m.seen_rows == c.seen().count()

    rebuilds = []
    real = B.build_sidecar

    def spy(keys_df, d, bits, partitions, rebuild):
        rebuilds.append(rebuild)
        return real(keys_df, d, bits, partitions, rebuild)

    monkeypatch.setattr(B, "build_sidecar", spy)
    c2 = SparkCrawler(spark, pdf, fx.seeds, str(tmp_path / "s"), cfg)
    c2.run()
    assert rebuilds and not any(rebuilds)
    urls = [r["url"] for r in c2.trace().collect()]
    assert orphan in urls
    assert urls.count(fx.seeds[0]) == 2
    assert c2.state.latest_manifest().seen_rows == c2.seen().count()
