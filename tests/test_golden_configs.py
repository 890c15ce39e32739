"""Golden-trace coverage for config combinations the topology suite leaves
untouched (SURVEY.md §2 ops 2, 4, 5, 9):

- PrioritizeNonHtml flips the two-level queue order (Crawler.cs:54-80,
  2345-2363)
- CaseSensitivePaths=False lower-cases the dedup key (Crawler.cs:2621-2622)
- DomainNavigation SameDomain / SameTLD / Everywhere (Crawler.cs:2763-2801)
- DirectoryNavigation Up / UpAndDown (Crawler.cs:2885-2905)
- want_nonhtml off rejects binary (Crawler.cs:3122-3125); only NonHtml
  gates types during the crawl
- depth-limit exemption for external supporting resources
  (Crawler.cs:1475-1484)
"""

import random


from webcrawl_spark.config import CrawlConfig
from webcrawl_spark.fixtures.gen import Fixture, _mk_pages, render_html

from .golden import run_and_check

SEED = 77


def _fx(name, rows, seeds, cfg):
    return Fixture(name, _mk_pages(rows), seeds, cfg)


def test_prioritize_nonhtml(spark, tmp_path):
    rng = random.Random(SEED)
    host = "http://pn.test"
    rows = [
        (f"{host}/index.html", render_html(
            [("/a.html", "link"), ("/x.png", "resource"), ("/b.html", "link"),
             ("/y.png", "resource")], rng=rng, title="idx")),
        (f"{host}/a.html", render_html([], rng=rng, title="a")),
        (f"{host}/b.html", render_html([], rng=rng, title="b")),
        (f"{host}/x.png", b"\x89PNG-x"),
        (f"{host}/y.png", b"\x89PNG-y"),
    ]
    cfg = CrawlConfig(
        max_connections=2, max_connections_per_server=2, prioritize_nonhtml=True
    )
    run_and_check(spark, _fx("pn", rows, [f"{host}/index.html"], cfg), tmp_path)


def test_case_insensitive_paths(spark, tmp_path):
    rng = random.Random(SEED + 1)
    host = "http://ci.test"
    rows = [
        (f"{host}/index.html", render_html(
            [("/Page.html", "link"), ("/page.html", "link"),
             ("/PAGE.html", "link")], rng=rng, title="idx")),
        (f"{host}/Page.html", render_html([], rng=rng, title="P")),
        (f"{host}/page.html", render_html([], rng=rng, title="p")),
        (f"{host}/PAGE.html", render_html([], rng=rng, title="PP")),
    ]
    cfg = CrawlConfig(
        max_connections=None, max_connections_per_server=8,
        case_sensitive_paths=False,
    )
    # only the FIRST casing variant is fetched (one dedup key)
    c = run_and_check(spark, _fx("ci", rows, [f"{host}/index.html"], cfg), tmp_path)
    assert c.fetched().count() == 2


def test_domain_navigation_samedomain(spark, tmp_path):
    rng = random.Random(SEED + 2)
    rows = [
        ("http://www.d.test/index.html", render_html(
            [("http://sub.d.test/a.html", "link"),
             ("http://other.test/b.html", "link"),
             ("http://deep.sub.d.test/c.html", "link")], rng=rng, title="idx")),
        ("http://sub.d.test/a.html", render_html([], rng=rng, title="a")),
        ("http://other.test/b.html", render_html([], rng=rng, title="b")),
        ("http://deep.sub.d.test/c.html", render_html([], rng=rng, title="c")),
    ]
    cfg = CrawlConfig(
        max_connections=None, max_connections_per_server=8,
        domain_navigation="SameDomain", directory_navigation="UpAndDown",
        external_resources=False,
    )
    run_and_check(spark, _fx("sd", rows, ["http://www.d.test/index.html"], cfg), tmp_path)


def test_domain_navigation_sametld(spark, tmp_path):
    rng = random.Random(SEED + 3)
    rows = [
        ("http://a.test/index.html", render_html(
            [("http://b.test/x.html", "link"),
             ("http://c.example/y.html", "link")], rng=rng, title="idx")),
        ("http://b.test/x.html", render_html([], rng=rng, title="x")),
        ("http://c.example/y.html", render_html([], rng=rng, title="y")),
    ]
    cfg = CrawlConfig(
        max_connections=None, max_connections_per_server=8,
        domain_navigation="SameTLD", directory_navigation="UpAndDown",
        external_resources=False,
    )
    run_and_check(spark, _fx("tld", rows, ["http://a.test/index.html"], cfg), tmp_path)


def test_directory_navigation_up(spark, tmp_path):
    rng = random.Random(SEED + 4)
    host = "http://up.test"
    rows = [
        (f"{host}/a/b/start.html", render_html(
            [("/a/top.html", "link"), ("/a/b/c/deep.html", "link"),
             ("/a/b/side.html", "link")], rng=rng, title="s")),
        (f"{host}/a/top.html", render_html([], rng=rng, title="t")),
        (f"{host}/a/b/c/deep.html", render_html([], rng=rng, title="d")),
        (f"{host}/a/b/side.html", render_html([], rng=rng, title="sd")),
    ]
    cfg = CrawlConfig(
        max_connections=None, max_connections_per_server=8,
        directory_navigation="Up",
    )
    run_and_check(spark, _fx("up", rows, [f"{host}/a/b/start.html"], cfg), tmp_path)


def test_want_nonhtml_off(spark, tmp_path):
    rng = random.Random(SEED + 5)
    host = "http://wh.test"
    rows = [
        (f"{host}/index.html", render_html(
            [("/a.html", "link"), ("/img.png", "resource"),
             ("/doc.pdf", "link")], rng=rng, title="idx")),
        (f"{host}/a.html", render_html([], rng=rng, title="a")),
        (f"{host}/img.png", b"\x89PNG"),
        (f"{host}/doc.pdf", b"%PDF-fake"),
    ]
    cfg = CrawlConfig(
        max_connections=None, max_connections_per_server=8, want_nonhtml=False
    )
    c = run_and_check(spark, _fx("wh", rows, [f"{host}/index.html"], cfg), tmp_path)
    urls = {r["url"].rsplit("/", 1)[-1] for r in c.fetched().collect()}
    assert urls == {"index.html", "a.html"}


def test_depth_exemption_external_resource(spark, tmp_path):
    rng = random.Random(SEED + 6)
    host = "http://dx.test"
    rows = [
        (f"{host}/p0.html", render_html(
            [("/p1.html", "link")], rng=rng, title="p0")),
        (f"{host}/p1.html", render_html(
            [("/p2.html", "link"), ("http://cdn.test/pic.png", "resource")],
            rng=rng, title="p1")),
        (f"{host}/p2.html", render_html([], rng=rng, title="p2")),
        ("http://cdn.test/pic.png", b"\x89PNG-cdn"),
    ]
    cfg = CrawlConfig(
        max_connections=None, max_connections_per_server=8, depth_limit=2
    )
    # depth 2 ≥ limit: p2 (link) rejected; cdn pic (external resource) exempt
    c = run_and_check(spark, _fx("dx", rows, [f"{host}/p0.html"], cfg), tmp_path)
    urls = {r["url"].rsplit("/", 1)[-1] for r in c.fetched().collect()}
    assert "pic.png" in urls and "p2.html" not in urls


def test_post_depth_exemption(spark, tmp_path):
    """POSTs bypass the depth gate (Crawler.cs:1475-1484): with
    depth_limit=0 no extracted link may enqueue, but user-forced POST
    resources (EnqueueUri with postData) are still fetched — both at
    crawl start (post_seeds) and injected mid-crawl via the runtime API."""
    rng = random.Random(SEED + 8)
    host = "http://pd.test"
    rows = [
        (f"{host}/index.html",
         render_html([("/a.html", "link")], rng=rng, title="idx")),
        (f"{host}/a.html", render_html([], rng=rng, title="a")),
        (f"{host}/form.html",
         render_html([("/result.html", "link")], rng=rng, title="form")),
        (f"{host}/result.html", render_html([], rng=rng, title="res")),
        (f"{host}/late.html", render_html([], rng=rng, title="late")),
    ]
    cfg = CrawlConfig(
        max_connections=None, max_connections_per_server=8, depth_limit=0,
        post_seeds=((f"{host}/form.html", "q=1"),),
    )
    c = run_and_check(spark, _fx("pdx", rows, [f"{host}/index.html"], cfg), tmp_path)
    urls = {r["url"].rsplit("/", 1)[-1] for r in c.fetched().collect()}
    # seeds + POST fetched; their depth-1 links gated out by depth_limit=0
    assert urls == {"index.html", "form.html"}

    # mid-crawl POST injection at the same exhausted depth budget: the
    # runtime API's forced entry is fetched, its links still depth-gated
    assert c.enqueue_uri(f"{host}/late.html", post_data="x=2")
    from webcrawl_spark.plans.crawl import SparkCrawler

    pages_df = c.pages
    c2 = SparkCrawler(spark, pages_df, [f"{host}/index.html"],
                      c.state.root, cfg)
    c2.run()
    urls2 = {r["url"].rsplit("/", 1)[-1] for r in c2.fetched().collect()}
    assert urls2 == {"index.html", "form.html", "late.html"}


def test_both_caps_combined(spark, tmp_path):
    """MaxQueuedLinks + MaxQueryStringsPerFile active together — the
    set-based two-pass cap accounting must still match the oracle."""
    rng = random.Random(SEED + 7)
    host = "http://caps.test"
    links = [(f"/item.html?id={i}", "link") for i in range(12)]
    links += [(f"/p{i}.html", "link") for i in range(6)]
    rows = [(f"{host}/index.html", render_html(links, rng=rng, title="idx"))]
    for i in range(12):
        rows.append((f"{host}/item.html?id={i}", render_html([], rng=rng, title=f"i{i}")))
    for i in range(6):
        rows.append((f"{host}/p{i}.html", render_html(
            [(f"/item.html?id={i + 20}", "link")], rng=rng, title=f"p{i}")))
    cfg = CrawlConfig(
        max_connections=3, max_connections_per_server=3,
        max_query_strings_per_file=5, max_queued_links=8,
    )
    run_and_check(spark, _fx("caps", rows, [f"{host}/index.html"], cfg), tmp_path)
