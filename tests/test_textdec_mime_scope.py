"""Charset precedence, MIME inference, scope-matrix, robots, filter tests."""

import pandas as pd
import pytest

from webcrawl_spark.kernels import mime, robots
from webcrawl_spark.kernels.filters import apply_uri_filters, compile_uri_filters
from webcrawl_spark.kernels.scope import compare_dirs, dir_of, scope_filter
from webcrawl_spark.kernels.textdec import decode_body


class TestCharset:
    def test_default_utf8(self):
        # GetEncoding fallback (Crawler.cs:2085-2098)
        assert decode_body("héllo".encode("utf-8"))[0] == "héllo"

    def test_hint_honored(self):
        t, c = decode_body("héllo".encode("latin-1"), "iso-8859-1")
        assert t == "héllo" and c == "iso8859-1"

    def test_bom_overrides_hint(self):
        # StreamReader BOM detection (Crawler.cs:1628-1631)
        body = b"\xef\xbb\xbf" + "héllo".encode("utf-8")
        t, c = decode_body(body, "iso-8859-1")
        assert t == "héllo" and c == "utf-8"

    def test_meta_override(self):
        # meta re-decode (Crawler.cs:1633-1656)
        html = '<meta http-equiv="content-type" content="text/html; charset=shift_jis">日本'.encode("shift_jis")
        t, c = decode_body(html, None, "html")
        assert "日本" in t and c == "shift_jis"

    def test_meta_us_ascii_exempt(self):
        # us-ascii meta does NOT trigger re-decode (Crawler.cs:1645)
        html = '<meta http-equiv="content-type" content="text/html; charset=us-ascii">héllo'.encode("utf-8")
        t, _ = decode_body(html, None, "html")
        assert t.endswith("héllo")

    def test_meta_invalid_charset_ignored(self):
        html = '<meta http-equiv="content-type" content="text/html; charset=bogus-enc">ok'.encode()
        t, c = decode_body(html, None, "html")
        assert t.endswith("ok") and c == "utf-8"

    def test_meta_only_for_html(self):
        css = '<meta http-equiv="content-type" content="x; charset=shift_jis">'.encode()
        _, c = decode_body(css, None, "css")
        assert c == "utf-8"

    def test_failure_none(self):
        assert decode_body(None) == (None, None)


class TestMime:
    def test_resource_types(self):
        # GetResourceType (Crawler.cs:3025-3054)
        assert mime.resource_type_of_mime("text/html") == "html"
        assert mime.resource_type_of_mime("Application/XHTML+xml") == "html"
        assert mime.resource_type_of_mime("text/css") == "css"
        assert mime.resource_type_of_mime("text/javascript; charset=x") == "javascript"
        assert mime.resource_type_of_mime("image/png") == "binary"
        assert mime.resource_type_of_mime(None) == "unknown"

    def test_guess_by_extension(self):
        # GuessResourceType (Crawler.cs:3056-3087) + table (1150-1209)
        assert mime.guess_resource_type_from_path("/a/b.html") == "html"
        assert mime.guess_resource_type_from_path("/a/b.PHP") == "html"
        assert mime.guess_resource_type_from_path("/a/b.css") == "css"
        assert mime.guess_resource_type_from_path("/a/b.js") == "javascript"
        assert mime.guess_resource_type_from_path("/a/b.png") == "binary"
        assert mime.guess_resource_type_from_path("/a/b.xyz") == "unknown"
        assert mime.guess_resource_type_from_path("/a/b") == "unknown"
        assert mime.guess_resource_type_from_path("/a.d/b") == "unknown"

    def test_batch_matches_scalar(self):
        paths = pd.Series(["/x.html", "/y.png", "/z", "/w.unknownext", "/.hidden"])
        got = mime.guess_types_batch(paths)
        exp = paths.map(mime.guess_resource_type_from_path)
        assert list(got) == list(exp)


def mkcand(rows):
    return pd.DataFrame(rows, columns=["scheme", "host", "path", "link_type"])


BASE = [{"scheme": "http", "host": "a.com", "path": "/dir/", "query": ""}]


class TestScope:
    def test_scheme_whitelist(self):
        out = scope_filter(
            mkcand([("gopher", "a.com", "/dir/x", "link")]), BASE
        )
        assert not out.allowed.iloc[0]

    def test_same_hostname_down(self):
        out = scope_filter(
            mkcand(
                [
                    ("http", "a.com", "/dir/sub/x.html", "link"),   # down: ok
                    ("http", "a.com", "/dir/y.html", "link"),       # same: ok
                    ("http", "a.com", "/other/z.html", "link"),     # sideways: no
                    ("http", "a.com", "/x.html", "link"),           # up: no
                    ("http", "b.com", "/dir/x.html", "link"),       # other host: no
                ]
            ),
            BASE,
        )
        assert list(out.allowed) == [True, True, False, False, False]

    def test_external_resource_escape(self):
        # Crawler.cs:3160-3163: external supporting resources allowed
        out = scope_filter(
            mkcand(
                [
                    ("http", "b.com", "/i.png", "resource"),
                    ("http", "b.com", "/p.html", "link"),
                ]
            ),
            BASE,
        )
        assert list(out.allowed) == [True, False]
        assert out.is_external.iloc[0]

    def test_external_resources_off(self):
        out = scope_filter(
            mkcand([("http", "b.com", "/i.png", "resource")]),
            BASE,
            external_resources=False,
        )
        assert not out.allowed.iloc[0]

    def test_nonhtml_unwanted(self):
        # Crawler.cs:3122-3125: binary rejected when NonHtml off
        out = scope_filter(
            mkcand(
                [
                    ("http", "a.com", "/dir/i.png", "link"),
                    ("http", "a.com", "/dir/p.html", "link"),
                    ("http", "a.com", "/dir/i.png", "resource"),
                ]
            ),
            BASE,
            want_nonhtml=False,
        )
        assert list(out.allowed) == [False, True, False]

    def test_same_domain(self):
        out = scope_filter(
            mkcand(
                [
                    ("http", "sub.a.com", "/x", "link"),
                    ("http", "other.com", "/x", "link"),
                ]
            ),
            BASE,
            domain_nav="SameDomain",
            dir_nav="UpAndDown",
        )
        assert list(out.allowed) == [True, False]

    def test_same_tld(self):
        out = scope_filter(
            mkcand(
                [
                    ("http", "zzz.com", "/x", "link"),
                    ("http", "zzz.org", "/x", "link"),
                ]
            ),
            BASE,
            domain_nav="SameTLD",
            dir_nav="UpAndDown",
        )
        assert list(out.allowed) == [True, False]

    def test_everywhere_upanddown_shortcircuit(self):
        out = scope_filter(
            mkcand([("https", "anything.io", "/x", "link")]),
            BASE,
            domain_nav="Everywhere",
            dir_nav="UpAndDown",
        )
        assert out.allowed.iloc[0] and not out.is_external.iloc[0]

    def test_dir_up(self):
        out = scope_filter(
            mkcand(
                [
                    ("http", "a.com", "/x.html", "link"),        # up: ok
                    ("http", "a.com", "/dir/sub/x", "link"),     # down: no
                ]
            ),
            BASE,
            dir_nav="Up",
        )
        assert list(out.allowed) == [True, False]

    def test_compare_dirs(self):
        # CompareDirectories (Crawler.cs:2885-2905)
        assert compare_dirs("/a/b/", "/a/b/") == "Same"
        assert compare_dirs("/a/b/c/", "/a/b/") == "Down"
        assert compare_dirs("/a/", "/a/b/") == "Up"
        assert compare_dirs("/a/x/", "/a/b/") == "UpAndDown"
        assert compare_dirs("/A/b/", "/a/b/", case_sensitive=False) == "Same"
        assert compare_dirs("/A/b/", "/a/b/", case_sensitive=True) == "UpAndDown"

    def test_dir_of_drops_filename(self):
        assert list(dir_of(pd.Series(["/a/b/c.html", "/a/b/", "/"]))) == [
            "/a/b/",
            "/a/b/",
            "/",
        ]


class TestRobots:
    def rules(self):
        return pd.DataFrame(
            {
                "host": ["a.com", "a.com", "a.com", "b.com"],
                "path_prefix": ["/private/", "/private/pub/", "", "/"],
                "allow": [False, True, True, False],
                "crawl_delay": [None, None, 2.0, None],
            }
        )

    def test_longest_prefix_wins(self):
        idx = robots.build_rule_index(self.rules())
        hosts = pd.Series(["a.com", "a.com", "a.com", "b.com", "c.com"])
        paths = pd.Series(["/private/x", "/private/pub/y", "/open", "/x", "/x"])
        out = robots.robots_allowed(hosts, paths, idx)
        assert list(out) == [False, True, True, False, True]

    def test_crawl_delay_budget(self):
        delays = robots.crawl_delays(self.rules())
        assert delays == {"a.com": 2.0}
        assert robots.host_budget(10, 2.0, 1.0) == 1
        assert robots.host_budget(10, 0.05, 1.0) == 10
        assert robots.host_budget(10, None, 1.0) == 10


class TestUriFilters:
    def test_change_filter_dollar_groups(self):
        # main.cs:289-304 + varRe main.cs:404
        ch, pos, neg = compile_uri_filters(
            [(r"http://old\.com/(\d+)/(.*)", r"http://new.com/${2}?id=$1")], [], []
        )
        out = apply_uri_filters(
            pd.Series(["http://old.com/42/page.html", "http://other.com/"]), ch, pos, neg
        )
        assert out.iloc[0] == "http://new.com/page.html?id=42"
        assert out.iloc[1] == "http://other.com/"

    def test_positive_all_must_match(self):
        ch, pos, neg = compile_uri_filters([], [r"\.html$", r"^http://a"], [])
        out = apply_uri_filters(
            pd.Series(["http://a/x.html", "http://b/x.html", "http://a/x.png"]),
            ch, pos, neg,
        )
        assert out.iloc[0] == "http://a/x.html"
        assert out.iloc[1] is None and out.iloc[2] is None

    def test_negative_any_rejects(self):
        ch, pos, neg = compile_uri_filters([], [], [r"logout", r"\.pdf$"])
        out = apply_uri_filters(
            pd.Series(["http://a/x.html", "http://a/logout", "http://a/d.pdf"]),
            ch, pos, neg,
        )
        assert out.iloc[0] == "http://a/x.html"
        assert out.iloc[1] is None and out.iloc[2] is None

    def test_change_filters_chain(self):
        ch, pos, neg = compile_uri_filters(
            [(r"http://a/(.*)", r"http://b/$1"), (r"http://b/(.*)", r"http://c/$1")],
            [], [],
        )
        out = apply_uri_filters(pd.Series(["http://a/p"]), ch, pos, neg)
        assert out.iloc[0] == "http://c/p"


FETCH_IN_SCHEMA = (
    "url string, url_key string, host string, host_hash int, path string, "
    "query string, depth int, referrer string, link_type string, "
    "is_external boolean, priority int, seq long, failures int, round int, "
    "post_data string, fetch_seq long, html binary, final_url string, "
    "server_mime string, http_status int, present boolean, exceeded boolean, "
    "final_present boolean, ok boolean"
)


def _fetch_row(path, fseq, html, present=True, status=200, final_url=None):
    """One fetch-join row as the round builds it (frontier columns, html,
    redirect target, server MIME and the JVM-side routing flags)."""
    ok = present and status == 200 and html is not None
    return (
        "http://a.test" + path, path, "a.test", 0, path, "", 0, None, "link",
        False, 0, fseq, 0, 0, None, fseq, html, final_url, None, status,
        present, False, True, ok,
    )


def test_fetch_stage_matches_decode_then_candidate_stages(spark):
    """The fused fetch stage through Spark's Arrow path: its page rows equal
    the decode stage's output and its link rows equal the parse→candidate
    stage's output on those pages, over partitions holding nothing, only
    error rows, only a binary page, and an html page with links plus a
    redirect-landing page (whose relative link resolves against the landing
    url). Only the last partition yields link rows."""
    from pandas.testing import assert_frame_equal
    from pyspark.sql import functions as F

    from webcrawl_spark.config import CrawlConfig
    from webcrawl_spark.functions import crawl_udfs as U

    cfg = CrawlConfig(directory_navigation="UpAndDown")
    base_bc = spark.sparkContext.broadcast(
        [{"scheme": "http", "host": "a.test", "path": "/index.html"}]
    )
    filters = compile_uri_filters((), (), ())
    parts = [
        [],
        [_fetch_row("/gone.html", 0, None, present=False),
         _fetch_row("/busy.html", 1, None, status=503)],
        [_fetch_row("/img.png", 2, b"\x89PNG-fake")],
        [_fetch_row("/index.html", 3, b'<a href="/p1.html">p</a>'
                    b'<a href="http://b.test/x">x</a><img src="i.png">'),
         _fetch_row("/old.html", 4, b'<a href="sub.html">s</a>',
                    final_url="http://a.test/new/landing.html")],
    ]
    fetch_in = spark.createDataFrame(
        spark.sparkContext.parallelize(range(len(parts)), len(parts))
        .flatMap(lambda i: parts[i]),
        FETCH_IN_SCHEMA,
    )
    fused = fetch_in.mapInPandas(
        U.make_fetch_stage(cfg, base_bc, filters, None), U.FETCH_SCHEMA
    ).withColumn("pid", F.spark_partition_id())
    dec = fetch_in.mapInPandas(U.make_decode_stage(cfg, base_bc), U.DECODE_SCHEMA)
    cand = dec.withColumn("base0", F.coalesce("final_url", "url")).mapInPandas(
        U.make_parse_candidate_stage(cfg, base_bc, filters, None),
        U.CANDIDATE_SCHEMA,
    )

    got_pages = fused.filter(F.col("passes").isNull()).select(*U.DECODE_COLS)
    assert_frame_equal(
        got_pages.orderBy("fetch_seq").toPandas(),
        dec.orderBy("fetch_seq").toPandas(),
    )
    links = fused.filter(F.col("passes").isNotNull())
    got_links = links.select(*U.CANDIDATE_COLS).orderBy("pos_f", "pos_o").toPandas()
    assert_frame_equal(got_links, cand.orderBy("pos_f", "pos_o").toPandas())
    assert {r.pid for r in links.select("pid").collect()} == {3}
    assert "http://a.test/new/sub.html" in set(got_links["url"])
    assert len(got_links) == 3  # /p1.html, i.png, new/sub.html; b.test out of scope
