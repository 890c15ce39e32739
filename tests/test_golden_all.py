"""Golden-trace tests across every fixture topology (SURVEY.md §5 item 1).

Each topology stresses a different operator set:
- tree     BFS order, html-vs-resource priority, dedup, min-depth merge
- star     mega-host skew + politeness (salted selection path)
- cycle    canonicalization dedup (fragment/slash/query-order variants)
- trap     MaxQueryStringsPerFile cap
- scope    DomainNavigation × DirectoryNavigation matrix + external resources
- charset  decode precedence (BOM, meta override, us-ascii exemption)
- broken   404 + retry routing
- filters  URI change/± filters, content-filter-before-scan ordering
- robots   disallow rules + crawl_delay budgets
"""

import os
import re

from webcrawl_spark.fixtures import gen
from webcrawl_spark.operators import bloom as B
from webcrawl_spark.plans import round as round_plan

from .golden import run_and_check, run_spark


def test_tree_golden(spark, tmp_path):
    crawler = run_and_check(spark, gen.tree(branching=2, depth=3), tmp_path)
    # default config: seen never reaches bloom_min_seen, so no round checks
    # and none keeps a Bloom sidecar
    assert not os.path.exists(os.path.join(crawler.state.root, "bloom"))


def test_star_golden(spark, tmp_path):
    run_and_check(
        spark, gen.star_megahost(hub_pages=16, small_hosts=3, pages_per_small=3),
        tmp_path,
    )


def test_cycle_golden(spark, tmp_path):
    run_and_check(spark, gen.cycle(n=12), tmp_path)


def test_trap_golden(spark, tmp_path):
    run_and_check(spark, gen.trap(n_queries=30, cap=20), tmp_path)


def test_scope_golden(spark, tmp_path):
    run_and_check(spark, gen.scope_matrix(), tmp_path)


def test_charset_golden(spark, tmp_path):
    run_and_check(spark, gen.charset_mix(), tmp_path)


def test_broken_golden(spark, tmp_path):
    run_and_check(spark, gen.broken(), tmp_path)


def test_filters_golden(spark, tmp_path):
    run_and_check(spark, gen.filters_fixture(), tmp_path)


def test_robots_golden(spark, tmp_path):
    run_and_check(spark, gen.robots_fixture(), tmp_path)


def test_redirects_golden(spark, tmp_path):
    crawler = run_and_check(spark, gen.redirects_fixture(), tmp_path)
    errs = crawler.errors().toPandas().set_index("url")["reason"].to_dict()
    assert errs["http://redir.test/deep.html"] == "too_many_redirects"
    assert errs["http://redir.test/loop1.html"] == "too_many_redirects"
    assert errs["http://redir.test/dead.html"] == "http_404"
    assert errs["http://redir.test/ext.html"] == "redirect_out_of_scope"
    fetched = crawler.fetched().toPandas()
    finals = fetched.set_index("url")["final_url"].to_dict()
    assert finals["http://redir.test/r2.html"] == "http://redir.test/sub/target2.html"
    # relative link on the landing page resolved against the LANDING url
    assert "http://redir.test/sub/rel.html" in set(fetched["url"])


def test_http_errors_golden(spark, tmp_path):
    crawler = run_and_check(spark, gen.http_errors_fixture(), tmp_path)
    errs = crawler.errors().toPandas()
    by_url = errs.groupby("url")["reason"].agg(list).to_dict()
    # fatal codes die immediately, exactly one error row, no retry
    assert by_url["http://err.test/gone.html"] == ["http_410"]
    assert by_url["http://err.test/auth.html"] == ["http_401"]
    # retryable codes follow MaxRetries: one retryable then exhausted
    assert sorted(by_url["http://err.test/flaky500.html"]) == [
        "retries_exhausted", "retryable"]
    # redirect landing on a fatal status inherits it
    assert by_url["http://err.test/moved.html"] == ["http_410"]


def test_post_golden(spark, tmp_path):
    crawler = run_and_check(spark, gen.post_fixture(), tmp_path)
    trace = crawler.trace().toPandas()
    # force=true: the url seeded AND POSTed is fetched twice
    assert (trace["url"] == "http://post.test/index.html").sum() == 2
    # the POST-only page and the GET link it discovers are both fetched
    assert "http://post.test/form.html" in set(trace["url"])
    assert "http://post.test/result.html" in set(trace["url"])
    errs = crawler.errors().toPandas().set_index("url")["reason"].to_dict()
    assert errs["http://post.test/gone.html"] == "http_404"


def test_reliable_checkpoints_golden(spark, tmp_path):
    """Cluster-mode lineage cuts (DataFrame.checkpoint into the state dir)
    produce the identical golden trace, and the round counts their cuts'
    Observations report equal a local-mode crawl's, counter for counter."""
    fx = gen.tree(branching=2, depth=3)
    reliable = run_and_check(
        spark,
        gen.Fixture("tree_rckpt", fx.pages, fx.seeds,
                    fx.config.with_(reliable_checkpoints=True)),
        tmp_path,
    )
    local = run_spark(spark, fx, str(tmp_path / "state_local"))

    def counters(c):
        return [m.counters for m in c.state.manifests()]

    assert counters(reliable) == counters(local)
    assert any(
        c[2] == "new_links" and c[3] > 0 for cs in counters(local) for c in cs
    )


def test_mime_overrides_golden(spark, tmp_path):
    crawler = run_and_check(spark, gen.mime_override_fixture(), tmp_path)
    fetched = crawler.fetched().toPandas()
    urls = set(fetched["url"])
    # reachable only through overridden types: .png parsed as html,
    # .txt mapping removed -> unknown -> html
    assert "http://mo.test/deep.html" in urls
    assert "http://mo.test/fromtxt.html" in urls
    mimes = fetched.set_index("url")["mime"].to_dict()
    assert mimes["http://mo.test/gallery.png"] == "text/html"
    assert mimes["http://mo.test/pic.jpg"] == "application/octet-stream"


def test_mime_retype_golden(spark, tmp_path):
    """Server-Content-Type re-type (GetMimeType, Crawler.cs:2100-2119):
    an extension-less URL served text/css is scanned with the CSS regexes,
    octet-stream suppresses parsing, a .css page served text/html is
    scanned as HTML, and the header of a redirect's TERMINAL row wins."""
    crawler = run_and_check(spark, gen.mime_retype_fixture(), tmp_path)
    fetched = crawler.fetched().toPandas()
    urls = set(fetched["url"])
    # /styles re-typed text/css → its url(...) targets were discovered
    assert "http://mt.test/fromcss.png" in urls
    assert "http://mt.test/c2.gif" in urls
    # /page.css re-typed text/html → its anchor was discovered
    assert "http://mt.test/fromhtml.html" in urls
    # extension-less with no header → HTML default → link discovered
    assert "http://mt.test/fromplain.html" in urls
    # octet-stream → binary: no text, and its link was never discovered
    assert "http://mt.test/never.html" not in urls
    meta = fetched.set_index("url")
    assert meta.loc["http://mt.test/styles", "mime"] == "text/css"
    assert meta.loc["http://mt.test/blob", "mime"] == "application/octet-stream"
    assert meta.loc["http://mt.test/blob", "extracted_text"] is None
    assert meta.loc["http://mt.test/page.css", "mime"] == "text/html"
    # redirect /goto landed on /styles: typed by the terminal row's header
    assert meta.loc["http://mt.test/goto", "mime"] == "text/css"


def test_truncate_golden(spark, tmp_path):
    """MaxFileSize truncates the TRANSFER (CopyStream, Crawler.cs:1743-1771)
    — not just the bytes metric: the oversized page's extracted text is the
    truncated body's, the pre-cut link is discovered, the anchor straddling
    the cut and everything past it are not."""
    fx = gen.truncate_fixture()
    crawler = run_and_check(spark, fx, tmp_path)
    fetched = crawler.fetched().toPandas()
    urls = set(fetched["url"])
    assert "http://trunc.test/early.html" in urls        # before the cut
    assert "http://trunc.test/half.html" not in urls     # anchor cut in half
    assert "http://trunc.test/lost.html" not in urls     # after the cut
    assert "http://trunc.test/ok.html" in urls           # under-cap page intact
    meta = fetched.set_index("url")
    cap = fx.config.max_file_size
    assert meta.loc["http://trunc.test/big.html", "bytes"] == cap
    big_text = meta.loc["http://trunc.test/big.html", "extracted_text"]
    assert len(big_text.encode("utf-8")) == cap          # text IS the cut body
    assert big_text.endswith('<a href="/ha')

    # None = Infinite (Crawler.cs:583-598): no truncation, every link found
    inf = gen.Fixture(
        "truncate_inf", fx.pages, fx.seeds, fx.config.with_(max_file_size=None)
    )
    crawler2 = run_and_check(spark, inf, tmp_path)
    urls2 = set(crawler2.fetched().toPandas()["url"])
    assert {"http://trunc.test/half.html", "http://trunc.test/lost.html"} <= urls2


def test_rank_priority_golden(spark, tmp_path):
    """A ranks table (the shape link_pagerank emits) reorders frontier
    selection within the html/binary class when passed to the crawl — the
    reference's HTML-first priority (EnqueueCore, Crawler.cs:2507-2512)
    generalized to an external signal. Budget 2/host/round: the trace must
    follow rank order among html pages, with the top-ranked BINARY resource
    still behind every html page (class dominates rank)."""
    crawler = run_and_check(spark, gen.rank_fixture(), tmp_path)
    trace = crawler.trace().toPandas().sort_values("fetch_seq")
    order = [u.rsplit("/", 1)[1] for u in trace["url"]]
    assert order == [
        "index.html",
        "p3.html", "p2.html",    # ranks 9000, 500
        "p4.html", "p1.html",    # ranks 200, 10
        "r1.png", "r2.png",      # binary class last, rank orders within it
    ]


def test_bloom_forced_golden(spark, tmp_path, monkeypatch):
    """Force the Bloom check stage on from round 0 (bloom_min_seen=0) —
    byte-identical to the oracle; again with a saturated 8-bit filter
    (every candidate maybe_seen → pure anti-join verification); and once
    more with the check turning on mid-crawl. Seen holds 1, 5, 13 keys
    entering rounds 0, 1, 2, so bloom_min_seen=5 crosses at round 1 —
    before round 2's level-2 pages re-discover /n0.html."""
    fx = gen.tree(branching=2, depth=3)
    crawler = run_and_check(
        spark,
        gen.Fixture("tree_bloom", fx.pages, fx.seeds,
                    fx.config.with_(bloom_min_seen=0)),
        tmp_path,
    )
    # one sidecar for the whole crawl: a single set of partition files
    names = os.listdir(B.sidecar_dir(crawler.state.root))
    assert "_COMPLETE" in names
    assert all(re.fullmatch(r"part-\d+\.npy", n) for n in names if n != "_COMPLETE")
    run_and_check(
        spark,
        gen.Fixture("tree_bloom_sat", fx.pages, fx.seeds,
                    fx.config.with_(bloom_min_seen=0, bloom_bits=8)),
        tmp_path,
    )

    builds = []
    real = B.build_sidecar

    def spy(keys_df, d, bits, partitions, rebuild):
        builds.append((rebuild, keys_df.count(), d))
        return real(keys_df, d, bits, partitions, rebuild)

    monkeypatch.setattr(B, "build_sidecar", spy)
    crawler = run_and_check(
        spark,
        gen.Fixture("tree_bloom_cross", fx.pages, fx.seeds,
                    fx.config.with_(bloom_min_seen=5)),
        tmp_path,
    )
    # nothing built before the crossing round, which builds from its full
    # seen view (5 keys); every checking round then ORs its delta into the
    # same files in place
    d = B.sidecar_dir(crawler.state.root)
    assert builds[0] == (True, 5, d)
    assert len(builds) > 2
    assert all(not rebuild and out == d for rebuild, _, out in builds[1:])
    assert B.is_complete(d, fx.config.bloom_bits, 4)   # run_spark's P


def _capped_tree() -> gen.Fixture:
    """tree(3,3) with a 7-link frontier cap: the cap binds (19 fetches,
    one of them an error, against 69 uncapped)."""
    fx = gen.tree(branching=3, depth=3)
    return gen.Fixture(
        "tree_cap", fx.pages, fx.seeds, fx.config.with_(max_queued_links=7)
    )


def _spy_numbering(monkeypatch) -> list:
    """Record the ``out_col`` of every two-phase numbering a crawl runs."""
    numbered = []
    real = round_plan.assign_global_seq

    def spy(*args, **kwargs):
        numbered.append(kwargs["out_col"])
        return real(*args, **kwargs)

    monkeypatch.setattr(round_plan, "assign_global_seq", spy)
    return numbered


def test_max_queued_links_golden(spark, tmp_path, monkeypatch):
    """The cap keeps the first free slots of the one discovery numbering:
    a small-round crawl never ranks its accepted set two-phase."""
    numbered = _spy_numbering(monkeypatch)
    c = run_and_check(spark, _capped_tree(), tmp_path)
    assert c.fetch_log().count() == 19
    assert numbered == []


def test_two_phase_seq_golden(spark, tmp_path, monkeypatch):
    """Every round above the small-round threshold: fetch_seq and seq come
    from the range-partitioned two-phase numbering (operators/seq.py), not
    the lazy single-partition window — the same golden trace, with and
    without the frontier cap filtering it."""
    numbered = _spy_numbering(monkeypatch)
    monkeypatch.setattr(round_plan, "SMALL_ROUND_THRESHOLD", 0)
    for fx in (gen.tree(branching=2, depth=3), _capped_tree()):
        numbered.clear()
        run_and_check(spark, fx, tmp_path)
        assert {"fetch_seq", "seq"} <= set(numbered)
