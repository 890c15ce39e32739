"""Deterministic synthetic web generator (FIXTURES.md topologies, seed=42).

Each topology returns a ``Fixture``: a pages table (pandas; written to
Parquet for the Spark engine), a seed list, a CrawlConfig, and a robots
table. Pages carry ``html`` bytes rendered with link carriers that cover
every branch of the reference scan regexes (Backend/Crawler.cs:2172-2200);
``text`` is the expected extracted text (computed with the same charset
kernel the engine uses — the invariant is engine == oracle == fixture).

No external data; everything derives from the topology rules + fixed seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import pandas as pd

from ..config import CrawlConfig
from ..kernels.mime import BINARY, HTML, guess_resource_type_from_path
from ..kernels.textdec import decode_body

SEED = 42

_CARRIERS = [
    '<a href="{u}">x</a>',
    "<a href='{u}'>y</a>",
    '<iframe src="{u}"></iframe>',
    '<frame src="{u}">',
]
_RES_CARRIERS = [
    '<img src="{u}">',
    '<script src="{u}"></script>',
    '<link rel="stylesheet" href="{u}">',
    '<embed src="{u}">',
    '<object data="{u}"></object>',
    '<param name="movie" value="{u}">',
    '<body background="{u}">',
    '<style>@import "{u}";</style>',
    "<div style=\"background:url('{u}')\"></div>",
]


@dataclass
class Fixture:
    name: str
    pages: pd.DataFrame           # url, warc_ts, html, text, lang[, redirect_to]
    seeds: list
    config: CrawlConfig
    robots: pd.DataFrame = field(
        default_factory=lambda: pd.DataFrame(
            columns=["host", "path_prefix", "allow", "crawl_delay"]
        )
    )
    redirects: dict = field(default_factory=dict)  # url -> Location target
    statuses: dict = field(default_factory=dict)   # url -> HTTP status (absent = 200)
    mimes: dict = field(default_factory=dict)      # url -> server Content-Type
    ranks: dict = field(default_factory=dict)      # url -> rank; empty = no rank fold

    def pages_dict(self) -> dict:
        """Content rows only — redirect rows live in ``redirects``."""
        return {
            u: h
            for u, h in zip(self.pages["url"], self.pages["html"])
            if u not in self.redirects
        }


def render_html(
    links: list[tuple[str, str]],
    *,
    rng: random.Random,
    title: str = "",
    base: str | None = None,
    charset: str = "utf-8",
    meta_charset: str | None = None,
    bom: bool = False,
    body_extra: str = "",
) -> bytes:
    """links: (href, 'link'|'resource') — carrier chosen deterministically."""
    parts = ["<html><head>"]
    if base:
        parts.append(f'<base href="{base}">')
    if meta_charset:
        parts.append(
            f'<meta http-equiv="content-type" content="text/html; charset={meta_charset}">'
        )
    parts.append(f"<title>{title}</title></head><body>")
    for href, ltype in links:
        tmpl = rng.choice(_CARRIERS if ltype == "link" else _RES_CARRIERS)
        parts.append(tmpl.format(u=href))
    parts.append(body_extra)
    parts.append("</body></html>")
    doc = "".join(parts)
    body = doc.encode(charset)
    if bom and charset == "utf-8":
        body = b"\xef\xbb\xbf" + body
    return body


def render_css(urls: list[str]) -> bytes:
    lines = [f'@import "{u}";' for u in urls[:1]] + [
        f"div.c{i}{{background:url({u})}}" for i, u in enumerate(urls[1:])
    ]
    return "\n".join(lines).encode("utf-8")


def _mk_pages(
    rows: list[tuple[str, bytes | None]],
    lang: str = "en",
    redirects: dict | None = None,
    statuses: dict | None = None,
    mimes: dict | None = None,
) -> pd.DataFrame:
    """Pages frame; with ``redirects`` adds a redirect_to column plus one
    content-less row per redirect url (html/text NULL); with ``statuses``
    adds an http_status column (absent/NULL = 200); with ``mimes`` adds a
    mime column (the server Content-Type header; absent/NULL = no header)."""
    pdf = _mk_content_pages(rows, lang)
    if mimes:
        pdf["mime"] = pd.Series(
            [mimes.get(u) for u in pdf["url"]], index=pdf.index, dtype="object"
        )
    if statuses:
        # object column of python ints/None — converts identically with or
        # without Arrow (float NaN trips the non-Arrow createDataFrame path;
        # note .map would coerce int/None to float64)
        pdf["http_status"] = pd.Series(
            [int(statuses[u]) if u in statuses else None for u in pdf["url"]],
            index=pdf.index, dtype="object",
        )
    if not redirects:
        return pdf
    ts = pd.Timestamp("2024-01-01", tz="UTC")
    rrows = pd.DataFrame(
        {
            "url": list(redirects),
            "warc_ts": [ts] * len(redirects),
            "html": [None] * len(redirects),
            "text": [None] * len(redirects),
            "lang": lang,
        }
    )
    pdf = pd.concat([pdf, rrows], ignore_index=True)
    pdf["redirect_to"] = pdf["url"].map(redirects).astype("object")
    pdf["redirect_to"] = pdf["redirect_to"].where(pdf["redirect_to"].notna(), None)
    if "http_status" in pdf.columns:
        pdf["http_status"] = pd.Series(
            [None if pd.isna(v) else int(v) for v in pdf["http_status"]],
            index=pdf.index, dtype="object",
        )
    if "mime" in pdf.columns:
        pdf["mime"] = pdf["mime"].where(pdf["mime"].notna(), None).astype("object")
    return pdf


def _mk_content_pages(rows: list[tuple[str, bytes | None]], lang: str = "en") -> pd.DataFrame:
    urls, bodies, texts = [], [], []
    for url, body in rows:
        urls.append(url)
        bodies.append(body)
        if body is None:
            texts.append(None)
        else:
            path = url.split("://", 1)[1].split("/", 1)
            path = "/" + (path[1] if len(path) > 1 else "")
            rtype = guess_resource_type_from_path(path.split("?")[0])
            rtype = HTML if rtype == "unknown" else rtype
            texts.append(None if rtype == BINARY else decode_body(body, None, rtype)[0])
    ts = pd.Timestamp("2024-01-01", tz="UTC")
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": [ts + pd.Timedelta(seconds=i) for i in range(len(urls))],
            "html": bodies,
            "text": texts,
            "lang": lang,
        }
    )


# ---------------------------------------------------------------- topologies


def chain(n: int = 20, depth_limit: int = 10) -> Fixture:
    """p0 → p1 → … → p{n-1}; DepthLimit cuts the walk at depth_limit."""
    rng = random.Random(SEED)
    host = "http://chain.test"
    rows = []
    for i in range(n):
        links = [(f"/p{i+1}.html", "link")] if i + 1 < n else []
        rows.append((f"{host}/p{i}.html", render_html(links, rng=rng, title=f"p{i}")))
    return Fixture(
        "chain",
        _mk_pages(rows),
        [f"{host}/p0.html"],
        CrawlConfig(depth_limit=depth_limit, max_connections=4),
    )


def tree(branching: int = 3, depth: int = 4) -> Fixture:
    """BFS order + html-vs-resource priority + min-depth merge cross-links."""
    rng = random.Random(SEED + 1)
    host = "http://tree.test"
    rows: list[tuple[str, bytes | None]] = []
    labels = [""]
    frontier = [""]
    for _ in range(depth):
        nxt = []
        for lab in frontier:
            nxt.extend(f"{lab}{b}" for b in range(branching))
        labels.extend(nxt)
        frontier = nxt

    def url_of(label: str) -> str:
        return f"{host}/n{label or 'root'}.html"

    for label in labels:
        level = len(label)
        links: list[tuple[str, str]] = []
        if level < depth:
            links += [(f"/n{label}{b}.html", "link") for b in range(branching)]
            links.append((f"/img{label or 'root'}.png", "resource"))
            links.append((f"/style{label or 'root'}.css", "resource"))
        if level == 2 and label.endswith("0"):
            links.append(("/n0.html", "link"))            # re-discovery (dedup)
            links.append((f"/n{label}00.html", "link"))   # shortcut (min-depth merge)
        rows.append((url_of(label), render_html(links, rng=rng, title=f"n{label or 'root'}")))

    # materialize every referenced img/css target
    for label in labels:
        if len(label) < depth:
            rows.append((f"{host}/img{label or 'root'}.png", b"\x89PNG-fake-bytes"))
            rows.append((f"{host}/style{label or 'root'}.css",
                         render_css([f"/img{label or 'root'}.png"])))
    return Fixture(
        "tree",
        _mk_pages(rows),
        [f"{host}/nroot.html"],
        CrawlConfig(max_connections=6, max_connections_per_server=6),
    )


def star_megahost(hub_pages: int = 120, small_hosts: int = 8, pages_per_small: int = 5) -> Fixture:
    """One mega-host + many small hosts: skew + politeness must not serialize."""
    rng = random.Random(SEED + 2)
    rows = []
    hub = "http://big.test"
    idx_links = [(f"/h{i}.html", "link") for i in range(hub_pages)]
    rows.append((f"{hub}/index.html", render_html(idx_links, rng=rng, title="hub")))
    for i in range(hub_pages):
        nxt = [(f"/h{(i * 7 + 1) % hub_pages}.html", "link")]
        rows.append((f"{hub}/h{i}.html", render_html(nxt, rng=rng, title=f"h{i}")))
    seeds = [f"{hub}/index.html"]
    for s in range(small_hosts):
        shost = f"http://s{s}.test"
        seeds.append(f"{shost}/p0.html")
        for p in range(pages_per_small):
            links = [(f"/p{p+1}.html", "link")] if p + 1 < pages_per_small else []
            rows.append((f"{shost}/p{p}.html", render_html(links, rng=rng, title=f"s{s}p{p}")))
    return Fixture(
        "star",
        _mk_pages(rows),
        seeds,
        CrawlConfig(max_connections=None, max_connections_per_server=2, salt_buckets=4),
    )


def cycle(n: int = 30) -> Fixture:
    """Ring + fragment / query-order / doubled-slash variants dedupe to one fetch."""
    rng = random.Random(SEED + 3)
    host = "http://cycle.test"
    rows = []
    for i in range(n):
        j = (i + 1) % n
        # plain progression link + a canonically-equal variant (dedup to one)
        variants = {
            0: f"/p{j}.html#frag{i}",      # fragment stripped
            1: f".//p{j}.html",             # path '//…' → slash-collapse
            2: f"/p{j}.html",               # exact duplicate
            3: None,                        # query-order side pages instead
        }
        links = [(f"/p{j}.html", "link")]
        v = variants[i % 4]
        if v is not None:
            links.append((v, "link"))
        else:
            links.append((f"/q{i}.html?b=2&a=1", "link"))
            links.append((f"/q{i}.html?a=1&b=2", "link"))  # same after query sort
            rows.append((f"{host}/q{i}.html?a=1&b=2",
                         render_html([], rng=rng, title=f"q{i}")))
        rows.append((f"{host}/p{i}.html", render_html(links, rng=rng, title=f"p{i}")))
    return Fixture(
        "cycle",
        _mk_pages(rows),
        [f"{host}/p0.html"],
        CrawlConfig(max_connections=4, normalize_query=True),
    )


def trap(n_queries: int = 120, cap: int = 100) -> Fixture:
    """One path × many query strings; MaxQueryStringsPerFile cap bites."""
    rng = random.Random(SEED + 4)
    host = "http://trap.test"
    links = [(f"/item.html?id={i}", "link") for i in range(n_queries)]
    rows = [(f"{host}/index.html", render_html(links, rng=rng, title="trap"))]
    for i in range(n_queries):
        rows.append((f"{host}/item.html?id={i}", render_html([], rng=rng, title=f"i{i}")))
    return Fixture(
        "trap",
        _mk_pages(rows),
        [f"{host}/index.html"],
        CrawlConfig(
            max_connections=None,
            max_connections_per_server=50,
            max_query_strings_per_file=cap,
        ),
    )


def scope_matrix() -> Fixture:
    """4 hosts × subdirs exercising DomainNavigation × DirectoryNavigation."""
    rng = random.Random(SEED + 5)
    rows = []
    a = "http://a.test"
    rows.append(
        (
            f"{a}/dir/start.html",
            render_html(
                [
                    ("/dir/sub/down.html", "link"),       # down: ok under Down
                    ("/dir/same.html", "link"),           # same dir: ok
                    ("/up.html", "link"),                 # up: blocked under Down
                    ("/other/side.html", "link"),         # sideways: blocked
                    ("http://sub.a.test/x.html", "link"),     # other host
                    ("http://b.test/ext.html", "link"),       # external link
                    ("http://b.test/ext.png", "resource"),    # external resource: ok
                ],
                rng=rng,
                title="start",
            ),
        )
    )
    rows.append((f"{a}/dir/sub/down.html", render_html([], rng=rng, title="down")))
    rows.append((f"{a}/dir/same.html", render_html([], rng=rng, title="same")))
    rows.append((f"{a}/up.html", render_html([], rng=rng, title="up")))
    rows.append((f"{a}/other/side.html", render_html([], rng=rng, title="side")))
    rows.append(("http://sub.a.test/x.html", render_html([], rng=rng, title="x")))
    rows.append(("http://b.test/ext.html", render_html([], rng=rng, title="ext")))
    rows.append(("http://b.test/ext.png", b"\x89PNG-ext"))
    return Fixture(
        "scope",
        _mk_pages(rows),
        [f"{a}/dir/start.html"],
        CrawlConfig(max_connections=None, max_connections_per_server=10),
    )


def charset_mix() -> Fixture:
    """Charset precedence: hint-less UTF-8, BOM, meta override, us-ascii exemption."""
    rng = random.Random(SEED + 6)
    host = "http://cs.test"
    rows = [
        (
            f"{host}/index.html",
            render_html(
                [(f"/{n}.html", "link") for n in ("utf8", "bom", "sjis", "latin", "ascii")],
                rng=rng,
                title="idx",
            ),
        ),
        (f"{host}/utf8.html", render_html([], rng=rng, title="héllo wörld", body_extra="héllo")),
        (f"{host}/bom.html", render_html([], rng=rng, title="bøm", bom=True)),
        (
            f"{host}/sjis.html",
            render_html([], rng=rng, title="日本語テスト", charset="shift_jis", meta_charset="shift_jis"),
        ),
        (
            f"{host}/latin.html",
            render_html([], rng=rng, title="café déjà", charset="iso-8859-1", meta_charset="iso-8859-1"),
        ),
        (
            f"{host}/ascii.html",
            render_html([], rng=rng, title="plain", meta_charset="us-ascii", body_extra="héllo-utf8"),
        ),
    ]
    return Fixture(
        "charset",
        _mk_pages(rows),
        [f"{host}/index.html"],
        CrawlConfig(max_connections=None, max_connections_per_server=10),
    )


def broken() -> Fixture:
    """404s (absent rows) and retryable failures (html NULL)."""
    rng = random.Random(SEED + 7)
    host = "http://broken.test"
    rows = [
        (
            f"{host}/index.html",
            render_html(
                [("/ok.html", "link"), ("/missing.html", "link"), ("/flaky.html", "link")],
                rng=rng,
                title="idx",
            ),
        ),
        (f"{host}/ok.html", render_html([], rng=rng, title="ok")),
        (f"{host}/flaky.html", None),  # retryable every attempt → retries exhaust
    ]
    return Fixture(
        "broken",
        _mk_pages(rows),
        [f"{host}/index.html"],
        CrawlConfig(max_connections=2, max_retries=1),
    )


def filters_fixture() -> Fixture:
    """URI change/±filters + content filter that affects link extraction."""
    rng = random.Random(SEED + 8)
    host = "http://f.test"
    rows = [
        (
            f"{host}/index.html",
            render_html(
                [
                    ("/keep/a.html", "link"),
                    ("/drop/b.html", "link"),            # negative filter
                    ("/old/c.html", "link"),             # change filter → /new/c.html
                    ("http://www.f.test/keep/w.html", "link"),  # www-strip hack
                    ("/keep/q.html?z=1&a=2", "link"),    # query normalization
                ],
                rng=rng,
                title="idx",
                body_extra='CUTLINE<a href="/keep/hidden.html">h</a>',
            ),
        ),
        (f"{host}/keep/a.html", render_html([], rng=rng, title="a")),
        (f"{host}/new/c.html", render_html([], rng=rng, title="c")),
        (f"{host}/keep/w.html", render_html([], rng=rng, title="w")),
        (f"{host}/keep/q.html?a=2&z=1", render_html([], rng=rng, title="q")),
    ]
    cfg = CrawlConfig(
        max_connections=None,
        max_connections_per_server=10,
        domain_navigation="SameDomain",
        directory_navigation="UpAndDown",
        strip_www=True,
        normalize_query=True,
        change_filters=((r"http://f\.test/old/(.*)", r"http://f.test/new/$1"),),
        negative_filters=(r"/drop/",),
        # content filter removes everything after CUTLINE before link scan
        content_filters=((r"CUTLINE.*", ""),),
    )
    return Fixture("filters", _mk_pages(rows), [f"{host}/index.html"], cfg)


def robots_fixture() -> Fixture:
    """Robots rules: disallowed subtree + crawl_delay budget."""
    rng = random.Random(SEED + 9)
    host = "http://r.test"
    rows = [
        (
            f"{host}/index.html",
            render_html(
                [
                    ("/open/a.html", "link"),
                    ("/private/secret.html", "link"),
                    ("/private/pub/ok.html", "link"),
                    ("/open/b.html", "link"),
                    ("/open/c.html", "link"),
                ],
                rng=rng,
                title="idx",
            ),
        ),
        (f"{host}/open/a.html", render_html([], rng=rng, title="a")),
        (f"{host}/private/secret.html", render_html([], rng=rng, title="s")),
        (f"{host}/private/pub/ok.html", render_html([], rng=rng, title="ok")),
        (f"{host}/open/b.html", render_html([], rng=rng, title="b")),
        (f"{host}/open/c.html", render_html([], rng=rng, title="c")),
    ]
    robots = pd.DataFrame(
        {
            "host": ["r.test", "r.test", "slow.test"],
            "path_prefix": ["/private/", "/private/pub/", ""],
            "allow": [False, True, True],
            "crawl_delay": [None, None, 2.0],
        }
    )
    return Fixture(
        "robots",
        _mk_pages(rows),
        [f"{host}/index.html"],
        CrawlConfig(max_connections=None, max_connections_per_server=4),
        robots,
    )


def redirects_fixture(max_redirects: int = 2) -> Fixture:
    """Redirect-chain coverage (MaxRedirects Crawler.cs:635-647; landing-url
    re-scope check Crawler.cs:1585-1597):

    - /r1 → /target1            one hop; /target1 also linked directly
                                (reference fetches it again — URL identity)
    - /r2 → /hop → /sub/target2 two hops at the cap; target2's RELATIVE link
                                must resolve against the LANDING url
                                (/sub/rel.html, not /rel.html)
    - /deep → 3-hop chain       exceeds max_redirects=2 → too_many_redirects
    - /loop1 ⇄ /loop2           cycle → too_many_redirects
    - /dead → /missing          landing url absent → http_404
    - /ext → other.test         landing out of scope (SameHostName) →
                                redirect_out_of_scope
    """
    rng = random.Random(SEED + 10)
    host = "http://redir.test"
    rows = [
        (
            f"{host}/index.html",
            render_html(
                [
                    ("/r1.html", "link"),
                    ("/target1.html", "link"),
                    ("/r2.html", "link"),
                    ("/deep.html", "link"),
                    ("/loop1.html", "link"),
                    ("/dead.html", "link"),
                    ("/ext.html", "link"),
                ],
                rng=rng,
                title="idx",
            ),
        ),
        (f"{host}/target1.html", render_html([], rng=rng, title="t1")),
        (
            f"{host}/sub/target2.html",
            render_html([("rel.html", "link")], rng=rng, title="t2"),
        ),
        (f"{host}/sub/rel.html", render_html([], rng=rng, title="rel")),
        ("http://other.test/out.html", render_html([], rng=rng, title="out")),
    ]
    redirects = {
        f"{host}/r1.html": f"{host}/target1.html",
        f"{host}/r2.html": f"{host}/hop.html",
        f"{host}/hop.html": f"{host}/sub/target2.html",
        f"{host}/deep.html": f"{host}/d1.html",
        f"{host}/d1.html": f"{host}/d2.html",
        f"{host}/d2.html": f"{host}/target1.html",
        f"{host}/loop1.html": f"{host}/loop2.html",
        f"{host}/loop2.html": f"{host}/loop1.html",
        f"{host}/dead.html": f"{host}/missing.html",
        f"{host}/ext.html": "http://other.test/out.html",
    }
    return Fixture(
        "redirects",
        _mk_pages(rows, redirects=redirects),
        [f"{host}/index.html"],
        CrawlConfig(
            max_connections=None,
            max_connections_per_server=10,
            max_redirects=max_redirects,
        ),
        redirects=redirects,
    )


def http_errors_fixture() -> Fixture:
    """Fatal-error taxonomy (IsFatalError, Crawler.cs:2121-2164): fatal
    codes (410, 401) die without retry; retryable codes (500, 503) follow
    MaxRetries like a dropped connection; a redirect landing on a fatal
    status inherits it."""
    rng = random.Random(SEED + 12)
    host = "http://err.test"
    rows = [
        (
            f"{host}/index.html",
            render_html(
                [
                    ("/gone.html", "link"),
                    ("/auth.html", "link"),
                    ("/flaky500.html", "link"),
                    ("/busy503.html", "link"),
                    ("/ok.html", "link"),
                    ("/moved.html", "link"),
                ],
                rng=rng,
                title="idx",
            ),
        ),
        (f"{host}/gone.html", render_html([], rng=rng, title="g")),
        (f"{host}/auth.html", render_html([], rng=rng, title="a")),
        (f"{host}/flaky500.html", render_html([], rng=rng, title="f")),
        (f"{host}/busy503.html", render_html([], rng=rng, title="b")),
        (f"{host}/ok.html", render_html([], rng=rng, title="ok")),
        (f"{host}/target.html", render_html([], rng=rng, title="t")),
    ]
    statuses = {
        f"{host}/gone.html": 410,
        f"{host}/auth.html": 401,
        f"{host}/flaky500.html": 500,
        f"{host}/busy503.html": 503,
        f"{host}/target.html": 410,   # redirect lands on a fatal status
    }
    redirects = {f"{host}/moved.html": f"{host}/target.html"}
    return Fixture(
        "http_errors",
        _mk_pages(rows, redirects=redirects, statuses=statuses),
        [f"{host}/index.html"],
        CrawlConfig(max_connections=None, max_connections_per_server=10, max_retries=1),
        redirects=redirects,
        statuses=statuses,
    )


def mime_override_fixture() -> Fixture:
    """User MIME overrides (SetMimeOverride, Crawler.cs:1104-1148):
    png remapped to text/html → the .png page is parsed for links and loses
    its binary priority; the txt mapping REMOVED → .txt falls to unknown
    (→ HTML ADAPT) and is parsed too; jpg stays binary."""
    rng = random.Random(SEED + 13)
    host = "http://mo.test"
    rows = [
        (
            f"{host}/index.html",
            render_html(
                [
                    ("/gallery.png", "link"),
                    ("/notes.txt", "link"),
                    ("/pic.jpg", "resource"),
                ],
                rng=rng,
                title="idx",
            ),
        ),
        (f"{host}/gallery.png",
         render_html([("/deep.html", "link")], rng=rng, title="g")),
        (f"{host}/notes.txt",
         render_html([("/fromtxt.html", "link")], rng=rng, title="n")),
        (f"{host}/deep.html", render_html([], rng=rng, title="d")),
        (f"{host}/fromtxt.html", render_html([], rng=rng, title="f")),
        (f"{host}/pic.jpg", b"\xff\xd8JPEG-fake"),
    ]
    return Fixture(
        "mime_overrides",
        _mk_pages(rows),
        [f"{host}/index.html"],
        CrawlConfig(
            max_connections=None,
            max_connections_per_server=10,
            mime_overrides=(("png", "text/html"), ("txt", "")),
        ),
    )


def mime_retype_fixture() -> Fixture:
    """Server-Content-Type re-type (GetMimeType prefers the response header
    over the extension guess, Crawler.cs:2100-2119):

    - /styles (extension-less) served text/css → its url(...) links are
      scanned with the CSS regexes instead of defaulting to HTML
    - /blob (extension-less) served application/octet-stream → binary:
      no decode, no links
    - /page.css served text/html → scanned as HTML despite the extension
    - /plain (extension-less, no header) → HTML default unchanged
    - a redirect lands on /styles → the TERMINAL row's header re-types it
    """
    rng = random.Random(SEED + 17)
    host = "http://mt.test"
    rows = [
        (
            f"{host}/index.html",
            render_html(
                [
                    ("/styles", "resource"),
                    ("/blob", "link"),
                    ("/page.css", "link"),
                    ("/plain", "link"),
                    ("/goto", "link"),
                ],
                rng=rng,
                title="idx",
            ),
        ),
        (f"{host}/styles", render_css([f"{host}/fromcss.png", "/c2.gif"])),
        (f"{host}/blob", render_html([("/never.html", "link")], rng=rng, title="b")),
        (f"{host}/page.css",
         render_html([("/fromhtml.html", "link")], rng=rng, title="p")),
        (f"{host}/plain", render_html([("/fromplain.html", "link")], rng=rng, title="q")),
        (f"{host}/fromcss.png", b"\x89PNG-fake"),
        (f"{host}/c2.gif", b"GIF89a-fake"),
        (f"{host}/fromhtml.html", render_html([], rng=rng, title="fh")),
        (f"{host}/fromplain.html", render_html([], rng=rng, title="fp")),
    ]
    redirects = {f"{host}/goto": f"{host}/styles"}
    mimes = {
        f"{host}/styles": "text/css; charset=utf-8",
        f"{host}/blob": "application/octet-stream",
        f"{host}/page.css": "text/html",
    }
    return Fixture(
        "mime_retype",
        _mk_pages(rows, redirects=redirects, mimes=mimes),
        [f"{host}/index.html"],
        CrawlConfig(
            max_connections=None,
            max_connections_per_server=10,
            want_nonhtml=True,
            external_resources=True,
        ),
        redirects=redirects,
        mimes=mimes,
    )


def truncate_fixture() -> Fixture:
    """MaxFileSize truncates the transfer (CopyStream, Crawler.cs:1743-1771):
    an oversized page's decoded text and discovered links reflect the
    truncated body, not the full one.

    /big.html exceeds the cap; the cap lands MID-ANCHOR — a link before the
    cut is discovered, the straddling link is cut in half (never a complete
    tag → never discovered), and a link entirely past the cut is lost.
    /small.html is under the cap and unaffected."""
    rng = random.Random(SEED + 23)
    host = "http://trunc.test"
    head = "<html><head><title>big</title></head><body>"
    early = '<a href="/early.html">e</a>'
    # pad pushes the cap well past every under-cap page in the fixture
    # (index included) so ONLY /big.html is affected by the truncation
    pad = "<p>" + "x" * 256 + "</p>"
    half = '<a href="/half.html">h</a>'
    late = '<a href="/lost.html">l</a>'
    big = (head + early + pad + half + late + "</body></html>").encode("utf-8")
    # cut mid-href of the straddling anchor: ...<a href="/ha|lf.html">...
    cap = len(head) + len(early) + len(pad) + len('<a href="/ha')
    assert cap < len(big)
    rows = [
        (
            f"{host}/index.html",
            render_html(
                [("/big.html", "link"), ("/small.html", "link")],
                rng=rng, title="idx",
            ),
        ),
        (f"{host}/big.html", big),
        (f"{host}/small.html",
         render_html([("/ok.html", "link")], rng=rng, title="s")),
        (f"{host}/early.html", render_html([], rng=rng, title="e")),
        (f"{host}/half.html", render_html([], rng=rng, title="h")),
        (f"{host}/lost.html", render_html([], rng=rng, title="l")),
        (f"{host}/ok.html", render_html([], rng=rng, title="o")),
    ]
    return Fixture(
        "truncate",
        _mk_pages(rows),
        [f"{host}/index.html"],
        CrawlConfig(
            max_connections=None, max_connections_per_server=10,
            max_file_size=cap,
        ),
    )


def rank_fixture() -> Fixture:
    """Rank-weighted frontier priority: a ranks table passed to the crawl
    (url → rank, the shape ``link_pagerank`` emits) reorders selection
    WITHIN the html/binary class — the reference's HTML-first class ordering
    (EnqueueCore, Crawler.cs:2507-2512) generalized to an external signal.

    One host, per-host budget 2/round: four html pages whose ranks reverse
    their discovery order, plus two binary resources — the top-ranked
    resource must still go after every html page (class dominates rank)."""
    rng = random.Random(SEED + 29)
    host = "http://rank.test"
    rows = [
        (
            f"{host}/index.html",
            render_html(
                [
                    ("/p1.html", "link"), ("/p2.html", "link"),
                    ("/p3.html", "link"), ("/p4.html", "link"),
                    ("/r1.png", "resource"), ("/r2.png", "resource"),
                ],
                rng=rng, title="idx",
            ),
        ),
        (f"{host}/p1.html", render_html([], rng=rng, title="p1")),
        (f"{host}/p2.html", render_html([], rng=rng, title="p2")),
        (f"{host}/p3.html", render_html([], rng=rng, title="p3")),
        (f"{host}/p4.html", render_html([], rng=rng, title="p4")),
        (f"{host}/r1.png", b"\x89PNG-fake-1"),
        (f"{host}/r2.png", b"\x89PNG-fake-2"),
    ]
    ranks = {
        f"{host}/p1.html": 10,
        f"{host}/p2.html": 500,
        f"{host}/p3.html": 9000,
        f"{host}/p4.html": 200,
        f"{host}/r1.png": 999999,   # tops the table, still fetched last-ish
        f"{host}/r2.png": 5,
    }
    return Fixture(
        "rank",
        _mk_pages(rows),
        [f"{host}/index.html"],
        CrawlConfig(max_connections=None, max_connections_per_server=2),
        ranks=ranks,
    )


def post_fixture() -> Fixture:
    """User POST resources (EnqueueUri(uri, postData), Crawler.cs:1081-1101):

    - /form.html POSTed with a body — fetched although nothing links to it
    - /index.html both seeded (GET) and POSTed — force=true bypasses the
      seen dedup, so it is fetched TWICE (Crawler.cs:1082-1084, 2307)
    - /gone.html POSTed but absent → http_404
    - links discovered from the POSTed page enqueue as ordinary GETs
    """
    rng = random.Random(SEED + 11)
    host = "http://post.test"
    rows = [
        (
            f"{host}/index.html",
            render_html([("/a.html", "link")], rng=rng, title="idx"),
        ),
        (f"{host}/a.html", render_html([], rng=rng, title="a")),
        (
            f"{host}/form.html",
            render_html([("/result.html", "link")], rng=rng, title="form"),
        ),
        (f"{host}/result.html", render_html([], rng=rng, title="res")),
    ]
    return Fixture(
        "post",
        _mk_pages(rows),
        [f"{host}/index.html"],
        CrawlConfig(
            max_connections=None,
            max_connections_per_server=10,
            post_seeds=(
                (f"{host}/form.html", "q=spark&lang=py"),
                (f"{host}/index.html", "refresh=1"),
                (f"{host}/gone.html", "x=1"),
            ),
        ),
    )


ALL_TOPOLOGIES = {
    "chain": chain,
    "tree": tree,
    "star": star_megahost,
    "cycle": cycle,
    "trap": trap,
    "scope": scope_matrix,
    "charset": charset_mix,
    "broken": broken,
    "filters": filters_fixture,
    "robots": robots_fixture,
    "redirects": redirects_fixture,
    "post": post_fixture,
    "http_errors": http_errors_fixture,
    "mime_overrides": mime_override_fixture,
    "mime_retype": mime_retype_fixture,
    "truncate": truncate_fixture,
    "rank": rank_fixture,
}


def make(name: str, **kw) -> Fixture:
    return ALL_TOPOLOGIES[name](**kw)
