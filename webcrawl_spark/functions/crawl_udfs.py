"""mapInPandas stage functions for the per-round crawl pipeline.

Each stage is a generator over Arrow record batches (pandas DataFrames) and
calls the shared ``kernels`` — the same code the sequential oracle runs, so
engine-vs-oracle byte identity of ``extracted_text`` and link handling is
structural, not coincidental.

Stages (SURVEY.md §3.2):

- :func:`make_decode_stage` — charset decode + content filters + MIME
  (Crawler.cs:1619-1656, 2085-2119; filter-before-scan order 1622 vs 1658).
- :func:`make_parse_stage` — link extraction in reference scan order
  with ``<base href>`` override (Crawler.cs:1878-1921).
- :func:`make_candidate_stage` — resolve → user URI filters → canonicalize
  → scope → robots → depth rule, emitting flagged candidate rows
  (Crawler.cs:1773-1797, 3108-3164; main.cs:285-319).
- :func:`make_fetch_stage` — the round's one Python stage: decode, then
  parse → candidate on the decoded batch, so each page's text crosses the
  JVM↔Python boundary once.

Config objects are captured in closures (small, pickled once per task);
the robots rule index rides a Spark broadcast.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from ..config import CrawlConfig
from ..kernels import links as L
from ..kernels import mime as M
from ..kernels import robots as R
from ..kernels.filters import apply_content_filters, apply_uri_filters
from ..kernels.scope import scope_filter
from ..kernels.textdec import decode_batch
from ..kernels.urlnorm import canonicalize, resolve_links

# the decode stage emits EVERY joined row (decoded pages AND error rows) so
# the round needs only ONE lineage cut for the whole fetch side: frontier
# columns pass through untouched, the JVM-computed routing flags
# (present/exceeded/final_present/http_status/ok) ride along for the
# post-checkpoint CASE routing, and html is dropped (text replaces it) —
# the checkpoint is therefore LIGHTER than the raw fetch join it replaces.
DECODE_COLS = [
    "url", "url_key", "host", "host_hash", "path", "query", "depth",
    "referrer", "link_type", "is_external", "priority", "seq", "failures",
    "round", "post_data", "fetch_seq", "final_url", "http_status",
    "present", "exceeded", "final_present", "ok",
    "rtype", "mime", "charset", "bytes", "text", "reject",
]

DECODE_SCHEMA = (
    "url string, url_key string, host string, host_hash int, path string, "
    "query string, depth int, referrer string, link_type string, "
    "is_external boolean, priority int, seq long, failures int, round int, "
    "post_data string, fetch_seq long, final_url string, http_status int, "
    "present boolean, exceeded boolean, final_present boolean, ok boolean, "
    "rtype string, mime string, charset string, bytes long, text string, "
    "reject string"
)

CANDIDATE_SCHEMA = (
    "url string, url_key string, host string, path string, query string, "
    "depth int, referrer string, link_type string, is_external boolean, "
    "priority int, pos_f long, pos_o int, passes boolean"
)
CANDIDATE_COLS = [f.split()[0] for f in CANDIDATE_SCHEMA.split(", ")]

# the fetch stage's one flat frame: page rows (``passes`` NULL) carry the
# decode columns; link rows fill the candidate columns — each already in
# DECODE_SCHEMA under the same name and type — and leave the rest NULL
FETCH_COLS = DECODE_COLS + ["pos_f", "pos_o", "passes"]
FETCH_SCHEMA = DECODE_SCHEMA + ", pos_f long, pos_o int, passes boolean"


def make_decode_stage(cfg: CrawlConfig, base_uris_bc):
    """Decode + the redirect-landing scope check (Crawler.cs:1585-1597: the
    reference re-checks IsUriAllowed on the ResponseUri after the response;
    a disallowed landing aborts the resource — no content, no links).

    Rows with ``ok`` false (fetch errors, absent urls, dead redirects) pass
    straight through with NULL decode columns — they exist in the output so
    the error CASE routing reads the same checkpoint as the fetch_log and
    the candidate rows (one cut for the whole fetch side)."""

    ext_table = M.build_ext_table(cfg.mime_overrides)

    def decode_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        base_uris = base_uris_bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.reset_index(drop=True)
            ok = pdf["ok"].fillna(False).astype(bool)
            reject = pd.Series([None] * len(pdf), dtype="object")
            # effective path: redirect rows type/scope by the TERMINAL url
            eff_path = pdf["path"].copy()
            red = pdf["final_url"].notna() & ok
            if red.any():
                fc = canonicalize(
                    pdf.loc[red, "final_url"],
                    strip_www=cfg.strip_www,
                    normalize_query=cfg.normalize_query,
                    case_sensitive_paths=cfg.case_sensitive_paths,
                )
                bad = fc["url"].isna()
                sc = scope_filter(
                    pd.DataFrame(
                        {
                            "scheme": fc["scheme"].fillna(""),
                            "host": fc["host"].fillna(""),
                            "path": fc["path"].fillna(""),
                            "link_type": pdf.loc[red, "link_type"],
                        }
                    ),
                    base_uris,
                    domain_nav=cfg.domain_navigation,
                    dir_nav=cfg.directory_navigation,
                    want_nonhtml=cfg.want_nonhtml,
                    external_resources=cfg.external_resources,
                    case_sensitive_paths=cfg.case_sensitive_paths,
                )
                out_of_scope = bad.to_numpy() | ~sc["allowed"].to_numpy()
                reject.loc[red[red].index[out_of_scope]] = "redirect_out_of_scope"
                ok_red = red[red].index[~out_of_scope]
                eff_path.loc[ok_red] = fc["path"].loc[ok_red]
            rtype, mime = M.effective_types(eff_path, pdf["server_mime"], ext_table)
            is_binary = rtype == M.BINARY
            valid = ok & reject.isna()
            dec = decode_batch(
                pdf["html"].where(valid & ~is_binary, None), None, rtype
            )
            text = dec["text"]
            if cfg.content_filters:
                text = apply_content_filters(text, cfg.content_filters)
            out = pdf.drop(columns=["html", "server_mime"]).copy()
            out["rtype"] = rtype.where(valid, None)
            out["mime"] = mime.where(valid, None)
            out["charset"] = dec["charset"].where(valid, None)
            # html is already transfer-truncated at the fetch boundary
            # (plans/round.py; CopyStream, Crawler.cs:1743-1771) — the byte
            # metric is simply the received length
            out["bytes"] = (
                pdf["html"].map(lambda b: 0 if b is None else len(b))
            ).astype("Int64").where(valid, pd.NA)
            out["text"] = text.where(valid, None)
            out["reject"] = reject
            yield out[DECODE_COLS]

    return decode_stage


def make_parse_stage():
    def parse_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, depth, fseq, rtype, text, b0 in zip(
                pdf["url"], pdf["depth"], pdf["fetch_seq"], pdf["rtype"],
                pdf["text"], pdf["base0"],
            ):
                if not isinstance(text, str) or rtype not in (M.HTML, M.CSS):
                    continue
                found = L.scan_html(text) if rtype == M.HTML else L.scan_css(text)
                if not found:
                    continue
                base_url = b0  # redirect-terminal url (Crawler.cs:1585-1588)
                if rtype == M.HTML:
                    b = L.find_base_href(text)
                    if b and canonicalize(pd.Series([b])).iloc[0]["url"] is not None:
                        base_url = b  # absolute <base href> override (Crawler.cs:1884-1890)
                rows.extend(
                    (url, depth, fseq, i, href, lt, de, base_url)
                    for i, (href, lt, de) in enumerate(found)
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "parent_url", "parent_depth", "pos_f", "pos_o",
                        "href", "link_type", "dec", "base_url",
                    ],
                )

    return parse_stage


def make_parse_candidate_stage(cfg: CrawlConfig, base_uris_bc, uri_filters, rule_index_bc):
    """Fused parse→candidate stage: one Python runner, one Arrow round-trip.
    The raw-links intermediate (the largest frame of the round) never
    crosses the JVM↔Python boundary."""
    parse = make_parse_stage()
    candidate = make_candidate_stage(cfg, base_uris_bc, uri_filters, rule_index_bc)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return candidate(parse(batches))

    return stage


def make_fetch_stage(cfg: CrawlConfig, base_uris_bc, uri_filters, rule_index_bc):
    """Decode, then parse→candidate on the decoded batch, in ONE Python task
    emitting one flat ``FETCH_SCHEMA`` frame: the round cuts it once, and
    each page's text crosses the JVM↔Python boundary once. Links resolve
    against the redirect-terminal url (the reference updates resourceUri to
    the ResponseUri, Crawler.cs:1585-1588); referrer stays the queued url."""
    decode = make_decode_stage(cfg, base_uris_bc)
    parse = make_parse_candidate_stage(cfg, base_uris_bc, uri_filters, rule_index_bc)

    def fetch_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pages in decode(batches):
            base0 = pages["final_url"].fillna(pages["url"])
            for frame in (pages, *parse([pages.assign(base0=base0)])):
                yield frame.assign(**{c: None for c in FETCH_COLS if c not in frame})

    return fetch_stage


def make_candidate_stage(cfg: CrawlConfig, base_uris_bc, uri_filters, rule_index_bc):
    """``base_uris_bc`` is a Spark broadcast (seed lists can reach millions
    of entries — closure capture would re-serialize them per task)."""

    ext_table = M.build_ext_table(cfg.mime_overrides)

    def candidate_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rule_index = rule_index_bc.value if rule_index_bc is not None else {}
        base_uris = base_uris_bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            resolved = resolve_links(pdf["href"], pdf["base_url"], pdf["dec"])
            filtered = apply_uri_filters(resolved, *uri_filters)
            c = canonicalize(
                filtered,
                strip_www=cfg.strip_www,
                normalize_query=cfg.normalize_query,
                case_sensitive_paths=cfg.case_sensitive_paths,
            )
            ok = c["url"].notna()
            if not ok.any():
                continue
            c = c[ok]
            sub = pdf[ok]
            sc = scope_filter(
                pd.DataFrame(
                    {
                        "scheme": c["scheme"],
                        "host": c["host"],
                        "path": c["path"],
                        "link_type": sub["link_type"],
                    }
                ),
                base_uris,
                domain_nav=cfg.domain_navigation,
                dir_nav=cfg.directory_navigation,
                want_nonhtml=cfg.want_nonhtml,
                external_resources=cfg.external_resources,
                case_sensitive_paths=cfg.case_sensitive_paths,
            )
            keep = sc["allowed"].to_numpy()
            if not keep.any():
                continue
            c = c[keep]
            sub = sub[keep]
            is_ext = sc["is_external"][keep]
            depth = (sub["parent_depth"] + 1).astype("int32")
            binary = M.guess_types_batch(c["path"], ext_table).eq(M.BINARY)
            prio = binary.astype("int32")
            if cfg.prioritize_nonhtml:
                prio = 1 - prio
            robots_ok = (
                R.robots_allowed(c["host"], c["path"], rule_index)
                if rule_index
                else pd.Series(True, index=c.index)
            )
            pass_depth = (depth < cfg.depth_limit) | (
                sub["link_type"].eq("resource") & is_ext
            )
            yield pd.DataFrame(
                {
                    "url": c["url"],
                    "url_key": c["url_key"],
                    "host": c["host"],
                    "path": c["path"],
                    "query": c["query"],
                    "depth": depth,
                    "referrer": sub["parent_url"],
                    "link_type": sub["link_type"],
                    "is_external": is_ext.astype(bool),
                    "priority": prio,
                    "pos_f": sub["pos_f"].astype("int64"),
                    "pos_o": sub["pos_o"].astype("int32"),
                    "passes": (pass_depth & robots_ok).astype(bool),
                }
            )

    return candidate_stage
