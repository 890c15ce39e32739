"""Sequential pure-Python oracle crawler — the golden-trace generator.

Implements the engine's **canonical deterministic schedule**, which
re-expresses the reference's crawl loop (whose real thread interleaving is
nondeterministic) as synchronous BFS rounds. The Spark engine must produce
byte-identical outputs; golden-trace tests assert it. Reference semantics
cited inline; deliberate adaptations are marked ADAPT.

Canonical schedule, round k (SURVEY.md §3.2):

1. SELECT  per host: frontier entries ordered by (priority, seq), take the
   first ``budget(host)`` where budget = min(conns_per_server,
   robots-crawl-delay budget)  [politeness, Crawler.cs:533-562 + north_rule].
   Globally: order selected by (priority, seq), keep first max_connections
   (None = unlimited) [Crawler.cs:551-562]. Assign fetch_seq in that order.
2. FETCH   selected ⋈ pages on url. Missing row → fatal 404
   [IsFatalError: NotFound is fatal, Crawler.cs:2121-2164]. html NULL →
   retryable failure: failures+1; > max_retries → fatal, else requeued with
   its original seq [Crawler.cs:1814-1860, 2308].
3. DECODE  charset precedence (see kernels.textdec) → content filters
   [order: filter BEFORE link scan, Crawler.cs:1622 vs 1658] →
   ``extracted_text`` (the byte-identity invariant).
4. PARSE   links in reference scan order (kernels.links); per link, in
   (fetch_seq, ordinal) order: resolve vs <base href>/page URL → URI filters
   → canonicalize (+ optional www-strip/query-sort hacks) → scope filter →
   robots filter → depth+1.
5. ENQUEUE dedup vs seen (key = (host, url_key), MakeKey Crawler.cs:2618-2625).
   Already-seen & still-queued → min-depth merge [Crawler.cs:2303-2307].
   New: reject if depth ≥ depth_limit unless external supporting resource
   [dequeue-time check ADAPTed to enqueue time, Crawler.cs:1475-1484];
   reject if the (host, path) already has ≥ max_query_strings_per_file
   distinct query strings [Crawler.cs:2415-2423, ADAPT: enqueue-time];
   reject if the frontier holds ≥ max_queued_links [Crawler.cs:2310-2315].
   Accepted: seen += key, seq = next global counter, priority = 1 if guessed
   binary else 0 (flipped under prioritize_nonhtml) [EnqueueCore
   Crawler.cs:2507-2512 + TryDequeue 2345-2363: the two-level front/back
   queue ADAPTed to a (priority, seq) total order — FIFO within class].
6. Deferred (unselected) frontier entries carry over with their seq.

Every per-row transformation calls the same ``kernels`` the Spark pandas
UDFs call, so engine-vs-oracle text identity is structural.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import pandas as pd

from ..config import CrawlConfig, rank_weighted_priority
from ..kernels import links as L
from ..kernels import mime as M
from ..kernels import robots as R
from ..kernels.errors import is_fatal_status
from ..kernels.filters import (
    apply_content_filters,
    apply_uri_filters,
    compile_uri_filters,
)
from ..kernels.scope import scope_filter
from ..kernels.textdec import decode_body
from ..kernels.urlnorm import canonicalize, resolve_links


@dataclass
class Entry:
    url: str
    url_key: str
    host: str
    depth: int
    referrer: Optional[str]
    link_type: str
    is_external: bool
    priority: int
    seq: int
    failures: int = 0
    round: int = 0
    post_data: Optional[str] = None   # user POSTs only (Crawler.cs:1081-1101)


@dataclass
class OracleResult:
    trace: pd.DataFrame      # round, fetch_seq, url, depth, link_type
    seen: pd.DataFrame       # host, url_key, first_depth, first_round
    fetched: pd.DataFrame    # url, round, fetch_seq, http_status, mime, charset, bytes, extracted_text
    errors: pd.DataFrame     # url, round, failures, fatal, reason
    frontier_log: list = field(default_factory=list)  # per-round frontier snapshots


def _canon1(url: str, cfg: CrawlConfig):
    return canonicalize(
        pd.Series([url]),
        strip_www=cfg.strip_www,
        normalize_query=cfg.normalize_query,
        case_sensitive_paths=cfg.case_sensitive_paths,
    ).iloc[0]


def _priority(path: str, cfg: CrawlConfig, table: dict | None = None) -> int:
    binary = M.guess_resource_type_from_path(path, table) == M.BINARY
    p = 1 if binary else 0
    return 1 - p if cfg.prioritize_nonhtml else p


class OracleCrawler:
    def __init__(
        self,
        pages: dict[str, Optional[bytes]],
        seeds: list[str],
        config: CrawlConfig = CrawlConfig(),
        robots_rules: Optional[pd.DataFrame] = None,
        redirects: Optional[dict] = None,
        statuses: Optional[dict] = None,
        mimes: Optional[dict] = None,
        ranks: Optional[dict] = None,
    ):
        self.pages = pages            # content rows only (no redirect rows)
        self.redirects = redirects or {}  # url -> Location target
        self.statuses = statuses or {}    # url -> HTTP status (absent = 200)
        self.mimes = mimes or {}          # url -> server Content-Type header
        self.ranks = ranks                # url -> rank; None = no rank fold
        self.cfg = config
        self.seeds = seeds
        rules = robots_rules if robots_rules is not None else pd.DataFrame(
            columns=["host", "path_prefix", "allow", "crawl_delay"]
        )
        self.rule_index = R.build_rule_index(rules)
        self.delays = R.crawl_delays(rules)
        self.ext_table = M.build_ext_table(config.mime_overrides)
        self.uri_filters = compile_uri_filters(
            config.change_filters, config.positive_filters, config.negative_filters
        )

    # ---- helpers -----------------------------------------------------
    def _robots_ok(self, host: str, path: str) -> bool:
        return bool(
            R.robots_allowed(pd.Series([host]), pd.Series([path]), self.rule_index).iloc[0]
        )

    def _host_budget(self, host: str) -> int:
        return R.host_budget(
            self.cfg.max_connections_per_server,
            self.delays.get(host),
            self.cfg.politeness_quantum_s,
        )

    # ---- main loop ---------------------------------------------------
    def run(self) -> OracleResult:
        cfg = self.cfg
        seen: dict[tuple[str, str], tuple[int, int]] = {}
        frontier: list[Entry] = []
        path_queries: dict[tuple[str, str], set] = {}
        seq = 0
        fetch_seq = 0
        trace_rows, fetched_rows, error_rows, frontier_log = [], [], [], []

        # base URIs = canonicalized seeds (AddBaseUri, Crawler.cs:806-836)
        base_uris = []
        for s in self.seeds:
            c = _canon1(s, cfg)
            if c.url is None or c.scheme not in ("http", "https", "ftp"):
                continue  # ValidateNewUri rejects (Crawler.cs:3311-3327)
            base_uris.append({"scheme": c.scheme, "host": c.host, "path": c.path})
            key = (c.host, c.url_key)
            if key in seen:
                continue
            if not self._robots_ok(c.host, c.path):
                continue
            seen[key] = (0, 0)
            path_queries.setdefault((c.host, c.path), set()).add(c.query)
            frontier.append(
                Entry(c.url, c.url_key, c.host, 0, None, "link", False,
                      _priority(c.path, cfg, self.ext_table), seq, 0, 0)
            )
            seq += 1
        self.base_uris = base_uris

        # user POST resources: force-enqueued after the seed list (public
        # EnqueueUri passes force=true, Crawler.cs:1082-1084 — bypasses the
        # seen dedup and the queue cap; key excludes post data, MakeKey
        # Crawler.cs:2618-2625). No base-URI registration (EnqueueUri does
        # not call AddBaseUri).
        for url, post_data in cfg.post_seeds:
            c = _canon1(url, cfg)
            if c.url is None or c.scheme not in ("http", "https", "ftp"):
                continue
            if not self._robots_ok(c.host, c.path):
                continue
            key = (c.host, c.url_key)
            if key not in seen:
                seen[key] = (0, 0)
                path_queries.setdefault((c.host, c.path), set()).add(c.query)
            frontier.append(
                Entry(c.url, c.url_key, c.host, 0, None, "link", False,
                      _priority(c.path, cfg, self.ext_table), seq, 0, 0, post_data)
            )
            seq += 1

        rnd = 0
        while frontier and rnd < cfg.max_rounds:
            frontier_log.append(
                pd.DataFrame(
                    [(e.url, e.url_key, e.host, e.depth, e.priority, e.seq, e.failures)
                     for e in sorted(frontier, key=lambda e: e.seq)],
                    columns=["url", "url_key", "host", "depth", "priority", "seq", "failures"],
                ).assign(round=rnd)
            )

            # 1. SELECT — per-host top-k, then global budget
            by_host: dict[str, list[Entry]] = {}
            for e in sorted(frontier, key=lambda e: (e.priority, e.seq)):
                by_host.setdefault(e.host, []).append(e)
            selected: list[Entry] = []
            for host, entries in by_host.items():
                selected.extend(entries[: self._host_budget(host)])
            selected.sort(key=lambda e: (e.priority, e.seq))
            if cfg.max_connections is not None:
                selected = selected[: cfg.max_connections]
            sel_ids = {id(e) for e in selected}
            frontier = [e for e in frontier if id(e) not in sel_ids]

            # 2.+3. FETCH + DECODE all selected first (canonical set-based
            # phase split: retries are collected before any enqueue so the
            # frontier-cap accounting is a per-round set property the
            # distributed engine reproduces exactly — ADAPT of the
            # reference's page-interleaved loop, Crawler.cs:1449-1725).
            new_entries: list[Entry] = []
            parsed: list[tuple[Entry, int, str | None, str, str | None]] = []
            for e in selected:
                my_fetch_seq = fetch_seq
                fetch_seq += 1

                if e.url not in self.pages and e.url not in self.redirects:
                    error_rows.append((e.url, rnd, e.failures + 1, True, "http_404"))
                    continue

                # redirect chain (MaxRedirects, Crawler.cs:635-647): follow up
                # to max_redirects hops; still redirecting → give up.
                final_url = None
                cur, hops = e.url, 0
                while cur in self.redirects and hops < cfg.max_redirects:
                    cur = self.redirects[cur]
                    hops += 1
                if cur in self.redirects:
                    error_rows.append(
                        (e.url, rnd, e.failures + 1, True, "too_many_redirects")
                    )
                    continue
                if hops > 0:
                    final_url = cur
                    if final_url not in self.pages:
                        error_rows.append((e.url, rnd, e.failures + 1, True, "http_404"))
                        continue

                # protocol-error taxonomy (IsFatalError, Crawler.cs:2121-2164):
                # fatal-table codes die immediately; other codes retry
                status = self.statuses.get(final_url or e.url, 200)
                if status != 200 and is_fatal_status(status):
                    error_rows.append(
                        (e.url, rnd, e.failures + 1, True, f"http_{status}")
                    )
                    continue

                body = self.pages[final_url or e.url]
                if body is not None and cfg.max_file_size is not None:
                    # MaxFileSize truncates the transfer itself (CopyStream,
                    # Crawler.cs:1743-1771; None = Infinite): decode and
                    # link-scan see the truncated bytes, and the bytes
                    # metric is the cut size.
                    body = body[: cfg.max_file_size]
                if status != 200 or body is None:
                    failures = e.failures + 1
                    if failures > cfg.max_retries:
                        error_rows.append((e.url, rnd, failures, True, "retries_exhausted"))
                    else:
                        error_rows.append((e.url, rnd, failures, False, "retryable"))
                        e.failures = failures
                        new_entries.append(e)  # requeue, same seq (Crawler.cs:2308)
                    continue

                # landing-url re-scope check after the response
                # (IsUriAllowed on ResponseUri, Crawler.cs:1585-1597)
                if final_url is not None:
                    fc = _canon1(final_url, cfg)
                    allowed = fc.url is not None and bool(
                        scope_filter(
                            pd.DataFrame(
                                {"scheme": [fc.scheme], "host": [fc.host],
                                 "path": [fc.path], "link_type": [e.link_type]}
                            ),
                            base_uris,
                            domain_nav=cfg.domain_navigation,
                            dir_nav=cfg.directory_navigation,
                            want_nonhtml=cfg.want_nonhtml,
                            external_resources=cfg.external_resources,
                            case_sensitive_paths=cfg.case_sensitive_paths,
                        ).iloc[0].allowed
                    )
                    if not allowed:
                        error_rows.append(
                            (e.url, rnd, e.failures, True, "redirect_out_of_scope")
                        )
                        continue

                c = _canon1(final_url or e.url, cfg)
                # server Content-Type (of the response-serving url) wins over
                # the extension guess (GetMimeType, Crawler.cs:2100-2119)
                server_mime = self.mimes.get(final_url or e.url)
                srtype = M.resource_type_of_mime(server_mime)
                if srtype != M.UNKNOWN:
                    rtype = srtype
                    mime = M.normalize_mime(server_mime)
                else:
                    rtype = M.guess_resource_type_from_path(c.path, self.ext_table)
                    if rtype == M.UNKNOWN:
                        rtype = M.HTML  # ADAPT: no response headers; corpus is pages
                    mime = M.mime_of_type(rtype)
                if rtype == M.BINARY:
                    text, charset = None, None
                else:
                    text, charset = decode_body(body, None, rtype)
                    if cfg.content_filters and text is not None:
                        text = apply_content_filters(
                            pd.Series([text]), cfg.content_filters
                        ).iloc[0]

                trace_rows.append((rnd, my_fetch_seq, e.url, e.depth, e.link_type))
                fetched_rows.append(
                    (e.url, e.url_key, e.host, rnd, my_fetch_seq, e.depth, e.link_type,
                     200, mime, charset, len(body), text,
                     final_url)
                )
                parsed.append((e, my_fetch_seq, text, rtype, final_url))

            # 4. PARSE + 5. ENQUEUE in fetch order
            for e, my_fetch_seq, text, rtype, final_url in parsed:
                if text is None:
                    continue
                found = L.scan_html(text) if rtype == M.HTML else (
                    L.scan_css(text) if rtype == M.CSS else []
                )
                if not found:
                    continue
                base_url = final_url or e.url  # links resolve vs landing url
                if rtype == M.HTML:
                    b = L.find_base_href(text)
                    if b:
                        bc = canonicalize(pd.Series([b])).iloc[0]
                        if bc.url is not None:
                            base_url = b  # absolute <base href> override
                for ordinal, (href, ltype, dec) in enumerate(found):
                    resolved = resolve_links(
                        pd.Series([href]), pd.Series([base_url]), decode_entities=dec
                    ).iloc[0]
                    if resolved is None:
                        continue
                    filtered = apply_uri_filters(
                        pd.Series([resolved]), *self.uri_filters
                    ).iloc[0]
                    if filtered is None:
                        continue
                    cc = _canon1(filtered, cfg)
                    if cc.url is None:
                        continue
                    sc = scope_filter(
                        pd.DataFrame(
                            {"scheme": [cc.scheme], "host": [cc.host],
                             "path": [cc.path], "link_type": [ltype]}
                        ),
                        base_uris,
                        domain_nav=cfg.domain_navigation,
                        dir_nav=cfg.directory_navigation,
                        want_nonhtml=cfg.want_nonhtml,
                        external_resources=cfg.external_resources,
                        case_sensitive_paths=cfg.case_sensitive_paths,
                    ).iloc[0]
                    if not sc.allowed:
                        continue
                    depth = e.depth + 1
                    key = (cc.host, cc.url_key)
                    if key in seen:
                        for fe in frontier + new_entries:
                            if (fe.host, fe.url_key) == key:
                                fe.depth = min(fe.depth, depth)  # min-merge
                        continue
                    if depth >= cfg.depth_limit and not (
                        ltype == "resource" and sc.is_external
                    ):
                        continue
                    if not self._robots_ok(cc.host, cc.path):
                        continue
                    pq = path_queries.setdefault((cc.host, cc.path), set())
                    if (
                        cfg.max_query_strings_per_file is not None
                        and cc.query not in pq
                        and len(pq) >= cfg.max_query_strings_per_file
                    ):
                        continue  # crawler-trap cap
                    if (
                        cfg.max_queued_links is not None
                        and len(frontier) + len(new_entries) >= cfg.max_queued_links
                    ):
                        continue
                    pq.add(cc.query)
                    seen[key] = (depth, rnd)
                    prio = _priority(cc.path, cfg, self.ext_table)
                    if self.ranks is not None:
                        # rank-weighted ordering within the base class
                        # (EnqueueCore HTML-first generalized; the engine
                        # applies the same formula at 5c')
                        prio = rank_weighted_priority(
                            prio, self.ranks.get(cc.url, 0)
                        )
                    new_entries.append(
                        Entry(cc.url, cc.url_key, cc.host, depth, e.url, ltype,
                              bool(sc.is_external), prio,
                              seq, 0, rnd + 1)
                    )
                    seq += 1

            frontier.extend(new_entries)
            rnd += 1

        return OracleResult(
            trace=pd.DataFrame(
                trace_rows, columns=["round", "fetch_seq", "url", "depth", "link_type"]
            ),
            seen=pd.DataFrame(
                [(h, k, d, r) for (h, k), (d, r) in sorted(seen.items())],
                columns=["host", "url_key", "first_depth", "first_round"],
            ),
            fetched=pd.DataFrame(
                fetched_rows,
                columns=["url", "url_key", "host", "round", "fetch_seq", "depth",
                         "link_type", "http_status", "mime", "charset", "bytes",
                         "extracted_text", "final_url"],
            ),
            errors=pd.DataFrame(
                error_rows, columns=["url", "round", "failures", "fatal", "reason"]
            ),
            frontier_log=frontier_log,
        )
