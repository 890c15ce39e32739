"""Crawl configuration — every knob of the reference that affects which URLs
are visited and in what order (Backend/Crawler.cs:3364-3374 defaults).

Frozen dataclass; broadcast to executors (a small pickled closure constant —
pandas UDFs capture it once per task, never per row).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Optional


@dataclass(frozen=True)
class CrawlConfig:
    # --- budgets / politeness (Crawler.cs:533-562, 3364) ---
    max_connections: Optional[int] = 10   # global per-round fetch budget; None = unlimited
    max_connections_per_server: int = 2   # per-host per-round budget
    politeness_quantum_s: float = 1.0     # seconds one round represents, for robots crawl_delay

    # --- limits (Crawler.cs:564-669, 3364-3366) ---
    depth_limit: int = 50
    max_retries: int = 1
    max_redirects: int = 20          # redirect-chain cap (Crawler.cs:635-647)
    max_queued_links: Optional[int] = None          # None = Infinite
    max_query_strings_per_file: Optional[int] = 500   # None = Infinite
    max_file_size: Optional[int] = 50 * 1024 * 1024  # transfer truncation
                                                     # bytes; None = Infinite
                                                     # (Crawler.cs:583-598)

    # --- scope rules (Crawler.cs:19-52, 470-496) ---
    directory_navigation: str = "Down"              # Same|Up|Down|UpAndDown
    domain_navigation: str = "SameHostName"         # SameHostName|SameDomain|SameTLD|Everywhere
    want_nonhtml: bool = True                       # DownloadFlags.NonHtml
    external_resources: bool = True                 # DownloadFlags.ExternalResources
    prioritize_nonhtml: bool = False                # DownloadFlags.PrioritizeNonHtml

    # --- identity (Crawler.cs:401-407, 2618-2625) ---
    case_sensitive_paths: bool = True

    # --- URL hacks (UrlFilters, Crawler.cs:3387-3437) ---
    strip_www: bool = False
    normalize_query: bool = False

    # --- user MIME overrides (SetMimeOverride, Crawler.cs:1104-1148) ---
    # ((extension, mime), ...) — extend/replace the standard ~45-entry
    # extension→MIME table; empty mime removes the mapping. Drives type
    # guessing (priority, decode, scope "want" checks) everywhere.
    mime_overrides: tuple = ()

    # --- user-enqueued POST resources (EnqueueUri(uri, postData),
    #     Crawler.cs:1081-1101; GUI extra-URL input MainForm.cs:100-115).
    #     ((url, post_data), ...) — force-enqueued at depth 0 after the seed
    #     list: the public EnqueueUri overload passes force=true, bypassing
    #     the seen-set dedup and the queue cap (Crawler.cs:2307-2315).
    post_seeds: tuple = ()

    # --- user filters (console semantics, Crawler/main.cs:285-319) ---
    change_filters: tuple = ()       # ((pattern, replacement-with-$n), ...)
    positive_filters: tuple = ()     # URL must match ALL
    negative_filters: tuple = ()     # URL rejected if ANY matches
    content_filters: tuple = ()      # ((pattern, replacement), ...) over decoded text

    # --- engine knobs (ours, not the reference's) ---
    max_rounds: int = 10_000
    num_partitions: int = 32         # host-hash partition count P
    salt_buckets: int = 1            # S sub-splits per mega-host (skew); 1 = off
    bloom_min_seen: Optional[int] = 100_000  # Bloom prefilter in front of
                                     # the seen anti-join: the check stage
                                     # (candidate repartition + bitset-file
                                     # probes) only pays once the seen set
                                     # outgrows a plain anti-join, so rounds
                                     # below this row count skip it and keep
                                     # no sidecar. The first checking round
                                     # builds its sidecar from the full seen
                                     # view; later rounds update it from each
                                     # seen delta. 0 = always on, None = never
    bloom_bits: int = 1 << 17        # bits per host-hash partition; size so
                                     # total bits ≈ 10-15× expected seen keys
                                     # (cluster: 1<<30+ per partition sidecar)
    reliable_checkpoints: bool = False  # lineage cuts via DataFrame.checkpoint
                                     # into the state dir (survives executor
                                     # loss on a cluster) instead of
                                     # localCheckpoint (fast, non-resilient;
                                     # the in-sandbox default)

    def with_(self, **kw) -> "CrawlConfig":
        return replace(self, **kw)


# rank-weighted priority arithmetic (shared by engine and oracle): ranks are
# clamped to [0, RANK_SPAN) so the base class (html=0 / binary=1) always
# dominates — the spread between classes exceeds any clamped rank.
RANK_SPAN = 1 << 20


def rank_weighted_priority(base: int, rank: int) -> int:
    return base * RANK_SPAN - min(max(rank, 0), RANK_SPAN - 1)


DEFAULT_CONFIG = CrawlConfig()


# ---------------------------------------------------------------- persistence
# The reference serializes every knob with a format version and restores it
# on startup (LoadSettings/SaveSettings, Backend/Crawler.cs:885-981; the
# version gate is Crawler.cs:889-893: an unknown future version is refused,
# older versions load with defaults for fields they predate).

SETTINGS_VERSION = 1

# fields whose values are (possibly nested) tuples — JSON round-trips them
# as lists, so loading re-freezes them
_TUPLE_FIELDS = (
    "mime_overrides", "post_seeds", "change_filters", "positive_filters",
    "negative_filters", "content_filters",
)


def save_settings(cfg: CrawlConfig, path: str) -> None:
    """Write ``cfg`` to ``path`` as versioned JSON (atomic tmp+rename)."""
    import json
    import os

    d = {"version": SETTINGS_VERSION}
    d.update(cfg.__dict__)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(d, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def load_settings(path: str) -> CrawlConfig:
    """Restore a :class:`CrawlConfig` saved by :func:`save_settings`.

    Mirrors the reference's compatibility rules: a NEWER version than this
    build understands is an error; fields added after the file was written
    take their defaults; unknown (removed) fields are ignored.
    """
    import json
    from dataclasses import fields as dc_fields

    with open(path) as f:
        d = json.load(f)
    ver = d.pop("version", 0)
    if ver > SETTINGS_VERSION:
        raise ValueError(
            f"settings version {ver} is newer than supported {SETTINGS_VERSION}"
        )
    known = {f.name for f in dc_fields(CrawlConfig)}
    kw = {k: v for k, v in d.items() if k in known}
    for name in _TUPLE_FIELDS:
        if name in kw:
            kw[name] = tuple(
                tuple(x) if isinstance(x, list) else x for x in kw[name]
            )
    return CrawlConfig(**kw)
