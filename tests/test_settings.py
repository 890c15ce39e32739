"""Settings persistence round-trip (LoadSettings/SaveSettings,
Backend/Crawler.cs:885-981): every knob survives save→load, including the
nested tuple fields; version compatibility mirrors the reference's gate
(Crawler.cs:889-893)."""

import json

import pytest

from webcrawl_spark.config import (
    SETTINGS_VERSION,
    CrawlConfig,
    load_settings,
    save_settings,
)


def test_roundtrip_defaults(tmp_path):
    p = str(tmp_path / "settings.json")
    cfg = CrawlConfig()
    save_settings(cfg, p)
    assert load_settings(p) == cfg


def test_roundtrip_every_knob(tmp_path):
    p = str(tmp_path / "settings.json")
    cfg = CrawlConfig(
        max_connections=None,
        max_connections_per_server=7,
        politeness_quantum_s=0.5,
        depth_limit=3,
        max_retries=4,
        max_redirects=5,
        max_queued_links=1000,
        max_query_strings_per_file=None,
        max_file_size=1234,
        directory_navigation="UpAndDown",
        domain_navigation="SameDomain",
        want_nonhtml=False,
        external_resources=False,
        prioritize_nonhtml=True,
        case_sensitive_paths=False,
        strip_www=True,
        normalize_query=True,
        mime_overrides=((".foo", "text/x-foo"), (".png", "")),
        post_seeds=(("http://h/form", "a=1&b=2"),),
        change_filters=((r"\.php$", ".html"),),
        positive_filters=(r"^http://h/",),
        negative_filters=(r"/private/",),
        content_filters=((r"<!--.*?-->", ""),),
        max_rounds=9,
        num_partitions=4,
        salt_buckets=2,
        bloom_min_seen=None,
        bloom_bits=1 << 10,
        reliable_checkpoints=True,
    )
    save_settings(cfg, p)
    loaded = load_settings(p)
    assert loaded == cfg
    # nested tuples re-frozen, not lists (hashability / broadcast identity)
    assert isinstance(loaded.mime_overrides[0], tuple)
    assert isinstance(loaded.post_seeds[0], tuple)


def test_newer_version_refused(tmp_path):
    p = str(tmp_path / "settings.json")
    save_settings(CrawlConfig(), p)
    with open(p) as f:
        d = json.load(f)
    d["version"] = SETTINGS_VERSION + 1
    with open(p, "w") as f:
        json.dump(d, f)
    with pytest.raises(ValueError):
        load_settings(p)


def test_older_file_gets_defaults_and_ignores_unknown(tmp_path):
    # a file from an older build: missing newer fields, carrying removed ones
    p = str(tmp_path / "settings.json")
    with open(p, "w") as f:
        json.dump({"version": 0, "depth_limit": 2, "retired_knob": 99,
                   "small_round_threshold": 10, "bloom_fpp": 0.01,
                   "bloom_enabled": False, "rank_priority": True,
                   "robots_enabled": False, "want_html": False}, f)
    cfg = load_settings(p)
    assert cfg.depth_limit == 2
    assert cfg.max_retries == CrawlConfig().max_retries
