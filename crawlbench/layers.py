"""Per-layer numbers for the traced run: Spark task metrics from the event
log, and kernel / UDF-stage costs timed in plain pandas on a fixed sample
of the workload's own pages.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

SAMPLE_PAGES = 400


# ------------------------------------------------------------- event log
def event_log_metrics(log_dir: str, groups: set) -> dict:
    """Task, shuffle and spill totals of the jobs run under ``groups``.

    Reads the Spark event log (JSON lines); call after the context that
    wrote it has stopped, so the log is complete.
    """
    stage_in = set()
    tasks = run_ms = sw = sr = spill = 0
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g in groups:
                        stage_in.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_in:
                    m = ev.get("Task Metrics") or {}
                    tasks += 1
                    run_ms += m.get("Executor Run Time", 0)
                    w = m.get("Shuffle Write Metrics") or {}
                    r = m.get("Shuffle Read Metrics") or {}
                    sw += w.get("Shuffle Bytes Written", 0)
                    sr += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "spark.tasks": tasks,
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.shuffle_write_mb": sw / 1e6,
        "spark.shuffle_read_mb": sr / 1e6,
        "spark.spill_mb": spill / 1e6,
    }


# ------------------------------------------------------------- kernels
class _Bc:
    """Stands in for a Spark broadcast outside Spark."""

    def __init__(self, value):
        self.value = value


def _per_unit_us(fn, units: int, reps: int = 5) -> float:
    """Median wall time of ``fn()`` over ``reps`` calls, per unit, in µs."""
    fn()  # first call warms regex and import caches
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times) / units * 1e6


def kernel_metrics(w, inputs) -> dict:
    """µs per page or per link of the crawl kernels and the two UDF stages,
    on the first SAMPLE_PAGES pages of the workload (by doc id)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from webcrawl_spark.functions import crawl_udfs as U
    from webcrawl_spark.kernels import links as L
    from webcrawl_spark.kernels import robots as R
    from webcrawl_spark.kernels.filters import compile_uri_filters
    from webcrawl_spark.kernels.scope import scope_filter
    from webcrawl_spark.kernels.textdec import decode_batch
    from webcrawl_spark.kernels.urlnorm import canonicalize, resolve_links
    from webcrawl_spark.plans.round import FRONTIER_COLS

    cfg = w.config()
    pages = pq.read_table(inputs.pages_path, columns=["url", "html"]).to_pandas()
    pages["doc"] = pages["url"].str.extract(r"doc(\d+)\.html")[0].astype(int)
    pages = pages.sort_values("doc").head(SAMPLE_PAGES).reset_index(drop=True)
    n = len(pages)
    html = pages["html"].map(bytes)
    rtypes = pd.Series(["html"] * n)
    texts = decode_batch(html, None, rtypes)["text"]

    found = [L.scan_html(t) for t in texts]
    hrefs = pd.Series([h for f in found for (h, _lt, _d) in f], dtype="object")
    bases = pd.Series([u for u, f in zip(pages["url"], found) for _ in f],
                      dtype="object")
    n_links = len(hrefs)
    resolved = resolve_links(hrefs, bases, True)
    canon = canonicalize(resolved)
    scope_in = pd.DataFrame({
        "scheme": canon["scheme"], "host": canon["host"],
        "path": canon["path"], "link_type": "link",
    })
    base_uris = [
        {"scheme": r.scheme, "host": r.host, "path": r.path}
        for r in canonicalize(pd.Series(inputs.seeds, dtype="object")).itertuples()
    ]
    # a robots rule set over every host in the sample, so the matcher runs
    rules = pd.DataFrame(
        [(h, p, a, None) for h in sorted(set(canon["host"]))
         for p, a in (("/private", False), ("/doc*9.html$", False), ("/", True))],
        columns=["host", "path_prefix", "allow", "crawl_delay"],
    )
    rule_index = R.build_rule_index(rules)

    def scope():
        scope_filter(
            scope_in, base_uris, domain_nav=cfg.domain_navigation,
            dir_nav=cfg.directory_navigation, want_nonhtml=cfg.want_nonhtml,
            external_resources=cfg.external_resources,
            case_sensitive_paths=cfg.case_sensitive_paths,
        )

    # the decode stage's input: one fetched row per page, as the round builds it
    dec_in = pd.DataFrame({c: [None] * n for c in FRONTIER_COLS})
    dec_in["url"] = pages["url"]
    dec_in["path"] = pages["url"].str.replace(r"^http://[^/]+", "", regex=True)
    dec_in["link_type"] = "link"
    dec_in["depth"] = 0
    dec_in["failures"] = 0
    dec_in["fetch_seq"] = range(n)
    dec_in["html"] = html
    dec_in["final_url"] = None
    dec_in["server_mime"] = None
    dec_in["http_status"] = 200
    dec_in["present"] = True
    dec_in["exceeded"] = False
    dec_in["final_present"] = True
    dec_in["ok"] = True
    base_bc = _Bc(base_uris)
    decode_stage = U.make_decode_stage(cfg, base_bc)
    cand_in = pd.DataFrame({
        "url": pages["url"], "depth": 0, "fetch_seq": range(n),
        "rtype": "html", "text": texts, "base0": pages["url"],
    })
    filters = compile_uri_filters(
        cfg.change_filters, cfg.positive_filters, cfg.negative_filters
    )
    cand_stage = U.make_parse_candidate_stage(cfg, base_bc, filters, None)

    def drain(gen):
        for _ in gen:
            pass

    return {
        "kernels.decode_us_per_page": _per_unit_us(
            lambda: decode_batch(html, None, rtypes), n),
        "kernels.scan_us_per_page": _per_unit_us(
            lambda: [L.scan_html(t) for t in texts], n),
        "kernels.base_href_us_per_page": _per_unit_us(
            lambda: [L.find_base_href(t) for t in texts], n),
        "kernels.resolve_us_per_link": _per_unit_us(
            lambda: resolve_links(hrefs, bases, True), n_links),
        "kernels.canonicalize_us_per_link": _per_unit_us(
            lambda: canonicalize(resolved), n_links),
        "kernels.scope_us_per_link": _per_unit_us(scope, n_links),
        "kernels.robots_us_per_link": _per_unit_us(
            lambda: R.robots_allowed(canon["host"], canon["path"], rule_index),
            n_links),
        "udf.decode_stage_us_per_page": _per_unit_us(
            lambda: drain(decode_stage(iter([dec_in]))), n),
        "udf.candidate_stage_us_per_page": _per_unit_us(
            lambda: drain(cand_stage(iter([cand_in]))), n),
    }
