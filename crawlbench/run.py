"""Frontier-crawl benchmark: one workload, one seed, one JSON result.

    python3 crawlbench/run.py --workload crawl_small_rounds --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. The run sets up Spark (several times; the
median is ``setup_s``), writes the workload's inputs to parquet, then
crawls them with ``plans.crawl.SparkCrawler`` for ``--seconds`` seconds of
crawl time (at least one crawl), checking every crawl against the DuckDB
oracle. ``--trace 1`` instead sets up once, warms up for one round, makes
one untraced and one traced crawl and reports the per-layer metrics. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``attempted`` counts fetches (selected frontier rows); ``failed`` counts
fetch_log rows whose status is not ``ok``, or every fetch of a crawl that
raised or failed the oracle, so ``failed / attempted`` is the error rate.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
TRACE_DIR = os.path.join(HERE, "traces")
SETUPS = 3


# metric name -> unit; BENCHMARK.json lists the same names and units
END_TO_END = {
    "crawl_s": "s",
    "frontier_urls_per_s": "1/s",
    "round_s.p50": "s",
    "resume_s": "s",
    "setup_s": "s",
    "state_mb": "MB",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.jobs_per_round": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "ckpt.cuts": "count",
    "ckpt.cut_s": "s",
    "round.run_round_s": "s",
    "seq.assign_s": "s",
    "bloom.build_s": "s",
    "bloom.sidecar_mb": "MB",
    "state.write_s.fetch_log": "s",
    "state.write_s.seen": "s",
    "state.write_s.frontier": "s",
    "state.commit_s": "s",
    "state.read_s": "s",
    "crawl.drain_wait_s": "s",
    "kernels.decode_us_per_page": "us",
    "kernels.scan_us_per_page": "us",
    "kernels.base_href_us_per_page": "us",
    "kernels.resolve_us_per_link": "us",
    "kernels.canonicalize_us_per_link": "us",
    "kernels.scope_us_per_link": "us",
    "kernels.robots_us_per_link": "us",
    "udf.decode_stage_us_per_page": "us",
    "udf.candidate_stage_us_per_page": "us",
    "trace.overhead_s": "s",
    "control.job_ms": "ms",
    "control.shuffle_s": "s",
    "control.arrow_s": "s",
}


def metrics(values: dict, table: dict) -> dict:
    """``values`` as contract metrics; its names must be exactly ``table``'s."""
    if set(values) != set(table):
        raise KeyError(f"metric names differ: {sorted(set(values) ^ set(table))}")
    return {k: {"value": float(values[k]), "unit": table[k]} for k in table}


def result_line(ok: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The contract line. A run that is not correct counts every attempted
    operation as failed."""
    attempted = max(1, int(attempted))
    return json.dumps({
        "correct": bool(ok),
        "attempted": attempted,
        "failed": int(failed) if ok else attempted,
        "metrics": metrics,
    })


class Run:
    """One benchmark run: its work directory, Spark session and records."""

    def __init__(self, args):
        from crawlbench import inputs

        self.args = args
        self.w = inputs.WORKLOADS[args.workload]
        self.work = os.path.join(
            WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.spark = None
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {"workload": args.workload, "seed": args.seed}

    # ---------------------------------------------------------- pieces
    def setup(self, n: int = SETUPS) -> float:
        """Set up ``n`` times; returns the median set-up time."""
        from crawlbench import session

        times = []
        for _ in range(n):
            if self.spark is not None:
                session.stop(self.spark, jvm=False)
            self.spark, s = session.start(REPO, self.work)
            times.append(s)
        self.detail["setup_s"] = times
        return statistics.median(times)

    def gate(self, name: str, r) -> None:
        """Check crawl ``r`` against the oracle and count its fetches."""
        from crawlbench import oracle

        c = r.crawler
        log = c.fetch_log().select(*oracle.TRACE_COLS, "status").toPandas()
        # the trace is the ok rows in fetch order (SparkCrawler.trace)
        trace = log[log["status"] == "ok"].sort_values("fetch_seq")
        seen = c.seen().select("host", "url_key").toPandas()
        problems = oracle.check(
            trace, seen, self.w.n_pages, self.inputs.seed_ids, self.w.n_hosts,
            self.w.budget, self.w.config().depth_limit,
        )
        if len(log) != r.scheduled:
            problems.append(f"{len(log)} fetch_log rows != {r.scheduled} selected")
        self.problems += [f"{name}: {p}" for p in problems]
        self.attempted += r.scheduled
        self.failed += r.scheduled if problems else len(log) - len(trace)

    def crawl_checked(self, name: str):
        """One crawl into a fresh state dir, checked, then deleted."""
        from crawlbench import crawl

        r = crawl.run_crawl(
            self.spark, self.w, self.inputs, os.path.join(self.work, name)
        )
        self.gate(name, r)
        r.state_mb = crawl.dir_mb(r.state_dir)
        r.crawler = None
        shutil.rmtree(r.state_dir, ignore_errors=True)
        return r

    # ---------------------------------------------------------- modes
    def measure(self) -> dict:
        """End-to-end metrics: crawl for ``--seconds`` of crawl time."""
        from crawlbench import crawl

        setup_s = self.setup()
        self.prepare()
        results = []
        with crawl.RssSampler(crawl.jvm_pid()) as rss:
            while True:
                results.append(self.crawl_checked(f"state{len(results)}"))
                spent = sum(r.crawl_s for r in results)
                typical = statistics.median(r.crawl_s for r in results)
                if spent + typical > self.args.seconds:
                    break
        rounds = [x for r in results for x in r.round_s]
        self.detail.update(
            crawls=len(results), rounds=results[0].rounds,
            crawl_s=[r.crawl_s for r in results],
            round_s_samples=len(rounds),
        )
        med = statistics.median
        return metrics({
            "crawl_s": med(r.crawl_s for r in results),
            "frontier_urls_per_s": med(
                (r.scheduled + r.deduped) / r.crawl_s for r in results),
            "round_s.p50": med(rounds),
            "resume_s": med(r.resume_s for r in results),
            "setup_s": setup_s,
            "state_mb": med(r.state_mb for r in results),
            "peak_rss_mb": rss.peak_mb,
        }, END_TO_END)

    def traced(self) -> dict:
        """Per-layer metrics: the warm-up, an untraced crawl, then a traced
        crawl in a new session (same JVM) that also writes the Spark event
        log."""
        from crawlbench import crawl, layers, session
        from crawlbench.trace import Tracer
        from webcrawl_spark.operators import bloom

        self.setup(n=1)   # a traced record has no setup_s
        self.prepare()
        crawl.warm_up(self.spark, self.w, self.inputs,
                      os.path.join(self.work, "warm"))
        plain = self.crawl_checked("plain")
        session.stop(self.spark, jvm=False)
        log_dir = os.path.join(self.work, "eventlog")
        self.spark, _ = session.start(REPO, self.work, event_log_dir=log_dir)

        tracer = Tracer(self.spark.sparkContext)
        tracer.install()
        try:
            with tracer.span("crawl"):
                r = crawl.run_crawl(
                    self.spark, self.w, self.inputs,
                    os.path.join(self.work, "traced"),
                )
        finally:
            tracer.uninstall()
        sidecar_mb = crawl.dir_mb(bloom.sidecar_dir(r.state_dir, r.rounds))
        jobs = tracer.jobs_by_span()
        n_jobs = len({j for ids in jobs.values() for j in ids})
        groups = {s.attrs["group"] for s in tracer.spans if "group" in s.attrs}
        # the traced crawl's own outputs go through the same oracle gate
        self.gate("traced", r)
        ctl = crawl.controls(self.spark, self.inputs.pages_path)
        self.spark.stop()   # flushes the event log; the JVM stays up
        self.spark = None

        os.makedirs(TRACE_DIR, exist_ok=True)
        span_path = os.path.join(
            TRACE_DIR, f"{self.args.workload}-seed{self.args.seed}.jsonl"
        )
        tracer.write(span_path)
        self_s = tracer.self_times()
        counts: dict[str, int] = {}
        for s in tracer.spans:
            counts[s.name] = counts.get(s.name, 0) + 1
        self.detail.update(
            spans=span_path, self_s=self_s, span_counts=counts,
            rounds=r.rounds, crawl_s_plain=plain.crawl_s, crawl_s_traced=r.crawl_s,
        )

        v = {
            "spark.jobs": n_jobs,
            "spark.jobs_per_round": n_jobs / max(1, r.rounds),
            "ckpt.cuts": counts.get("ckpt.cut", 0),
            "bloom.sidecar_mb": sidecar_mb,
            "trace.overhead_s": r.crawl_s - plain.crawl_s,
        }
        for metric, span in (
            ("ckpt.cut_s", "ckpt.cut"),
            ("round.run_round_s", "round.run_round"),
            ("seq.assign_s", "seq.assign"),
            ("bloom.build_s", "bloom.build"),
            ("state.write_s.fetch_log", "state.write.fetch_log"),
            ("state.write_s.seen", "state.write.seen"),
            ("state.write_s.frontier", "state.write.frontier"),
            ("state.commit_s", "state.commit"),
            ("state.read_s", "state.read"),
            ("crawl.drain_wait_s", "crawl.drain"),
        ):
            v[metric] = self_s.get(span, 0.0)
        v.update(layers.event_log_metrics(log_dir, groups))
        v.update(layers.kernel_metrics(self.w, self.inputs))
        v.update(ctl)
        return metrics(v, PER_LAYER)

    def prepare(self) -> None:
        from crawlbench import inputs

        self.inputs = inputs.prepare(
            self.spark, self.w, self.args.seed, os.path.join(self.work, "in")
        )
        self.detail["input_sha"] = self.inputs.sha

    def close(self) -> None:
        from crawlbench import session

        session.stop(self.spark)
        self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)


def parse_args(argv=None):
    from crawlbench import inputs

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(inputs.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(REPO, "webcrawl_spark")):
        print(f"crawlbench: no webcrawl_spark package under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    args = parse_args(argv)
    run = Run(args)
    # everything the JVM, Spark and Python write goes under the run's work dir
    os.makedirs(os.path.join(run.work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    tempfile.tempdir = None
    t0 = time.perf_counter()
    try:
        metrics = run.traced() if args.trace else run.measure()
        ok = not run.problems
    except Exception:
        traceback.print_exc()
        run.problems.append("run raised")
        metrics, ok = {}, False
    finally:
        try:
            run.close()
        except Exception:
            traceback.print_exc()
    run.detail.update(problems=run.problems, run_s=time.perf_counter() - t0)
    print(json.dumps({"detail": run.detail}))
    print(result_line(ok, run.attempted, run.failed, metrics))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
