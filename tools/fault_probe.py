"""Executor-loss fault injection for ``reliable_checkpoints`` (VERDICT r2
item 9; SURVEY.md §4 resilience).

Scenario: a standalone Spark cluster on localhost — one master, TWO worker
processes (separate executor JVMs, 8 × 2-core executors) — runs a multi-round
crawl with ``reliable_checkpoints=True`` (every lineage cut goes through
``DataFrame.checkpoint`` into the shared state dir instead of executor-memory
``localCheckpoint``; operators/ckpt.py). Mid-crawl, this harness SIGKILLs one
worker AND all its executor JVMs — half the cluster dies, taking every
in-memory block with it. The crawl must complete on the surviving worker and
produce a trace byte-identical to a clean run of the same config.

Usage:  python tools/fault_probe.py          (from the repo root)
Prints one JSON line: {"fault_run_ok": ..., "trace_match": ..., ...}
Results are recorded in BENCH/BASELINE.md.
"""

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MULT = int(os.environ.get("FAULT_MULT", "64"))   # pages = docs x MULT

_CHILD = r"""
import hashlib, json, os, sys, tempfile, shutil
from pyspark.sql import SparkSession

sf_dir, mult, tag, state = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
spark = (SparkSession.builder.master("spark://127.0.0.1:7077")
         .appName("fault-" + tag)
         .config("spark.executor.cores", "2")
         .config("spark.cores.max", "16")
         .config("spark.executor.memory", "4g")
         .config("spark.driver.memory", "8g")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.default.parallelism", "32")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         # survive executor loss without blacklisting the whole app
         .config("spark.task.maxFailures", "8")
         .config("spark.stage.maxConsecutiveAttempts", "8")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sys.path.insert(0, os.environ["FAULT_REPO"])
import __spark_entry__ as E
E._ensure_shipped(spark)

from webcrawl_spark.sources import synth_web as SW
from webcrawl_spark.plans.crawl import SparkCrawler

n_hosts = 256
pages = SW.synth_pages(spark, sf_dir, None, mult=mult, n_hosts=n_hosts)
# pages must be REBUILDABLE after executor loss: parquet on shared disk,
# not a localCheckpoint
pdir = tempfile.mkdtemp(prefix="fault_pages_")
pages.write.mode("overwrite").parquet(pdir)
pages = spark.read.parquet(pdir)
n_pages = pages.count()
budget = max(8, n_pages // SW.MEGA_MOD // 7)
cfg = SW.crawl_config(
    num_partitions=32,
    max_connections_per_server=budget,
    bloom_bits=1 << 22,
    reliable_checkpoints=True,
)
try:
    c = SparkCrawler(spark, pages, SW.seed_urls(64, n_hosts), state, cfg)
    m = c.run()
    rows = sorted(
        (r.fetch_seq, r.url, r.depth, r.round)
        for r in c.trace().collect()
    )
    h = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    print("RESULT " + json.dumps(
        {"urls": m.next_fetch_seq, "rounds": m.next_round, "trace_sha": h}
    ), flush=True)
finally:
    shutil.rmtree(pdir, ignore_errors=True)
"""


def _spawn(args, log):
    return subprocess.Popen(
        args, env=dict(os.environ, SPARK_NO_DAEMONIZE="1",
                       SPARK_LOG_DIR="/tmp/spark-logs"),
        stdout=open(log, "w"), stderr=subprocess.STDOUT,
    )


def _kill_tree(pid):
    """SIGKILL a worker and every executor JVM it spawned."""
    try:
        kids = subprocess.run(
            ["pgrep", "-P", str(pid)], capture_output=True, text=True
        ).stdout.split()
    except Exception:
        kids = []
    for p in [pid] + [int(k) for k in kids]:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _run_crawl(tag, kill_worker=None, kill_after_round=2):
    """Run the crawl child; optionally kill a worker once the crawl's state
    dir holds ``round-k.json``: round k-1's writes have all landed and its
    manifest is committed, and round k is computing (or done computing
    with its writes in flight)."""
    script = "/tmp/fault_child.py"
    with open(script, "w") as f:
        f.write(_CHILD)
    state = tempfile.mkdtemp(prefix="fault_state_")
    p = subprocess.Popen(
        [sys.executable, "-u", script, SF_DIR, str(MULT), tag, state],
        cwd=REPO, env=dict(os.environ, FAULT_REPO=REPO),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    killed = threading.Event()
    manifest = os.path.join(state, "_manifests", f"round-{kill_after_round}.json")

    def watch():
        while p.poll() is None:
            if os.path.exists(manifest):
                print(f"  >> round {kill_after_round} reached — SIGKILLing "
                      f"worker {kill_worker.pid} and its executors", flush=True)
                _kill_tree(kill_worker.pid)
                killed.set()
                return
            time.sleep(0.2)

    if kill_worker is not None:
        threading.Thread(target=watch, daemon=True).start()
    result = None
    for line in p.stdout:
        if line.startswith("RESULT "):
            result = json.loads(line[7:])
    rc = p.wait(timeout=3600)
    shutil.rmtree(state, ignore_errors=True)
    return result, rc, killed.is_set()


def main():
    spark_home = os.path.dirname(__import__("pyspark").__file__)
    cls = os.path.join(spark_home, "bin", "spark-class")
    os.makedirs("/tmp/spark-logs", exist_ok=True)
    master = _spawn(
        [cls, "org.apache.spark.deploy.master.Master",
         "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8090"],
        "/tmp/spark-logs/fm.log")
    time.sleep(6)

    def worker(port):
        return _spawn(
            [cls, "org.apache.spark.deploy.worker.Worker",
             "spark://127.0.0.1:7077", "--cores", "8", "--memory", "40g",
             "--webui-port", str(port)],
            f"/tmp/spark-logs/fw{port}.log")

    w1, w2 = worker(8091), worker(8092)
    time.sleep(8)
    out = {}
    try:
        print("clean run (no fault) ...", flush=True)
        clean, rc, _ = _run_crawl("clean")
        assert clean is not None and rc == 0, "clean run failed"
        print(f"  clean: {clean}", flush=True)

        print("fault run (kill worker2 + its executors at round 2) ...",
              flush=True)
        fault, rc, killed = _run_crawl("fault", kill_worker=w2)
        out = {
            "fault_injected": killed,
            "fault_run_ok": fault is not None and rc == 0,
            "clean": clean,
            "fault": fault,
            "trace_match": bool(fault) and fault["trace_sha"] == clean["trace_sha"],
        }
    finally:
        for pr in (w1, w2, master):
            try:
                pr.terminate()
            except Exception:
                pass
    print(json.dumps(out))


if __name__ == "__main__":
    main()
