"""Record the benchmark's baseline into ``crawlbench/baseline.json``.

    python3 crawlbench/baseline.py --runs 10

Run from the repository root. For every workload it makes ``--runs``
untraced runs (seeds ``--first-seed`` on) and one traced run (the first
seed), each a separate ``run.py`` process of ``run_seconds`` from
BENCHMARK.json. For each
end-to-end metric the file holds the values, their median, quartiles
(``statistics.quantiles(values, n=4)``) and spread, (Q3 - Q1) / median,
from which the metric's bound in BENCHMARK.json is set. The traced record
holds every per-layer metric, the machine controls among them. Exits 1 if
any run is not correct.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2:
        return {"seed": seed, "correct": False, "exit": p.returncode,
                "stderr_tail": p.stderr[-2000:]}
    detail = json.loads(lines[-2])["detail"]
    out = json.loads(lines[-1])
    keep = ("input_sha", "crawls", "rounds", "round_s_samples", "run_s", "problems")
    return {"seed": seed, "exit": p.returncode, **out,
            "detail": {k: detail[k] for k in keep if k in detail}}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)   # med is the median
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "values": values}


def machine() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"cpus": len(os.sched_getaffinity(0)), "cpu_model": model,
            "mem_gb": round(mem_kb / 2**20, 1), "python": platform.python_version()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    record = {"machine": machine(), "run_seconds": spec["run_seconds"],
              "workloads": {}}
    ok = True
    for w in (x["name"] for x in spec["workloads"]):
        seeds = range(args.first_seed, args.first_seed + args.runs)
        runs = [one_run(w, s, spec["run_seconds"], 0) for s in seeds]
        traced = one_run(w, args.first_seed, spec["run_seconds"], 1)
        ok &= all(r["correct"] for r in runs + [traced])
        metrics = {
            m["name"]: summary([r["metrics"][m["name"]]["value"] for r in runs])
            for m in spec["end_to_end"] if all(r["correct"] for r in runs)
        }
        record["workloads"][w] = {"end_to_end": metrics, "runs": runs,
                                  "traced": traced}
        for name, m in metrics.items():
            print(f"{w:20s} {name:20s} median {m['median']:10.3f} "
                  f"spread {m['spread']:.3f}", flush=True)
    with open(os.path.join(HERE, "baseline.json"), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
