"""The benchmark's own tests: oracle pin, seeded inputs, metric names, the
failure path for a corrupted trace, and span bookkeeping. None of them
starts Spark.

    python3 -m pytest crawlbench/tests -q
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pandas as pd
import pytest

from crawlbench import inputs, oracle, run
from crawlbench.trace import Span, Tracer
from webcrawl_spark.sources import synth_web as SW

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = inputs.Workload("tiny", n_docs=100, mult=3)


@pytest.mark.parametrize("n_docs,n_seeds,budget", [(300, 4, 8), (500, 9, 3)])
def test_oracle_equals_synth_web_at_default_arguments(n_docs, n_seeds, budget):
    con = oracle.connect(n_docs, list(range(n_seeds)))
    want = con.execute(SW.trace_sql(n_docs, n_seeds, budget, rounds=12)).df()
    got = con.execute(oracle.trace_sql(n_docs, budget, rounds=12)).df()
    pd.testing.assert_frame_equal(got, want)
    want = con.execute(SW.reach_seen_sql(n_docs, n_seeds)).df()
    got = con.execute(oracle.reach_seen_sql(n_docs)).df()
    pd.testing.assert_frame_equal(got, want)


def test_oracle_generalises_host_count_and_seed_list():
    ids = inputs.seed_doc_ids(TINY, 5)
    con = oracle.connect(TINY.n_pages, ids)
    trace = con.execute(oracle.trace_sql(
        TINY.n_pages, TINY.budget, 12, TINY.n_hosts)).df()
    seen = con.execute(oracle.reach_seen_sql(TINY.n_pages, TINY.n_hosts)).df()
    # round 0 fetches seeds only, at most ``budget`` per host
    first = trace[trace["round"] == 0]
    assert set(first["url"]) <= {inputs.doc_url(d, TINY.n_hosts) for d in ids}
    assert first["url"].str.extract(r"//([^/]+)/")[0].value_counts().max() <= TINY.budget
    # the crawl drains: every reachable key is fetched exactly once
    assert len(trace) == len(seen) == trace["url"].nunique()
    assert set(seen["host"] + seen["url_key"]) == {
        u[len("http://"):] for u in trace["url"]
    }


def test_same_seed_same_inputs_other_seed_other_seed_set():
    docs = inputs.documents(TINY.n_docs)
    a = inputs.seed_doc_ids(TINY, 1)
    assert a == inputs.seed_doc_ids(TINY, 1)
    assert inputs.input_sha(TINY, a, docs) == inputs.input_sha(
        TINY, inputs.seed_doc_ids(TINY, 1), inputs.documents(TINY.n_docs))
    b = inputs.seed_doc_ids(TINY, 2)
    assert a != b
    assert inputs.input_sha(TINY, a, docs) != inputs.input_sha(TINY, b, docs)


def test_every_printed_metric_name_is_in_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for table, key in ((run.END_TO_END, "end_to_end"), (run.PER_LAYER, "per_layer")):
        assert {m["name"]: m["unit"] for m in spec[key]} == table
    assert {w["name"] for w in spec["workloads"]} == set(inputs.WORKLOADS)
    with pytest.raises(KeyError):
        run.metrics({"crawl_s": 1.0, "not_a_metric": 2.0}, run.END_TO_END)


# ------------------------------------------------------- failure path
class _Frame:
    """Enough of a DataFrame for Run.gate: select(...).toPandas()."""

    def __init__(self, pdf):
        self.pdf = pdf

    def select(self, *cols):
        return _Frame(self.pdf[list(cols)])

    def toPandas(self):
        return self.pdf.copy()


def _gate(fetch_log: pd.DataFrame, seen: pd.DataFrame, seed_ids):
    r = run.Run(SimpleNamespace(workload="crawl_small_rounds", seed=1, seconds=1))
    r.w = TINY
    r.inputs = SimpleNamespace(seed_ids=seed_ids)
    crawler = SimpleNamespace(fetch_log=lambda: _Frame(fetch_log),
                              seen=lambda: _Frame(seen))
    r.gate("t", SimpleNamespace(crawler=crawler, scheduled=len(fetch_log)))
    return r


def _oracle_outputs(seed_ids):
    con = oracle.connect(TINY.n_pages, seed_ids)
    trace = con.execute(oracle.trace_sql(
        TINY.n_pages, TINY.budget, 12, TINY.n_hosts)).df()
    seen = con.execute(oracle.reach_seen_sql(TINY.n_pages, TINY.n_hosts)).df()
    return trace.assign(status="ok"), seen


def test_correct_trace_passes_the_gate():
    ids = inputs.seed_doc_ids(TINY, 3)
    log, seen = _oracle_outputs(ids)
    r = _gate(log, seen, ids)
    assert r.problems == [] and r.failed == 0 and r.attempted == len(log)
    out = json.loads(run.result_line(True, r.attempted, r.failed, {}))
    assert out["correct"] is True and out["failed"] == 0


@pytest.mark.parametrize("corrupt", ["swap", "drop", "depth"])
def test_corrupted_trace_is_a_failed_run(corrupt):
    ids = inputs.seed_doc_ids(TINY, 3)
    log, seen = _oracle_outputs(ids)
    if corrupt == "swap":
        log.loc[[0, 1], "url"] = log.loc[[1, 0], "url"].to_numpy()
    elif corrupt == "drop":
        log = log.drop(index=len(log) - 1)
    else:
        log.loc[len(log) // 2, "depth"] += 1
    r = _gate(log, seen, ids)
    assert r.problems and r.failed == r.attempted == len(log)
    out = json.loads(run.result_line(not r.problems, r.attempted, r.failed, {}))
    assert out["correct"] is False and out["failed"] == out["attempted"]


# ------------------------------------------------------------- tracing
def test_self_time_subtracts_same_thread_children_only():
    t = Tracer()
    t.spans = [
        Span(0, None, "round", 0.0, 10.0, thread="main"),
        Span(1, 0, "cut", 1.0, 3.0, thread="main"),
        Span(2, 0, "cut", 4.0, 5.0, thread="main"),
        # a background write under the round, overlapping the first cut
        Span(3, 0, "write", 2.0, 6.0, thread="job-1"),
        Span(4, 3, "commit", 5.0, 6.0, thread="job-1"),
    ]
    self_s = t.self_times()
    assert self_s["round"] == pytest.approx(10 - 2 - 1)
    assert self_s["cut"] == pytest.approx(2 + 1)
    assert self_s["write"] == pytest.approx(4 - 1)


def test_child_on_another_thread_leaves_parent_self_time_unchanged():
    alone = Tracer()
    alone.spans = [Span(0, None, "cut", 0.0, 4.0, thread="main")]
    t = Tracer()
    t.spans = alone.spans + [Span(1, 0, "write", 1.0, 3.0, thread="job-1")]
    assert t.self_times()["cut"] == alone.self_times()["cut"] == pytest.approx(4.0)


def test_wrappers_record_nested_spans_and_uninstall_restores_names():
    from webcrawl_spark.plans import round as R

    class Df:
        def localCheckpoint(self, eager):
            return self

    orig = R.cut
    t = Tracer()
    t.install()
    try:
        assert R.cut is not orig
        with t.span("crawl"):
            R.cut(Df())
    finally:
        t.uninstall()
    assert R.cut is orig
    root, cut = t.spans
    assert (root.name, cut.name, cut.parent) == ("crawl", "ckpt.cut", root.id)
    assert 0 <= cut.dur <= root.dur
