"""Spans around the calls into each crawl layer, recorded from outside.

A traced crawl installs wrappers over the names the callers bind (for
example ``plans.round.cut``, the name ``run_round`` calls, not
``operators.ckpt.cut``). Each wrapper records a span (id, parent id, name,
start, end) and runs its call under a Spark job group of its own, so the
jobs a layer launched can be counted afterwards with the status tracker.
Spans stay in memory and are written out when the run ends. Nothing under
``webcrawl_spark/`` changes: ``uninstall`` restores every wrapped name.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

# (module path, attribute path, span name); a name ending in ".{table}" is
# completed from the wrapped call's ``table`` argument
WRAPPED = [
    ("webcrawl_spark.plans.crawl", "run_round", "round.run_round"),
    ("webcrawl_spark.plans.crawl", "SparkCrawler._drain", "crawl.drain"),
    ("webcrawl_spark.plans.round", "cut", "ckpt.cut"),
    ("webcrawl_spark.plans.round", "assign_global_seq", "seq.assign"),
    ("webcrawl_spark.plans.round", "_lazy_seq", "seq.assign"),
    ("webcrawl_spark.operators.bloom", "build_sidecar", "bloom.build"),
    ("webcrawl_spark.plans.state", "CrawlState.write_table", "state.write.{table}"),
    ("webcrawl_spark.plans.state", "CrawlState.commit", "state.commit"),
    ("webcrawl_spark.plans.state", "CrawlState.latest_manifest", "state.read"),
    ("webcrawl_spark.plans.state", "CrawlState.read_frontier", "state.read"),
    ("webcrawl_spark.plans.state", "CrawlState.read_seen", "state.read"),
]

# the local properties setJobGroup sets, restored when a span closes
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    thread: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans opened in a thread nest under that
    thread's open span; a thread with none (a background commit) nests
    under the innermost span open in the main thread."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main = threading.main_thread()
        self._saved: list = []

    def _stack(self) -> list:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            s = Span(len(self.spans), parent.id if parent else None, name,
                     time.perf_counter(), thread=threading.current_thread().name,
                     attrs=attrs)
            self.spans.append(s)
        stack.append(s)
        if self.sc is not None:
            s.attrs["group"] = f"span-{s.id}"
            s.attrs["saved"] = [
                (k, self.sc.getLocalProperty(k)) for k in _GROUP_PROPS
            ]
            self.sc.setJobGroup(s.attrs["group"], name)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack().remove(s)
        if self.sc is not None:
            for k, v in s.attrs.pop("saved"):
                self.sc.setLocalProperty(k, v)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    # ---------------------------------------------------------- wrappers
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            n = name
            if "{table}" in n:
                table = kwargs.get("table", args[1] if len(args) > 1 else "?")
                n = n.replace("{table}", str(table))
            with tracer.span(n):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf]
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(orig, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, leaf, orig = self._saved.pop()
            setattr(owner, leaf, orig)

    # ---------------------------------------------------------- analysis
    def jobs_by_span(self) -> dict[int, list[int]]:
        """Spark job ids each span's job group launched (status tracker)."""
        st = self.sc.statusTracker()
        return {
            s.id: sorted(st.getJobIdsForGroup(s.attrs["group"]))
            for s in self.spans if "group" in s.attrs
        }

    def self_times(self) -> dict[str, float]:
        """Per span name: total self time, i.e. duration minus the time its
        children on the same thread took. A child on another thread (a
        background commit under a main-thread span) ran while the parent
        was busy, so it takes nothing off the parent."""
        kids_s: dict[int, float] = {}
        by_id = {s.id: s for s in self.spans}
        for c in self.spans:
            p = by_id.get(c.parent)
            if p is not None and p.thread == c.thread:
                kids_s[p.id] = kids_s.get(p.id, 0.0) + c.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - kids_s.get(s.id, 0.0)
        return out

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["start"], d["end"] = s.start - t0, s.end - t0
                f.write(json.dumps(d) + "\n")
