"""Multi-round BFS crawl driver: seeds → round loop → checkpointed state.

Re-expresses the reference's continuous thread-pool loop
(``Crawler.Start``/``CrawlServices``, Backend/Crawler.cs:983-1008,
2823-2878; termination ``IsDone`` Crawler.cs:507-511) as synchronous,
atomically-committed rounds over snapshot state: stop = finish current
round; kill mid-round = resume from the last committed manifest with an
identical future trace (north_rule resumability).
"""

from __future__ import annotations

import os
from dataclasses import replace
from typing import Optional

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schemas
from ..config import CrawlConfig
from ..kernels import mime as M
from ..kernels import robots as R
from ..kernels.config_free import SCHEMES
from ..kernels.filters import compile_uri_filters
from ..kernels.urlnorm import canonicalize
from ..operators import bloom as B
from .round import (
    FRONTIER_COLS, Carry, RoundContext, _Job, commit_when_landed, host_hash_col,
    run_round,
)
from .state import CrawlState, Manifest

_EMPTY_ROBOTS = pd.DataFrame(columns=["host", "path_prefix", "allow", "crawl_delay"])


def _driver_df(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """A frame of driver-side rows, handed to Spark as a pyarrow Table: the
    JVM converts it whatever the session's Arrow setting, where a list or
    pandas input (Arrow off) runs a Python stage of defaultParallelism
    tasks on every action over it."""
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


class SparkCrawler:
    """Distributed URL-frontier engine over a ``pages`` table.

    ``pages``: DataFrame(url, html, …) — the simulated web
    (BASELINE.json:input_hint shape). ``seeds``: ordered URL list.
    ``robots_rules``: small pandas frame broadcast to executors.
    """

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        seeds: list,
        state_dir: str,
        config: CrawlConfig = CrawlConfig(),
        robots_rules: Optional[pd.DataFrame] = None,
        ranks: Optional[DataFrame] = None,
    ):
        self.spark = spark
        self.pages = pages
        self.seeds = list(seeds)
        self.cfg = config
        self.state = CrawlState(spark, state_dir)

        self._ext_table = M.build_ext_table(config.mime_overrides)
        if config.reliable_checkpoints:
            # cluster mode: lineage cuts go to shared storage with the rest
            # of the crawl state and survive executor loss (set BEFORE the
            # effective-pages cut below, which every round's fetch join
            # depends on — a local cut there would defeat the guarantee)
            import os as _os

            spark.sparkContext.setCheckpointDir(
                _os.path.join(state_dir, "_ckpt")
            )

        # redirect chains resolve ONCE per crawl (static property of the
        # pages table); the per-round fetch join sees the effective view.
        # Tables without a redirect_to column pass through unchanged.
        from ..operators.ckpt import cut as _cut
        from ..operators.redirect import effective_pages

        self.eff_pages = effective_pages(
            pages, config.max_redirects, config.reliable_checkpoints
        )
        if "redirect_to" in pages.columns:
            self.eff_pages = _cut(self.eff_pages, config.reliable_checkpoints)
        rules = robots_rules if robots_rules is not None else _EMPTY_ROBOTS
        rule_index = R.build_rule_index(rules)
        delays = R.crawl_delays(rules)
        self._rule_index = rule_index
        self.ctx = RoundContext(
            cfg=config,
            base_uris_bc=spark.sparkContext.broadcast(self._compute_base_uris()),
            uri_filters=compile_uri_filters(
                config.change_filters, config.positive_filters, config.negative_filters
            ),
            rule_index_bc=(
                spark.sparkContext.broadcast(rule_index) if rule_index else None
            ),
            delays=delays,
            # (url, rank) priority weights — e.g. a link_pagerank output fed
            # back into the frontier; folded into priority when given
            ranks=ranks,
        )

    # ------------------------------------------------------------------
    def _canonicalize(self, urls: list) -> pd.DataFrame:
        cfg = self.cfg
        return canonicalize(
            pd.Series(urls, dtype="object"),
            strip_www=cfg.strip_www,
            normalize_query=cfg.normalize_query,
            case_sensitive_paths=cfg.case_sensitive_paths,
        )

    def _compute_base_uris(self) -> list:
        """AddBaseUri appends every valid-scheme seed (Crawler.cs:806-836);
        pure function of (seeds, config) so resume recomputes it exactly."""
        if not self.seeds:
            return []
        c = self._canonicalize(self.seeds)
        return [
            {"scheme": r.scheme, "host": r.host, "path": r.path}
            for r in c.itertuples()
            if r.url is not None and r.scheme in SCHEMES
        ]

    def _seed_allowed(self, r) -> bool:
        """ValidateNewUri scheme gate (Crawler.cs:3311-3327) + the engine's
        robots gate on seeds (north_rule addition)."""
        if r.url is None or r.scheme not in SCHEMES:
            return False
        if self._rule_index and not bool(
            R.robots_allowed(
                pd.Series([r.host]), pd.Series([r.path]), self._rule_index
            ).iloc[0]
        ):
            return False
        return True

    def _entry_row(self, r, seq: int, post_data=None) -> tuple:
        cfg = self.cfg
        binary = M.guess_resource_type_from_path(r.path, self._ext_table) == M.BINARY
        prio = 1 if binary else 0
        if cfg.prioritize_nonhtml:
            prio = 1 - prio
        return (r.url, r.url_key, r.host, r.path, r.query, 0, None, "link",
                False, prio, seq, 0, 0, post_data)

    def _frontier_df(self, rows: list):
        fields = [
            T.StructField(f.name, f.dataType)
            for f in schemas.FRONTIER.fields if f.name != "host_hash"
        ]
        return _driver_df(self.spark, rows, T.StructType(fields)).withColumn(
            "host_hash", host_hash_col(self.cfg.num_partitions)
        ).select(*FRONTIER_COLS)

    def _init_seeds(self) -> tuple:
        """Round-0 frontier from the seed list plus user POST resources
        (driver-side: seeds are tiny by definition; all per-row logic still
        runs the shared kernels). Returns the seed manifest and round 0's
        carry: the seed frames themselves, with a committer that publishes
        the manifest once both seed writes land."""
        cfg = self.cfg
        c = self._canonicalize(self.seeds)
        seen_keys: set = set()
        rows = []
        seq = 0
        for r in c.itertuples():
            key = (r.host, r.url_key)
            if key in seen_keys or not self._seed_allowed(r):
                continue
            seen_keys.add(key)
            rows.append(self._entry_row(r, seq))
            seq += 1

        # POST resources: force-enqueued (public EnqueueUri passes
        # force=true, Crawler.cs:1082-1084) — the seen-set dedup is
        # BYPASSED, so a url both seeded and POSTed is fetched twice;
        # post_data is not part of the identity key (MakeKey, 2618-2625).
        for url, post_data in cfg.post_seeds:
            r = self._canonicalize([url]).iloc[0]
            if not self._seed_allowed(r):
                continue
            seen_keys.add((r.host, r.url_key))
            rows.append(self._entry_row(r, seq, post_data))
            seq += 1

        frontier = self._frontier_df(rows)
        # seen delta from the python-side key set (NOT the frontier — force-
        # enqueued POSTs may duplicate a key in the frontier; seen holds it once)
        first = {}
        for row in rows:
            k = (row[2], row[1])   # (host, url_key)
            if k not in first:
                first[k] = (row[3], row[4])  # path, query
        seen_delta = _driver_df(
            self.spark,
            [(h, uk, p, q) for (h, uk), (p, q) in first.items()],
            T.StructType([
                T.StructField(c, T.StringType())
                for c in ("host", "url_key", "path", "query")
            ]),
        ).select(
            "host",
            host_hash_col(cfg.num_partitions).alias("host_hash"),
            "url_key", "path", "query",
            F.lit(0).cast("int").alias("first_depth"),
            F.lit(0).cast("int").alias("first_round"),
        )
        m = Manifest(
            next_round=0, next_seq=seq, next_fetch_seq=0, frontier_rows=len(rows),
            done=(len(rows) == 0),
            seen_rows=len(first),   # unique keys (POST force-dups collapse)
        )
        # round 0 reads the seed frames themselves, not their parquet
        jobs = [
            _Job(lambda: self.state.write_table("frontier", 0, frontier)),
            _Job(lambda: self.state.write_table("seen", 0, seen_delta)),
        ]
        return m, Carry(frontier, seen_delta, committer=_Job(
            lambda: commit_when_landed(self.state, None, jobs, m)
        ))

    # ------------------------------------------------------------------
    def run(self, max_rounds: Optional[int] = None) -> Manifest:
        """Crawl until the frontier drains (IsDone) or a round cap.

        ``max_rounds`` limits *this call* (kill/resume tests); the config's
        ``max_rounds`` bounds the whole crawl.

        Each round is one ``run_round`` call that takes the manifest and
        the carry and returns the next ones. The round's background
        committer, started by ``run_round``, commits the returned manifest
        as soon as that round's writes land, in round order; the next
        round's compute never waits for it. ``run`` returns once the last
        committer has finished, so the on-disk state is current whenever
        ``run`` is not executing (resume, accessors, enqueue/requeue APIs).
        """
        m = self.state.latest_manifest()
        carry = None
        if m is None:
            m, carry = self._init_seeds()
        rounds_done = 0
        # carry = the previous round's in-flight Carry: its committer (which
        # waits for that round's background writes), and the in-memory
        # frontier/seen views (plus the Bloom build writing the next
        # sidecar) that the next round consumes instead of reading the
        # writes back. The seeds hand round 0 one too; a resumed run starts
        # with None and reads the committed tables.
        try:
            while (
                not m.done
                and m.frontier_rows > 0
                and m.next_round < self.cfg.max_rounds
                and (max_rounds is None or rounds_done < max_rounds)
            ):
                m, carry = self._run_one(m, carry)
                rounds_done += 1
            if carry is not None:
                self._drain(carry)
            return m
        finally:
            # Error path: the newest committer joins every earlier committer
            # and every write they wait on — an orphaned _Job racing a later
            # run()'s mode('overwrite') writes to the same round dirs could
            # leave mixed data under a later-committed manifest. A round
            # whose writes all landed is still committed; the failed round's
            # manifest never is, so it replays identically on resume.
            if carry is not None:
                carry.committer.join()

    def _drain(self, carry: Carry) -> None:
        """Wait until the carried round's manifest is committed."""
        carry.committer.wait()

    def _run_one(self, m: Manifest, carry: Optional[Carry]):
        if carry is None:
            # first round of a resumed run(): the committed tables
            k = m.next_round
            carry = Carry(self.state.read_frontier(k), self.state.read_seen(k))
        elif not carry.committer.is_alive():
            carry.committer.wait()   # a failed commit stops the crawl here
        return run_round(self.spark, self.ctx, self.state, self.eff_pages, m, carry)

    # ---------------- result accessors ----------------
    def _m(self) -> Manifest:
        m = self.state.latest_manifest()
        if m is None:
            raise RuntimeError("crawl not started")
        return m

    def fetch_log(self) -> DataFrame:
        # fetch_log for round r is committed by manifest r+1, so only rounds
        # < next_round are visible — a crashed round's partially-written
        # fetch_log dir must not surface (mirrors how read_seen excludes the
        # in-flight delta).
        return self.state.read_fetch_log(self._m().next_round - 1)

    def fetched(self) -> DataFrame:
        cols = [f.name for f in schemas.FETCHED.fields]
        return self.fetch_log().filter(F.col("status") == "ok").select(*cols)

    def trace(self) -> DataFrame:
        return self.fetched().select(
            "round", "fetch_seq", "url", "depth", "link_type"
        ).orderBy("fetch_seq")

    def seen(self) -> DataFrame:
        return self.state.read_seen(self._m().next_round)

    def errors(self) -> DataFrame:
        return (
            self.fetch_log()
            .filter(F.col("status") != "ok")
            .select(
                "url", "round", "failures", "fatal",
                F.col("status").alias("reason"),
            )
        )

    def counters(self) -> DataFrame:
        rows = [tuple(c) for m in self.state.manifests() for c in m.counters]
        return _driver_df(self.spark, rows, schemas.COUNTERS)

    # ---------------- frontier surgery between runs ----------------
    def enqueue_uri(self, url: str, post_data=None, force: bool = True) -> bool:
        """EnqueueUri(uri, postData[, force]) between runs (Crawler.cs:1081-1101;
        the public two-arg overload forces). Appends one depth-0 entry to the
        current frontier snapshot and re-commits the manifest; with
        ``force=False`` an already-seen key is dropped (Service.Enqueue,
        Crawler.cs:2301-2320). Returns True if enqueued."""
        st = self.state
        m = self._m()
        k = m.next_round
        r = self._canonicalize([url]).iloc[0]
        if not self._seed_allowed(r):
            return False
        seen_new = (
            st.read_seen(k)
            .filter((F.col("host") == r.host) & (F.col("url_key") == r.url_key))
            .isEmpty()
        )
        if not force and not seen_new:
            return False
        entry = self._frontier_df([self._entry_row(r, m.next_seq, post_data)])
        frontier = st.read_frontier(k).unionByName(entry).localCheckpoint(eager=True)
        st.write_table("frontier", k, frontier)
        if seen_new:
            delta = entry.select(
                "host", "host_hash", "url_key", "path", "query",
                F.col("depth").alias("first_depth"),
                F.lit(k).cast("int").alias("first_round"),
            )
            # the sidecar gains the key before seen does, through the
            # rounds' update path (an incomplete sidecar is rebuilt from
            # seen by the next checking round anyway)
            bd, P = B.sidecar_dir(st.root), self.cfg.num_partitions
            if B.is_complete(bd, self.cfg.bloom_bits, P):
                B.build_sidecar(delta, bd, self.cfg.bloom_bits, P, rebuild=False)
            info = st._compact_info("seen")
            if info is not None and info[0] >= k:
                # a compaction covers round k, so reads ignore its round
                # dir: publish the key as the next compacted generation
                st.replace_table("seen", k, st.read_seen(k).unionByName(delta)
                                 .localCheckpoint(eager=True))
            else:
                d = st._dir("seen", k)
                if os.path.exists(d):
                    delta = self.spark.read.parquet(d).unionByName(delta)
                st.write_table("seen", k, delta.localCheckpoint(eager=True))
        st.commit(replace(
            m, next_seq=m.next_seq + 1, frontier_rows=m.frontier_rows + 1,
            done=False, seen_rows=m.seen_rows + int(seen_new),
        ))
        return True

    def remove_uris(self, pattern: str, allow_requeue: bool = True) -> int:
        """RemoveUris (Crawler.cs:874-883, Service.Remove 2326-2341): drop
        frontier entries whose URL matches ``pattern``. With
        ``allow_requeue=False`` the keys STAY in the seen set (the reference's
        ``queued[key] = null``) and can never re-enqueue; with ``True`` they
        are erased from seen (dict entry removed) and may be rediscovered.

        Frontier surgery mutates the current snapshot in place and re-commits
        the manifest; the allow_requeue=True path compacts the seen table
        (append-only deltas → one consolidated delta).
        """
        st = self.state
        m = self._m()
        k = m.next_round
        frontier = st.read_frontier(k)
        match = F.col("url").rlike(pattern)
        # count only — the matched keys never leave the executors (at
        # 10^10-URL scale clear_uris() matches the whole frontier; collecting
        # it would be a driver OOM). The requeue path below stays distributed.
        n_removed = frontier.filter(match).count()
        if n_removed == 0:
            return 0
        kept = frontier.filter(~match).localCheckpoint(eager=True)

        seen_rows = m.seen_rows
        if allow_requeue:
            removed_keys = frontier.filter(match).select("host", "url_key")
            # the consolidated seen count rides its checkpoint (no extra job)
            obs = Observation(f"requeue_r{k}")
            consolidated = (
                st.read_seen(k)
                .join(removed_keys, ["host", "url_key"], "left_anti")
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            seen_rows = obs.get["n"]
            # crash-safe wholesale rewrite via the compaction marker flip
            # (state.replace_table) — the new seen content is published
            # atomically, never a delete-then-write window. The removed keys'
            # bits stay in the Bloom sidecar: false positives, which the
            # exact anti-join resolves
            st.replace_table("seen", k, consolidated)

        st.write_table("frontier", k, kept)
        frontier_rows = m.frontier_rows - n_removed
        st.commit(replace(
            m, frontier_rows=frontier_rows, done=frontier_rows == 0,
            seen_rows=seen_rows,
        ))
        return n_removed

    def clear_uris(self) -> int:
        """ClearUris (Crawler.cs:845-851, Service.Clear 2255-2271): drop the
        whole frontier; the cleared keys remain marked seen
        (``queued[key] = null`` at Crawler.cs:2268) and never re-enqueue."""
        return self.remove_uris(".*", allow_requeue=False)
