"""Checkpointed crawl state with atomic per-round commits and resume.

Iceberg-style commit semantics over Parquet (in-sandbox stand-in; on a real
cluster the same layout maps 1:1 to Iceberg tables — append-only deltas for
``seen``/``fetch_log``, full snapshots for the mutable ``frontier`` — with
each round one multi-table transaction).

Layout under ``root`` (each table dir is zstd-compressed Parquet, the
codec Iceberg writes by default; dirs written as snappy by earlier
versions read and resume unchanged, since each file records its codec):

- ``frontier/round=k/``   full frontier snapshot entering round k
- ``seen/round=k/``       seen-set rows ADDED at round k (k=0: seeds)
- ``fetch_log/round=k/``  fetched pages ∪ error rows for round k (one
  commit; ``status`` column splits the two views)
- ``_manifests/round-k.json``  commit marker, written LAST via tmp+rename:
  a round is visible iff its manifest exists; it also carries the round's
  lineage counters (per-stage row counts) and sequence high-water marks.
  Resume = highest manifest; partially-written data from a crashed round
  is simply overwritten.

The per-path distinct-query counts (crawler-trap cap state) are DERIVED
from the seen table on read — each seen row contributes exactly one
distinct query string to its (host, path) — so they need no separate
table or write.

The reference persists only settings — a killed crawl loses its queue
(LoadSettings/SaveSettings, Backend/Crawler.cs:885-981). Our engine exceeds
it by design (north_rule resumability).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


@dataclass
class Manifest:
    next_round: int       # next round index to process
    next_seq: int         # next discovery sequence number
    next_fetch_seq: int   # next fetch sequence number
    frontier_rows: int    # rows in frontier/round=next_round
    seen_rows: int        # seen-set keys (the Bloom check-stage gate)
    done: bool = False
    counters: list = field(default_factory=list)  # (round, stage, metric, value)


class CrawlState:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)

    # ---------------- paths ----------------
    def _dir(self, table: str, rnd: int) -> str:
        return os.path.join(self.root, table, f"round={rnd}")

    def _manifest_path(self, rnd: int) -> str:
        return os.path.join(self.root, "_manifests", f"round-{rnd}.json")

    # ---------------- commit ----------------
    @staticmethod
    def _write(df: DataFrame, path: str) -> None:
        """The one state writer: zstd Parquet, Iceberg's default codec.
        The codec rides this writer, not the session conf, and every file
        records its own codec, so reads of snappy-era dirs need no change."""
        df.write.mode("overwrite").option("compression", "zstd").parquet(path)

    def write_table(self, table: str, rnd: int, df: DataFrame) -> None:
        self._write(df, self._dir(table, rnd))

    def commit(self, manifest: Manifest) -> None:
        """Write the manifest atomically — the round's commit point."""
        path = self._manifest_path(manifest.next_round)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest.__dict__, f)
        os.replace(tmp, path)

    # ---------------- resume ----------------
    def _load_manifest(self, rnd: int) -> Manifest:
        with open(self._manifest_path(rnd)) as f:
            d = json.load(f)
        d.setdefault("counters", [])
        if d.get("seen_rows") is None:
            # a manifest written before seen_rows was tracked: next_seq can
            # only overstate it (force-enqueues re-use seen keys)
            d["seen_rows"] = d["next_seq"]
        return Manifest(**d)

    def latest_manifest(self) -> Manifest | None:
        rx = re.compile(r"round-(\d+)\.json$")
        best = None
        mdir = os.path.join(self.root, "_manifests")
        for name in os.listdir(mdir):
            m = rx.match(name)
            if m:
                k = int(m.group(1))
                if best is None or k > best:
                    best = k
        if best is None:
            return None
        return self._load_manifest(best)

    def manifests(self) -> list:
        out = []
        k = 0
        while os.path.exists(self._manifest_path(k)):
            out.append(self._load_manifest(k))
            k += 1
        return out

    # ---------------- reads ----------------
    def read_frontier(self, rnd: int) -> DataFrame:
        return self.spark.read.schema(schemas.FRONTIER).parquet(
            self._dir("frontier", rnd)
        )

    def read_seen(self, upto_round: int) -> DataFrame:
        return self._read_delta(
            "seen", upto_round, schemas.SEEN, "first_round"
        )

    def read_fetch_log(self, upto_round: int) -> DataFrame:
        return self._read_delta(
            "fetch_log", upto_round, schemas.FETCH_LOG, "round"
        )

    def _paths(self, table: str, lo: int, upto_round: int) -> list[str]:
        return [
            self._dir(table, k)
            for k in range(lo, upto_round + 1)
            if os.path.exists(self._dir(table, k))
        ]

    def _read_delta(self, table, upto_round, schema, round_col) -> DataFrame:
        """Marker-aware delta read: the compacted file (if any) serves
        rounds ≤ its watermark (filtered by the in-row round column, so
        any ``upto_round`` is correct), per-round dirs ABOVE the
        watermark union on top. Round dirs at or below the watermark are
        IGNORED even if present — they are compaction leftovers from a
        crash between marker flip and cleanup (see :meth:`compact`)."""
        info = self._compact_info(table)
        frames = []
        lo = 0
        if info is not None:
            c_upto, gen = info
            cdf = self.spark.read.schema(schema).parquet(
                self._compact_dir(table, gen)
            )
            frames.append(cdf.filter(F.col(round_col) <= upto_round))
            lo = c_upto + 1
        paths = self._paths(table, lo, upto_round)
        if paths:
            frames.append(self.spark.read.schema(schema).parquet(*paths))
        if not frames:
            return self.spark.createDataFrame([], schema)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    # ---------------- compaction (offline maintenance) ----------------
    # The Iceberg rewrite_data_files analog: per-round delta dirs merge
    # into one compacted file set, bounding resume/read cost at O(1)
    # dirs instead of O(rounds). Crash-safe via a generation marker
    # written atomically LAST (the manifest pattern): until the marker
    # flips, reads ignore the new compacted dir; after it flips, reads
    # ignore the now-stale round dirs, which the next compact() deletes.

    def _compact_dir(self, table: str, gen: int) -> str:
        return os.path.join(self.root, table, f"compacted-{gen}")

    def _compact_marker_path(self, table: str) -> str:
        return os.path.join(self.root, "_manifests", f"compact-{table}.json")

    def _compact_info(self, table: str):
        """(upto_round, generation) of the live compaction, or None."""
        p = self._compact_marker_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            d = json.load(f)
        return d["upto"], d["gen"]

    def compact(self, table: str, upto_round: int) -> None:
        """Merge ``table``'s per-round delta dirs 0..``upto_round`` (plus
        any previous compaction) into one compacted dir. Offline
        maintenance — run between crawls, never mid-round. Safe at any
        crash point: data is written first, the marker flips atomically,
        cleanup of superseded dirs is best-effort and retried by the
        next compaction.

        The watermark may not pass the committed state: at most the latest
        manifest's ``next_round`` for ``seen`` and ``next_round - 1`` for
        ``fetch_log``. Reads ignore round dirs at or below the watermark,
        so a later round's delta written under it would be lost."""
        round_col, schema, lag = {
            "seen": ("first_round", schemas.SEEN, 0),
            "fetch_log": ("round", schemas.FETCH_LOG, 1),
        }[table]
        m = self.latest_manifest()
        if m is None or upto_round > m.next_round - lag:
            raise ValueError(
                f"compact({table!r}, {upto_round}) is past the committed "
                f"state (next_round={None if m is None else m.next_round})"
            )
        merged = self._read_delta(table, upto_round, schema, round_col)
        self.replace_table(table, upto_round, merged)

    def vacuum_frontier(self, live_round: int) -> int:
        """Delete frontier snapshots BEFORE ``live_round`` (each round's
        frontier is a full snapshot — only the live one feeds resume;
        older ones are superseded, kept only for debugging). Returns the
        number of snapshot dirs removed. Safe at any point: the live
        snapshot is never touched, and a re-run re-deletes leftovers."""
        import shutil

        removed = 0
        for k in range(live_round):
            d = self._dir("frontier", k)
            if os.path.exists(d):
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
        return removed

    def replace_table(self, table: str, rnd: int, df: DataFrame) -> None:
        """Rewrite ``table`` wholesale (the requeue/removal path's seen
        consolidation) via the compaction protocol: the new content
        becomes the next compacted generation with watermark ``rnd``,
        published by the atomic marker flip — crash-safe at every point,
        unlike a delete-then-write of the round dirs (which the previous
        implementation did and could lose the table between the two)."""
        import shutil

        info = self._compact_info(table)
        gen = 0 if info is None else info[1] + 1
        self._write(df, self._compact_dir(table, gen))
        tmp = self._compact_marker_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"upto": rnd, "gen": gen}, f)
        os.replace(tmp, self._compact_marker_path(table))
        if info is not None:
            shutil.rmtree(
                self._compact_dir(table, info[1]), ignore_errors=True
            )
        for k in range(rnd + 1):
            d = self._dir(table, k)
            if os.path.exists(d):
                shutil.rmtree(d, ignore_errors=True)
