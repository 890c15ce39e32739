"""Distributed Bloom-filter sidecar for the URL-seen set (north_rule:
"partitioned Bloom/cuckoo-filter URL-seen set sharded by host-hash").

One directory per crawl, ``<state>/bloom/``, holds one bitset FILE per
host-hash partition, maintained by the executors that own each partition —
the driver never touches a key. Invariant: while ``_COMPLETE`` exists, the
bits cover every key of the committed seen set. A Bloom filter must have no
false negatives; an extra bit only sends a candidate to the exact
anti-join, so a bitset that only gains bits stays safe across crashes,
replays and requeue removals.

- UPDATE: a checking round's seen delta is grouped by ``host_hash``; an
  ``applyInPandas`` task ORs the keys' bits into its partition's file in
  place (tmp + atomic replace — a task retry ORs the same bits again).
- CHECK: candidates are repartitioned on ``host_hash`` and a ``mapInPandas``
  stage tests them against its partitions' files (each file is read by one
  task per round). Misses are DEFINITELY new and skip the exact anti-join;
  only possible-seen rows (rediscoveries + false positives) enter its
  shuffle.
- LIFECYCLE: a checking round (seen has reached ``bloom_min_seen``) with no
  complete sidecar and no build in flight — the first checking round, a
  resume after a round without the check, a changed ``bloom_bits`` or
  partition count — rebuilds it from an empty directory by the same update
  job over its full seen view, then writes the layout into ``_COMPLETE``.
  A round that does not run the check removes ``_COMPLETE``, so the keys
  it adds can never become false negatives later.

All hashing and bit manipulation is VECTORIZED: two independent 64-bit
hashes per key come from ``pd.util.hash_pandas_object`` with two fixed
16-byte keys (siphash, C-level, deterministic across processes — Python's
salted ``hash()`` would not be), and bit set/test use numpy scatter/gather.
No per-row Python anywhere (BASELINE.json:input_hint).

In-sandbox the sidecar files live on the local filesystem; on a cluster the
same paths point at shared storage (the pattern is the executor-maintained
per-partition sidecar the reference's single-process ``HashSet`` seen set
(Backend/Crawler.cs:2301-2320) becomes at cluster scale).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

K_PROBES = 4

_HK1 = "wcspark-bloom-k1"  # 16 bytes each — fixed => deterministic
_HK2 = "wcspark-bloom-k2"


def _hashes(hosts: pd.Series, url_keys: pd.Series):
    """(h1, h2) uint64 arrays for key = host + NUL + url_key, vectorized."""
    keys = hosts.astype(str) + "\0" + url_keys.astype(str)
    h1 = pd.util.hash_pandas_object(keys, index=False, hash_key=_HK1).to_numpy()
    h2 = pd.util.hash_pandas_object(keys, index=False, hash_key=_HK2).to_numpy()
    return h1, h2 | np.uint64(1)


def set_bits(arr: np.ndarray, hosts: pd.Series, url_keys: pd.Series, bits: int) -> None:
    """OR the keys' probe bits into one partition bitset, vectorized."""
    if len(hosts) == 0:
        return
    h1, h2 = _hashes(hosts, url_keys)
    m = np.uint64(bits)
    for i in range(K_PROBES):
        b = ((h1 + np.uint64(i) * h2) % m).astype(np.int64)
        np.bitwise_or.at(arr, b >> 3, (1 << (b & 7)).astype(np.uint8))


def test_bits(arr: np.ndarray | None, hosts: pd.Series, url_keys: pd.Series,
              bits: int) -> np.ndarray:
    """Vectorized membership test against one partition bitset.

    ``arr`` None = partition has never held a key = all definitely-new."""
    n = len(hosts)
    if n == 0 or arr is None:
        return np.zeros(n, dtype=bool)
    h1, h2 = _hashes(hosts, url_keys)
    m = np.uint64(bits)
    hit = np.ones(n, dtype=bool)
    for i in range(K_PROBES):
        b = ((h1 + np.uint64(i) * h2) % m).astype(np.int64)
        hit &= (arr[b >> 3] >> (b & 7) & 1).astype(bool)
    return hit


# ---------------------------------------------------------------------------
# sidecar files and the executor-side stages
# ---------------------------------------------------------------------------

def sidecar_dir(state_root: str, rnd: int | None = None) -> str:
    """The crawl's one sidecar directory. ``rnd`` is accepted for callers
    that ask for a given round's sidecar; every round shares this one."""
    return os.path.join(state_root, "bloom")


def _part_path(d: str, p: int) -> str:
    return os.path.join(d, f"part-{p}.npy")


def _marker(d: str) -> str:
    return os.path.join(d, "_COMPLETE")


def _layout(bits: int, partitions: int) -> str:
    return f"bits={bits} partitions={partitions}"


def is_complete(d: str, bits: int, partitions: int) -> bool:
    """True when ``d`` covers the committed seen set with this bitset size
    and host-hash partitioning; a sidecar of another layout probes the
    wrong bits or files, so it counts as incomplete and is rebuilt."""
    try:
        with open(_marker(d)) as f:
            return f.read() == _layout(bits, partitions)
    except OSError:
        return False


def drop_complete(d: str) -> None:
    """Mark ``d`` incomplete: the next checking round rebuilds it."""
    try:
        os.remove(_marker(d))
    except FileNotFoundError:
        pass


def _load_part(d: str, p: int) -> np.ndarray | None:
    path = _part_path(d, p)
    return np.load(path) if os.path.exists(path) else None


def make_update_fn(d: str, bits: int):
    """applyInPandas fn for ``keys.groupBy("host_hash")``: OR the group's
    keys into its partition's bitset (zeros if absent), replacing the file
    atomically. Returns a one-row (host_hash, n_added) stats frame."""

    def update(pdf: pd.DataFrame) -> pd.DataFrame:
        p = int(pdf["host_hash"].iloc[0])
        arr = _load_part(d, p)
        if arr is None:
            arr = np.zeros(bits // 8, dtype=np.uint8)
        set_bits(arr, pdf["host"], pdf["url_key"], bits)
        tmp = f"{_part_path(d, p)}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            np.save(f, arr)
        os.replace(tmp, _part_path(d, p))
        return pd.DataFrame({"host_hash": [p], "n_added": [len(pdf)]})

    return update


def make_check_stage(d: str, bits: int):
    """mapInPandas stage over host_hash-repartitioned candidates: adds a
    ``maybe_seen`` column by testing each row against its partition's
    bitset file. A task holds whole partitions, so each file is loaded
    once, into a dict that serves the task's batches."""

    def check(batches):
        parts: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            maybe = np.zeros(len(pdf), dtype=bool)
            for p, idx in pdf.groupby("__hh").indices.items():
                if p not in parts:
                    parts[p] = _load_part(d, int(p))
                maybe[idx] = test_bits(
                    parts[p], pdf["host"].iloc[idx], pdf["url_key"].iloc[idx], bits
                )
            out["maybe_seen"] = maybe
            yield out

    return check


# ---------------------------------------------------------------------------
# driver-side orchestration (file metadata only — never key rows)
# ---------------------------------------------------------------------------

def build_sidecar(keys_df, d: str, bits: int, partitions: int,
                  rebuild: bool) -> None:
    """OR the keys of ``keys_df`` (host, url_key, host_hash) into ``d``'s
    partition files in place; the bitset work runs on executors and the
    driver collects only the P-row stats frame. A ``rebuild`` starts from
    an empty ``d``, takes the full seen view, and marks ``d`` complete for
    this layout once every key is in."""
    if rebuild:
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    (
        keys_df.select("host_hash", "host", "url_key")
        .groupBy("host_hash")
        .applyInPandas(make_update_fn(d, bits), "host_hash int, n_added long")
        .collect()
    )
    if rebuild:
        with open(_marker(d), "w") as f:
            f.write(_layout(bits, partitions))

