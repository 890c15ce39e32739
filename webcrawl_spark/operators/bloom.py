"""Distributed Bloom-filter sidecar for the URL-seen set (north_rule:
"partitioned Bloom/cuckoo-filter URL-seen set sharded by host-hash").

One bitset FILE per host-hash partition per round, maintained by the
executors that own each partition — the driver never touches a key:

- UPDATE: each round's seen delta (which already carries ``host_hash``)
  is grouped by partition id; an ``applyInPandas`` task loads the previous
  round's bitset file for its partition, ORs in the new keys' bits, and
  writes the next round's file (tmp + atomic rename — task retries are
  idempotent because the content is deterministic). Partitions with no new
  keys are carried forward as hard links (an O(P) driver-side *metadata*
  operation — no row data). A ``_COMPLETE`` marker commits the directory.
- CHECK: candidates are repartitioned on ``host_hash`` and a ``mapInPandas``
  stage loads exactly the bitset files for the partitions it holds (each
  file is read once per round cluster-wide). Candidates that miss the
  filter are DEFINITELY new (no false negatives given a complete sidecar
  dir) and skip the exact anti-join entirely; only possible-seen rows
  (rediscoveries + false positives) enter the shuffle — at 10^10-URL scale
  the anti-join's candidate volume drops to the rediscovery rate plus the
  false-positive rate.
- LIFECYCLE: only a round that runs the check (seen has reached
  ``bloom_min_seen``) keeps a sidecar. A checking round with no complete
  sidecar dir — the first checking round, a resume, a dir dropped by
  frontier surgery — rebuilds it by the same update job over its full seen
  view (distributed, never a driver ``toPandas``); each checking round then
  updates the next round's dir from its seen delta.

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
# sidecar file layout
# ---------------------------------------------------------------------------

def sidecar_dir(state_root: str, rnd: int) -> str:
    return os.path.join(state_root, "bloom", f"round-{rnd}")


def _part_path(d: str, p: int) -> str:
    return os.path.join(d, f"part-{p}.npy")


def _marker(d: str) -> str:
    return os.path.join(d, "_COMPLETE")


def is_complete(d: str) -> bool:
    return os.path.exists(_marker(d))


def _atomic_save(path: str, arr: np.ndarray) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        np.save(f, arr)
    os.replace(tmp, path)


def _load_part(d: str | None, p: int) -> np.ndarray | None:
    if d is None:
        return None
    path = _part_path(d, p)
    if not os.path.exists(path):
        return None
    return np.load(path)


def _or_into_part(src_dir: str | None, out_dir: str, p: int,
                  hosts: pd.Series, url_keys: pd.Series, bits: int) -> None:
    """Partition ``p``'s bitset from ``src_dir`` (zeros if absent) with the
    keys' bits ORed in, saved atomically to ``out_dir``."""
    prev = _load_part(src_dir, p)
    arr = prev.copy() if prev is not None else np.zeros(bits // 8, dtype=np.uint8)
    set_bits(arr, hosts, url_keys, bits)
    _atomic_save(_part_path(out_dir, p), arr)


# ---------------------------------------------------------------------------
# executor-side stages
# ---------------------------------------------------------------------------

def make_update_fn(prev_dir: str | None, out_dir: str, bits: int):
    """applyInPandas fn for ``seen_delta.groupBy("host_hash")``: load the
    partition's previous bitset, OR in the delta keys, write the next file.
    Returns a one-row (host_hash, n_added) stats frame."""

    def update(pdf: pd.DataFrame) -> pd.DataFrame:
        p = int(pdf["host_hash"].iloc[0])
        _or_into_part(prev_dir, out_dir, p, pdf["host"], pdf["url_key"], bits)
        return pd.DataFrame({"host_hash": [p], "n_added": [len(pdf)]})

    return update


# per-Python-worker bitset cache: keyed by (dir, partition, generation),
# where the generation is the _COMPLETE marker's mtime — any in-place
# mutation of a complete dir (the O(1) EnqueueUri insert bumps the marker)
# invalidates stale entries, so a same-path rebuild can never serve old
# bitsets (false negatives → duplicate fetches). Bounded to cap worker
# memory across long crawls (workers are reused between rounds).
_PART_CACHE: dict = {}
_PART_CACHE_MAX = 64


def _generation(d: str) -> int:
    try:
        return os.stat(_marker(d)).st_mtime_ns
    except OSError:
        return -1


def _cached_part(d: str, p: int):
    key = (d, p, _generation(d))
    if key not in _PART_CACHE:
        if len(_PART_CACHE) >= _PART_CACHE_MAX:
            _PART_CACHE.clear()
        _PART_CACHE[key] = _load_part(d, p)
    return _PART_CACHE[key]


def make_check_stage(d: str, bits: int):
    """mapInPandas stage over host_hash-repartitioned candidates: adds a
    ``maybe_seen`` column by testing each row against its partition's
    bitset file (loaded once per worker per round)."""

    def check(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            maybe = np.zeros(len(pdf), dtype=bool)
            for p, idx in pdf.groupby("__hh").indices.items():
                arr = _cached_part(d, int(p))
                maybe[idx] = test_bits(
                    arr, pdf["host"].iloc[idx], pdf["url_key"].iloc[idx], bits
                )
            out["maybe_seen"] = maybe
            yield out

    return check


# ---------------------------------------------------------------------------
# driver-side orchestration (file metadata only — never key rows)
# ---------------------------------------------------------------------------

def build_sidecar(keys_df, prev_dir: str | None, out_dir: str, bits: int) -> None:
    """Build ``out_dir`` from ``prev_dir`` + the delta ``keys_df``
    (host, url_key, host_hash). The bitset work runs on executors; the
    driver only collects the P-row stats frame and carries forward
    untouched partition files as hard links."""
    os.makedirs(out_dir, exist_ok=True)
    stats = (
        keys_df.select("host_hash", "host", "url_key")
        .groupBy("host_hash")
        .applyInPandas(make_update_fn(prev_dir, out_dir, bits),
                       "host_hash int, n_added long")
        .collect()
    )
    written = {r["host_hash"] for r in stats}
    if prev_dir is not None and os.path.isdir(prev_dir):
        for name in os.listdir(prev_dir):
            if not name.startswith("part-") or not name.endswith(".npy"):
                continue
            p = int(name[len("part-"):-len(".npy")])
            if p in written:
                continue
            dst = _part_path(out_dir, p)
            if os.path.exists(dst):
                os.remove(dst)
            try:
                os.link(_part_path(prev_dir, p), dst)
            except OSError:
                shutil.copyfile(_part_path(prev_dir, p), dst)
    with open(_marker(out_dir), "w"):
        pass


def add_key_inplace(d: str, host: str, url_key: str, host_hash: int,
                    bits: int) -> None:
    """O(1) single-key insert into a COMPLETE sidecar dir (the EnqueueUri
    path — rebuilding the whole sidecar for one key would be an
    O(seen-set) job). Only the key's partition file is rewritten, via
    atomic replace: hard-linked copies of the old file in other round dirs
    keep their inode and stay untouched. The _COMPLETE marker's mtime is
    then bumped — the generation stamp that invalidates worker caches."""
    _or_into_part(d, d, int(host_hash), pd.Series([host]), pd.Series([url_key]),
                  bits)
    os.utime(_marker(d))


def gc_sidecars(state_root: str, keep_from_round: int) -> None:
    """Drop sidecar dirs for rounds below ``keep_from_round`` (only the
    current round's dir is ever read; old rounds are resumable from the
    seen table via rebuild)."""
    broot = os.path.join(state_root, "bloom")
    if not os.path.isdir(broot):
        return
    for name in os.listdir(broot):
        if name.startswith("round-"):
            try:
                k = int(name[len("round-"):])
            except ValueError:
                continue
            if k < keep_from_round:
                shutil.rmtree(os.path.join(broot, name), ignore_errors=True)
