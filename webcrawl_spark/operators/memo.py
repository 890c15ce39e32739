"""One store for the battery's fit-once models.

Signatures, quantizers, k-NN edges, clusterings, PQ and BPE models and
shingle domains are fitted once per corpus and read by several consumers.
Each ``*_cached`` entry point hands its materializing ``build`` to
:func:`fit_once`, which memoizes the result per (Spark application,
``cache_key``, params). The first element of ``params`` names the entry
point's kind: two entry points that take identical params (the k-means
ranked table and the k-means model pair) must not collide.

The store is a FIFO of :data:`MAX_ENTRIES`. A checkpoint cuts lineage, so
releasing an entry's blocks when it is evicted would break any caller
still holding its frame (missing-block error on its next action).
Eviction therefore only drops the memo entry; :func:`clear` is the one
point that releases blocks, of live and evicted entries alike.

``DataFrame.unpersist`` does not release a checkpoint: the checkpointed
RDD is not in the cache manager. So each entry records the RDD ids its
build persisted (every cut it made, intermediate ones included), and
:func:`clear` unpersists those. Builds run one at a time, like the
battery that calls them.
"""

from __future__ import annotations

from typing import Callable

MAX_ENTRIES = 32
_STORE: dict = {}  # key -> (model, (SparkContext, persisted RDD ids))
_EVICTED: list = []  # (SparkContext, persisted RDD ids) of evicted entries


def _persisted(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keySet())


def fit_once(df, cache_key, params: tuple, build: Callable):
    """``build()`` once per (application of ``df``, ``cache_key``,
    ``params``); a frame or a tuple of frames. ``cache_key`` must identify
    the input (e.g. its path); ``None`` builds without memoizing."""
    if cache_key is None:
        return build()
    sc = df.sparkSession.sparkContext
    key = (sc.applicationId, cache_key, *params)
    if key not in _STORE:
        while len(_STORE) >= MAX_ENTRIES:
            _EVICTED.append(_STORE.pop(next(iter(_STORE)))[1])
        before = _persisted(sc)
        model = build()
        _STORE[key] = (model, (sc, _persisted(sc) - before))
    return _STORE[key][0]


def clear() -> None:
    """Drop every memoized model and release the blocks its build pinned.
    Frames previously returned by a ``*_cached`` entry point become
    invalid."""
    _EVICTED.extend(pins for _, pins in _STORE.values())
    _STORE.clear()
    while _EVICTED:
        sc, ids = _EVICTED.pop()
        if sc._jsc is None:  # the application has stopped: nothing to free
            continue
        persistent = sc._jsc.getPersistentRDDs()
        for rdd_id in ids:
            rdd = persistent.get(rdd_id)
            if rdd is not None:
                rdd.unpersist(False)
