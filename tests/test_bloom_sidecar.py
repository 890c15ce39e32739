"""Distributed Bloom-sidecar tests: executor-side build/update in place,
the layout-stamped completeness marker, rebuild from an empty directory,
and the guard that keeps the seen set off the driver (VERDICT r1 item 1)."""

import os
import re

import numpy as np
import pandas as pd

from webcrawl_spark.operators import bloom as B
from webcrawl_spark.plans.round import host_hash_col


def _keys_df(spark, pairs, P=8):
    df = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["host", "url_key"]),
        schema="host string, url_key string",
    )
    return df.withColumn("host_hash", host_hash_col(P))


def _flags(keys, d):
    return (
        keys.withColumnRenamed("host_hash", "__hh")
        .repartition(8, "__hh")
        .mapInPandas(
            B.make_check_stage(d, BITS),
            "host string, url_key string, __hh int, maybe_seen boolean",
        )
        .toPandas()["maybe_seen"]
    )


def _parts(d):
    return {
        f: np.load(os.path.join(d, f))
        for f in os.listdir(d) if f.startswith("part-")
    }


BITS = 1 << 12


def test_build_check_roundtrip(spark, tmp_path):
    pairs = [(f"h{i % 5}.com", f"/p{i}") for i in range(200)]
    keys = _keys_df(spark, pairs)
    d = B.sidecar_dir(str(tmp_path), 0)
    B.build_sidecar(keys, d, BITS, 8, rebuild=True)
    assert B.is_complete(d, BITS, 8)
    # another bitset size or partition count reads as incomplete
    assert not B.is_complete(d, BITS // 2, 8)
    assert not B.is_complete(d, BITS, 4)

    # every inserted key must test maybe_seen (no false negatives)
    assert _flags(keys, d).all()
    # novel keys mostly miss
    novel = _keys_df(spark, [(h, k + "-novel") for h, k in pairs])
    assert _flags(novel, d).mean() < 0.2


def test_update_ors_new_keys_in_place(spark, tmp_path):
    d = B.sidecar_dir(str(tmp_path), 0)
    base = _keys_df(spark, [("only-a.com", "/1"), ("only-a.com", "/2")])
    B.build_sidecar(base, d, BITS, 8, rebuild=True)
    before = _parts(d)
    # the delta hits the base partition and another one
    delta = _keys_df(spark, [("other-b.net", "/x"), ("only-a.com", "/3")])
    B.build_sidecar(delta, d, BITS, 8, rebuild=False)
    assert B.is_complete(d, BITS, 8)
    assert B.sidecar_dir(str(tmp_path), 5) == d
    after = _parts(d)
    assert set(before) < set(after)
    for name, arr in before.items():
        # bits are only ever gained
        assert ((after[name] & arr) == arr).all()
        assert (after[name] != arr).any()
    assert sorted(os.listdir(d)) == sorted(["_COMPLETE", *after])

    both = _keys_df(spark, [
        ("only-a.com", "/1"), ("only-a.com", "/2"), ("only-a.com", "/3"),
        ("other-b.net", "/x"),
    ])
    assert _flags(both, d).all()


def test_rebuild_clears_stale_files(spark, tmp_path):
    d = B.sidecar_dir(str(tmp_path))
    os.makedirs(d)
    keys = _keys_df(spark, [("only-a.com", "/1")])
    p = int(keys.first()["host_hash"])
    stale = (p + 1) % 8
    # a saturated file of another partition, a task's leftover tmp file
    # and a marker of another layout
    np.save(os.path.join(d, f"part-{stale}.npy"),
            np.full(BITS // 8, 255, dtype=np.uint8))
    open(os.path.join(d, f"part-{p}.npy.tmp.1"), "w").close()
    with open(os.path.join(d, "_COMPLETE"), "w") as f:
        f.write("bits=1024 partitions=8")
    assert not B.is_complete(d, BITS, 8)

    B.build_sidecar(keys, d, BITS, 8, rebuild=True)
    assert sorted(os.listdir(d)) == ["_COMPLETE", f"part-{p}.npy"]
    assert B.is_complete(d, BITS, 8)
    B.drop_complete(d)
    assert not B.is_complete(d, BITS, 8)
    B.drop_complete(d)   # idempotent


def test_no_driver_side_seen_materialization():
    """Guard: the crawl driver never pulls the seen set (or any O(corpus)
    table) onto the driver — no toPandas()/pd.read_parquet in plans/."""
    plans = os.path.join(os.path.dirname(__file__), "..", "webcrawl_spark", "plans")
    offenders = []
    for f in os.listdir(plans):
        if not f.endswith(".py"):
            continue
        src = open(os.path.join(plans, f)).read()
        for rx, label in [
            (re.compile(r"\.toPandas\(\)"), "driver toPandas"),
            (re.compile(r"pd\.read_parquet|read_parquet\("), "driver parquet read"),
        ]:
            for m in rx.finditer(src):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"plans/{f}:{line} {label}")
    assert not offenders, "\n".join(offenders)
