"""Direct unit tests for the Bloom sidecar and the deterministic global
sequence operator."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st


# the module, not its names: pytest would collect an imported test_bits
from webcrawl_spark.operators import bloom as B
from webcrawl_spark.operators.seq import assign_global_seq

_key = st.from_regex(r"/[A-Za-z0-9._/-]{0,20}", fullmatch=True)
_host = st.from_regex(r"[a-z0-9.-]{1,15}", fullmatch=True)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(_host, _key), min_size=0, max_size=50))
def test_bloom_no_false_negatives(pairs):
    bits = 1 << 12
    arr = np.zeros(bits // 8, dtype=np.uint8)
    pdf = pd.DataFrame(pairs, columns=["host", "url_key"])
    B.set_bits(arr, pdf["host"], pdf["url_key"], bits)
    assert B.test_bits(arr, pdf["host"], pdf["url_key"], bits).all()


def test_bloom_fp_rate_reasonable():
    # 2000 keys in one partition bitset at ~33 bits per key
    bits = 1 << 16
    arr = np.zeros(bits // 8, dtype=np.uint8)
    n = 2000
    pdf = pd.DataFrame(
        {"host": [f"h{i % 50}" for i in range(n)], "url_key": [f"/k{i}" for i in range(n)]}
    )
    B.set_bits(arr, pdf["host"], pdf["url_key"], bits)
    novel = pd.DataFrame(
        {"host": pdf["host"], "url_key": pdf["url_key"] + "x"}
    )
    fp = B.test_bits(arr, novel["host"], novel["url_key"], bits).mean()
    assert fp < 0.05


def test_assign_global_seq_matches_sort_order(spark):
    df = spark.createDataFrame(
        [(i % 7, (i * 13) % 101, f"r{i}") for i in range(500)],
        "prio int, sub int, tag string",
    )
    out = assign_global_seq(df, ["prio", "sub", "tag"], start=100, num_partitions=8)
    rows = out.orderBy("seq").collect()
    assert [r["seq"] for r in rows] == list(range(100, 600))
    expected = sorted(
        [(r["prio"], r["sub"], r["tag"]) for r in rows],
    )
    assert [(r["prio"], r["sub"], r["tag"]) for r in rows] == expected


def test_assign_global_seq_empty(spark):
    df = spark.createDataFrame([], "prio int, sub int")
    out = assign_global_seq(df, ["prio", "sub"], 0, num_partitions=4)
    assert out.columns == ["prio", "sub", "seq"] and out.count() == 0


def test_shard_by_tokens_partitioning_invariant(spark):
    """The shard assignment equals a plain cumsum and is identical at
    any parallelism (the assign_global_seq determinism property)."""
    from webcrawl_spark.operators.seq import shard_by_tokens

    rows = [(i, " ".join(["w"] * (3 + i % 5))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # reference: plain python exclusive-prefix cumsum in doc_id order
    toks = {i: 3 + i % 5 for i in range(40)}
    cum, expect = 0, {}
    for i in range(40):
        expect[i] = cum // 7
        cum += toks[i]

    for parts in (1, 2, 8):
        out = {
            r.doc_id: (r.n_tokens, r.shard)
            for r in shard_by_tokens(
                docs, tokens_per_shard=7, num_partitions=parts
            ).collect()
        }
        assert {k: v[1] for k, v in out.items()} == expect, parts
        assert all(out[i][0] == toks[i] for i in range(40))


def test_seeded_shuffle_parallelism_invariant_and_spec(spark):
    """Same seed → identical order at 1/2/8 partitions, matching a plain
    Python replay of the MINSTD recurrence; a different seed produces a
    genuinely different permutation of the same position set."""
    from webcrawl_spark.operators.seq import SHUF_MOD, SHUF_MULT, seeded_shuffle

    ids = list(range(97))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def spec(seed):
        def key(i):
            r1 = ((i + seed) * SHUF_MULT) % SHUF_MOD
            return (r1 * SHUF_MULT) % SHUF_MOD
        ordered = sorted(ids, key=lambda i: (key(i), i))
        return {i: (key(i), p) for p, i in enumerate(ordered)}

    expected = spec(7)
    results = []
    for parts in (1, 2, 8):
        got = {
            r.doc_id: (r.shuffle_key, r.shuffle_pos)
            for r in seeded_shuffle(docs, seed=7, num_partitions=parts).collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2] == expected

    other = {
        r.doc_id: r.shuffle_pos
        for r in seeded_shuffle(docs, seed=8).collect()
    }
    assert sorted(other.values()) == list(range(len(ids)))
    assert other != {i: p for i, (_, p) in expected.items()}
