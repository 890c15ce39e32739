"""BPE learn/encode vs a plain-Python reference implementation."""

import re
from collections import Counter

from webcrawl_spark.operators import bpe as B
from webcrawl_spark.operators import memo

SF = "/root/testdata/sf0.001"


def _py_bpe(corpus: dict[int, str], k: int):
    """Reference BPE: word-frequency table, k greedy merges with
    (count DESC, left, right) tie-break, left-to-right application."""
    vocab = Counter()
    for t in corpus.values():
        for w in re.split(r"\s+", t.strip().lower()):
            if w:
                vocab[w] += 1
    syms = {w: list(w) for w in vocab}
    merges = []
    for rank in range(1, k + 1):
        pc = Counter()
        for w, s in syms.items():
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += vocab[w]
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, l + r, c))
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            syms[w] = out
    enc = {}
    for i, t in corpus.items():
        ws = [w for w in re.split(r"\s+", t.strip().lower()) if w]
        enc[i] = (len(ws), sum(len(w) for w in ws),
                  sum(len(syms[w]) for w in ws))
    return merges, enc


CORPUS = {
    1: "the cat sat on the mat",
    2: "the bat and the cat chat that",
    3: "banana bandana ananas",        # overlapping-pair greedy case
    4: "low lower lowest slow slowly",  # merged symbols re-merge (lo+w)
}


def test_bpe_learn_and_encode_hand_computed(spark):
    docs = spark.createDataFrame(sorted(CORPUS.items()), ["doc_id", "text"])
    k = 6
    exp_m, exp_e = _py_bpe(CORPUS, k)
    got_m = [tuple(r) for r in B.bpe_learn(docs, n_merges=k)
             .orderBy("rank").collect()]
    assert got_m == exp_m
    got_e = {
        r.doc_id: (r.n_words, r.n_chars, r.n_subwords)
        for r in B.bpe_encode_stats(docs, n_merges=k).collect()
    }
    assert got_e == exp_e


def test_bpe_greedy_nonoverlapping(spark):
    """'aaaa' under merge (a,a) must become [aa, aa], never [aa, aa, a]
    ghosts or an overlapped triple."""
    docs = spark.createDataFrame([(1, "aaaa aaaa ab")], ["doc_id", "text"])
    m = B.bpe_learn(docs, n_merges=1).collect()[0]
    assert (m.left, m.right, m.merged) == ("a", "a", "aa")
    # 6 adjacent (a,a) positions across the two 4-char words
    assert m.pair_count == 6
    e = {r.doc_id: r for r in B.bpe_encode_stats(docs, n_merges=1).collect()}
    # aaaa -> [aa, aa] (2), ab -> [a, b] (2)
    assert e[1].n_subwords == 2 + 2 + 2 and e[1].n_chars == 10


def test_bpe_model_cache_shared_and_clear(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    m1, v1 = B.bpe_model_cached(docs, cache_key=("t-bpe", SF))
    m2, v2 = B.bpe_model_cached(docs, cache_key=("t-bpe", SF))
    assert m1 is m2 and v1 is v2          # fit-once memo hit
    # encode consumes the SAME model object (no refit)
    enc = B.bpe_encode_stats(docs, cache_key=("t-bpe", SF))
    assert enc.count() == docs.count()
    memo.clear()
    # m1/v1 are invalid after clear (blocks released); a fresh request
    # refits and must be fully usable
    m3, _ = B.bpe_model_cached(docs, cache_key=("t-bpe", SF))
    assert m3 is not m1
    assert m3.count() == B.BPE_MERGES
    memo.clear()


def test_bpe_squeeze_and_determinism(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = sorted(map(tuple, B.bpe_learn(docs).collect()))
    b = sorted(map(tuple, B.bpe_learn(docs).collect()))
    assert a == b and len(a) == B.BPE_MERGES
    bad = B.bpe_encode_stats(docs).filter(
        "n_subwords > n_chars OR n_subwords < n_words"
    ).count()
    assert bad == 0


def test_bpe_learn_partition_invariant(spark):
    """The learned merges must not depend on parallelism: the argmax
    orders by (count desc, left, right) and pair counts are exact
    BIGINTs, so shuffle.partitions=1 and =8 must agree exactly."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = []
    try:
        for n in ("1", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            got.append(sorted(map(tuple, B.bpe_learn(docs).collect())))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert got[0] == got[1]


def test_bpe_vocab_mass_equals_encode_mass(spark):
    """Σ vocab n_occurrences must equal Σ per-doc n_subwords — the two
    artifacts describe the same tokenized corpus."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    memo.clear()
    try:
        v = B.bpe_vocab(docs, cache_key=("t-vocab", SF))
        e = B.bpe_encode_stats(docs, cache_key=("t-vocab", SF))
        vm = v.agg({"n_occurrences": "sum"}).collect()[0][0]
        em = e.agg({"n_subwords": "sum"}).collect()[0][0]
        assert vm == em and vm > 0
    finally:
        memo.clear()
