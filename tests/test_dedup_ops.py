"""Unit tests for the text-dedup operators' scale armor.

The LSH bucket cap (operators/textdedup.py) bounds the quadratic bucket
self-join: a degenerate bucket (e.g. boilerplate-identical documents) is
deterministically truncated to its lowest ids, and the truncation is
surfaced by lsh_bucket_stats instead of silently under-reporting.
"""

import pandas as pd
import pytest

from webcrawl_spark.operators import memo
from webcrawl_spark.operators import textdedup as TD


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        schema="doc_id long, text string",
    )


def test_lsh_bucket_cap_truncates_mega_bucket(spark):
    # 12 byte-identical docs -> identical signatures -> one bucket per band
    docs = _docs(spark, ["the same boilerplate text repeated here"] * 12)
    capped = TD.lsh_candidate_pairs(docs, max_bucket_size=5).toPandas()
    # only ids 0..4 survive the cap: C(5,2) pairs
    assert len(capped) == 10
    assert capped["a"].max() <= 4 and capped["b"].max() <= 4

    uncapped = TD.lsh_candidate_pairs(docs, max_bucket_size=None).toPandas()
    assert len(uncapped) == 12 * 11 // 2


def test_lsh_cap_above_bucket_sizes_is_identity(spark):
    texts = [f"document number {i} with distinct words {i * 7}" for i in range(20)]
    texts += [texts[3], texts[7]]  # two dup groups of size 2
    docs = _docs(spark, texts)
    a = TD.lsh_candidate_pairs(docs, max_bucket_size=1000).toPandas()
    b = TD.lsh_candidate_pairs(docs, max_bucket_size=None).toPandas()
    key = lambda df: sorted(map(tuple, df[["a", "b"]].itertuples(index=False)))
    assert key(a) == key(b)


def test_lsh_bucket_stats_reports_dropped(spark):
    docs = _docs(spark, ["identical content"] * 12)
    stats = TD.lsh_bucket_stats(docs, max_bucket_size=5).toPandas()
    # 4 bands -> 4 over-cap buckets, each dropping 12 - 5 = 7 members
    assert len(stats) == 4
    assert (stats["size"] == 12).all()
    assert (stats["dropped"] == 7).all()


def test_minhash_array_matches_standalone(spark):
    """Hash-once array form == per-hash standalone form, value for value."""
    docs = _docs(spark, [f"text sample {i} alpha beta gamma" for i in range(6)])
    import pyspark.sql.functions as F

    arr = docs.select(
        "doc_id", F.expr(TD.minhash_array_sql("text", 4, k=5)).alias("mh")
    ).toPandas()
    ref = docs.select(
        "doc_id",
        *[F.expr(TD.minhash_sql("text", j, k=5)).alias(f"m{j}") for j in range(4)],
    ).toPandas()
    for j in range(4):
        assert list(arr["mh"].map(lambda a: a[j])) == list(ref[f"m{j}"])


def _pairs(spark, edges):
    return spark.createDataFrame(
        pd.DataFrame({"a": [e[0] for e in edges], "b": [e[1] for e in edges]}),
        schema="a long, b long",
    )


def test_connected_components_chain_and_islands(spark):
    # one 5-node chain (worst case for min-propagation: diameter 4), one
    # triangle, one isolated pair — labels must be the component minimum.
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)]
    cc = TD.connected_components(_pairs(spark, edges)).toPandas()
    got = dict(zip(cc["id"], cc["cc"]))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_reversed_and_duplicate_edges(spark):
    # direction and multiplicity must not matter (pairs arrive a<b from LSH,
    # but the operator cannot rely on it)
    edges = [(5, 2), (2, 5), (2, 9), (9, 5), (9, 5)]
    cc = TD.connected_components(_pairs(spark, edges)).toPandas()
    assert dict(zip(cc["id"], cc["cc"])) == {2: 2, 5: 2, 9: 2}


def test_dedup_clusters_singletons_and_survivors(spark):
    words = ["zebra quartz", "maple violin", "comet arbor", "fjord sizzle",
             "lagoon trellis", "onyx parable", "crag whistle", "dune mosaic"]
    texts = [f"{w} {i} " + " ".join(f"{w.split()[0]}{j}" for j in range(6))
             for i, w in enumerate(words)]
    texts += [texts[3], texts[3]]  # ids 8, 9 duplicate id 3
    out = TD.dedup_clusters(_docs(spark, texts)).toPandas()
    by_id = out.set_index("id")
    # the dup group clusters on its min id; everyone else is a singleton
    assert by_id.loc[8, "cluster_id"] == 3 and by_id.loc[9, "cluster_id"] == 3
    assert bool(by_id.loc[3, "is_canonical"])
    assert not bool(by_id.loc[8, "is_canonical"])
    singles = [i for i in range(8) if i != 3]
    assert (by_id.loc[singles, "cluster_id"] == singles).all()
    # exactly one canonical doc per cluster
    canon = out[out["is_canonical"]]
    assert sorted(canon["cluster_id"]) == sorted(out["cluster_id"].unique())


def test_connected_components_matches_union_find(spark):
    """Independent check: the distributed min-label algorithm must agree
    with a from-scratch union-find on a messy fixed graph (two chains, a
    clique, cross-links, duplicates, reversed edges)."""
    edges = [(3, 1), (1, 7), (7, 3), (12, 9), (9, 14), (20, 25), (25, 22),
             (22, 20), (30, 31), (31, 32), (32, 33), (33, 34), (34, 30),
             (40, 41), (41, 40), (50, 9)]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    got = TD.connected_components(_pairs(spark, edges)).toPandas()
    assert dict(zip(got["id"], got["cc"])) == want


def test_exact_duplicates_null_text_excluded(spark):
    """NULL-text rows are not duplicates of each other: without the filter
    they'd all share the NULL digest and surface as one bogus group."""
    docs = _docs(spark, ["same", "same", None, None, "solo"])
    out = TD.exact_duplicates(docs).toPandas()
    assert len(out) == 1                 # only the real 'same' group
    assert out.iloc[0]["keeper"] == 0 and out.iloc[0]["n_docs"] == 2


def test_minhash_cache_shares_one_materialization(spark):
    """cache_key memoizes the signature table per (application, input):
    the second call returns the SAME checkpoint-backed frame."""
    docs = _docs(spark, [f"document number {i} with words" for i in range(20)])
    memo.clear()
    a = TD.minhash_wide_cached(docs, cache_key="t1")
    b = TD.minhash_wide_cached(docs, cache_key="t1")
    assert a is b
    c = TD.minhash_wide_cached(docs, cache_key="t2")
    assert c is not a
    # consumers through different entry points agree with the uncached path
    pairs_cached = TD.lsh_candidate_pairs(docs, cache_key="t1").toPandas()
    pairs_plain = TD.lsh_candidate_pairs(docs).toPandas()
    key = lambda df: sorted(map(tuple, df[["a", "b"]].itertuples(index=False)))
    assert key(pairs_cached) == key(pairs_plain)
    memo.clear()
    assert not memo._STORE


def test_simhash_incremental_equals_full_hamming_join(spark):
    """The pigeonhole claim, asserted: with max_hamming <= bands - 1 the
    banded incremental join must equal the FULL delta x corpus Hamming
    join — SimHash banding is lossless for the distance it filters,
    unlike MinHash-LSH banding."""
    import pyspark.sql.functions as F

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 80")
    )
    delta = docs.filter("doc_id % 4 = 0")
    corpus = docs.filter("doc_id % 4 <> 0")
    corpus_sigs = TD.simhash(corpus)
    got = {
        (r.a, r.b, r.hamming)
        for r in TD.simhash_pairs_incremental(
            delta, corpus_sigs, bands=4, max_hamming=3
        ).collect()
    }
    ds = TD.simhash(delta).select(
        F.col("id").alias("a"), F.col("simhash").alias("ha")
    )
    cs = corpus_sigs.select(F.col("id").alias("b"), F.col("simhash").alias("hb"))
    full = {
        (r.a, r.b, r.hamming)
        for r in ds.crossJoin(cs)
        .withColumn("hamming", F.expr("cast(bit_count(ha ^ hb) as bigint)"))
        .filter("hamming <= 3")
        .collect()
    }
    assert got == full
    # and the blocking is doing SOMETHING: candidates < full cross size
    assert len(got) < delta.count() * corpus.count()


def test_paragraph_dedup_first_occurrence_wins(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha\nboiler\nunique one"),
            (2, "boiler\nunique two\n   \nalpha"),
            (3, "boiler"),
            (4, "  \n \n"),  # whitespace-only paragraphs everywhere
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.text_clean, r.paras_kept, r.paras_dropped)
        for r in TD.paragraph_dedup(docs).collect()
    }
    # doc 1 is the global first occurrence of both 'alpha' and 'boiler'
    assert out[1] == ("alpha\nboiler\nunique one", 3, 0)
    # doc 2 loses both dups, keeps its unique line; blank para uncounted
    assert out[2] == ("unique two", 1, 2)
    # doc 3's only paragraph is a later duplicate → emptied, still present
    assert out[3] == ("", 0, 1)
    # doc 4 had nothing but whitespace → present with zero counts
    assert out[4] == ("", 0, 0)


def test_paragraph_dedup_plan_no_window_no_python(spark):
    """Survivor selection must be the partial-aggregatable min-struct,
    not a window over the paragraph hash (hot-key safety at scale)."""
    docs = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = (
        TD.paragraph_dedup(docs)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert "row_number" not in plan.lower()


def test_contamination_flags_ngram_overlap(spark):
    eight = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, f"intro words {eight} trailing text here"),   # contains the bench 8-gram
            (2, f"intro words {eight.upper()} more"),          # case-insensitive hit
            (3, "totally unrelated content with nothing shared at all"),
            (4, "one two three four five six seven"),          # 7 words: too short
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"q: {eight}?"), (200, f"{eight} answer")],
        "bench_id long, text string",
    )
    # bench 100's grams include 'q: one ... seven' and 'one ... eight?' —
    # punctuation sticks to whitespace tokens, so only bench 200
    # contributes the clean 'one ... eight' gram plus its own tail grams
    out = {r.doc_id: r for r in TD.contamination_flags(docs, bench, n=8).collect()}
    assert 1 in out and 2 in out
    assert 3 not in out and 4 not in out
    assert out[1].n_bench_docs == 1  # only bench 200's clean gram matches
    assert out[1].n_gram_hits == 1
    assert out[2].n_gram_hits == 1   # lowercased before gramming


def test_contamination_plan_broadcasts_bench(spark):
    docs = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "a b c d e f g h")], "bench_id long, text string")
    plan = (
        TD.contamination_flags(docs, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_paragraph_dedup_incremental_corpus_and_delta_dups(spark):
    delta = spark.createDataFrame(
        [
            (1, "in-corpus line\nfresh one\ndelta-dup"),
            (2, "delta-dup\nfresh two"),
            (3, "in-corpus line"),
        ],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(100, "in-corpus line\nold stuff")], "doc_id long, text string"
    )
    hashes = TD.paragraph_hashes(corpus)
    out = {
        r.doc_id: (r.text_clean, r.paras_kept, r.paras_dropped)
        for r in TD.paragraph_dedup_incremental(delta, hashes).collect()
    }
    # corpus hit drops EVERY delta copy; delta-internal dup keeps the
    # global first occurrence only
    assert out[1] == ("fresh one\ndelta-dup", 2, 1)
    assert out[2] == ("fresh two", 1, 1)
    assert out[3] == ("", 0, 1)
    # appending the cleaned delta's hashes grows the corpus table
    grown = hashes.union(
        TD.paragraph_hashes(
            TD.paragraph_dedup_incremental(delta, hashes),
            text_col="text_clean", id_col="doc_id",
        )
    ).distinct()
    assert grown.count() == hashes.count() + 3  # fresh one, fresh two, delta-dup


def test_dedup_exact_incremental_classification(spark):
    from webcrawl_spark.operators.textdedup import (
        corpus_digests,
        dedup_exact_incremental,
    )

    corpus = spark.createDataFrame(
        [(1, "known body"), (2, "other body"), (3, None)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (10, "known body"),   # corpus hit → dropped
            (11, "fresh body"),   # new → kept (first copy)
            (12, "fresh body"),   # within-delta dup → dropped
            (13, None),           # NULL text → always survives
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.keep for r in dedup_exact_incremental(
        delta, corpus_digests(corpus)).collect()}
    assert out == {10: False, 11: True, 12: False, 13: True}


def test_dedup_exact_incremental_matches_batch_on_union(spark):
    """Incremental(delta vs corpus) keeps exactly the delta rows a batch
    exact-dedup over corpus∪delta would keep (corpus rows always win —
    they came first)."""
    from pyspark.sql import functions as F
    from webcrawl_spark.operators.textdedup import (
        corpus_digests,
        dedup_exact_incremental,
        exact_duplicates,
    )

    corpus = spark.createDataFrame(
        [(i, f"body {i % 4}") for i in range(8)], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(100, "body 0"), (101, "body x"), (102, "body x"), (103, "body 9")],
        "doc_id long, text string",
    )
    inc = {r.doc_id for r in dedup_exact_incremental(
        delta, corpus_digests(corpus)).filter("keep").collect()}
    # batch over the union: survivors = min doc_id per digest; delta-side
    # survivors are those whose digest group min lies in the delta
    union = corpus.unionByName(delta)
    dups = exact_duplicates(union)
    drop = union.join(dups, F.md5("text") == dups.digest).filter(
        F.col("doc_id") != F.col("keeper"))
    batch_kept = {r.doc_id for r in union.join(
        drop.select("doc_id"), "doc_id", "left_anti").collect() if r.doc_id >= 100}
    assert inc == batch_kept


# ---------------------------------------------------------------------------
# host mirror pairs
# ---------------------------------------------------------------------------

def _hostdocs(spark, rows):
    return spark.createDataFrame(rows, "host string, text string")


def test_host_mirror_full_and_subset(spark):
    from webcrawl_spark.operators.textdedup import host_mirror_pairs

    rows = (
        [("a.test", f"doc {i}") for i in range(6)]
        + [("b.test", f"doc {i}") for i in range(6)]       # full mirror of a
        + [("c.test", f"doc {i}") for i in range(3)]       # subset of a
        + [("d.test", f"other {i}") for i in range(6)]     # unrelated
    )
    got = {
        (r.host_a, r.host_b): (
            r.shared, r.size_a, r.size_b, r.containment_permille, r.mirror
        )
        for r in host_mirror_pairs(_hostdocs(spark, rows)).collect()
    }
    assert got[("a.test", "b.test")] == (6, 6, 6, 1000, True)
    # a subset host is fully contained -> flagged (that IS the semantics)
    assert got[("a.test", "c.test")] == (3, 6, 3, 1000, True)
    assert got[("b.test", "c.test")] == (3, 6, 3, 1000, True)
    assert not any("d.test" in k for k in got)


def test_host_mirror_min_shared_and_threshold(spark):
    from webcrawl_spark.operators.textdedup import host_mirror_pairs

    rows = (
        [("a.test", f"a{i}") for i in range(10)]
        + [("b.test", f"b{i}") for i in range(10)]
        + [("a.test", "shared-x"), ("b.test", "shared-x")]   # 1 shared digest
        + [("a.test", "shared-y"), ("b.test", "shared-y")]   # 2nd shared
    )
    got = {
        (r.host_a, r.host_b): (r.shared, r.containment_permille, r.mirror)
        for r in host_mirror_pairs(_hostdocs(spark, rows)).collect()
    }
    # 2 shared of min-size 12 -> 166 permille, not a mirror
    assert got[("a.test", "b.test")] == (2, 166, False)
    # with only ONE shared digest the pair drops below min_shared
    rows1 = rows[:-2]
    assert host_mirror_pairs(_hostdocs(spark, rows1)).count() == 0


def test_host_mirror_cap_is_deterministic(spark):
    from webcrawl_spark.operators.textdedup import host_mirror_pairs

    # one digest on hosts a<b<c with cap=2 keeps only (a, b)
    rows = [(h, t) for h in ("a.t", "b.t", "c.t")
            for t in ("same-1", "same-2")]
    got = {
        (r.host_a, r.host_b)
        for r in host_mirror_pairs(
            _hostdocs(spark, rows), max_hosts_per_digest=2
        ).collect()
    }
    assert got == {("a.t", "b.t")}


def test_host_mirror_plan_shape(spark):
    from webcrawl_spark.operators.textdedup import host_mirror_pairs

    plan = (
        host_mirror_pairs(_hostdocs(spark, [("a.t", "x")]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# normalized (fuzzy-exact) dedup
# ---------------------------------------------------------------------------

def test_normalized_duplicates_merge_and_split(spark):
    from webcrawl_spark.operators.textdedup import normalized_duplicates

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "  hello   world  "),        # ws + case + punct variant
            (3, "HELLO WORLD"),              # case variant
            (4, "hello worlds"),             # real edit: separate
            (5, None),                       # NULL: excluded
            (6, "!!! ... ???"),              # normalizes to empty: excluded
            (7, "?!?! .. !"),                # also empty: must NOT pair with 6
        ],
        "doc_id long, text string",
    )
    got = {
        r.keeper: r.n_docs
        for r in normalized_duplicates(docs).collect()
    }
    assert got == {1: 3}


def test_normalized_duplicates_plan_shape(spark):
    from webcrawl_spark.operators.textdedup import normalized_duplicates

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = (
        normalized_duplicates(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# content-defined chunking dedup
# ---------------------------------------------------------------------------

def test_cdc_shift_robustness(spark):
    """The CDC property fixed n-grams lack: inserting words re-segments
    only the edit's neighborhood; interior segments still match."""
    from webcrawl_spark.operators.textdedup import cdc_duplicate_segments

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away home tonight under a bright silver moon")
    docs = spark.createDataFrame(
        [(1, base), (2, "totally different inserted prefix words " + base)],
        "doc_id long, text string",
    )
    dups = cdc_duplicate_segments(docs, min_words=2).collect()
    assert len(dups) >= 2                      # interior segments matched
    assert all(r.n_docs == 2 for r in dups)
    assert all(r.keeper_id == 1 for r in dups)


def test_cdc_segments_cover_whole_doc(spark):
    """Segments tile the document exactly: start/len reconstruct the
    token stream, and a doc with no boundary words is ONE segment."""
    from webcrawl_spark.operators.textdedup import cdc_segments

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = cdc_segments(
        spark.createDataFrame([(7, text)], "doc_id long, text string")
    ).orderBy("seg_idx").collect()
    n_words = len(text.split())
    assert rows[0].start_word == 1
    assert sum(r.n_words for r in rows) == n_words
    for a, b in zip(rows, rows[1:]):
        assert b.start_word == a.start_word + a.n_words
    # no-boundary doc: exactly one segment (mod huge -> no boundaries)
    one = cdc_segments(
        spark.createDataFrame([(8, text)], "doc_id long, text string"),
        mod=10**9,
    ).collect()
    assert len(one) == 1 and one[0].n_words == n_words


def test_cdc_min_words_filter(spark):
    from webcrawl_spark.operators.textdedup import cdc_duplicate_segments

    # identical tiny docs: every segment < min_words -> nothing reported
    docs = spark.createDataFrame(
        [(1, "tiny pair"), (2, "tiny pair")], "doc_id long, text string"
    )
    assert cdc_duplicate_segments(docs, min_words=4).count() == 0
    assert cdc_duplicate_segments(docs, min_words=2).count() == 1


def test_cdc_plan_shape(spark):
    from webcrawl_spark.operators.textdedup import (
        cdc_duplicate_segments,
        cdc_segments,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    seg_plan = (
        cdc_segments(docs)._jdf.queryExecution().executedPlan().toString()
    )
    # segmentation is zero-exchange map-side work
    assert "Exchange" not in seg_plan
    assert "EvalPython" not in seg_plan
    dup_plan = (
        cdc_duplicate_segments(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in dup_plan
    assert "Window" not in dup_plan
    assert "Join" not in dup_plan
