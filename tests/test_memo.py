"""The one fit-once model store (webcrawl_spark/operators/memo.py): a hit
returns the stored object, kinds never collide, eviction keeps a caller's
frame usable, and ``clear`` releases every block the builds pinned."""

import pytest

from webcrawl_spark.operators import memo
from webcrawl_spark.operators import similarity as SIM
from webcrawl_spark.operators import textdedup as TD

SF = "/root/testdata/sf0.001"


def _persisted(spark) -> set:
    """Ids of the persisted RDDs. Compared as sets, not counted: Spark's
    ContextCleaner may unpersist an earlier test's garbage-collected RDDs
    at any moment, which moves the count but not the ids a build pinned."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").filter("doc_id < 40")


def test_same_kind_key_and_params_return_the_same_object(spark):
    memo.clear()
    docs = _docs(spark)
    try:
        a = TD.minhash_wide_cached(docs, cache_key="memo-same")
        assert TD.minhash_wide_cached(docs, cache_key="memo-same") is a
        assert TD.minhash_wide_cached(docs, num_hashes=4, cache_key="memo-same") is not a
        assert TD.simhash_cached(docs, cache_key="memo-same") is not a
        assert len(memo._STORE) == 3
    finally:
        memo.clear()


def test_kmeans_ranked_and_model_are_two_entries(spark):
    """Both take (id_col, vec_col, k_clusters, iters, scale): only the kind
    tag keeps the ranked table and the (cent, ranked) pair apart."""
    memo.clear()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    try:
        ranked = SIM.kmeans_ranked_cached(emb, cache_key="memo-km")
        cent, model_ranked = SIM.kmeans_model_cached(emb, cache_key="memo-km")
        assert len(memo._STORE) == 2
        assert SIM.kmeans_ranked_cached(emb, cache_key="memo-km") is ranked
        assert SIM.kmeans_model_cached(emb, cache_key="memo-km")[1] is model_ranked
        assert ranked.count() == model_ranked.count() > 0
    finally:
        memo.clear()


def test_evicted_frame_stays_usable_until_clear(spark, monkeypatch):
    memo.clear()
    monkeypatch.setattr(memo, "MAX_ENTRIES", 2)
    docs = _docs(spark)
    n = docs.count()
    try:
        first = TD.minhash_wide_cached(docs, cache_key="memo-evict-0")
        TD.minhash_wide_cached(docs, cache_key="memo-evict-1")
        TD.minhash_wide_cached(docs, cache_key="memo-evict-2")
        assert len(memo._STORE) == 2 and len(memo._EVICTED) == 1
        assert first.count() == n
        # a fresh request refits: the evicted entry left the memo
        assert TD.minhash_wide_cached(docs, cache_key="memo-evict-0") is not first
    finally:
        memo.clear()
    with pytest.raises(Exception):
        first.count()


def test_clear_releases_every_block_the_builds_pinned(spark):
    """Live and evicted entries, tuple members and the intermediate cuts of
    a build (the PQ long form, the k-means quantized form) all go."""
    memo.clear()
    before = _persisted(spark)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    docs = _docs(spark)
    TD.minhash_wide_cached(docs, cache_key="memo-rel")
    SIM.kmeans_model_cached(emb, cache_key="memo-rel")
    SIM.pq_model_cached(emb, cache_key="memo-rel")
    SIM.knn_edges_cached(emb, cache_key="memo-rel")
    pinned = _persisted(spark) - before
    assert pinned
    memo.clear()
    assert not memo._STORE and not memo._EVICTED
    assert not pinned & _persisted(spark)
