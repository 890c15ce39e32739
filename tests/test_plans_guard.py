"""Physical-plan regression guards (PLANS.md claims, asserted).

These don't execute data — they check that the plans Catalyst produces for
the scale-critical operators keep the properties the 100-TB design relies
on: no Python in JVM-only pipelines, broadcasts where a side is bounded,
and no stray shuffles/exchanges where none are needed.
"""

import io
import contextlib

import pyspark.sql.functions as F

from webcrawl_spark.operators import memo
from webcrawl_spark.operators import redirect as RD
from webcrawl_spark.operators import similarity as SIM
from webcrawl_spark.operators import textdedup as TD

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nodes(plan: str, kind: str) -> int:
    """Count physical nodes of a kind via the formatted detail section
    ("(N) Kind" lines) — the tree section prints every node a second
    time, so a raw substring count double-counts."""
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and kind in line.split(")", 1)[-1]
    )


def test_dedup_pipelines_are_jvm_only(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        TD.minhash_signatures(docs),
        TD.lsh_candidate_pairs(docs, max_bucket_size=1000),
        TD.simhash(docs),
        TD.exact_duplicates(docs),
    ):
        assert "EvalPython" not in _plan(df)


def test_kmeans_ivf_broadcasts_centroids(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = _plan(SIM.kmeans_ivf_topk(emb, n_queries=4, k=3))
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p


def test_effective_pages_python_free(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pages = docs.selectExpr(
        "cast(doc_id as string) as url", "text as html",
        "cast(null as string) as redirect_to",
    )
    assert "EvalPython" not in _plan(RD.effective_pages(pages, 4))


def test_carried_antijoin_broadcasts_selected(spark):
    """The budget-bounded selected set must broadcast — the corpus-scale
    frontier is filtered in place, never shuffled (plans/round.py 5a)."""
    frontier = spark.range(10000).selectExpr("id as seq", "cast(id as string) as url")
    sel = frontier.limit(10)
    p = _plan(frontier.join(F.broadcast(sel.select("seq")), "seq", "left_anti"))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_filter_pushdown_reaches_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in p
    # column pruning: only the two referenced columns reach the scan
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>" in p


def test_connected_components_iteration_jvm_only(spark):
    """Each CC iteration must stay JVM-side with uniform-key shuffles —
    no Python stages, no cartesian products."""
    import pandas as pd

    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 5], "b": [2, 3, 6]}), schema="a long, b long"
    )
    cc = TD.connected_components(pairs, max_iter=2)
    p = _plan(cc)
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_multiprobe_neardup_dedups_before_scoring(spark):
    """probes=2 must deduplicate candidate id pairs BEFORE the vectors are
    joined for scoring (the HashAggregate/distinct runs on id-only rows),
    and stay JVM-only."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = SIM.neardup_pairs_bucketed(emb, probes=2)
    p = _plan(df)
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    # the distinct aggregate appears below the vector joins: keys are (a, b)
    assert "HashAggregate" in p
    # the candidate self-join is SALTED: its key (cid) has only k_clusters
    # distinct values, so the exchange must partition on (cid, __salt) —
    # without it a hot bucket is a one-task straggler emitting Σ bucket²
    # id pairs
    assert "__salt" in p


def test_cached_signature_consumers_skip_the_md5_pass(spark):
    """With a cache_key, LSH consumers read the materialized signature
    table (Scan ExistingRDD) — the md5-per-shingle pass must be ABSENT
    from their plans (it ran once at fit time)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    memo.clear()
    try:
        p = _plan(TD.lsh_candidate_pairs(docs, cache_key="guard"))
        assert "md5" not in p
        assert "ExistingRDD" in p
        # the uncached path still computes signatures inline
        p2 = _plan(TD.lsh_candidate_pairs(docs))
        assert "md5" in p2
    finally:
        memo.clear()


def test_incremental_lsh_never_resignatures_the_corpus(spark):
    """lsh_pairs_incremental: the shingle/md5 signature pass must appear
    exactly once (the delta side); the persisted corpus signature table is
    consumed as stored values (Scan ExistingRDD + banding projection) —
    re-signaturing 100 TB of corpus text per delta would defeat the
    operator's purpose."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    memo.clear()
    try:
        corpus_sigs = TD.minhash_wide_cached(
            docs.filter("doc_id < 100"), cache_key="guard-corpus"
        )
        delta = docs.filter("doc_id >= 100 and doc_id < 150")
        p = _plan(TD.lsh_pairs_incremental(delta, corpus_sigs))
        assert "EvalPython" not in p
        assert p.count("md5") == 1          # delta side only
        assert "Scan ExistingRDD" in p      # corpus side: stored sigs
        # exactly one text scan feeds the signature pass: the delta filter
        # is pushed to the parquet reader
        assert "GreaterThanOrEqual(doc_id,100)" in p
    finally:
        memo.clear()


def test_incremental_neardup_never_refits_the_quantizer(spark):
    """neardup_incremental: the persisted model (centroids + corpus bucket
    assignments) must be consumed as stored values (Scan ExistingRDD) — no
    Lloyd re-fit, no corpus re-assignment per delta; the candidate join
    must be salted (the corpus bucket side keys on only k_clusters distinct
    cids) and the whole plan JVM-only."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    memo.clear()
    try:
        corpus = emb.filter("vec_id % 5 <> 4")
        delta = emb.filter("vec_id % 5 = 4")
        cent, ranked = SIM.kmeans_model_cached(corpus, cache_key="guard-inc")
        p = _plan(
            SIM.neardup_incremental(delta, ranked, cent, corpus, probes=2)
        )
        assert "EvalPython" not in p
        assert "CartesianProduct" not in p
        assert "Scan ExistingRDD" in p   # persisted centroid/assignment tables
        assert "__salt" in p             # corpus bucket side spread over salts
        # the corpus vector side is scanned (for scoring), but only the
        # delta is quantized+ranked against centroids: exactly one window
        # ranking (the delta's) appears — the corpus ranking came from
        # storage
        assert p.count("windowspecdefinition") == 1
    finally:
        memo.clear()


def test_incremental_simhash_never_resignatures_the_corpus(spark):
    """simhash_pairs_incremental: the token/md5 signature pass must appear
    exactly once (the delta's); the persisted corpus (id, simhash) table is
    consumed as stored values — its banding is a shift/mask projection
    (Scan ExistingRDD), and the whole plan is JVM-only."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    memo.clear()
    try:
        corpus_sigs = TD.simhash_cached(
            docs.filter("doc_id < 100"), cache_key="guard-sh-corpus"
        )
        delta = docs.filter("doc_id >= 100 and doc_id < 150")
        p = _plan(
            TD.simhash_pairs_incremental(delta, corpus_sigs, cache_key=None)
        )
        assert "EvalPython" not in p
        assert "CartesianProduct" not in p
        assert "md5" in p                   # the delta signature pass...
        assert "Scan ExistingRDD" in p      # ...the corpus side: stored sigs
        # the delta text filter is pushed to the parquet reader
        assert "GreaterThanOrEqual(doc_id,100)" in p
    finally:
        memo.clear()


def test_hash_classifier_single_exchange_jvm_only(spark):
    """The hashing trick's point is O(1) map-side parameter lookup: no
    vocabulary join exists, the only exchange is the per-doc aggregate."""
    from webcrawl_spark.functions import textstats as TS

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(TS.hash_classifier_score(docs))
    assert "EvalPython" not in p
    # node-count via the detail section (the tree lists each node twice)
    assert _nodes(p, "Exchange") == 1
    assert "Join" not in p


def test_dsir_fits_both_lms_in_one_corpus_pass(spark):
    """Raw and target LMs come from ONE conditional aggregate — the corpus
    (token explode) is scanned exactly twice overall: fit + score."""
    from webcrawl_spark.functions import textstats as TS

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(TS.dsir_weights(docs))
    assert "EvalPython" not in p
    assert _nodes(p, "Scan parquet") == 2


def test_semdedup_salted_candidates_and_broadcast_centroids(spark):
    from webcrawl_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = _plan(SIM.semdedup(emb, cache_key=("plan-guard-semdedup", SF)))
    assert "EvalPython" not in p
    assert "__salt" in p                      # candidate join is salted
    assert "BroadcastHashJoin" in p           # centroids broadcast
    memo.clear()


def test_bpe_encode_consumes_cached_model_no_refit(spark):
    """With the fit-once model cache, encode's plan must start from the
    checkpointed vocabulary (ExistingRDD) — no merge-learning aggregate,
    no argmax, no fold re-runs in the consumer plan."""
    from webcrawl_spark.operators import bpe as B

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    B.bpe_model_cached(docs, cache_key=("plan-guard-bpe", SF))  # fit
    p = _plan(B.bpe_encode_stats(docs, cache_key=("plan-guard-bpe", SF)))
    assert "EvalPython" not in p
    assert "ExistingRDD" in p
    # consumer never re-aggregates pair counts (no TakeOrdered argmax)
    assert "TakeOrderedAndProject" not in p
    memo.clear()


def test_incremental_pq_never_refits_or_reencodes_the_corpus(spark):
    """pq_delta_topk over the persisted model must start from ExistingRDD
    model tables and quantize ONLY the delta: one parquet scan, no Lloyd
    re-fit (a re-fit would show the iterated mean aggregates)."""
    from webcrawl_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter("vec_id % 5 <> 4")
    delta = emb.filter("vec_id % 5 = 4")
    _, cent, codes = SIM.pq_model_cached(
        corpus, cache_key=("plan-guard-pq-incr", SF)
    )
    p = _plan(SIM.pq_delta_topk(delta, cent, codes))
    assert "EvalPython" not in p
    assert "ExistingRDD" in p
    # the model tables AND the once-materialized delta are ExistingRDD —
    # nothing re-reads parquet, nothing re-fits (no Lloyd mean aggregates)
    assert _nodes(p, "Scan parquet") == 0
    memo.clear()


def test_knn_graph_no_cartesian_and_jvm_only(spark):
    """The full k-NN graph (n_queries=None) must stay IVF-candidate-based:
    no CartesianProduct/BroadcastNestedLoopJoin anywhere (the all-pairs
    trap), no Python in the scoring path, and the final top-k is the
    salted two-level window (2 window nodes), not a single global sort."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ranked = SIM.kmeans_ranked_cached(emb, cache_key="knn-plan-guard")
    p = _plan(
        SIM.kmeans_ivf_topk(emb, n_queries=None, k=3, probes=2, ranked=ranked)
    )
    assert _nodes(p, "CartesianProduct") == 0
    assert _nodes(p, "BroadcastNestedLoopJoin") == 0
    assert "EvalPython" not in p
    # against the prefit quantizer, the only windows are the salted
    # two-level top-k — a global per-query sort would be a single window.
    # (WindowGroupLimit nodes also contain "Window": those are Spark's
    # map-side rank-limit pushdown on the same two windows — count them
    # out, but assert they ARE there: partial top-k before the shuffle.)
    wgl = _nodes(p, "WindowGroupLimit")
    assert _nodes(p, "Window") - wgl == 2
    assert wgl >= 2


def test_srp_codes_map_side_only(spark):
    """SRP coding is a pure projection: no exchange, no Python — the
    16x64 hyperplane table folds into the compiled expression."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = _plan(SIM.srp_codes(emb))
    assert _nodes(p, "Exchange") == 0
    assert "EvalPython" not in p


def test_srp_pairs_no_cartesian_and_vectors_join_after_distinct(spark):
    """Candidates come from the banded equi-join; vectors attach to the
    deduped id-only pairs (never inside the candidate exchange)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = _plan(SIM.srp_pairs(emb))
    assert _nodes(p, "CartesianProduct") == 0
    assert _nodes(p, "BroadcastNestedLoopJoin") == 0
    assert "EvalPython" not in p


def test_cms_counters_one_pass_tiny_shuffle(spark):
    """The count-min grid is ONE corpus pass (transform+posexplode, not a
    d-way union of scans) feeding a partial-combined aggregate."""
    from webcrawl_spark.operators import sketches as SK2

    d = spark.read.parquet(f"{SF}/documents.parquet")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    p = _plan(SK2.cms_counters(toks))
    assert _nodes(p, "Scan parquet") == 1
    assert "EvalPython" not in p
    assert _nodes(p, "Union") == 0


def test_hll_and_hist_sketches_jvm_only(spark):
    """The sketch aggregations must stay inside codegen — rho from binary
    string length, never a Python hop."""
    from webcrawl_spark.operators import sketches as SK

    hashes = spark.range(500).select(
        F.lit("g").alias("grp"),
        F.expr(TD.HASH32.format(col="cast(id as string)")).alias("h"),
    )
    p = _plan(SK.hll_distinct(hashes))
    assert "EvalPython" not in p
    vals = spark.range(500).select(F.col("id").alias("v"))
    p2 = _plan(SK.hist_quantiles(SK.hist_counts(vals), [500, 900]))
    assert "EvalPython" not in p2


def test_weighted_sample_one_exchange_map_side_limit(spark):
    """Priority sampling is one shuffle total, with the per-group rank
    limit pushed map-side (WindowGroupLimit before the exchange)."""
    import webcrawl_spark.queries as Q

    df = Q.QUERIES["weighted_sample"](spark, SF)
    p = _plan(df)
    assert "EvalPython" not in p
    assert _nodes(p, "Exchange") == 1
    assert _nodes(p, "WindowGroupLimit") == 2  # partial (map-side) + final


def test_star_contract_no_cartesian_jvm_only(spark):
    from webcrawl_spark.operators.graph import star_contract

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "a long, b long"
    )
    p = _plan(star_contract(pairs))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    # the contraction returns a materialized leaf, not the round lineage
    assert _nodes(p, "Scan ExistingRDD") == 1


def test_hybrid_rrf_legs_no_cartesian_blowup(spark):
    """Exactly two nested-loop joins, both broadcast 1-row sides: the
    semantic leg's query vector against the corpus, and the bm25 leg's
    global (N, avgdl) stats row — never a shuffled cartesian."""
    import webcrawl_spark.queries as Q

    p = _plan(Q.QUERIES["hybrid_search_rrf"](spark, SF))
    assert "CartesianProduct" not in p
    assert _nodes(p, "BroadcastNestedLoopJoin") == 2


def test_template_lines_jvm_only_no_window(spark):
    """Template detection is explode → distinct → two uniform-key
    aggregates + a per-host totals join: no Python, no window over the
    corpus, no cartesian."""
    import webcrawl_spark.queries as Q

    p = _plan(Q.QUERIES["host_template_lines"](spark, SF))
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert _nodes(p, "Window") == 0


def test_bigram_lm_jvm_only_bounded_broadcasts(spark):
    """The LM fit/score chain stays JVM-side; the only nested-loop joins
    are the two 1-row broadcast scalars (T total and the OOV floor) —
    count tables join on term keys, never cartesian."""
    import webcrawl_spark.queries as Q

    p = _plan(Q.QUERIES["bigram_lm_score"](spark, SF))
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert _nodes(p, "BroadcastNestedLoopJoin") == 2


def test_snapshot_overlap_kmv_jvm_only(spark):
    """The sketch set-op plan is windows over ≤ k-row-per-group inputs and
    one full-outer join of two sketches — JVM-only, no cartesian."""
    import webcrawl_spark.queries as Q

    p = _plan(Q.QUERIES["snapshot_overlap_kmv"](spark, SF))
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_strip_template_lines_no_window_jvm_only(spark):
    """Detect + strip is one logical plan: posexplode order carried as an
    integer (no window over the corpus), per-doc array_sort reassembly,
    uniform-key joins only."""
    import webcrawl_spark.queries as Q

    p = _plan(Q.QUERIES["host_template_clean"](spark, SF))
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert _nodes(p, "Window") == 0


def test_blocklist_filter_jvm_only_bounded_fanout(spark):
    """The suffix fan-out is one codegen Generate (bounded by host label
    count); the rules join keys on rule — no Python, no cartesian, no
    corpus window."""
    import webcrawl_spark.queries as Q

    p = _plan(Q.QUERIES["url_blocklist_filter"](spark, SF))
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert _nodes(p, "Window") == 0
    assert _nodes(p, "Generate") == 1


def test_mixture_weights_single_corpus_scan_family(spark):
    """The mixture table costs the digest aggregate + semi-join + two
    |sources|-row rollups; the permille windows run over the rollup, and
    nothing leaves the JVM."""
    import webcrawl_spark.queries as Q

    p = _plan(Q.QUERIES["mixture_weights"](spark, SF))
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_vocab_sketches_share_the_shingle_materialization(spark):
    """kmv_vocab_est and hll_vocab_est must consume the fit-once distinct
    shingle-hash domain: both consumer plans start from Scan ExistingRDD
    with NO md5/shingle-explode subtree (the corpus pass ran once)."""
    import webcrawl_spark.queries as Q

    try:
        p1 = _plan(Q.QUERIES["kmv_vocab_est"](spark, SF))
        p2 = _plan(Q.QUERIES["hll_vocab_est"](spark, SF))
        for p in (p1, p2):
            assert "md5" not in p
            assert _nodes(p, "Scan ExistingRDD") >= 1
            assert "EvalPython" not in p
    finally:
        memo.clear()


def test_ccnet_buckets_sketch_thresholds_no_corpus_window(spark):
    """The CCNet bucketing must take its per-language thresholds from the
    additive histogram sketch, never an exact per-language sort of the
    corpus: every Window in the plan runs over the ≤ |langs|·CCNET_B-row
    sketch (2 spec groups: the cumulative/total pair), the threshold
    cross-join is the 2-row q_permille side, and no Python anywhere."""
    import webcrawl_spark.queries as Q

    p = _plan(Q.QUERIES["ccnet_buckets"](spark, SF))
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    # the only Sort+Window pair belongs to the sketch-side quantile
    # interpolation — bounded by |langs|·CCNET_B rows, not the corpus
    assert _nodes(p, "Window") <= 2


def test_phrase_search_single_scan_fold_jvm_only(spark):
    """phrase_search: ONE corpus scan + ONE Generate (the token explode),
    the adjacency fold is pure projection (no join chain), top-k is
    TakeOrdered, no Python anywhere."""
    import webcrawl_spark.queries as Q

    p = _plan(Q.QUERIES["phrase_search"](spark, SF))
    assert "EvalPython" not in p
    assert _nodes(p, "Scan parquet") == 1
    assert _nodes(p, "Generate") == 1
    assert _nodes(p, "TakeOrderedAndProject") == 1
    assert _nodes(p, "SortMergeJoin") == 0 and _nodes(p, "BroadcastHashJoin") == 0


def test_host_trust_rank_uniform_key_jvm_only(spark):
    """host_rank / trust_rank: per-iteration uniform-key aggregates +
    joins, zero Python, no cartesian products."""
    import webcrawl_spark.queries as Q

    for name in ("host_rank", "trust_rank"):
        p = _plan(Q.QUERIES[name](spark, SF))
        assert "EvalPython" not in p, name
        assert _nodes(p, "CartesianProduct") == 0, name


def test_rel_canonical_election_zero_exchange_before_rollup(spark):
    """rel_canonical: the election is projection-only; the only
    exchanges belong to the rollup aggregate + member join."""
    from webcrawl_spark.functions.metarobots import rel_canonical

    df = spark.createDataFrame([("u", "t")], "url string, text string")
    p = _plan(rel_canonical(df))
    assert "EvalPython" not in p
    assert _nodes(p, "Generate") == 0


def test_meta_refresh_zero_exchange_zero_python(spark):
    from webcrawl_spark.functions.metarobots import meta_refresh

    df = spark.createDataFrame([("u", "t")], "url string, text string")
    p = _plan(meta_refresh(df))
    assert "EvalPython" not in p
    assert _nodes(p, "Exchange") == 0
    assert _nodes(p, "Generate") == 0


def test_seeded_shuffle_range_partition_no_global_window(spark):
    """seeded_shuffle: range exchange + within-partition window — never a
    single-partition global sort window."""
    from webcrawl_spark.operators.seq import seeded_shuffle

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    p = _plan(seeded_shuffle(docs, seed=1))
    assert "EvalPython" not in p
    # the plan reads the post-range-repartition checkpoint (ExistingRDD);
    # the position window partitions by __pid — never SinglePartition
    assert "hashpartitioning(__pid" in p
    assert "SinglePartition" not in p
