"""Similarity search over embedding columns (``array<float>``).

- brute-force cosine top-k: the exactness baseline — crossJoin + window.
  All arithmetic is JVM-side (``zip_with``/``aggregate`` fold, sequential
  and deterministic), cast to double before accumulating.
- IVF bucketed top-k: a deterministic integer k-means quantizer prunes
  the candidate set to the query's probe buckets before ranking. At 100 TB
  the bucket column is the shuffle/partition key and the per-bucket join
  replaces the full crossJoin.
- near-duplicate pairs: cosine threshold over candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import memo


def as_double(col: str) -> str:
    return f"transform({col}, x -> cast(x as double))"


def dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def _prep_normed(
    emb: DataFrame, id_col: str, vec_col: str,
    out_id: str, out_vec: str, out_norm: str,
) -> DataFrame:
    """(id, vector as doubles, L2 norm), the norm computed ONCE per vector.

    Pair-scoring then uses ``dot / (na * nb)`` — the exact same IEEE
    operations (and therefore bit-identical results) as computing both
    norms per pair, at 1 fold per pair instead of 3."""
    v = as_double(vec_col)
    return emb.select(
        F.col(id_col).alias(out_id),
        F.expr(v).alias(out_vec),
        F.expr(norm_sql(v)).alias(out_norm),
    )


def brute_force_topk(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_queries: int = 8, k: int = 5, round_to: int = 4,
) -> DataFrame:
    """(query_id, neighbor_id, cos) — exact top-k per query (self excluded)."""
    queries = _prep_normed(emb, id_col, vec_col, "query_id", "qv", "qn").filter(
        F.col("query_id") < n_queries
    )
    corpus = _prep_normed(emb, id_col, vec_col, "neighbor_id", "nv", "nn")
    scored = (
        queries.crossJoin(corpus)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos", F.expr(dot_sql("qv", "nv")) / (F.col("qn") * F.col("nn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", round_to).alias("cos"))
    )


def brute_force_ranks(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    query_id: int = 0, k: int = 30,
) -> DataFrame:
    """(neighbor_id, rk) — exact cosine RANKS of the corpus against ONE
    query vector (self excluded): the semantic leg of rank fusion. Same
    index-ordered fold as :func:`brute_force_topk`, so the double cosines
    (and therefore the ranking) are bit-identical cross-engine; ties
    break by neighbor id. The single-query scoring is one corpus pass
    with a broadcast 1-row query side; the rank window's ``rk <= k``
    pushes map-side (WindowGroupLimit)."""
    queries = _prep_normed(emb, id_col, vec_col, "query_id", "qv", "qn").filter(
        F.col("query_id") == query_id
    )
    corpus = _prep_normed(emb, id_col, vec_col, "neighbor_id", "nv", "nn")
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos", F.expr(dot_sql("qv", "nv")) / (F.col("qn") * F.col("nn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("neighbor_id", F.col("rk").cast("long").alias("rk"))
    )


def _quantized_long(emb: DataFrame, id_col: str, vec_col: str, scale: int) -> DataFrame:
    """(id, pos, val) integer long form: val = floor(x * scale + 0.5).

    All k-means arithmetic stays in exact int64 — any engine evaluating the
    same formulas gets bit-identical centroids, so the quantizer is
    cross-engine deterministic (the DuckDB oracle replays it exactly)."""
    return emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.expr(
                f"transform({vec_col}, x -> "
                f"cast(floor(cast(x as double) * {scale} + 0.5d) as bigint))"
            )
        ).alias("pos", "val"),
    )


def _assign_dists(ve: DataFrame, cent: DataFrame) -> DataFrame:
    """(id, cid, dist): squared L2 between every vector and centroid —
    long-form join on pos, integer arithmetic throughout.

    The centroid table (k_clusters x dims rows) is explicitly broadcast:
    after lineage cuts its size can't be estimated, and the corpus-scale
    long form must never shuffle for this join."""
    d = (F.col("val") - F.col("cval"))
    return (
        ve.join(F.broadcast(cent), "pos")
        .groupBy("id", "cid")
        .agg(F.sum(d * d).alias("dist"))
    )


def kmeans_fit(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k_clusters: int = 4, iters: int = 2, scale: int = 1000,
    _ve: DataFrame | None = None,
) -> DataFrame:
    """Final integer k-means centroid table (cid, pos, cval) — the
    PERSISTABLE quantizer model (k_clusters × dims rows): write it once,
    broadcast it forever. Centroids init from the ``k_clusters`` lowest
    ids; each Lloyd iteration re-assigns and takes integer-rounded means
    (floor(sum/count + 0.5) — one IEEE division of exact integers), so any
    engine replaying the formulas gets bit-identical centroids.

    ``_ve``: a pre-materialized quantized long form, so callers that also
    rank against the fit (:func:`kmeans_ranked`) share one scan+explode."""
    ve = _ve if _ve is not None else _quantized_long(
        emb, id_col, vec_col, scale
    ).localCheckpoint(eager=True)
    cent = ve.filter(F.col("id") < k_clusters).select(
        F.col("id").cast("int").alias("cid"), "pos", F.col("val").alias("cval")
    )
    for _ in range(iters):
        w = Window.partitionBy("id").orderBy("dist", "cid")
        assign = (
            _assign_dists(ve, cent)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", "cid")
        )
        cent = (
            ve.join(assign, "id")
            .groupBy("cid", "pos")
            .agg(
                F.expr(
                    "cast(floor(sum(val) * 1.0 / count(1) + 0.5d) as bigint)"
                ).alias("cval")
            )
            .localCheckpoint(eager=True)   # k×dims rows; keeps the iterated plan flat
        )
    return cent


def assign_ranked(
    emb: DataFrame, cent: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding", scale: int = 1000,
    _ve: DataFrame | None = None,
) -> DataFrame:
    """(id, cid, dist, __rn): vectors ranked against a PERSISTED centroid
    table (``kmeans_fit`` output) — one broadcast centroid join + one
    uniform-key aggregate, NO Lloyd iterations. This is how new (delta)
    vectors enter an existing quantizer's bucket space
    (:func:`neardup_incremental`)."""
    ve = _ve if _ve is not None else _quantized_long(emb, id_col, vec_col, scale)
    w = Window.partitionBy("id").orderBy("dist", "cid")
    return _assign_dists(ve, cent).withColumn("__rn", F.row_number().over(w))


def kmeans_ranked(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k_clusters: int = 4, iters: int = 2, scale: int = 1000,
) -> DataFrame:
    """(id, cid, dist, __rn): every vector ranked against the FINAL integer
    k-means centroids (__rn = 1 is its bucket; __rn ≤ p are its p probes).
    Composition of :func:`kmeans_fit` + :func:`assign_ranked` over ONE
    materialized quantized long form — every Lloyd pass and the final
    ranking read it, and recomputing the scan+explode per pass is the
    textbook iterative-algorithm mistake."""
    ve = _quantized_long(emb, id_col, vec_col, scale).localCheckpoint(eager=True)
    cent = kmeans_fit(emb, id_col, vec_col, k_clusters, iters, scale, _ve=ve)
    return assign_ranked(emb, cent, id_col, vec_col, scale, _ve=ve)


def kmeans_ranked_cached(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k_clusters: int = 4, iters: int = 2, scale: int = 1000,
    cache_key=None,
) -> DataFrame:
    """Fit-once k-means quantizer model: :func:`kmeans_ranked` materialized
    (eager lineage cut) and memoized in the one fit-once store
    (:mod:`.memo`) so ANN top-k and embedding near-dup share one fit
    instead of each re-running Lloyd from scratch. ``cache_key`` must
    identify the input (e.g. its path); ``None`` returns the plan
    unmaterialized. ``memo.clear`` releases."""
    if cache_key is None:
        return kmeans_ranked(emb, id_col, vec_col, k_clusters, iters, scale)
    return memo.fit_once(
        emb, cache_key,
        ("kmeans_ranked", id_col, vec_col, k_clusters, iters, scale),
        lambda: kmeans_ranked(
            emb, id_col, vec_col, k_clusters, iters, scale
        ).localCheckpoint(eager=True),
    )


def kmeans_model_cached(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k_clusters: int = 4, iters: int = 2, scale: int = 1000,
    cache_key=None,
) -> tuple:
    """(cent, ranked) — the persisted-model PAIR incremental consumers need:
    the centroid table (``kmeans_fit``) and the corpus bucket assignments
    (``assign_ranked``), fit over ONE materialized quantized long form and
    both lineage-cut. In a deployment both are parquet/Iceberg tables
    written once at ingest; here the fit-once store (:mod:`.memo`) stands
    in."""
    def _build():
        ve = _quantized_long(emb, id_col, vec_col, scale).localCheckpoint(
            eager=True
        )
        cent = kmeans_fit(emb, id_col, vec_col, k_clusters, iters, scale, _ve=ve)
        ranked = assign_ranked(
            emb, cent, id_col, vec_col, scale, _ve=ve
        ).localCheckpoint(eager=True)
        return cent, ranked

    return memo.fit_once(
        emb, cache_key,
        ("kmeans_model", id_col, vec_col, k_clusters, iters, scale), _build,
    )


def kmeans_ivf_topk(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_queries: int | None = 8, k: int = 5, k_clusters: int = 4, iters: int = 2,
    probes: int = 2, scale: int = 1000, round_to: int = 4,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN with a deterministic integer k-means coarse quantizer and
    multi-probe search. ``n_queries=None`` makes EVERY corpus vector a
    query — the full k-NN-graph build (:func:`semantic_clusters` consumes
    it); the candidate volume is then Σ probed-bucket sizes ≈
    probes·n²/k_clusters, so k_clusters rises with the corpus to hold the
    per-query candidate list constant.

    Quantizer: embeddings quantized to int64 (×scale), centroids
    initialized from the ``k_clusters`` lowest ids, ``iters`` Lloyd
    iterations with integer-rounded means (floor(sum/count + 0.5) — one
    IEEE division of exact integers, identical on every engine).
    Search: each query probes its ``probes`` nearest centroids; candidates
    are corpus vectors assigned to those centroids; exact cosine ranks the
    final top-k. At 100 TB the assignment/centroid passes are uniform-key
    shuffles over the long form, the centroid table is broadcast-size, and
    the probe join replaces the crossJoin — recall tunes via probes.

    ``ranked`` accepts a prefit quantizer (:func:`kmeans_ranked_cached`)
    so several consumers share one Lloyd fit.
    """
    if ranked is None:
        ranked = kmeans_ranked(emb, id_col, vec_col, k_clusters, iters, scale)
    corpus_bucket = ranked.filter(F.col("__rn") == 1).select(
        F.col("id").alias("neighbor_id"), "cid"
    )
    probe_cond = F.col("__rn") <= probes
    if n_queries is not None:
        probe_cond = (F.col("id") < n_queries) & probe_cond
    query_probe = ranked.filter(probe_cond).select(
        F.col("id").alias("query_id"), "cid"
    )

    base = _prep_normed(emb, id_col, vec_col, "id", "v", "n")
    queries = (base.withColumnRenamed("id", "query_id")
               .withColumnRenamed("v", "qv").withColumnRenamed("n", "qn"))
    corpus = (base.withColumnRenamed("id", "neighbor_id")
              .withColumnRenamed("v", "nv").withColumnRenamed("n", "nn"))
    cand_ids = (
        query_probe.join(corpus_bucket, "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")   # unique: each neighbor has ONE
        # bucket, so probes can't dup a pair.
        # Explicit exchange: the pair set is |queries|·probes·bucket-sized
        # while every INPUT to the join chain is (here) broadcast-small, so
        # without it Catalyst chains broadcast joins and the entire cosine
        # scoring stage runs in the upstream's task count — measured 19s
        # single-task vs 3s spread for the n_queries=None graph build. The
        # (query, neighbor) key is uniform; at cluster scale the vector
        # attach below is a shuffle join on the same uniform id keys.
        .repartition(F.col("query_id"), F.col("neighbor_id"))
    )
    cand = (
        cand_ids
        .join(queries, "query_id")
        .join(corpus, "neighbor_id")
        .withColumn(
            "cos", F.expr(dot_sql("qv", "nv")) / (F.col("qn") * F.col("nn"))
        )
    )
    return _topk_salted(
        cand, k, PQ_TOPK_SALT, "query_id", "neighbor_id", "cos"
    ).select("query_id", "neighbor_id", F.round("cos", round_to).alias("cos"))


def knn_edges_cached(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 3, k_clusters: int = 4, iters: int = 2, probes: int = 2,
    cache_key=None, ranked: DataFrame | None = None,
) -> DataFrame:
    """Build-once full k-NN edge list: :func:`kmeans_ivf_topk` with
    ``n_queries=None`` materialized and memoized per (application,
    ``cache_key``, params) — the graph substrate that semantic
    clustering, cluster-balanced sampling, and any other graph consumer
    share instead of each re-running the IVF scoring pass (measured:
    15-17s each at sf0.1 when unshared, because the un-materialized plan
    additionally executes TWICE per consumer through the fwd/rev
    mutuality split). Memoized in the one fit-once store (:mod:`.memo`)
    like :func:`kmeans_ranked_cached`; ``memo.clear`` releases.

    The materialization uses the STATS-resetting cut (``cut_fresh_stats``
    — see its docstring): consumers self-join these edges (mutuality,
    then CC's pointer jumping), where inherited size estimates square
    per join and have measurably killed the driver."""
    from .ckpt import cut_fresh_stats

    def plan():
        return kmeans_ivf_topk(
            emb, id_col, vec_col, n_queries=None, k=k, k_clusters=k_clusters,
            iters=iters, probes=probes, ranked=ranked,
        )

    if cache_key is None:
        return plan()
    return memo.fit_once(
        emb, cache_key,
        ("knn_edges", id_col, vec_col, k, k_clusters, iters, probes),
        lambda: cut_fresh_stats(plan()),
    )


def neardup_pairs_bucketed(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.3, k_clusters: int = 4, iters: int = 2,
    scale: int = 1000, round_to: int = 4, salt: int = 16,
    ranked: DataFrame | None = None, probes: int = 1,
) -> DataFrame:
    """(a, b, cos) near-duplicate pairs among SAME-k-means-bucket vectors.

    The scale path for embedding near-dup: the k-means bucket join replaces
    the all-pairs crossJoin — candidate volume is Σ bucket² instead of n²,
    at the documented cost of missing cross-bucket pairs (recall tunes via
    k_clusters; near-duplicates quantize together almost surely).

    The self-join key has only ``k_clusters`` distinct values, so without
    help its parallelism is capped at k_clusters tasks and a big bucket is
    a straggler. The left side is therefore salted (``id % salt``) and the
    right side replicated ``salt``x — the block-join trade: salt x more
    rows shuffled on the replicated side buys salt x the parallelism for
    the per-pair scoring, which dominates. Each pair still arises exactly
    once (a given ``a`` carries one salt value). ``ranked`` accepts a
    prefit quantizer (:func:`kmeans_ranked_cached`).

    ``probes`` > 1 assigns each vector to its ``probes`` nearest clusters
    (the near-dup analog of IVF multi-probe): a pair is found when ANY of
    its bucket assignments overlap, recovering cross-bucket near-dups at
    ~probes² the candidate volume. Multi-assignment can surface the same
    pair through two shared buckets, so candidates are deduplicated on
    (a, b) — id-only rows, a uniform-key shuffle — BEFORE the vectors are
    joined in for scoring; the expensive per-pair fold still runs once per
    pair."""
    if ranked is None:
        ranked = kmeans_ranked(emb, id_col, vec_col, k_clusters, iters, scale)
    if probes > 1:
        # The candidate self-join's key (cid) has only k_clusters distinct
        # values, so — exactly like the 1-probe path below — it is salted:
        # parallelism k_clusters·salt instead of k_clusters, and a hot
        # bucket's Σ bucket² id-pairs spread over `salt` tasks instead of
        # landing on one straggler. Only cheap (id, cid) rows are
        # replicated; vectors join in after the (a, b) distinct.
        buckets = ranked.filter(F.col("__rn") <= probes).select("id", "cid")
        ids_a = buckets.select(
            F.col("id").alias("a"), "cid",
            F.pmod(F.col("id"), F.lit(salt)).alias("__salt"),
        )
        ids_b = buckets.select(
            F.col("id").alias("b"), "cid",
            F.explode(F.expr(f"sequence(0, {salt - 1})")).alias("__salt"),
        )
        pairs = (
            ids_a.join(ids_b, ["cid", "__salt"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        base = _prep_normed(emb, id_col, vec_col, "id", "v", "n")
        va = base.select(F.col("id").alias("a"), F.col("v").alias("va"),
                         F.col("n").alias("na"))
        vb = base.select(F.col("id").alias("b"), F.col("v").alias("vb"),
                         F.col("n").alias("nb"))
        return (
            pairs.join(va, "a").join(vb, "b")
            .withColumn(
                "cos", F.expr(dot_sql("va", "vb")) / (F.col("na") * F.col("nb"))
            )
            .filter(F.col("cos") > threshold)
            .select("a", "b", F.round("cos", round_to).alias("cos"))
        )
    buckets = ranked.filter(F.col("__rn") == 1).select("id", "cid")
    base = _prep_normed(emb, id_col, vec_col, "id", "v", "n").join(buckets, "id")
    a = base.select(
        F.col("id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na"),
        "cid", F.pmod(F.col("id"), F.lit(salt)).alias("__salt"),
    )
    b = base.select(
        F.col("id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb"),
        "cid", F.explode(F.expr(f"sequence(0, {salt - 1})")).alias("__salt"),
    )
    return (
        a.join(b, ["cid", "__salt"])
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cos", F.expr(dot_sql("va", "vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") > threshold)
        .select("a", "b", F.round("cos", round_to).alias("cos"))
    )


def neardup_incremental(
    delta_emb: DataFrame, corpus_ranked: DataFrame, cent: DataFrame,
    corpus_emb: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.3, probes: int = 2, scale: int = 1000,
    round_to: int = 4, salt: int = 16,
) -> DataFrame:
    """(a = delta id, b = corpus id, cos) — embedding near-dup of TODAY'S
    DELTA against a persisted corpus, the ANN sibling of
    ``textdedup.lsh_pairs_incremental``.

    Persisted state (written once, at ingest time): the quantizer model
    ``cent`` (``kmeans_fit`` output, k×dims rows — broadcast-size) and the
    corpus bucket assignments ``corpus_ranked`` ((id, cid, __rn) rows —
    ~probes small rows per document, NOT its vector). Per delta: ONLY the
    delta is quantized and ranked (one broadcast centroid join,
    :func:`assign_ranked`) — no Lloyd re-fit, no corpus re-assignment, no
    corpus vector scan for candidate generation.

    Candidate join: the corpus bucket side is salted by ``pmod(id, salt)``
    and the (small) delta side replicated ``salt``× — the opposite
    orientation from :func:`neardup_pairs_bucketed`, because here the
    corpus side is the big one and replicating it would be the scale
    mistake. Each (a, b) pair still arises once per shared bucket and is
    deduplicated on id-only rows before the corpus VECTORS join in for
    exact cosine scoring (the only stage that touches them, and only for
    candidate ids)."""
    d_assign = assign_ranked(delta_emb, cent, id_col, vec_col, scale)
    dbuckets = d_assign.filter(F.col("__rn") <= probes).select(
        F.col("id").alias("a"), "cid",
        F.explode(F.expr(f"sequence(0, {salt - 1})")).alias("__salt"),
    )
    cbuckets = corpus_ranked.filter(F.col("__rn") <= probes).select(
        F.col("id").alias("b"), "cid",
        F.pmod(F.col("id"), F.lit(salt)).alias("__salt"),
    )
    pairs = dbuckets.join(cbuckets, ["cid", "__salt"]).select("a", "b").distinct()
    va = _prep_normed(delta_emb, id_col, vec_col, "a", "va", "na")
    vb = _prep_normed(corpus_emb, id_col, vec_col, "b", "vb", "nb")
    return (
        pairs.join(va, "a").join(vb, "b")
        .withColumn(
            "cos", F.expr(dot_sql("va", "vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") > threshold)
        .select("a", "b", F.round("cos", round_to).alias("cos"))
    )


def neardup_pairs_cross(
    left: DataFrame, right: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.3, round_to: int = 4,
) -> DataFrame:
    """(a = left id, b = right id, cos) — EXACT left×right cosine pairs.

    O(|L|·|R|) brute baseline, affordable only when both sides are
    small/bounded: it exists to MEASURE the recall of
    :func:`neardup_incremental` (independent of its candidate machinery),
    the delta-vs-corpus analog of :func:`neardup_pairs`."""
    va = _prep_normed(left, id_col, vec_col, "a", "va", "na")
    vb = _prep_normed(right, id_col, vec_col, "b", "vb", "nb")
    return (
        va.crossJoin(vb)
        .withColumn(
            "cos", F.expr(dot_sql("va", "vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") > threshold)
        .select("a", "b", F.round("cos", round_to).alias("cos"))
    )


def neardup_pairs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n: int = 200, threshold: float = 0.3, round_to: int = 4,
) -> DataFrame:
    """(a, b, cos) pairs with cosine above threshold among ids < n.

    Exactness baseline: crossJoin bounded by ``n``; use
    :func:`neardup_pairs_bucketed` for whole-corpus scale."""
    sub = _prep_normed(emb, id_col, vec_col, "id", "v", "nm").filter(F.col("id") < n)
    a = sub.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("nm").alias("na"))
    b = sub.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("nm").alias("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cos", F.expr(dot_sql("va", "vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") > threshold)
        .select("a", "b", F.round("cos", round_to).alias("cos"))
    )


# SemDeDup (Abbas et al. 2023): semantic deduplication inside k-means
# clusters of the embedding space — within each cluster, documents whose
# pairwise cosine exceeds the threshold are duplicates, and the group
# keeps its member with the LOWEST similarity to the cluster centroid
# (the published keep rule: the most "peripheral" exemplar survives).
SEMDEDUP_TAU = 0.3


def semdedup(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    tau: float = SEMDEDUP_TAU, k_clusters: int = 4, iters: int = 2,
    scale: int = 1000, salt: int = 16, cache_key=None,
) -> DataFrame:
    """(id, cid, cent_cos, kept): SemDeDup over the shared integer k-means
    quantizer. A vector is DROPPED iff some same-cluster neighbor with
    pairwise cosine > ``tau`` precedes it in (centroid-cosine, id) order —
    the pairwise-adjacent form of the published keep-lowest-centroid-sim
    rule (deterministic: ties break on id; no iteration needed).

    Engine-exactness: the centroid cosine is computed in the QUANTIZED
    integer space — dot, |x|^2, |c|^2 are exact BIGINTs (64-dim scaled
    values: products stay far below 2^63), so the one float expression
    ``dot / sqrt(nx * nc)`` is a fixed three-op IEEE sequence on exact
    integer inputs that any engine reproduces bit-identically; pair
    cosines reuse :func:`neardup_pairs_bucketed`'s fold, already
    oracle-proven by the embed_neardup battery entries.

    100-TB shape: the quantizer is the fit-once cached model
    (:func:`kmeans_model_cached`); the centroid-similarity pass is one
    quantized-long scan joined to the BROADCAST k x dims centroid table and
    aggregated on the uniform (id) key; candidate pairs come from the
    salted bucketed self-join (parallelism k_clusters x salt, no
    all-pairs); the loser rule is a projection over pairs plus one
    distinct on ids — no connected components, no window over a cluster.
    """
    cent, ranked = kmeans_model_cached(
        emb, id_col, vec_col, k_clusters, iters, scale, cache_key=cache_key
    )
    assign = ranked.filter(F.col("__rn") == 1).select("id", "cid")
    ve = _quantized_long(emb, id_col, vec_col, scale)
    cn = cent.groupBy("cid").agg(
        F.sum(F.col("cval") * F.col("cval")).alias("nc")
    )
    dx = (
        ve.join(assign, "id")
        .join(F.broadcast(cent), ["cid", "pos"])
        .groupBy("id", "cid")
        .agg(
            F.sum(F.col("val") * F.col("cval")).alias("dot"),
            F.sum(F.col("val") * F.col("val")).alias("nx"),
        )
    )
    cs = dx.join(F.broadcast(cn), "cid").select(
        "id",
        "cid",
        (F.col("dot") / F.sqrt((F.col("nx") * F.col("nc")).cast("double"))
         ).alias("cent_cos"),
    )
    pairs = neardup_pairs_bucketed(
        emb, id_col, vec_col, threshold=tau, k_clusters=k_clusters,
        iters=iters, scale=scale, salt=salt, ranked=ranked, probes=1,
    ).select("a", "b")
    ca = cs.select(F.col("id").alias("a"), F.col("cent_cos").alias("cs_a"))
    cb = cs.select(F.col("id").alias("b"), F.col("cent_cos").alias("cs_b"))
    losers = (
        pairs.join(ca, "a")
        .join(cb, "b")
        .select(
            F.when(
                (F.col("cs_a") > F.col("cs_b"))
                | ((F.col("cs_a") == F.col("cs_b")) & (F.col("a") > F.col("b"))),
                F.col("a"),
            )
            .otherwise(F.col("b"))
            .alias("id")
        )
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        cs.join(losers, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cid",
            F.round("cent_cos", 4).alias("cent_cos"),
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bounded ANN scale path
# ---------------------------------------------------------------------------
# Jégou et al. 2011 (IVFADC without the IVF stage; the repo's IVF composes):
# split the vector into M subspaces, k-means each subspace independently,
# store each corpus vector as M small codes. At 100 TB this is THE reason
# PQ exists: a 64-dim float vector is 256 B, its PQ8 code is 8 B — the
# whole corpus index fits in memory where raw vectors cannot. Queries score
# against codes via ADC (asymmetric distance computation): one tiny
# query×centroid lookup table, then a code join — corpus vectors are never
# touched at query time.

PQ_M = 8          # subspaces (64 dims -> 8 dims each)
PQ_KS = 8         # centroids per subspace (3-bit codes here; 8-bit in
                  # production — the plumbing is identical, recall@5 on the
                  # sf0.01 fixture measured 0.275 at ks=4 vs 0.30 at ks=8
                  # for pure ADC, 0.40 vs 0.775 with the shortlist rerank)
PQ_SHORTLIST = 50  # ADC shortlist size the exact rerank reads raw vectors for


def pq_fit(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    m_sub: int = PQ_M, ks: int = PQ_KS, iters: int = 2, scale: int = 1000,
    dims: int = 64, _sub: DataFrame | None = None,
) -> DataFrame:
    """(m, cid, pl, cval): the M per-subspace integer k-means codebooks —
    the PERSISTABLE PQ model (m_sub × ks × sub_dim rows; write once,
    broadcast forever).

    All M Lloyd fits run FUSED in the same two jobs: the subspace index is
    just one more grouping key, so fitting 8 codebooks costs the same two
    corpus passes as fitting one (per iteration: one broadcast-codebook
    assignment aggregate + one mean aggregate). Same exact-integer math as
    :func:`kmeans_fit` (floor(x*scale+0.5) quantization, floor-mean
    updates), so any engine replaying the formulas gets bit-identical
    codebooks. In deployment the fit runs on a sample; encode is the
    corpus-wide pass.
    """
    sd = dims // m_sub
    sub = _sub if _sub is not None else _pq_sub(
        emb, id_col, vec_col, scale, sd
    ).localCheckpoint(eager=True)
    cent = sub.filter(F.col("id") < ks).select(
        "m", F.col("id").cast("int").alias("cid"), "pl",
        F.col("val").alias("cval"),
    )
    for _ in range(iters):
        assign = _pq_assign(sub, cent).filter(F.col("__rn") == 1).select(
            "id", "m", "cid"
        )
        cent = (
            sub.join(assign, ["id", "m"])
            .groupBy("m", "cid", "pl")
            .agg(
                F.expr(
                    "cast(floor(sum(val) * 1.0 / count(1) + 0.5d) as bigint)"
                ).alias("cval")
            )
            .localCheckpoint(eager=True)  # m·ks·sd rows; keeps the plan flat
        )
    return cent


def _pq_sub(
    emb: DataFrame, id_col: str, vec_col: str, scale: int, sub_dim: int
) -> DataFrame:
    """(id, m, pl, val): quantized long form keyed by (subspace, local dim)."""
    return _quantized_long(emb, id_col, vec_col, scale).select(
        "id",
        F.expr(f"pos div {sub_dim}").cast("int").alias("m"),
        F.expr(f"pos % {sub_dim}").cast("int").alias("pl"),
        "val",
    )


def _pq_assign(sub: DataFrame, cent: DataFrame) -> DataFrame:
    """(id, m, cid, dist, __rn): every sub-vector ranked against its
    subspace's codebook — broadcast codebook join, uniform (id, m) keys."""
    d = F.col("val") - F.col("cval")
    w = Window.partitionBy("id", "m").orderBy("dist", "cid")
    return (
        sub.join(F.broadcast(cent), ["m", "pl"])
        .groupBy("id", "m", "cid")
        .agg(F.sum(d * d).alias("dist"))
        .withColumn("__rn", F.row_number().over(w))
    )


def pq_encode(sub: DataFrame, cent: DataFrame) -> DataFrame:
    """(id, m, code): the corpus compressed to M codes per vector — the
    8-bytes-per-document index a 100-TB deployment persists and serves."""
    return (
        _pq_assign(sub, cent)
        .filter(F.col("__rn") == 1)
        .select("id", "m", F.col("cid").alias("code"))
    )


def pq_model_cached(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    m_sub: int = PQ_M, ks: int = PQ_KS, iters: int = 2, scale: int = 1000,
    dims: int = 64, cache_key=None,
) -> tuple:
    """(sub, cent, codes) — the persisted PQ artifacts: the quantized long
    form, the M codebooks, and the corpus CODE table. In a deployment
    cent+codes are written once at ingest (the whole point of PQ: the code
    table is the in-memory serving index); here the fit-once store
    (:mod:`.memo`) stands in so the three battery consumers fit once."""
    def _build():
        sd = dims // m_sub
        sub = _pq_sub(emb, id_col, vec_col, scale, sd).localCheckpoint(
            eager=True
        )
        cent = pq_fit(
            emb, id_col, vec_col, m_sub, ks, iters, scale, dims, _sub=sub
        )
        codes = pq_encode(sub, cent).localCheckpoint(eager=True)
        return sub, cent, codes

    return memo.fit_once(
        emb, cache_key,
        ("pq_model", id_col, vec_col, m_sub, ks, iters, scale, dims), _build,
    )


def _pq_adc_scores(
    emb: DataFrame, id_col: str, vec_col: str, n_queries: int,
    m_sub: int, ks: int, iters: int, scale: int, dims: int,
    cache_key=None,
) -> DataFrame:
    """(qid, nid, acos): every (query, corpus) pair's ADC approximate
    cosine — the shared scoring core of :func:`pq_topk` and
    :func:`pq_topk_rerank`."""
    sub, cent, codes = pq_model_cached(
        emb, id_col, vec_col, m_sub, ks, iters, scale, dims, cache_key
    )
    qsub = sub.filter(F.col("id") < n_queries)
    return _adc_core(qsub, cent, codes, exclude_self=True)


def _adc_core(
    qsub: DataFrame, cent: DataFrame, codes: DataFrame,
    exclude_self: bool = False,
) -> DataFrame:
    """(qid, nid, acos): ADC cosine of every query sub-vector row set
    against a CODE table — shared by the whole-corpus and the
    delta-vs-persisted-model paths."""
    dotq = (
        qsub.join(F.broadcast(cent), ["m", "pl"])
        .groupBy("id", "m", "cid")
        .agg(F.sum(F.col("val") * F.col("cval")).alias("dot"))
        .select(F.col("id").alias("qid"), "m", "cid", "dot")
    )
    cn = cent.groupBy("m", "cid").agg(
        F.sum(F.col("cval") * F.col("cval")).alias("cn2")
    )
    adc = dotq.join(cn, ["m", "cid"])
    qn = (
        qsub.groupBy("id")
        .agg(F.sum(F.col("val") * F.col("val")).alias("qn2"))
        .select(F.col("id").alias("qid"), "qn2")
    )
    adc2 = adc.select(
        "qid", F.col("m").alias("__am"), F.col("cid").alias("__acode"),
        "dot", "cn2",
    )
    scored = (
        codes.join(
            F.broadcast(adc2),
            (F.col("m") == F.col("__am")) & (F.col("code") == F.col("__acode")),
        )
        .groupBy("qid", F.col("id").alias("nid"))
        .agg(F.sum("dot").alias("dot"), F.sum("cn2").alias("nx"))
        .filter(
            (F.col("nid") != F.col("qid")) if exclude_self else F.lit(True)
        )
        .join(F.broadcast(qn), "qid")
        .select(
            "qid",
            "nid",
            (
                F.col("dot")
                / F.sqrt((F.col("nx") * F.col("qn2")).cast("double"))
            ).alias("acos"),
        )
    )
    return scored


PQ_TOPK_SALT = 64   # level-1 sub-groups of the salted exact top-k


def _topk_scored(scored: DataFrame, k: int, salt: int = PQ_TOPK_SALT) -> DataFrame:
    """Exact per-query top-k of (acos DESC, nid ASC) — a salted two-level
    TakeOrdered replacing a ``row_number`` window whose n_queries
    partitions each sorted the WHOLE scored corpus in one task (the
    measured bottleneck of the ANN scaling legs: per-vector throughput
    fell as the corpus grew because the final sort ran at n_queries-way
    parallelism). Level 1 caps each of ``salt`` deterministic sub-groups
    (``pmod(nid, salt)``) to k under a (qid, sub-group)-partitioned
    window — salt× the parallelism, and window sorts SPILL, unlike a
    ``collect_list`` aggregate, which pins each sub-group's full row set
    on the heap (the first cut of this function OOMed the local[16]
    scaling leg exactly that way). Level 2 re-ranks the ≤ salt·k
    survivors per query — bounded rows, the skewed-window cost is gone.
    Salt-invariant (exact), so ``salt`` rises freely with corpus size."""
    return _topk_salted(scored, k, salt, "qid", "nid", "acos")


def _topk_salted(
    df: DataFrame, k: int, salt: int, qid: str, nid: str, score: str
) -> DataFrame:
    """Column-name-generic core of :func:`_topk_scored` — also the final
    selection of :func:`kmeans_ivf_topk`, whose probe buckets are
    corpus-sized at scale and had the same one-task-per-query window."""
    order = (F.col(score).desc(), F.col(nid))
    w1 = Window.partitionBy(qid, F.pmod(nid, F.lit(salt))).orderBy(*order)
    w2 = Window.partitionBy(qid).orderBy(*order)
    return (
        df.withColumn("__rk1", F.row_number().over(w1))
        .filter(F.col("__rk1") <= k)
        .withColumn("__rk2", F.row_number().over(w2))
        .filter(F.col("__rk2") <= k)
        .select(qid, nid, score)
    )


def pq_topk(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_queries: int = 8, k: int = 5, m_sub: int = PQ_M, ks: int = PQ_KS,
    iters: int = 2, scale: int = 1000, dims: int = 64, round_to: int = 4,
    cache_key=None,
) -> DataFrame:
    """(query_id, neighbor_id, acos): top-k by PQ-ADC approximate cosine.

    ADC: the reconstructed dot product is Σ_m dot(q_m, codebook[m][code_m])
    and the reconstructed norm is Σ_m |codebook[m][code_m]|² — both read
    from a (n_queries · M · ks)-row lookup table built once per query
    batch, broadcast onto the CODE table. Corpus vectors are never read at
    query time; the only corpus-shaped work is the uniform-key
    (query, neighbor) aggregate over M code rows. Exactness: every sum is
    BIGINT; acos = dot/sqrt(nx·nq) is one fixed 3-op IEEE expression on
    exact integers (the semdedup recipe), ties rank by neighbor_id.
    """
    scored = _pq_adc_scores(
        emb, id_col, vec_col, n_queries, m_sub, ks, iters, scale, dims,
        cache_key=cache_key,
    )
    return _topk_scored(scored, k).select(
        F.col("qid").alias("query_id"),
        F.col("nid").alias("neighbor_id"),
        F.round("acos", round_to).alias("acos"),
    )


def pq_topk_rerank(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_queries: int = 8, k: int = 5, shortlist: int = PQ_SHORTLIST,
    m_sub: int = PQ_M, ks: int = PQ_KS, iters: int = 2, scale: int = 1000,
    dims: int = 64, round_to: int = 4, cache_key=None,
) -> DataFrame:
    """(query_id, neighbor_id, cos): the production PQ pipeline — the code
    index prunes the corpus to an ADC ``shortlist`` per query, then EXACT
    cosine re-ranks the shortlist from raw vectors. At 100 TB this is the
    point of PQ: the in-memory code table does the n-scale work; raw
    vectors are fetched for shortlist·n_queries rows only. The rerank uses
    the same float fold as :func:`brute_force_topk` (oracle-proven), so
    the final scores are EXACT cosines, and recall is governed by the
    shortlist size instead of the code resolution."""
    scored = _pq_adc_scores(
        emb, id_col, vec_col, n_queries, m_sub, ks, iters, scale, dims,
        cache_key=cache_key,
    )
    short = _topk_scored(scored, shortlist).select("qid", "nid")
    qv = _prep_normed(emb, id_col, vec_col, "qid", "qv", "qn").filter(
        F.col("qid") < n_queries
    )
    nv = _prep_normed(emb, id_col, vec_col, "nid", "nv", "nn")
    rer = (
        short.join(F.broadcast(qv), "qid")
        .join(nv, "nid")
        .withColumn(
            "cos", F.expr(dot_sql("qv", "nv")) / (F.col("qn") * F.col("nn"))
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        rer.withColumn("__rk2", F.row_number().over(w2))
        .filter(F.col("__rk2") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.round("cos", round_to).alias("cos"),
        )
    )


def pq_delta_topk(
    delta: DataFrame, cent: DataFrame, codes: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding", k: int = 5,
    m_sub: int = PQ_M, scale: int = 1000, dims: int = 64,
    round_to: int = 4,
) -> DataFrame:
    """(query_id, neighbor_id, acos): the INCREMENTAL PQ mode — today's
    delta vectors searched against yesterday's persisted model (the sixth
    member of the delta-vs-corpus family: exact digests, paragraphs,
    MinHash-LSH, SimHash, embedding ANN, and now PQ).

    Only the DELTA is quantized and folded into the ADC lookup (one
    broadcast codebook join over delta·M·ks rows); the corpus side is the
    persisted CODE table — the corpus's raw vectors and its codes are
    never recomputed, exactly as the 100-TB serving path requires. No
    Lloyd pass, no self-exclusion (delta and corpus ids are disjoint by
    construction; a re-crawled id SHOULD match its stored self)."""
    sd = dims // m_sub
    # materialize the delta's quantized form once: both ADC branches (the
    # lookup dot and the query norm) read it, and the delta is the small
    # side by definition — mirrors the whole-corpus path's cached `sub`
    qsub = _pq_sub(delta, id_col, vec_col, scale, sd).localCheckpoint(
        eager=True
    )
    scored = _adc_core(qsub, cent, codes, exclude_self=False)
    return _topk_scored(scored, k).select(
        F.col("qid").alias("query_id"),
        F.col("nid").alias("neighbor_id"),
        F.round("acos", round_to).alias("acos"),
    )


def semantic_clusters(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 3, tau: float = 0.6, k_clusters: int = 4, iters: int = 2,
    probes: int = 2, ranked: DataFrame | None = None,
    knn: DataFrame | None = None,
) -> DataFrame:
    """(id, cluster_id, is_canonical) — connected components of the
    MUTUAL k-NN graph thresholded at cosine >= ``tau``: the semantic
    clustering step behind cluster-balanced sampling and SemDeDup-style
    pruning (mutuality is the standard density guard — a hub vector that
    merely appears in many k-NN lists does not chain unrelated regions
    unless the relation is reciprocated). ``cluster_id`` = minimum vec id
    in the component; singletons cluster as themselves.

    100-TB shape: the k-NN edges come from :func:`kmeans_ivf_topk` with
    ``n_queries=None`` (IVF candidates from the shared quantizer, salted
    exact per-node top-k — never all-pairs); the mutuality check is one
    self-join of the k·n edge list on uniform (a, b) keys; the component
    iteration (textdedup.connected_components — O(log d) pointer jumping,
    one scalar Observation per iteration) runs on the thresholded pair
    graph only. The corpus-sized side appears once, in the final left
    join that materializes singletons.

    ``knn`` accepts a prebuilt edge list (:func:`knn_edges_cached`) so
    graph consumers share one build — without it the kNN plan executes
    twice right here (fwd and rev both reference it)."""
    if knn is None:
        knn = kmeans_ivf_topk(
            emb, id_col, vec_col, n_queries=None, k=k, k_clusters=k_clusters,
            iters=iters, probes=probes, ranked=ranked,
        )
    e = knn.filter(F.col("cos") >= tau).select(
        F.col("query_id").alias("a"), F.col("neighbor_id").alias("b")
    )
    # top-k lists hold unique (query, neighbor) pairs, so fwd and rev are
    # duplicate-free and the inner join IS the mutual-pair intersection
    fwd = e.filter(F.col("a") < F.col("b"))
    rev = e.filter(F.col("a") > F.col("b")).select(
        F.col("b").alias("a"), F.col("a").alias("b")
    )
    mutual = fwd.join(rev, ["a", "b"]).select("a", "b")
    from .graph import star_contract
    from .textdedup import connected_components

    # mutual-kNN graphs are diameter-prone (near-path chains through
    # embedding space), where min-label propagation needs O(diameter)
    # rounds — measured 35 at sf0.1. Star contraction first: O(log² n)
    # rounds to a star-like graph, then the exact-fixpoint CC finishes
    # in 2-3 (measured: 6 + 3 rounds, 3.6x fewer actions)
    cc = connected_components(star_contract(mutual))
    return (
        emb.select(F.col(id_col).alias("id"))
        .join(cc, "id", "left")
        .select("id", F.coalesce("cc", F.col("id")).alias("cluster_id"))
        .withColumn("is_canonical", F.col("id") == F.col("cluster_id"))
    )


def semantic_clusters_cached(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 3, tau: float = 0.6, k_clusters: int = 4, iters: int = 2,
    probes: int = 2, ranked: DataFrame | None = None,
    knn: DataFrame | None = None, cache_key=None,
) -> DataFrame:
    """Cluster-once semantic clustering: :func:`semantic_clusters`
    materialized and memoized per (application, ``cache_key``, params) —
    the clustering is the expensive fixpoint (CC rounds track component
    diameter), and its consumers (cluster-balanced sampling, SemDeDup
    pruning, per-cluster stats) all read the SAME assignment in
    production. Memoized in the one fit-once store (:mod:`.memo`);
    ``memo.clear`` releases."""
    from .ckpt import cut_fresh_stats

    def plan():
        return semantic_clusters(
            emb, id_col, vec_col, k, tau, k_clusters, iters, probes,
            ranked, knn,
        )

    if cache_key is None:
        return plan()
    return memo.fit_once(
        emb, cache_key,
        ("semantic_clusters", id_col, vec_col, k, tau, k_clusters, iters,
         probes),
        lambda: cut_fresh_stats(plan()),
    )


def cluster_balanced_sample(clusters: DataFrame, cap: int) -> DataFrame:
    """(id, cluster_id, rk) — at most ``cap`` members per cluster, chosen
    by the deterministic hash order ``(hash32(id), id)``: the diversity
    sampler that consumes :func:`semantic_clusters` (cluster-balanced
    corpus construction — every semantic region contributes equally, mega
    clusters of boilerplate are capped instead of dominating the mix).

    Membership depends only on the row id, never on partitioning or scan
    order — reruns and the DuckDB oracle keep the identical set (the
    ``balanced_sample`` contract; this is its exact-cap sibling for the
    many-tiny-groups regime, where the rate-based modulo sampler would
    over/undershoot small clusters).

    100-TB shape: one row_number window partitioned by cluster_id —
    millions of cluster-sized partitions; Spark's WindowGroupLimit
    pushdown evaluates ``rk <= cap`` map-side, so each partition ships at
    most ``cap`` rows per input partition into the window exchange even
    for a mega-cluster."""
    from .textdedup import HASH32

    w = Window.partitionBy("cluster_id").orderBy(
        F.expr(HASH32.format(col="cast(id as string)")), F.asc("id")
    )
    return (
        clusters.select("id", "cluster_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
    )


# sign-random-projection (hyperplane) LSH family — Charikar 2002. The
# hyperplanes are md5-derived integer weight vectors (model constants,
# generated driver-side and embedded as literals in the plan AND the
# oracle SQL), and the projections are exact int64 dot products over the
# shared x1000 quantization, so every bit — and therefore every bucket —
# is cross-engine deterministic.
SRP_PLANES = 16     # hyperplanes = code bits
SRP_BAND_BITS = 8   # bits per LSH band (16/8 = 2 bands)
SRP_WMOD = 2001     # weights uniform in [-1000, 1000]


def srp_weights(
    n_planes: int = SRP_PLANES, dim: int = 64, mod: int = SRP_WMOD,
) -> list[list[int]]:
    """n_planes × dim integer hyperplane weights, md5("srp-h-d")-derived."""
    import hashlib

    half = (mod - 1) // 2
    return [
        [
            int(hashlib.md5(f"srp-{h}-{d}".encode()).hexdigest()[:8], 16)
            % mod - half
            for d in range(dim)
        ]
        for h in range(n_planes)
    ]


def srp_codes(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = SRP_PLANES, dim: int = 64, scale: int = 1000,
) -> DataFrame:
    """(id, code) — the SRP bit code: bit h = (v_int · w_h >= 0), packed
    into one BIGINT. Vectors quantize exactly like the k-means quantizer
    (floor(x·scale + 0.5)), so the dot products are exact int64 (max
    |sum| ≈ dim · scale·|x| · 1000 « 2^63) and the sign — hence the
    bucket — can never drift between engines or runs.

    100-TB shape: pure map-side codegen over the corpus scan — zero
    exchanges, zero Python; the 16×64 weight table folds into the
    compiled expression as literals (``zip_with``/``aggregate``)."""
    w = srp_weights(n_planes, dim)
    quant = (
        f"transform({vec_col}, x -> "
        f"cast(floor(cast(x as double) * {scale} + 0.5d) as bigint))"
    )
    terms = []
    for h in range(n_planes):
        arr = "array(" + ",".join(f"{v}L" for v in w[h]) + ")"
        dot = (
            f"aggregate(zip_with(__q, {arr}, (x, y) -> x * y), "
            f"0L, (a, x) -> a + x)"
        )
        terms.append(f"(case when {dot} >= 0 then {1 << h}L else 0L end)")
    return (
        emb.select(F.col(id_col).alias("id"), F.expr(quant).alias("__q"))
        .select("id", F.expr(" + ".join(terms)).alias("code"))
    )


def _srp_bands(
    codes: DataFrame, n_planes: int = SRP_PLANES,
    band_bits: int = SRP_BAND_BITS,
) -> DataFrame:
    """(id, band, bv) from an (id, code) table — pure shift/mask
    projection of the STORED code (no vector read), so banding a
    persisted corpus code table costs one narrow explode."""
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    return codes.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"b -> shiftright(code, b * {band_bits}) & {mask}L)"
            )
        ).alias("band", "bv"),
    )


def srp_pairs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    tau: float = 0.3, n_planes: int = SRP_PLANES,
    band_bits: int = SRP_BAND_BITS, dim: int = 64, scale: int = 1000,
    round_to: int = 4,
) -> DataFrame:
    """(a, b, cos) — near-duplicate candidate pairs from banded SRP codes,
    verified by exact cosine > ``tau`` (strict, the near-dup house
    convention). The third ANN candidate family
    beside the IVF quantizer and PQ: data-independent (no fit pass — new
    shards code themselves with the same literal hyperplanes, which is
    what makes SRP the incremental-ingest-friendly family), recall tuned
    by band width (fewer bits/band = more candidates) and band count.

    100-TB shape: codes are map-side only (see :func:`srp_codes`); the
    banded self-join exchanges id-only rows on uniform (band, band-value)
    keys — band values are hash-like so residual skew is AQE's skew-join
    case, and narrowing ``band_bits`` trades bucket size against recall
    exactly like the MinHash LSH band knob; vectors attach to the deduped
    (a, b) id pairs afterward, so the wide rows never enter the candidate
    exchange (the embed_neardup_ann layout)."""
    bands = _srp_bands(
        srp_codes(emb, id_col, vec_col, n_planes, dim, scale),
        n_planes, band_bits,
    )
    cand = (
        bands.select("band", "bv", F.col("id").alias("a"))
        .join(bands.select("band", "bv", F.col("id").alias("b")), ["band", "bv"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = _prep_normed(emb, id_col, vec_col, "a", "av", "an")
    vb = _prep_normed(emb, id_col, vec_col, "b", "bv2", "bn")
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn(
            "cos", F.expr(dot_sql("av", "bv2")) / (F.col("an") * F.col("bn"))
        )
        .filter(F.col("cos") > tau)
        .select("a", "b", F.round("cos", round_to).alias("cos"))
    )


def srp_pairs_incremental(
    delta: DataFrame, corpus_codes: DataFrame, corpus_vecs: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding", tau: float = 0.3,
    n_planes: int = SRP_PLANES, band_bits: int = SRP_BAND_BITS,
    dim: int = 64, scale: int = 1000, round_to: int = 4,
) -> DataFrame:
    """(a = delta id, b = corpus id, cos) — delta-vs-corpus SRP near-dup:
    the SEVENTH member of the delta-vs-corpus incremental family (exact
    digests, paragraphs, MinHash-LSH, SimHash, IVF embedding ANN, PQ).

    This is where the family's data-independent member pays off: the
    delta codes itself with the same literal hyperplanes — NO model to
    refit, NO quantizer to probe, and (unlike the IVF/PQ incrementals)
    the incremental result is EXACTLY the full-recompute result
    restricted to delta×corpus pairs, because a vector's code never
    depends on what else is in the corpus (unit-proven). The corpus side
    is a persisted ``(id, code)`` table — ONE bigint per vector, banded
    by pure shift/mask projection (:func:`_srp_bands`), no corpus vector
    read; corpus vectors join in only to cosine-verify the surviving
    candidate ids. Delta-internal pairs are not emitted (run
    :func:`srp_pairs` on the delta alone — same codes, same planes).

    Shuffle shape: both band sides exchange id-only rows on the uniform
    (band, band-value) key; the delta side is small by definition, so
    AQE broadcasts it in practice."""
    dbands = _srp_bands(
        srp_codes(delta, id_col, vec_col, n_planes, dim, scale),
        n_planes, band_bits,
    )
    cbands = _srp_bands(corpus_codes, n_planes, band_bits)
    cand = (
        dbands.withColumnRenamed("id", "a")
        .join(cbands.withColumnRenamed("id", "b"), ["band", "bv"])
        .select("a", "b")
        .distinct()
    )
    va = _prep_normed(delta, id_col, vec_col, "a", "av", "an")
    vb = _prep_normed(corpus_vecs, id_col, vec_col, "b", "bv2", "bn")
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn(
            "cos", F.expr(dot_sql("av", "bv2")) / (F.col("an") * F.col("bn"))
        )
        .filter(F.col("cos") > tau)
        .select("a", "b", F.round("cos", round_to).alias("cos"))
    )


def srp_codes_cached(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = SRP_PLANES, dim: int = 64, scale: int = 1000,
    cache_key=None,
) -> DataFrame:
    """Fit-once (id, code) table — :func:`srp_codes` materialized and
    memoized in the one fit-once store (:mod:`.memo`).
    In a deployment this is the persisted corpus code table — one BIGINT
    per vector, written once at ingest; :func:`srp_pairs_incremental`
    probes it without reading a single corpus vector."""
    if cache_key is None:
        return srp_codes(emb, id_col, vec_col, n_planes, dim, scale)
    return memo.fit_once(
        emb, cache_key, ("srp_codes", id_col, vec_col, n_planes, dim, scale),
        lambda: srp_codes(
            emb, id_col, vec_col, n_planes, dim, scale
        ).localCheckpoint(eager=True),
    )


# Semantic benchmark decontamination (the embedding-space sibling of
# textdedup.contamination_flags' n-gram pass): Llama 3 / Phi-style eval-set
# decontamination flags any training document whose embedding is too close
# to ANY benchmark embedding — catching paraphrases and translations the
# lexical 8-gram pass misses.
DECON_SEM_TAU = 0.3


def contamination_semantic(
    corpus: DataFrame, bench: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bench_id_col: str = "bench_id", bench_vec_col: str = "embedding",
    tau: float = DECON_SEM_TAU, round_to: int = 4,
) -> DataFrame:
    """Flag training vectors with cosine >= ``tau`` against any benchmark
    vector — semantic eval-set decontamination over the embedding column.

    Returns one row per CONTAMINATED corpus vector:
    ``(id_col, n_bench_hits, bench_min, max_cos)`` where ``n_bench_hits``
    counts benchmark vectors within ``tau``, ``bench_min`` is the lowest
    matching benchmark id (deterministic exemplar), and ``max_cos`` is the
    strongest match rounded to ``round_to``; the caller anti-joins to drop
    or audit (the same consumption contract as the n-gram pass).

    Engine-exactness: both engines fold the same array order with the same
    IEEE double ops (``dot / (na * nb)``), so the raw cosines are
    bit-identical; the ``>= tau`` gate, COUNT, MIN, and MAX therefore agree
    exactly, and rounding happens once at the end.

    100-TB shape: the benchmark side is small BY DEFINITION (an eval set —
    thousands of rows), so it is explicitly broadcast and the corpus is
    scanned ONCE with a map-side nested-loop score + filter; the only
    shuffle is the per-document aggregate on the uniform id key (partial
    combine map-side). If the "benchmark" ever outgrows broadcast, this
    becomes a delta-vs-corpus candidate problem — exactly what
    :func:`srp_pairs_incremental` / :func:`neardup_incremental` solve.
    """
    va = _prep_normed(corpus, id_col, vec_col, "id", "v", "nm")
    vb = _prep_normed(bench, bench_id_col, bench_vec_col, "b", "bv", "bn")
    hits = (
        va.crossJoin(F.broadcast(vb))
        .withColumn(
            "cos", F.expr(dot_sql("v", "bv")) / (F.col("nm") * F.col("bn"))
        )
        .filter(F.col("cos") >= tau)
    )
    return (
        hits.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_hits"),
            F.min("b").alias("bench_min"),
            F.round(F.max("cos"), round_to).alias("max_cos"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_bench_hits", "bench_min", "max_cos",
        )
    )


# FineWeb-Edu-style model-based quality scoring: a linear regression head
# over the document's PRECOMPUTED embedding, bucketed into the published
# 0..5 educational-value scale (keep >= 3). The head's weights here are
# md5-derived integers so both engines reproduce the decision bit-exactly
# without shipping a training artifact — the deployment swaps in real
# learned weights; the plan shape (zero-exchange map-side fold over the
# vector column) is identical either way.
EDU_W_SPAN = 17        # integer weights in [-8, 8]
EDU_W_TAG = "edu#"     # weight-derivation salt
EDU_SHIFT = 12_000     # bucket = clamp((score + SHIFT) div WIDTH, 0, 5)
EDU_WIDTH = 4_000
EDU_KEEP_MIN = 3       # FineWeb-Edu's published keep threshold


def edu_weights(dim: int = 64) -> list[int]:
    """The md5-derived integer weight vector (Python-side constant,
    interpolated as a plan literal into BOTH engines — the
    lsh_bucket_stats single-constant lesson applied to a whole model)."""
    import hashlib

    return [
        int(hashlib.md5(f"{EDU_W_TAG}{d}".encode()).hexdigest()[:8], 16)
        % EDU_W_SPAN - (EDU_W_SPAN - 1) // 2
        for d in range(dim)
    ]


def edu_scores(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, scale: int = 1000,
) -> DataFrame:
    """(id, score, edu_score, keep): the FineWeb-Edu quality gate over the
    embedding column. ``score`` is the exact-BIGINT dot product of the
    quantized vector (``floor(x * scale + 0.5)`` — the k-means oracle's
    proven quantization) with the literal weight vector; ``edu_score``
    clamps ``(score + EDU_SHIFT) div EDU_WIDTH`` into 0..5 (the dividend is
    clamped non-negative FIRST, so truncating and flooring division agree
    across engines); ``keep = edu_score >= EDU_KEEP_MIN``.

    100-TB shape: ZERO exchanges — the model rides the plan as a
    ``dim``-element literal array, the fold is one whole-stage-codegen
    ``zip_with``+``aggregate`` per row, and every downstream compare is
    BIGINT. This is the FineWeb-Edu recipe's entire scale story: once
    embeddings exist, classifier inference is a map-side projection.
    """
    w = edu_weights(dim)
    wlit = "array(" + ", ".join(f"{x}L" for x in w) + ")"
    q = (
        f"transform({vec_col}, x -> "
        f"cast(floor(cast(x as double) * {scale} + 0.5d) as bigint))"
    )
    score = (
        f"aggregate(zip_with({q}, {wlit}, (x, y) -> x * y), "
        f"0L, (acc, x) -> acc + x)"
    )
    return emb.select(
        F.col(id_col).alias("id"),
        F.expr(score).alias("score"),
    ).select(
        "id", "score",
        F.least(
            F.lit(5).cast("long"),
            F.expr(f"greatest(0L, score + {EDU_SHIFT}) div {EDU_WIDTH}"),
        ).alias("edu_score"),
    ).select(
        F.col("id").alias(id_col), "score", "edu_score",
        (F.col("edu_score") >= EDU_KEEP_MIN).alias("keep"),
    )
