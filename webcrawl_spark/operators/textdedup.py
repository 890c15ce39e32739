"""Text deduplication operators for training-data pipelines, all JVM-side
(whole-stage-codegen column expressions — no Python in the hot path).

- exact dedup: hash-groupBy on a content digest.
- MinHash: k-shingles → 32-bit base hash (md5-prefix, reproducible in any
  engine) → ``num_hashes`` affine permutations → ``array_min``; LSH banding
  buckets signatures, a bucket self-join yields candidate pairs.
- SimHash: per-token hash sign-sums per bit position.
- n-gram Jaccard: set intersection/union over shingle arrays.

At 100 TB each of these is a shuffle-on-digest/bucket groupBy whose keys are
uniform hashes — no skew by construction; LSH bucket join replaces the
quadratic all-pairs comparison with per-bucket micro-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import memo

# 32-bit base hash from a cross-engine-stable digest: first 8 md5 hex chars.
# (conv returns a string; arithmetic is exact below 2^53 and results are
# cast back to bigint.)
HASH32 = "cast(conv(substr(md5({col}), 1, 8), 16, 10) as bigint)"

# affine permutation constants (deterministic, engine-independent).
# A < 2^20 keeps A*H below 2^52: exact in int64 AND in float64, so any
# engine evaluating the same formula gets bit-identical minhashes.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
MINHASH_A = [999983, 999979, 999961, 999959, 999953, 999931, 999917, 999907]
MINHASH_B = [15485863, 32452843, 49979687, 67867967,
             86028121, 104395301, 122949823, 141650939]


def shingles_sql(col: str, k: int = 5) -> str:
    """Distinct character k-shingles of ``col`` (Spark SQL, codegen)."""
    return (
        f"array_distinct(transform("
        f"sequence(1, greatest(length({col}) - {k - 1}, 1)), "
        f"i -> substring({col}, i, {k})))"
    )


def minhash_sql(col: str, j: int, k: int = 5) -> str:
    """j-th MinHash of ``col``'s k-shingle set (standalone form; for several
    hashes at once use :func:`minhash_array_sql` — it runs the md5 pass once)."""
    h = HASH32.format(col="s")
    return (
        f"cast(array_min(transform({shingles_sql(col, k)}, "
        f"s -> ({MINHASH_A[j]} * {h} + {MINHASH_B[j]}) % {MINHASH_PRIME})) as bigint)"
    )


def shingle_hashes_sql(col: str, k: int = 5) -> str:
    """32-bit base hashes of ``col``'s distinct k-shingles."""
    h = HASH32.format(col="s")
    return f"transform({shingles_sql(col, k)}, s -> {h})"


def minhash_array_sql(col: str, num_hashes: int, k: int = 5) -> str:
    """``array<bigint>`` of all ``num_hashes`` MinHashes as a single column
    expression (the shingle-hash array is bound to a lambda variable so
    projection collapse cannot duplicate the md5 scan per hash function).

    Expression form only — higher-order functions are interpreted
    (CodegenFallback), which made this 3-8x slower than
    :func:`minhash_wide`'s generator+aggregate form in practice; the
    pipeline entry points use that instead."""
    mins = ", ".join(
        f"cast(array_min(transform(hs, h -> "
        f"({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {MINHASH_PRIME})) as bigint)"
        for j in range(num_hashes)
    )
    return f"transform(array({shingle_hashes_sql(col, k)}), hs -> array({mins}))[0]"


def _shingle_hash_rows(
    docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, h0): one row per k-shingle OCCURRENCE, 32-bit base hash.

    Whole-stage-codegen throughout: the shingle positions come from an
    exploded ``sequence`` (a generator, not a higher-order function) and the
    md5 hash is computed once per occurrence in a collapsed projection.
    No distinct pass — MIN aggregation is idempotent over duplicate
    shingles, so deduplication would only add a shuffle."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("__t"),
            F.explode(
                F.expr(f"sequence(1, greatest(length({text_col}) - {k - 1}, 1))")
            ).alias("i"),
        )
        .select("id", F.expr(HASH32.format(col=f"substring(__t, i, {k})")).alias("h0"))
    )


def minhash_wide(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, k: int = 5,
) -> DataFrame:
    """(id, sig ``array<bigint>``) wide MinHash signatures.

    The scale form: explode shingles as generator rows, hash each occurrence
    once, and take the ``num_hashes`` affine mins as aggregate functions —
    the whole pipeline stays inside WholeStageCodegen and the groupBy
    partial-aggregates map-side (each task ships ≤ ``num_hashes`` values
    per id into the single uniform-key shuffle)."""
    rows = _shingle_hash_rows(docs, text_col, id_col, k)
    aggs = [
        F.min(
            F.expr(f"({MINHASH_A[j]} * h0 + {MINHASH_B[j]}) % {MINHASH_PRIME}")
        ).cast("bigint").alias(f"__mh{j}")
        for j in range(num_hashes)
    ]
    return rows.groupBy("id").agg(*aggs).select(
        "id", F.array(*[f"__mh{j}" for j in range(num_hashes)]).alias("sig")
    )


def minhash_wide_cached(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, k: int = 5, cache_key=None,
) -> DataFrame:
    """Fit-once signature model: :func:`minhash_wide` materialized (eager
    lineage cut) and memoized in the one fit-once store (:mod:`.memo`).
    The signature pass (md5 per shingle occurrence + the min-aggregate
    shuffle) dominates every MinHash consumer, so LSH pairs, star-edge
    clustering, and Jaccard verification over one corpus should compute it
    ONCE. ``cache_key`` must identify the input (e.g. its path); ``None``
    returns the plan unmaterialized. ``memo.clear`` releases."""
    if cache_key is None:
        return minhash_wide(docs, text_col, id_col, num_hashes, k)
    return memo.fit_once(
        docs, cache_key, ("minhash_wide", text_col, id_col, num_hashes, k),
        lambda: minhash_wide(
            docs, text_col, id_col, num_hashes, k
        ).localCheckpoint(eager=True),
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Digest groups with >1 member: (digest, keeper, n_dups).

    NULL-text rows have no content to be duplicates of and are excluded —
    without the filter they'd all share the NULL digest and be reported as
    one bogus duplicate group."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col).alias("id"))
        .groupBy("digest")
        .agg(F.min("id").alias("keeper"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def corpus_digests(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct content digests ``(digest)`` of a corpus — the persisted
    side-table :func:`dedup_exact_incremental` probes (written once at
    ingest; append each delta's NEW digests after cleaning). One 32-hex
    row per distinct document body; NULL-text rows contribute nothing."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("digest"))
        .distinct()
    )


def dedup_exact_incremental(
    delta_docs: DataFrame,
    corpus_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-digest member of the incremental family (LSH:
    :func:`lsh_pairs_incremental`, SimHash: :func:`simhash_pairs_incremental`,
    paragraphs: :func:`paragraph_dedup_incremental`, embeddings:
    ``similarity.neardup_incremental``): classify TODAY'S DELTA against
    yesterday's persisted digest table — ``(id, digest, keep)`` where a
    delta row survives iff its digest is absent from the corpus AND it is
    the delta's first copy (min id per digest). NULL-text rows have no
    content to collide on and always survive.

    100-TB shape: the corpus's text is never read — only its digest
    table; both probes (membership anti-join + within-delta min-id
    group) shuffle on the uniform md5 key, and the delta side is small
    by definition so AQE broadcasts it against the big stored table.
    """
    d = delta_docs.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("digest")
    )
    hits = corpus_digests.select("digest").distinct().withColumn("__hit", F.lit(True))
    first = d.filter(F.col("digest").isNotNull()).groupBy("digest").agg(
        F.min("id").alias("__first")
    )
    return (
        d.join(hits, "digest", "left")
        .join(first, "digest", "left")
        .select(
            F.col("id").alias(id_col),
            "digest",
            (
                F.col("digest").isNull()
                | (F.col("__hit").isNull() & (F.col("id") == F.col("__first")))
            ).alias("keep"),
        )
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, k: int = 5, cache_key=None,
) -> DataFrame:
    """Long-form signatures: (id, h, minhash) — one row per hash function."""
    sig = minhash_wide_cached(docs, text_col, id_col, num_hashes, k, cache_key)
    return sig.select(
        "id", F.posexplode("sig").alias("h", "minhash")
    )


def lsh_buckets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bands: int = 4, rows_per_band: int = 2, k: int = 5,
    cache_key=None,
) -> DataFrame:
    """(id, bucket) membership — bucket key = band index + the band's row
    hashes concatenated. ONE signature pass + one explode (the per-band
    union of the naive formulation would recompute the md5 scan per band).
    ``cache_key`` shares the signature materialization across consumers
    (:func:`minhash_wide_cached`)."""
    nh = bands * rows_per_band
    sig = minhash_wide_cached(docs, text_col, id_col, nh, k, cache_key=cache_key)
    return sig_buckets(sig, bands, rows_per_band)


def sig_buckets(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, bucket) banding of a PRE-COMPUTED signature table
    (id, sig ``array<bigint>``) — a pure projection + explode over stored
    values: no shingle scan, no md5. This is the banding every LSH consumer
    applies, and the corpus side of :func:`lsh_pairs_incremental` (whose
    whole point is that the persisted corpus is never re-signatured)."""
    row_refs = ", ".join(
        f"cast(sig[b * {rows_per_band} + {r}] as string)"
        for r in range(rows_per_band)
    )
    band_expr = (
        f"transform(sequence(0, {bands - 1}), "
        f"b -> concat_ws(':', cast(b as string), {row_refs}))"
    )
    return sigs.select("id", F.explode(F.expr(band_expr)).alias("bucket"))


def _cap_buckets(buckets: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Deterministic bucket truncation to the ``max_bucket_size`` lowest ids
    (linearithmic window sort); ``None`` = no cap."""
    if max_bucket_size is None:
        return buckets
    w = Window.partitionBy("bucket").orderBy("id")
    return (
        buckets.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket_size)
        .drop("__rn")
    )


def lsh_candidate_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bands: int = 4, rows_per_band: int = 2, k: int = 5,
    max_bucket_size: int | None = 1000,
    cache_key=None,
) -> DataFrame:
    """MinHash-LSH candidate pairs (a < b) via banded bucket self-join.

    Docs sharing any bucket become a candidate pair (``distinct`` across
    bands). ``max_bucket_size`` is the skew armor: a degenerate bucket
    (boilerplate-heavy corpus) otherwise goes quadratic in the self-join;
    buckets are deterministically truncated to their ``max_bucket_size``
    lowest ids first (linearithmic window sort — for dedup purposes the
    kept members still mark the group; use
    :func:`lsh_bucket_stats` to report what was dropped). ``None`` = no cap.
    """
    buckets = _cap_buckets(
        lsh_buckets(docs, text_col, id_col, bands, rows_per_band, k, cache_key),
        max_bucket_size,
    )
    left = buckets.withColumnRenamed("id", "a")
    right = buckets.withColumnRenamed("id", "b")
    return (
        left.join(right, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def lsh_pairs_incremental(
    delta_docs: DataFrame, corpus_sigs: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
    bands: int = 4, rows_per_band: int = 2, k: int = 5,
    max_bucket_size: int | None = 1000,
    cache_key=None,
) -> DataFrame:
    """Delta-vs-corpus LSH candidate pairs: (a = delta id, b = corpus id).

    The 100-TB operational mode of near-dup dedup is not "re-pair the whole
    corpus" but "pair TODAY'S DELTA against yesterday's 100 TB": signatures
    are computed ONLY for the delta; the corpus side is a persisted
    signature table (id, sig ``array<bigint>`` — ~8 bigints per document
    instead of its text, written once when each document was first
    ingested), and its banding is a pure projection/explode of stored
    values (:func:`sig_buckets`) — no shingle scan, no md5, no corpus text
    read at all. This is the dedup analog of the crawl frontier's
    seen-set anti-join (SURVEY §2 op 10): new work probes a persisted
    uniform-key structure instead of recomputing the world.

    Shuffle shape: both sides exchange on the uniform ``bucket`` key; only
    (id, bucket) rows move. ``max_bucket_size`` caps each side's buckets
    independently (lowest ids first, deterministic), so a boilerplate
    mega-bucket on the corpus side cannot go quadratic against a delta
    that also hits it; use :func:`lsh_bucket_stats` on either side for
    truncation accounting. A capped delta side makes the result depend on
    how documents are split into deltas; ``max_bucket_size=None`` uncaps
    both sides, and is the batch-split-invariant setting (each document's
    pairs then depend only on its own signature and the corpus).
    Delta-internal pairs are NOT emitted — run
    :func:`lsh_candidate_pairs` on the delta alone for those (it shares
    the same signature materialization via ``cache_key``)."""
    nh = bands * rows_per_band
    dsig = minhash_wide_cached(
        delta_docs, text_col, id_col, nh, k, cache_key=cache_key
    )
    dbuckets = _cap_buckets(
        sig_buckets(dsig, bands, rows_per_band), max_bucket_size
    )
    cbuckets = _cap_buckets(
        sig_buckets(corpus_sigs, bands, rows_per_band), max_bucket_size
    )
    return (
        dbuckets.withColumnRenamed("id", "a")
        .join(cbuckets.withColumnRenamed("id", "b"), "bucket")
        .select("a", "b")
        .distinct()
    )


def lsh_bucket_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bands: int = 4, rows_per_band: int = 2, k: int = 5,
    max_bucket_size: int = 1000,
    cache_key=None,
) -> DataFrame:
    """Per-capped-bucket accounting: (bucket, size, dropped) for buckets over
    the cap — surfacing truncation instead of silently under-reporting."""
    return (
        lsh_buckets(docs, text_col, id_col, bands, rows_per_band, k, cache_key)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("size"))
        .filter(F.col("size") > max_bucket_size)
        .withColumn("dropped", F.col("size") - F.lit(max_bucket_size))
    )


def lsh_star_edges(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bands: int = 4, rows_per_band: int = 2, k: int = 5,
    max_bucket_size: int | None = 1000,
    cache_key=None,
) -> DataFrame:
    """(a, b) star edges per LSH bucket: every member connects to the
    bucket's MINIMUM id. For CLUSTERING this is connectivity-equivalent to
    the full bucket self-join (any two members of a bucket are linked
    through its min), at Σ bucket-size edges instead of Σ bucket-size² —
    the boilerplate mega-bucket that forces :func:`lsh_candidate_pairs` to
    cap and truncate costs a star here, so no cap is needed and no member
    is dropped. Use the pair form when per-pair similarity must be scored;
    use this when only the partition into clusters matters."""
    buckets = _cap_buckets(
        lsh_buckets(docs, text_col, id_col, bands, rows_per_band, k, cache_key),
        max_bucket_size,
    )
    mins = buckets.groupBy("bucket").agg(F.min("id").alias("a"))
    return (
        buckets.join(mins, "bucket")
        .filter(F.col("id") != F.col("a"))
        .select("a", F.col("id").alias("b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 100,
) -> DataFrame:
    """(id, cc) — connected components of the undirected candidate-pair
    graph; ``cc`` = the minimum node id in the component. This is the step
    that turns LSH candidate PAIRS into dedup CLUSTERS (pairs alone cannot
    say which docs to drop: near-dup relations chain, a~b~c).

    Min-label propagation with pointer jumping: each iteration (1) pulls
    the minimum label across graph neighbors, (2) compresses label chains
    one hop (cc := label[cc]). Labels decrease monotonically and the hop
    compression halves chain lengths, so convergence takes O(log d)
    iterations for component diameter d (LSH dup clusters are near-cliques,
    so 2-3 in practice). Each iteration is two uniform-key shuffles
    (node-id keys — no skew) and exactly ONE action: the fixpoint sum
    rides the label checkpoint job as an Observation. Labels are cut per
    iteration with :func:`ckpt.cut_fresh_stats` — the STATS-resetting
    checkpoint: the iteration body self-joins the labels, and inherited
    size estimates would square per round and overflow BigInteger on the
    driver near iteration 27 (see cut_fresh_stats' docstring; plain
    localCheckpoint here is a measured sf0.1 driver-killer). No
    driver-side graph state — the driver holds one scalar per iteration.
    """
    from pyspark.sql import Observation

    from .ckpt import cut_fresh_stats
    edges = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    # materialize the (small) edge table ONCE — the iterations below must
    # re-read it, never re-derive the upstream candidate pipeline (LSH
    # banding etc.) per iteration
    sym = cut_fresh_stats(edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ))
    # labels only ever decrease (every update is a least()), so the label
    # sum strictly decreases until the fixpoint: an unchanged sum IS
    # convergence — no per-row change join needed. The sum is read from an
    # Observation on the checkpoint job, costing zero extra actions.
    obs0 = Observation()
    lab = cut_fresh_stats(
        sym.select(F.col("u").alias("id")).distinct()
        .select("id", F.col("id").alias("cc"))
        .observe(obs0, F.sum("cc").alias("s"))
    )
    prev_sum = obs0.get["s"]
    for _ in range(max_iter):
        nmin = (
            sym.join(
                lab.select(F.col("id").alias("v"), F.col("cc").alias("vcc")), "v"
            )
            .groupBy("u")
            .agg(F.min("vcc").alias("ncc"))
            .select(F.col("u").alias("id"), "ncc")
        )
        pulled = lab.join(nmin, "id", "left").select(
            "id", F.least("cc", F.coalesce("ncc", "cc")).alias("cc")
        )
        parent = pulled.select(F.col("id").alias("p_id"), F.col("cc").alias("p_cc"))
        obs = Observation()
        lab = cut_fresh_stats(
            pulled.join(parent, pulled["cc"] == parent["p_id"], "left")
            .select("id", F.least("cc", F.coalesce("p_cc", "cc")).alias("cc"))
            .observe(obs, F.sum("cc").alias("s"))
        )
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # returning non-converged labels would silently mislabel clusters
        # (measured: the sf0.1 mutual-kNN graph needs 35 rounds — a
        # max_iter=30 cap shipped wrong answers before this guard)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "the component diameter exceeds the pointer-jump budget — "
            "raise max_iter or use a star-contraction pass first"
        )
    return lab


def dedup_clusters(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bands: int = 4, rows_per_band: int = 2, k: int = 5,
    max_bucket_size: int | None = 1000,
    cache_key=None,
) -> DataFrame:
    """(id, cluster_id, is_canonical) — every document assigned to its
    MinHash-LSH near-duplicate cluster; the cluster's minimum id is the
    canonical survivor (filter ``is_canonical`` to materialize the deduped
    corpus). Docs in no candidate pair are their own singleton cluster via
    the left join — the corpus-sized side is never shuffled through the
    component iteration, only the (much smaller) pair-graph node set is.

    The component graph is built from :func:`lsh_star_edges` (member →
    bucket-min), which partitions identically to the full candidate-pair
    graph at Σ bucket-size instead of Σ bucket-size² edges — near-clique
    dup groups cost linear edges. The cap is threaded through so the
    result matches a pair-graph replay (an over-cap bucket keeps its
    lowest ids, exactly as :func:`lsh_candidate_pairs` reports)."""
    star = lsh_star_edges(
        docs, text_col, id_col, bands, rows_per_band, k, max_bucket_size,
        cache_key,
    )
    cc = connected_components(star)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(cc, "id", "left")
        .select(
            "id",
            F.coalesce("cc", F.col("id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("id") == F.col("cluster_id"))
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """(id, simhash) — 32-bit SimHash over whitespace tokens.

    explode tokens → per-(doc, bit) sign sums → bit-pack. Two shuffles on
    uniform keys; at scale the explode is map-side and the groupBy combines
    partially.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    h = F.expr(HASH32.format(col="tok")).alias("h")
    bit_rows = (
        toks.select("id", h)
        .select(
            "id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bits - 1}), "
                    f"i -> struct(i as i, (shiftright(h, i) & 1) * 2 - 1 as sgn))"
                )
            ).alias("bs"),
        )
        .select("id", F.col("bs.i").alias("i"), F.col("bs.sgn").alias("sgn"))
    )
    return (
        bit_rows.groupBy("id", "i")
        .agg(F.sum("sgn").alias("s"))
        .groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), i)")).otherwise(0)
            ).alias("simhash")
        )
    )


def simhash_cached(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 32, cache_key=None,
) -> DataFrame:
    """Fit-once (id, simhash) table — :func:`simhash` materialized and
    memoized like :func:`minhash_wide_cached`. In a deployment this is a
    persisted parquet/Iceberg table written once at ingest; the
    incremental consumer never recomputes it."""
    if cache_key is None:
        return simhash(docs, text_col, id_col, bits)
    return memo.fit_once(
        docs, cache_key, ("simhash", text_col, id_col, bits),
        lambda: simhash(docs, text_col, id_col, bits).localCheckpoint(eager=True),
    )


def simhash_bands(sigs: DataFrame, bands: int = 4, bits: int = 32) -> DataFrame:
    """(id, bucket) rows: the stored simhash split into ``bands``
    equal-width chunks, each key tagged with its position — a PURE
    PROJECTION of the stored signature (shift+mask, no text, no hashing).

    Pigeonhole guarantee: two signatures within Hamming distance
    ``bands - 1`` differ in at most ``bands - 1`` bits, so at least one of
    the ``bands`` chunks is bit-identical — this blocking is LOSSLESS for
    any ``max_hamming <= bands - 1`` (unlike MinHash-LSH banding, whose
    recall is probabilistic)."""
    if bits % bands != 0:
        # a remainder would leave the top bits in NO chunk — pairs
        # differing only there would be silently missed and the pigeonhole
        # guarantee would be void
        raise ValueError(f"bits ({bits}) must be divisible by bands ({bands})")
    w = bits // bands
    mask = (1 << w) - 1
    return sigs.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), i -> concat("
                f"cast(i as string), ':', "
                f"cast((shiftright(simhash, i * {w}) & {mask}) as string)))"
            )
        ).alias("bucket"),
    )


def simhash_pairs_incremental(
    delta_docs: DataFrame, corpus_sigs: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
    bands: int = 4, bits: int = 32, max_hamming: int = 3,
    max_bucket_size: int | None = 1000,
    cache_key=None,
) -> DataFrame:
    """(a = delta id, b = corpus id, hamming) with hamming <= max_hamming —
    the SimHash member of the incremental-dedup family
    (:func:`lsh_pairs_incremental`, ``similarity.neardup_incremental``).

    SimHash is computed ONLY for the delta; the corpus side is the
    persisted (id, simhash) table (ONE bigint per document instead of its
    text) banded by stored-value projection (:func:`simhash_bands`).
    With ``max_hamming <= bands - 1`` the pigeonhole blocking is exact:
    every qualifying pair shares a band, so the result is IDENTICAL to the
    full delta×corpus Hamming join — at banded-join cost. Both sides
    exchange on the uniform ``bucket`` key; ``max_bucket_size`` caps each
    side deterministically (a degenerate band value — e.g. the all-zeros
    chunk boilerplate pages converge to — cannot go quadratic). Signatures
    join back ONLY for surviving candidate ids to compute the exact
    Hamming distance JVM-side (``bit_count``). The delta signature feeds
    both the banding and the final scoring join — ``cache_key``
    materializes it once (:func:`simhash_cached`) instead of running the
    token pass twice."""
    dsig = simhash_cached(delta_docs, text_col, id_col, bits, cache_key)
    dbuckets = _cap_buckets(simhash_bands(dsig, bands, bits), max_bucket_size)
    cbuckets = _cap_buckets(
        simhash_bands(corpus_sigs, bands, bits), max_bucket_size
    )
    pairs = (
        dbuckets.withColumnRenamed("id", "a")
        .join(cbuckets.withColumnRenamed("id", "b"), "bucket")
        .select("a", "b")
        .distinct()
    )
    ha = dsig.select(F.col("id").alias("a"), F.col("simhash").alias("ha"))
    hb = corpus_sigs.select(
        F.col("id").alias("b"), F.col("simhash").alias("hb")
    )
    return (
        pairs.join(ha, "a").join(hb, "b")
        .withColumn("hamming", F.expr("cast(bit_count(ha ^ hb) as bigint)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, pairs: DataFrame = None,
) -> DataFrame:
    """Jaccard over k-shingle sets.

    ``pairs`` (a, b) supplies the candidate pairs — at scale that is the
    LSH candidate table (:func:`lsh_candidate_pairs`), so the verification
    cost is per-candidate, never all-pairs. Without ``pairs`` the linear
    consecutive-id pairing (a, a+1) serves as the demo baseline.
    """
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.expr(shingles_sql(text_col, k)).alias("sh"),
    )
    if pairs is None:
        a = sh.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
        b = sh.select(
            (F.col("id") - 1).alias("a"), F.col("id").alias("b"),
            F.col("sh").alias("shb"),
        )
        joined = a.join(b, "a")
    else:
        joined = (
            pairs.join(sh.select(F.col("id").alias("a"), F.col("sh").alias("sha")), "a")
            .join(sh.select(F.col("id").alias("b"), F.col("sh").alias("shb")), "b")
        )
    return (
        joined.select(
            "a", "b",
            (F.size(F.array_intersect("sha", "shb"))
             / F.size(F.array_union("sha", "shb"))).alias("jaccard"),
        )
        .withColumn("jaccard", F.round("jaccard", 6))
    )


# ---------------------------------------------------------------------------
# paragraph-level dedup (C4 §2.2 / RefinedWeb-style line dedup)
# ---------------------------------------------------------------------------

def paragraph_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide paragraph (newline-delimited span) deduplication.

    The C4 cleaning recipe drops any line that occurs more than once in
    the corpus, keeping ONE occurrence; RefinedWeb does the same per
    paragraph. Survivor rule here is deterministic: the globally first
    occurrence by ``(id, position)`` wins; all later copies are removed
    from their documents. Empty/whitespace-only paragraphs are dropped
    unconditionally.

    Returns one row per input document:
    ``(id_col, text_clean, paras_kept, paras_dropped)`` — documents
    whose every paragraph was a later duplicate come back with
    ``text_clean = ''``.

    100-TB shape: explode → survivor = ``min(struct(id, pos))`` per
    paragraph hash — a partial-aggregatable groupBy (map-side combine),
    NOT a window ``row_number``: a boilerplate line occurring in 10^8
    documents would make a window partition one irreducible hot task
    (AQE cannot split a window partition), while the agg collapses the
    hot key to one row per map task before the shuffle. The back-join
    then touches ONLY hashes that are actually duplicated — in a web
    corpus the overwhelming majority of paragraphs are unique, so the
    dup table is tiny and AQE picks a broadcast join.

    Measured trade (12M paragraphs, 4M-row hot key, local[32]): this
    plan 12.4s vs 7.3s for the window variant — the window wins at
    small scale because this plan derives the paragraph table twice
    (once into the agg, once into the join). The window's cost is an
    IRREDUCIBLE single task that sorts the entire hot key; 4M rows in
    one task is cheap, 10^9 is a dead executor. This operator targets
    the regime where that matters; at laptop scale the constant factor
    is the price of not falling over. Then one groupBy back on the doc
    id. No similarity joins, no Python; the paragraph table is linear
    in corpus size, never quadratic.
    """
    paras = _paragraphs(docs, text_col, id_col)
    dup_first = (
        paras.groupBy("phash")
        .agg(
            F.min(F.struct("id", "pos")).alias("first_occ"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_occ") > 1)
        .select("phash", "first_occ")
    )
    marked = paras.join(dup_first, "phash", "left").withColumn(
        "keep",
        F.col("first_occ").isNull()
        | (F.struct("id", "pos") == F.col("first_occ")),
    )
    return _rebuild_docs(docs, marked, id_col)


def _paragraphs(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, para, phash): trimmed non-empty newline spans, exploded."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "rawp"),
        )
        .select("id", "pos", F.trim("rawp").alias("para"))
        .where(F.col("para") != "")
        .withColumn("phash", F.md5("para"))
    )


def _rebuild_docs(docs: DataFrame, marked: DataFrame, id_col: str) -> DataFrame:
    """Reassemble (id, text_clean, paras_kept, paras_dropped) from marked
    paragraph rows, keeping fully-emptied/empty docs present."""
    rebuilt = marked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "para"))
                    )
                ),
                lambda x: x["para"],
            ),
            "\n",
        ).alias("text_clean"),
        F.sum(F.col("keep").cast("long")).alias("paras_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("paras_dropped"),
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("paras_kept", F.lit(0)).alias("paras_kept"),
            F.coalesce("paras_dropped", F.lit(0)).alias("paras_dropped"),
        )
    )


def paragraph_hashes(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct paragraph hashes ``(phash)`` of a corpus — the persisted
    side-table :func:`paragraph_dedup_incremental` probes (written once
    at ingest; append each delta's NEW hashes after cleaning)."""
    return _paragraphs(docs, text_col, id_col).select("phash").distinct()


def paragraph_dedup_incremental(
    delta_docs: DataFrame,
    corpus_phashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Clean TODAY'S DELTA against yesterday's corpus: drop every delta
    paragraph whose hash exists in the persisted ``corpus_phashes``
    table, and deduplicate the delta internally (global first
    occurrence by ``(id, pos)`` survives, as in
    :func:`paragraph_dedup`). Same output shape as
    :func:`paragraph_dedup`.

    This is the paragraph member of the incremental family
    (``lsh_pairs_incremental``, ``simhash_pairs_incremental``,
    ``neardup_incremental``) and the dedup analog of the crawl
    frontier's seen-set anti-join: the corpus's TEXT is never touched —
    only its hash table, one 32-hex-char row per distinct paragraph.
    Both probes shuffle on the uniform md5 key; the corpus-membership
    join is null-producing (left) so a hit drops ALL delta copies while
    within-delta dedup handles the rest.
    """
    paras = _paragraphs(delta_docs, text_col, id_col)
    in_corpus = (
        corpus_phashes.select("phash").distinct().withColumn("__hit", F.lit(True))
    )
    dup_first = (
        paras.groupBy("phash")
        .agg(
            F.min(F.struct("id", "pos")).alias("first_occ"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_occ") > 1)
        .select("phash", "first_occ")
    )
    marked = (
        paras.join(in_corpus, "phash", "left")
        .join(dup_first, "phash", "left")
        .withColumn(
            "keep",
            F.col("__hit").isNull()
            & (
                F.col("first_occ").isNull()
                | (F.struct("id", "pos") == F.col("first_occ"))
            ),
        )
    )
    return _rebuild_docs(delta_docs, marked, id_col)


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------

def _word_ngrams(df: DataFrame, id_col: str, text_col: str, n: int, out_id: str):
    """Distinct lowercase word n-grams per row, exploded. Documents
    shorter than ``n`` words contribute nothing (a partial n-gram must
    not spuriously match)."""
    gram_expr = (
        f"CASE WHEN size(w) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(w) - {n - 1}), "
        f"i -> array_join(slice(w, i, {n}), ' '))) "
        f"ELSE array() END"
    )
    return (
        df.select(
            F.col(id_col).alias(out_id),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w"),
        )
        .select(out_id, F.explode(F.expr(gram_expr)).alias("gram"))
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Flag training documents sharing any word ``n``-gram with a
    benchmark/eval set — the GPT-3 / Pile decontamination pass
    (case-insensitive, whitespace-tokenized, default 8-grams).

    Returns one row per CONTAMINATED document:
    ``(id_col, n_gram_hits, n_bench_docs)`` where ``n_gram_hits``
    counts distinct (gram, benchmark-doc) matches and ``n_bench_docs``
    the distinct benchmark documents hit; the caller anti-joins this
    flag table to drop or audit.

    100-TB shape: the benchmark side is small BY DEFINITION (an eval
    set), so its exploded n-grams are broadcast — the corpus side is a
    single narrow explode scanned once, no shuffle except the final
    per-doc aggregation on the uniform doc id.
    """
    d = _word_ngrams(docs, id_col, text_col, n, "id")
    b = _word_ngrams(benchmark, bench_id_col, bench_text_col, n, "bench_id")
    return (
        d.join(F.broadcast(b), "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_gram_hits"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .select(F.col("id").alias(id_col), "n_gram_hits", "n_bench_docs")
    )


def dedup_keep_best(
    docs: DataFrame, scores: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
    bands: int = 4, rows_per_band: int = 2, k: int = 5,
    max_bucket_size: int | None = 1000,
    cache_key=None,
) -> DataFrame:
    """Quality-aware survivor selection over near-duplicate clusters:
    cluster the corpus with :func:`dedup_clusters`, then keep the member
    with the HIGHEST score per cluster (ties → lowest id) instead of the
    min-id canonical — the production dedup policy where near-duplicates
    differ (one copy is the clean original, another is ad-wrapped) and
    "first seen" is the wrong thing to keep. ``scores`` is any ``(id,
    score)`` frame (e.g. ``textstats.quality_stats``). Output ``(id,
    cluster_id, score, best_id, keep)``.

    100-TB shape: the score join keys on the uniform doc id; the per-
    cluster arg-max is a single ``min(struct(-score, id))`` hash aggregate
    (map-side partial combine; the struct-min trick from
    :func:`paragraph_dedup` — no window, so a mega-cluster never pins one
    task); the labels-side of dedup_clusters stays pair-graph-sized.
    """
    cl = dedup_clusters(
        docs, text_col, id_col, bands, rows_per_band, k, max_bucket_size,
        cache_key,
    )
    j = cl.select("id", "cluster_id").join(
        scores.select(F.col("id"), F.col("score")), "id"
    )
    best = j.groupBy("cluster_id").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("id").alias("bid")))
        .alias("m")
    ).select("cluster_id", F.col("m.bid").alias("best_id"))
    return (
        j.join(best, "cluster_id")
        .select(
            "id", "cluster_id", "score", "best_id",
            (F.col("id") == F.col("best_id")).alias("keep"),
        )
    )


def duplicate_spans(
    docs: DataFrame, n: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Every word position opening a length-``n`` word gram that occurs in
    MORE THAN ONE document: ``(id, pos, gram_hash, n_docs,
    n_occurrences)`` — the spans ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") would cut
    from the training set. The suffix-array construction of the paper is
    a single-machine algorithm; this is its distributed anchor-gram
    stand-in: any ≥n-token exact duplicate span is flagged at every
    position it opens, and the caller cuts/audits the flagged windows.

    100-TB shape: one narrow explode (corpus tokens × 1 row) → a gram-key
    hash aggregate where boilerplate mega-grams collapse map-side (count
    + countDistinct partials), then the duplicated-only gram table —
    tiny relative to the corpus in web text, like paragraph_dedup's
    duplicates-only back-join — joins back on the gram key (AQE
    broadcasts it when small). Grams leave the scan as positions+hashes;
    no all-pairs doc×doc stage exists at any point.
    """
    gram_expr = (
        f"CASE WHEN size(w) >= {n} THEN "
        f"transform(sequence(1, size(w) - {n - 1}), "
        f"i -> array_join(slice(w, i, {n}), ' ')) "
        f"ELSE array() END"
    )
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w"),
    ).select("id", F.posexplode(F.expr(gram_expr)).alias("pos", "gram"))
    dup = (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return grams.join(dup, "gram").select(
        "id",
        F.col("pos").cast("long").alias("pos"),
        F.md5(F.col("gram")).alias("gram_hash"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
    )


def duplicate_span_strip(
    docs: DataFrame, n: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_words, n_cut, text_clean): the REMOVAL consumer of
    :func:`duplicate_spans` — cut every word covered by a cross-document
    duplicated ``n``-gram from the training text, preserving the order of
    the survivors (ExactSubstr dedup's second half: Lee et al. 2022 cut
    the flagged spans, they don't just audit them). A word is covered if
    ANY flagged gram's window ``[pos, pos+n)`` contains it; overlapping
    windows merge naturally through the (id, word-pos) distinct. Removal
    operates on the normalized token stream (lowercased,
    whitespace-collapsed — the same stream the span pass hashes), so
    ``text_clean`` is single-space-joined survivor tokens; fully-covered
    documents survive with ``text_clean = ''`` (the downstream length
    gate is the drop-policy point, as with template stripping).

    100-TB shape: span starts come from :func:`duplicate_spans` (no new
    corpus scan shape — one gram explode + duplicates-only back-join);
    the covered-position explode is n rows per flagged span (spans are
    corpus-rare by the same argument as paragraph_dedup's duplicates);
    the anti-mark join keys on the uniform (id, wpos) pair; reassembly
    sorts each document's own token array (array_sort of collected
    structs — never a window, never the corpus)."""
    spans = duplicate_spans(docs, n=n, text_col=text_col, id_col=id_col)
    cov = (
        spans.select(
            "id", F.explode(F.expr(f"sequence(pos, pos + {n - 1})")).alias("wpos")
        )
        .distinct()
        .withColumn("__c", F.lit(1))
    )
    words = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("wpos", "word"),
    )
    return (
        words.join(cov, ["id", "wpos"], "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.when(F.col("__c").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_cut"),
            F.expr(
                "array_sort(collect_list("
                "case when __c is null then struct(wpos, word) end))"
            ).alias("__k"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_words",
            "n_cut",
            F.array_join(
                F.expr("transform(__k, x -> x.word)"), " "
            ).alias("text_clean"),
        )
    )


def url_alias_groups(
    pages: DataFrame, text_col: str = "text", url_col: str = "url"
) -> DataFrame:
    """Mirror / URL-alias detection: group pages by exact content digest
    and pick ONE canonical URL per group — shortest URL first, then
    lexicographic (the Common-Crawl-style canonicalization heuristic:
    mirrors and tracking-parameter variants are longer than the clean
    original). Output ``(url, digest, group_size, canonical_url,
    is_canonical)``; filter ``is_canonical`` to materialize the
    alias-collapsed corpus, or ``group_size > 1`` to audit mirrors.

    Differs from :func:`exact_dedup` in the SURVIVOR POLICY dimension:
    that operator keeps the first-seen id, :func:`dedup_keep_best` keeps
    the best-quality near-duplicate, and this one keeps the shortest URL
    of byte-identical content — three policies, one groupBy shape.

    100-TB shape: one md5-keyed hash aggregate (uniform keys, map-side
    combine) computing size + ``min(struct(length(url), url))`` together,
    then one join back on the digest; no window, no skew sensitivity.
    """
    d = pages.select(
        F.col(url_col).alias("url"), F.md5(F.col(text_col)).alias("digest")
    )
    groups = d.groupBy("digest").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min(
            F.struct(
                F.length("url").alias("l"), F.col("url").alias("u")
            )
        ).alias("m"),
    ).select(
        "digest",
        F.col("group_size").cast("long").alias("group_size"),
        F.col("m.u").alias("canonical_url"),
    )
    return d.join(groups, "digest").select(
        "url", "digest", "group_size", "canonical_url",
        (F.col("url") == F.col("canonical_url")).alias("is_canonical"),
    )


MIRROR_HOST_CAP = 16          # deterministic cap: hosts kept per digest
MIRROR_MIN_PERMILLE = 800     # containment threshold for the mirror flag
MIRROR_MIN_SHARED = 2         # pairs below this shared-digest count drop


def feature_overlap_pairs(
    ef: DataFrame, entity_col: str, feature_col: str,
    cap: int | None, min_common: int,
) -> DataFrame:
    """The shared capped set-overlap core: from an (entity, feature)
    table, every entity pair (a < b) sharing ≥ ``min_common`` features —
    ``(a, b, common, size_a, size_b, overlap_permille)`` with overlap =
    common / min(|a|, |b|) in integer permille. Consumed by
    :func:`host_mirror_pairs` (hosts × content digests) and
    ``graph.cocitation_pairs`` (pages × citing sources).

    100-TB shape: input deduped to DISTINCT (entity, feature); sizes are
    a partial-combining aggregate; the pair explosion is the LSH bucket
    pattern — per-feature self-join AFTER a deterministic per-feature
    entity cap (a feature present on every entity would otherwise cost
    |entities|² pairs; capped it costs cap², and strongly-overlapping
    pairs still meet over their many non-ubiquitous features). All keys
    uniform; no window beyond the bounded per-feature cap; zero Python.
    """
    d = (
        ef.select(
            F.col(entity_col).alias("e"), F.col(feature_col).alias("f")
        )
        .filter(F.col("f").isNotNull())
        .distinct()
    )
    sizes = d.groupBy("e").agg(F.count(F.lit(1)).alias("sz"))
    capped = d
    if cap is not None:
        w = Window.partitionBy("f").orderBy("e")
        capped = (
            d.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .drop("__rn")
        )
    pairs = (
        capped.alias("x")
        .join(capped.alias("y"), "f")
        .filter(F.col("x.e") < F.col("y.e"))
        .groupBy(F.col("x.e").alias("a"), F.col("y.e").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    return (
        pairs.join(sizes.withColumnRenamed("e", "a"), "a")
        .withColumnRenamed("sz", "size_a")
        .join(
            sizes.withColumnRenamed("e", "b").withColumnRenamed("sz", "size_b"),
            "b",
        )
        .select(
            "a", "b",
            F.col("common").cast("long").alias("common"),
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
            F.expr(
                "cast(1000 * common div least(size_a, size_b) as bigint)"
            ).alias("overlap_permille"),
        )
    )


def host_mirror_pairs(
    docs: DataFrame, host_col: str = "host", text_col: str = "text",
    max_hosts_per_digest: int | None = MIRROR_HOST_CAP,
    min_shared: int = MIRROR_MIN_SHARED,
) -> DataFrame:
    """Site-mirror detection — the HOST-granularity member of the dedup
    family (url_alias_groups canonicalizes identical URLs; this finds
    whole HOSTS serving largely the same corpus): ``(host_a, host_b,
    shared, size_a, size_b, containment_permille, mirror)`` for every
    host pair sharing ≥ ``min_shared`` content digests, ``host_a <
    host_b``. Containment = shared / min(|a|, |b|) in integer permille;
    ``mirror`` flags pairs at/above MIRROR_MIN_PERMILLE — the signal a
    crawler uses to collapse politeness budgets and skip refetching a
    known mirror.

    100-TB shape: the unit of work is the (host, digest) DISTINCT table
    (corpus-linear, uniform md5 keys). The pair explosion is the LSH
    bucket pattern: per-digest self-join AFTER a deterministic
    ``max_hosts_per_digest`` cap (a boilerplate digest present on every
    host of the web would otherwise cost |hosts|² pairs — capped, it
    costs cap², and truly mirrored pairs still meet over their many
    NON-ubiquitous digests). Host sizes are a partial-combining
    aggregate; the size join keys on the uniform host. No window over
    hosts, no cartesian, zero Python.
    """
    hd = docs.select(
        F.col(host_col).alias("host"), F.md5(F.col(text_col)).alias("digest")
    )
    return feature_overlap_pairs(
        hd, "host", "digest", max_hosts_per_digest, min_shared
    ).select(
        F.col("a").alias("host_a"),
        F.col("b").alias("host_b"),
        F.col("common").alias("shared"),
        "size_a", "size_b",
        F.col("overlap_permille").alias("containment_permille"),
        (F.col("overlap_permille") >= MIRROR_MIN_PERMILLE).alias("mirror"),
    )


# text-normalization regexes for fuzzy-exact dedup — written so the SAME
# pattern TEXT is valid in Java regex (Spark) and RE2 (DuckDB); the oracle
# interpolates them verbatim
NORM_STRIP_RE = "[^a-z0-9\\s]"   # drop punctuation/symbols after lowering
NORM_WS_RE = "\\s+"              # collapse whitespace runs


def normalized_text(col):
    """Column expr: the case/punctuation/whitespace-normalized form of
    ``col`` — lower, strip non-alphanumerics to spaces, collapse runs,
    trim. ASCII-deterministic by construction."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), NORM_STRIP_RE, " "),
            NORM_WS_RE, " ",
        )
    )


def normalized_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fuzzy-exact dedup (the Dolma/CCNet preprocessing convention):
    digest the NORMALIZED text — case, punctuation, and whitespace
    differences no longer defeat exact dedup (headline reflows, smart
    quotes, trailing-space mirrors), while real edits still split
    groups. Same output shape as :func:`exact_duplicates`: ``(digest,
    keeper, n_docs)`` for groups with >1 member; rows whose text is NULL
    or normalizes to EMPTY are excluded (an all-punctuation page is not
    a duplicate of every other all-punctuation page — it has no content
    to match on).

    100-TB shape: normalization is one zero-exchange codegen projection;
    the group rollup is the same uniform-md5-key partial-combining
    aggregate as exact dedup. Sits between exact (raw digest) and
    MinHash (shingle similarity) in the dedup ladder.
    """
    norm = normalized_text(F.col(text_col))
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.md5(norm).alias("digest"),
            F.col(id_col).alias("id"),
            (F.length(norm) > 0).alias("__ok"),
        )
        .filter(F.col("__ok"))
        .groupBy("digest")
        .agg(F.min("id").alias("keeper"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


# Content-defined chunking constants (engine AND oracle interpolate)
CDC_MOD = 8        # a word whose hash32 % MOD == 0 STARTS a new segment
CDC_MIN_WORDS = 4  # segments shorter than this don't enter dedup


def cdc_segments(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    mod: int = CDC_MOD,
) -> DataFrame:
    """Content-defined segmentation (the rolling-hash/CDC idea of LBFS /
    restic / archive dedup, at word granularity): a segment boundary
    opens at every word whose 32-bit md5 hash ≡ 0 (mod ``mod``) — so
    boundaries depend on CONTENT, not position, and inserting or
    deleting words re-segments only the neighborhood of the edit while
    every downstream segment digest survives unchanged. This is what
    fixed n-gram spans (``duplicate_spans``) cannot do: there an
    insertion shifts every later gram. Returns ``(id, seg_idx,
    start_word, n_words, seg_digest)``.

    100-TB shape: ZERO exchanges — tokenize, boundary detection
    (higher-order filter over md5s), segment slicing, and digesting are
    all map-side array expressions over the corpus scan (the
    chunk_by_tokens recipe); output rows ≈ tokens/mod. Average segment
    length = ``mod`` words.
    """
    w = (
        f"filter(split(trim({text_col}), '\\\\s+'), x -> length(x) > 0)"
    )
    h = "cast(conv(substr(md5(element_at(w, cast(i as int))), 1, 8), 16, 10) as bigint)"
    segs = (
        f"transform(sequence(1, size(starts)), k -> named_struct("
        f"'seg_idx', k, "
        f"'start_word', element_at(starts, k), "
        f"'n_words', (if(k < size(starts), element_at(starts, k + 1) - 1, "
        f"size(w))) - element_at(starts, k) + 1, "
        f"'seg_text', array_join(slice(w, element_at(starts, k), "
        f"(if(k < size(starts), element_at(starts, k + 1) - 1, size(w))) "
        f"- element_at(starts, k) + 1), ' ')))"
    )
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.expr(w).alias("w"))
        .filter(F.size("w") > 0)
        .select(
            "id", "w",
            F.expr(
                f"array_union(array(1), filter(sequence(1, size(w)), "
                f"i -> {h} % {mod} = 0))"
            ).alias("starts"),
        )
        .select("id", F.explode(F.expr(segs)).alias("s"))
        .select(
            "id",
            F.col("s.seg_idx").cast("long").alias("seg_idx"),
            F.col("s.start_word").cast("long").alias("start_word"),
            F.col("s.n_words").cast("long").alias("n_words"),
            F.md5("s.seg_text").alias("seg_digest"),
        )
    )


def cdc_duplicate_segments(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    mod: int = CDC_MOD, min_words: int = CDC_MIN_WORDS,
) -> DataFrame:
    """Cross-document duplicated content segments under content-defined
    boundaries: ``(seg_digest, n_docs, n_occurrences, n_words, keeper_id,
    keeper_seg)`` for every ≥ ``min_words`` segment appearing in more
    than one document — quotation/syndication/boilerplate runs that
    survive insertions around them. Keeper = lowest (id, seg_idx).

    100-TB shape: the segmentation is zero-exchange (see
    :func:`cdc_segments`); this adds ONE partial-combining aggregate on
    the uniform digest key. The short-segment filter is map-side.
    """
    s = cdc_segments(docs, text_col, id_col, mod).filter(
        F.col("n_words") >= min_words
    )
    return (
        s.groupBy("seg_digest")
        .agg(
            F.countDistinct("id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("n_words").cast("long").alias("n_words"),
            F.min(F.struct("id", "seg_idx")).alias("__k"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            "seg_digest", "n_docs", "n_occurrences", "n_words",
            F.col("__k.id").cast("long").alias("keeper_id"),
            F.col("__k.seg_idx").cast("long").alias("keeper_seg"),
        )
    )
