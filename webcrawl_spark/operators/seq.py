"""Deterministic, scalable global sequence assignment.

The engine needs data-derived total orders (fetch_seq, discovery seq) that
are identical at any parallelism (SURVEY.md §4 item 2: never
``monotonically_increasing_id`` — its values depend on partition layout).

Strategy (no single-partition window, scales to 10^10 rows):

1. range-repartition on the order columns (partition i holds keys ≤
   partition i+1's) and sort within partitions → a global total order;
2. sum a weight per partition — 1 per row for a sequence, the token count
   for ``shard_by_tokens`` (tiny P-row aggregate collected to the driver);
3. seq = start + prefix_offset[partition] + (row_number within partition − 1).

Correctness does not depend on where the range boundaries land — any split
of a totally ordered sequence yields the same global numbering. The input is
``localCheckpoint``-ed so the sum job and the numbering job see the same
partitioning (on a cluster the caller's per-round Parquet/Iceberg commit
plays this role).
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _range_offsets(df: DataFrame, order_cols: list[str], weight,
                   num_partitions: int, reliable: bool = False):
    """Phases 1-2 of the distributed prefix sum: range-partition ``df`` on
    ``order_cols``, sort within partitions, cut, and sum ``weight`` per
    partition (a P-row aggregate collected to the driver). Returns the cut
    frame (with ``__pid``) and the column holding each row's partition's
    exclusive offset."""
    from .ckpt import cut

    ranged = cut(
        df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id()),
        reliable,
    )
    sums = dict(ranged.groupBy("__pid").agg(F.sum(weight).alias("s")).collect())
    pids = sorted(sums)
    offsets = zip(pids, accumulate([0] + [sums[p] for p in pids[:-1]]))
    kv = [F.lit(x) for pair in offsets for x in pair]
    return ranged, (F.create_map(*kv)[F.col("__pid")] if kv else F.lit(0))


def assign_global_seq(
    df: DataFrame,
    order_cols: list[str],
    start: int,
    out_col: str = "seq",
    num_partitions: int = 32,
    reliable: bool = False,
):
    """Add ``out_col`` = start, start+1, … in ``order_cols`` order.

    ``order_cols`` tuples must be unique (the engine's orders are: they end
    in a unique per-row sequence/ordinal)."""
    ranged, off = _range_offsets(df, order_cols, F.lit(1), num_partitions, reliable)
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return ranged.withColumn(
        out_col, (F.lit(start) + off + F.row_number().over(w) - F.lit(1)).cast("long")
    ).drop("__pid")


def shard_by_tokens(
    docs: DataFrame,
    tokens_per_shard: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int = 32,
) -> DataFrame:
    """Pack documents into ~``tokens_per_shard``-token shards in stable
    ``id_col`` order — the pre-training data-prep step that turns a
    cleaned corpus into bounded training files. Returns
    ``(id_col, n_tokens, shard)`` with
    ``shard = floor(exclusive_prefix_tokens / tokens_per_shard)``: a
    document lands in the shard its first token falls into, so shard
    boundaries never split differently at different parallelism.

    The same distributed prefix sum as :func:`assign_global_seq`, weighted
    by token count: per-partition token SUMS give the offsets, then a
    windowed cumsum within partitions — no single-partition window at any
    size.
    """
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long").alias(
            "n_tokens"
        ),
    )
    ranged, off = _range_offsets(base, ["id"], F.col("n_tokens"), num_partitions)
    w = Window.partitionBy("__pid").orderBy("id")
    return ranged.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.floor((off + F.sum("n_tokens").over(w) - F.col("n_tokens")) / tokens_per_shard)
        .cast("long")
        .alias("shard"),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    n_shards: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Next-fit sequence packing: assemble whole documents into fixed-
    capacity training sequences (bins of ≤ ``seq_len`` tokens) without
    splitting any document — the packed-batch assembly step of an LLM
    fine-tuning / pretraining pipeline (each bin becomes one training
    sequence; attention masks separate its member docs). Returns
    ``(shard, bin, pos, doc_id, n_tokens)``: within shard ``doc_id %
    n_shards``, docs in ``doc_id`` order fill bin 0, 1, … by the next-fit
    rule — a doc opens a new bin iff the current bin is non-empty and
    would overflow; an overlong doc (> seq_len tokens) gets a bin of its
    own. The assignment is a pure function of (doc ids, token counts), so
    any partitioning, any engine, and the DuckDB oracle's recursive CTE
    agree exactly.

    100-TB shape: ONE exchange (the shard groupBy); the per-shard fold is
    a JVM higher-order ``aggregate`` over the shard's sorted (id, tokens)
    array — zero EvalPython, whole-plan codegen. The fold's accumulator
    append makes a shard cost O(docs_per_shard²) element copies, so size
    ``n_shards`` to keep shards at ~10³-10⁴ docs (at any corpus size the
    shard count is free — bins are numbered within shards). A deployment
    with mega-shards swaps the fold for a per-shard Arrow stage; the
    recurrence is identical.

    ADAPT note: no reference analog (the reference stores pages, it does
    not assemble training batches — Backend/Crawler.cs has no post-fetch
    corpus stage); this is part of the LLM-pipeline surface mandated by
    the round brief.
    """
    from ..functions.textstats import bpe_token_count

    # NULL text counts as 0 tokens (the row still packs — the downstream
    # loader's length gate owns dropping empties), so a NULL can never
    # poison the fold's running fill
    base = docs.select(
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.coalesce(bpe_token_count(text_col).cast("long"), F.lit(0)).alias(
            "n_tokens"
        ),
    )
    g = base.groupBy("shard").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n_tokens"))).alias("ds")
    )
    acc_t = "array<struct<doc_id: bigint, n_tokens: bigint, bin: bigint, pos: bigint>>"
    fold = f"""
      aggregate(
        ds,
        named_struct(
          'bin', cast(0 as bigint), 'fill', cast(0 as bigint),
          'pos', cast(-1 as bigint), 'acc', cast(array() as {acc_t})),
        (s, d) -> if(
          s.fill > 0 and s.fill + d.n_tokens > {int(seq_len)},
          named_struct(
            'bin', s.bin + 1, 'fill', d.n_tokens, 'pos', cast(0 as bigint),
            'acc', s.acc || array(named_struct(
              'doc_id', d.doc_id, 'n_tokens', d.n_tokens,
              'bin', s.bin + 1, 'pos', cast(0 as bigint)))),
          named_struct(
            'bin', s.bin, 'fill', s.fill + d.n_tokens, 'pos', s.pos + 1,
            'acc', s.acc || array(named_struct(
              'doc_id', d.doc_id, 'n_tokens', d.n_tokens,
              'bin', s.bin, 'pos', s.pos + 1)))),
        s -> s.acc)
    """
    return g.select("shard", F.explode(F.expr(fold)).alias("e")).select(
        "shard",
        F.col("e.bin").alias("bin"),
        F.col("e.pos").alias("pos"),
        F.col("e.doc_id").alias("doc_id"),
        F.col("e.n_tokens").alias("n_tokens"),
    )


# Lehmer / MINSTD constants for the cross-engine shuffle key: pure BIGINT
# arithmetic both engines evaluate identically, no float, no engine hash
SHUF_MULT = 48271
SHUF_MOD = 2147483647  # 2^31 - 1 (prime)


def shuffle_key_sql(id_expr: str, seed: int) -> str:
    """The seeded shuffle key as ONE SQL string valid in Spark SQL and
    DuckDB: two MINSTD rounds over (id + seed). Stays inside BIGINT for
    id + seed < ~1.9e14 (first product < 2^63); collisions are broken by
    id downstream, so the key only needs dispersion, not uniqueness."""
    r1 = f"((({id_expr}) + {seed}) * {SHUF_MULT}) % {SHUF_MOD}"
    return f"(({r1}) * {SHUF_MULT}) % {SHUF_MOD}"


def seeded_shuffle(
    docs: DataFrame,
    seed: int,
    id_col: str = "doc_id",
    num_partitions: int = 32,
) -> DataFrame:
    """Deterministic global training-order shuffle: assign every document
    a position 0..N-1 ordered by a seeded integer hash of its id — the
    step between a packed/sharded corpus and the training loader (a new
    ``seed`` gives a fresh epoch order; the same seed reproduces it
    exactly on any cluster). Returns ``(id_col, shuffle_key,
    shuffle_pos)``.

    The key is two MINSTD rounds (:func:`shuffle_key_sql`) — plain
    BIGINT arithmetic shared textually with the DuckDB oracle, never an
    engine hash builtin (Spark's xxhash64 and DuckDB's hash disagree by
    construction). Position assignment reuses
    :func:`assign_global_seq`'s distributed prefix sum (range partition
    by (key, id) → P-row count collect → broadcast offsets →
    within-partition window) — never a single-partition window; ties on
    the key break by id, so the order is total and
    parallelism-invariant."""
    keyed = docs.select(
        F.col(id_col),
        F.expr(shuffle_key_sql(id_col, seed)).cast("long").alias("shuffle_key"),
    )
    out = assign_global_seq(
        keyed,
        ["shuffle_key", id_col],
        start=0,
        out_col="shuffle_pos",
        num_partitions=num_partitions,
    )
    return out.select(id_col, "shuffle_key", "shuffle_pos")
