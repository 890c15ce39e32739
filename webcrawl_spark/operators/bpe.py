"""Byte-pair-encoding tokenizer TRAINING and application, Spark-first.

The classic BPE learner (Sennrich et al. 2016; the GPT-2/LLaMA tokenizer
recipe): start from characters, repeatedly merge the globally most
frequent adjacent symbol pair. The reference engine has no tokenizer at
all — this is part of the LLM-training-data surface the graft adds
(alongside chunk_by_tokens, which consumes a FIXED tokenizer; here we fit
one from the corpus).

Spark-first shape (100 TB):

- The corpus collapses to its **vocabulary** first — one (word, count)
  aggregate — and every subsequent iteration works on that
  vocabulary-bounded table, exactly how production BPE trainers run
  (count words once, learn merges over the word-frequency table). The
  corpus text is read ONCE.
- Each merge iteration is declarative: adjacent-pair explode →
  partial-combining pair-count aggregate (keys uniform: symbol pairs in a
  per-word keyspace) → the argmax pair via ``orderBy(...).limit(1)``
  (Spark plans TakeOrdered: per-partition heap + driver merge of P rows,
  never a global sort) → a **1-row broadcast left-join-on-TRUE** carries
  the winning pair back onto the vocabulary (an exhausted-pairs empty
  argmax is a no-op, not a wipe), where one whole-stage-codegen
  ``aggregate`` fold applies the merge greedily left-to-right. The argmax
  row is checkpointed per iteration (k 1-row materializations — the
  Observation-style fixpoint pattern the crawl loop uses), which keeps
  the plan tree LINEAR in k; no merge decision ever round-trips through
  the driver as data.
- Greedy left-to-right application is the fold
  ``acc, x -> if last(acc)=left and x=right then replace-last else
  append`` — non-overlapping by construction ("aaaa" under (a,a) →
  [aa, aa]), byte-identical in any engine because it is pure list/string
  algebra on exact integers and strings.

Determinism: pair counts are exact BIGINTs; the argmax orders by
(count DESC, left ASC, right ASC), so ties never depend on partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import memo

BPE_MERGES = 8


def _char_syms(word_col: str):
    """word → array of single-character symbols (filter drops the empty
    strings Spark's split-by-empty-pattern can emit at the edges)."""
    return F.expr(f"filter(split({word_col}, ''), x -> x <> '')")


def _adjacent_pairs(sym_col: str):
    """array<string> → array<struct<l,r>> of adjacent symbol pairs."""
    return F.expr(
        f"transform(slice({sym_col}, 1, size({sym_col}) - 1),"
        f" (s, i) -> struct(s AS l, element_at({sym_col}, i + 2) AS r))"
    )


def _apply_merge(sym_col, left_col, right_col):
    """Greedy left-to-right application of one merge (left,right)→left||right.

    Pure codegen fold; the merge pair arrives as COLUMNS (from the 1-row
    broadcast), so no literal ever needs quoting into the plan.
    """
    return F.aggregate(
        sym_col,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left_col)
            & (x == right_col),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _vocab(docs: DataFrame, text_col: str) -> DataFrame:
    """(w, wc): the corpus word-frequency table (the ONE corpus pass)."""
    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def _learn(docs: DataFrame, text_col: str, n_merges: int):
    """Returns (merges_df, encoded_vocab_df).

    merges_df: (rank, left, right, merged, pair_count) — one row per
    learned merge, rank 1-based in learn order.
    encoded_vocab_df: (w, wc, sym) — every corpus word with its corpus
    frequency and its symbol sequence AFTER all n_merges merges (the
    fitted tokenizer applied to the vocabulary, which is how documents
    encode: join on w).
    """
    # materialize the vocabulary ONCE: every iteration's pair aggregate
    # hangs off this table, and without the checkpoint Spark would re-run
    # the corpus scan+aggregate once per merge (k corpus passes instead
    # of 1 — the scale mistake). The table is vocabulary-bounded (tiny
    # next to the corpus), the same justification as minhash_wide_cached.
    words = (
        _vocab(docs, text_col)
        .select("w", "wc", _char_syms("w").alias("sym"))
        .localCheckpoint()
    )
    merge_rows = []
    for rank in range(1, n_merges + 1):
        pairs = words.select(
            "wc", F.explode(_adjacent_pairs("sym")).alias("p")
        ).select("wc", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        # materialize the 1-row argmax: without this, words_i's plan would
        # embed words_{i-1} TWICE (directly and under best_i), doubling the
        # plan tree per merge — 2^k nodes by k merges. Checkpointing the
        # single winning row keeps the lineage linear in k; the row stays
        # on executors (driver only schedules, the merge decision never
        # round-trips through it as data).
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .select(
                F.col("l").alias("__bl"),
                F.col("r").alias("__br"),
                F.col("cnt").alias("__bcnt"),
            )
            .localCheckpoint()
        )
        merge_rows.append(
            best.select(
                F.lit(rank).alias("rank"),
                F.col("__bl").alias("left"),
                F.col("__br").alias("right"),
                F.concat("__bl", "__br").alias("merged"),
                F.col("__bcnt").cast("long").alias("pair_count"),
            )
        )
        # LEFT join on TRUE, not a crossJoin: if the corpus exhausts its
        # mergeable pairs before n_merges (best = 0 rows), a crossJoin
        # would EMPTY the vocabulary; the left join keeps it with NULL
        # __bl/__br, which makes the fold's merge condition NULL → the
        # iteration is a no-op (identity fold), as BPE semantics require.
        words = words.join(F.broadcast(best), F.lit(True), "left").select(
            "w",
            "wc",
            _apply_merge(
                F.col("sym"), F.col("__bl"), F.col("__br")
            ).alias("sym"),
        )
    merges = merge_rows[0]
    for m in merge_rows[1:]:
        merges = merges.unionByName(m)
    return merges, words.select("w", "wc", "sym")


def bpe_model_cached(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_MERGES,
    cache_key=None,
):
    """Fit-once BPE model: ``(merges_df, encoded_vocab_df)`` memoized in
    the one fit-once store (:mod:`.memo`) — the tokenizer analog of the
    shared MinHash/k-means models. A tokenizer is fitted ONCE per corpus
    and consumed by everything downstream (encode stats, chunking, shard
    packing), so learn and encode over one corpus must not refit. The
    encoded vocabulary is checkpointed too: it is the (small)
    vocabulary-bounded table every encode joins against. ``cache_key``
    must identify the input; ``None`` returns the plans unmaterialized."""
    if cache_key is None:
        return _learn(docs, text_col, n_merges)

    def _build():
        merges, vocab = _learn(docs, text_col, n_merges)
        return (
            merges.localCheckpoint(eager=True),
            vocab.localCheckpoint(eager=True),
        )

    return memo.fit_once(
        docs, cache_key, ("bpe_model", text_col, n_merges), _build
    )


def bpe_learn(
    docs: DataFrame, text_col: str = "text", n_merges: int = BPE_MERGES,
    cache_key=None,
) -> DataFrame:
    """(rank, left, right, merged, pair_count): the ``n_merges`` BPE
    merges learned from the corpus, in learn order."""
    merges, _ = bpe_model_cached(docs, text_col, n_merges, cache_key)
    return merges


def bpe_encode_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = BPE_MERGES,
    cache_key=None,
) -> DataFrame:
    """(id, n_words, n_chars, n_subwords): per-document token counts under
    the corpus-fitted BPE — characters before, subword symbols after.

    Encoding rides the learn's encoded VOCABULARY: a document's subword
    count is the sum of its words' symbol counts, so the join is
    (corpus words ⋈ vocab) on the uniform word key — the document text is
    never re-folded per merge, and n_subwords is monotonically squeezed
    between n_words and n_chars (asserted in tests).
    """
    _, vocab = bpe_model_cached(docs, text_col, n_merges, cache_key)
    vlen = vocab.select(
        "w",
        F.size("sym").alias("n_sub"),
        F.length("w").alias("n_chr"),
    )
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    ).filter(F.length("w") > 0)
    return (
        toks.join(vlen, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chr").cast("long").alias("n_chars"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_words").cast("long").alias("n_words"),
            "n_chars",
            "n_subwords",
        )
    )


def bpe_vocab(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_MERGES,
    cache_key=None,
) -> DataFrame:
    """(token, n_words, n_occurrences): the fitted tokenizer's SYMBOL
    vocabulary — the second persisted artifact alongside the merges table
    (merges + vocab = the deployable tokenizer). ``n_words`` counts the
    distinct corpus words containing the symbol; ``n_occurrences`` is the
    corpus-frequency-weighted occurrence count.

    Rides the fit-once cached model: one vocabulary-bounded explode +
    aggregate — the corpus is never re-read."""
    _, vocab = bpe_model_cached(docs, text_col, n_merges, cache_key)
    return (
        vocab.select("w", "wc", F.explode("sym").alias("token"))
        .groupBy("token")
        .agg(
            F.countDistinct("w").alias("n_words"),
            F.sum("wc").cast("long").alias("n_occurrences"),
        )
        .select("token", F.col("n_words").cast("long").alias("n_words"),
                "n_occurrences")
    )
