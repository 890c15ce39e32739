"""Unigram-LM subword tokenizer pass (Kudo 2018, the SentencePiece
"unigram" model) — the second tokenizer-family member next to BPE
(operators/bpe.py), distributed Spark-first.

The pipeline is one EM-style round of the unigram recipe:
1. candidate vocabulary = every ≤ SP_MAXP-char substring of corpus words
   meeting a frequency floor, PLUS all single characters (the coverage
   guarantee — Viterbi can always segment);
2. initial piece log-probs from substring frequencies (integer
   micro-nats, rounded ONCE — the unigram_lm_score recipe);
3. E-step: per distinct word, the max-likelihood segmentation by
   Viterbi DP — implemented as a whole-stage JVM ``aggregate`` fold
   whose accumulator is the packed cost table (cost·2²⁰ + n_pieces·2¹⁰
   + backpointer per position), followed by a second fold that walks
   the backpointers into the piece list. ZERO Python, zero explosion:
   a word costs O(len · SP_MAXP) map lookups inside codegen;
4. M-step: pieces re-counted over the corpus (weighted by word
   frequency) — the refreshed table a second round would re-fit from.

Exactness: every quantity is BIGINT after one rounding point; the DP
tie-break is total order (min cost, then fewer pieces, then smallest
backpointer) baked into the packing, so any engine replaying the same
fold gets bit-identical segmentations — the DuckDB oracle replays both
folds with ``list_reduce`` over the same packed representation.

100-TB shape: the word table is vocabulary-bounded after ONE corpus
aggregate; candidates/probs are substring-vocabulary-bounded aggregates
with map-side partial combine; the piece-prob MAP broadcasts as one row
(bounded by the frequency floor — at corpus scale SP_MIN_COUNT rises
with the data, exactly like SentencePiece's seed-vocab pruning); the
E-step is a map-side fold over DISTINCT words, never word occurrences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SP_MAXP = 6            # max candidate piece length (chars)
SP_MIN_COUNT = 4       # multi-char candidates need ≥ this many occurrences
SP_WORD_CAP = 30       # words truncate here: bounds the DP and the packing
SP_TOPN = 200          # battery output size
SP_BIG = 10_000_000_000  # cost of an absent piece (unreachable: chars exist)

# An absent piece must cost more than any real segmentation: a real piece
# costs -lp < ln(2⁶³)·10⁶ < 44·10⁶ micro-nats (counts are BIGINT), and a
# word has at most SP_WORD_CAP pieces. The Viterbi fold (and the oracle's
# replay) packs cost·2²⁰ into a BIGINT, which caps it from above.
assert SP_BIG > SP_WORD_CAP * 44_000_000
assert SP_WORD_CAP * SP_BIG * 2**20 < 2**63


def word_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, freq) over the whitespace-tokenized, lowercased corpus;
    words truncate at SP_WORD_CAP chars."""
    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w")
        )
        .filter(F.length("w") > 0)
        .select(F.substring("w", 1, SP_WORD_CAP).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def candidate_vocab(words: DataFrame, min_count: int = SP_MIN_COUNT) -> DataFrame:
    """(piece, count, lp) — substring candidates with integer micro-nat
    log-probs. Single characters are ALWAYS kept (coverage); longer
    pieces need ``count ≥ min_count`` occurrences (weighted by word
    frequency)."""
    subs = words.select(
        "freq",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), i -> "
                f"transform(sequence(1, least({SP_MAXP}, length(word) - i + 1)), "
                f"l -> substring(word, cast(i as int), cast(l as int)))))"
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(F.sum("freq").alias("count"))
    kept = counts.filter(
        (F.length("piece") == 1) | (F.col("count") >= min_count)
    )
    total = kept.agg(F.sum("count").alias("total"))
    return kept.crossJoin(F.broadcast(total)).select(
        "piece",
        F.col("count").cast("long").alias("count"),
        F.expr(
            "cast(round(ln(cast(count as double) / total) * 1000000) as bigint)"
        ).alias("lp"),
    )


# NOTE on the fold structure: each fold's lambda captures exactly ONE
# outer column (the cost table `ct` for the DP, the `dp` table for the
# walk) — piece costs are precomputed as a list-of-lists projection
# BEFORE the DP, and the walk emits packed (start, len) integers whose
# string pieces are extracted OUTSIDE the fold. DuckDB v1.0's
# list_reduce mis-binds lambdas that capture two outer columns in some
# query shapes (observed: a word resolved against another row's value);
# the one-capture structure — mirrored on the Spark side for parity —
# sidesteps it and is cleaner anyway (no strings inside folds).


def _ct_expr() -> str:
    """Per-position piece-cost table: ``ct[i][l]`` = cost of the piece
    starting at position i with length l (SP_BIG when absent)."""
    return f"""transform(sequence(1, length(word)), i ->
  transform(sequence(1, least({SP_MAXP}, length(word) - i + 1)), l ->
    coalesce(-element_at(mp, substring(word, cast(i as int),
                                       cast(l as int))), {SP_BIG})))"""


def _dp_expr() -> str:
    """The Viterbi fold over the cost table ``ct``: packed[i] =
    best_cost·2²⁰ + n_pieces·2¹⁰ + backpointer for the prefix of length
    i. array_min over the packing IS the tie-break."""
    return f"""aggregate(
  sequence(1, size(ct)),
  array(0L),
  (acc, i) -> array_append(acc,
    array_min(transform(sequence(greatest(1, i - {SP_MAXP} + 1), i),
      j -> (element_at(acc, cast(j as int)) div 1048576
            + element_at(element_at(ct, cast(j as int)),
                         cast(i - j + 1 as int))) * 1048576
           + ((element_at(acc, cast(j as int)) % 1048576) div 1024 + 1)
             * 1024
           + (j - 1)))))"""


def _walk_expr() -> str:
    """The backpointer walk over a computed ``dp`` column: the
    accumulator carries the current position in its first slot and
    collects packed ``start·2¹⁰ + len`` segments behind it (order
    immaterial for counting; pieces extracted outside the fold)."""
    return """aggregate(
  sequence(1, size(dp) - 1),
  array(cast(size(dp) - 1 as bigint)),
  (acc, i) -> if(element_at(acc, 1) <= 0, acc,
    concat(
      array(element_at(dp, cast(element_at(acc, 1) as int) + 1) % 1024),
      slice(acc, 2, size(acc) - 1),
      array((element_at(dp, cast(element_at(acc, 1) as int) + 1) % 1024
             + 1) * 1024
            + element_at(acc, 1)
            - element_at(dp, cast(element_at(acc, 1) as int) + 1)
              % 1024))))"""


_PIECES_EXPR = (
    "transform(slice(walk, 2, size(walk) - 1), p -> "
    "substring(word, cast(p div 1024 as int), cast(p % 1024 as int)))"
)


def viterbi_segment(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, freq, best_cost, n_pieces, pieces) — the max-likelihood
    segmentation of every distinct word under the vocabulary's piece
    costs. The piece-prob map rides the plan as ONE broadcast row."""
    mp = vocab.agg(
        F.map_from_entries(F.collect_list(F.struct("piece", "lp"))).alias("mp")
    )
    d = (
        words.crossJoin(F.broadcast(mp))
        .withColumn("ct", F.expr(_ct_expr()))
        .withColumn("dp", F.expr(_dp_expr()))
    )
    return (
        d.withColumn("walk", F.expr(_walk_expr()))
        .select(
            "word", "freq",
            F.expr(
                "element_at(dp, length(word) + 1) div 1048576"
            ).cast("long").alias("best_cost"),
            F.expr(
                "(element_at(dp, length(word) + 1) % 1048576) div 1024"
            ).cast("long").alias("n_pieces"),
            F.expr(_PIECES_EXPR).alias("pieces"),
        )
    )


def unigram_learn(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_count: int = SP_MIN_COUNT, top_n: int = SP_TOPN,
) -> DataFrame:
    """One unigram-EM round end to end: candidates → Viterbi E-step →
    piece re-count M-step; returns the ``top_n`` pieces by refreshed
    count as ``(piece, n_tokens, lp_micronat, rank)`` — the vocabulary
    table a second round (or an encoder) consumes. Top-n is
    TakeOrdered, never a global sort."""
    words = word_counts(docs, text_col, id_col)
    vocab = candidate_vocab(words, min_count)
    seg = viterbi_segment(words, vocab)
    counts = (
        seg.select("freq", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("n_tokens"))
    )
    total = counts.agg(F.sum("n_tokens").alias("total"))
    scored = counts.crossJoin(F.broadcast(total)).select(
        "piece",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr(
            "cast(round(ln(cast(n_tokens as double) / total) * 1000000) "
            "as bigint)"
        ).alias("lp_micronat"),
    )
    top = scored.orderBy(F.desc("n_tokens"), F.asc("piece")).limit(top_n)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("n_tokens"), F.asc("piece"))
        ).cast("long"),
    )


def unigram_encode_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_count: int = SP_MIN_COUNT,
) -> DataFrame:
    """The tokenizer APPLIED: per-document piece statistics under the
    learned unigram vocabulary — ``(id, n_words, n_chars, n_pieces,
    pieces_per_100_words)``. Fertility (pieces per word) is THE
    tokenizer-quality number a pipeline tracks per corpus slice.

    The doc→piece join needs no backpointer walk: ``n_pieces`` unpacks
    straight from the DP's final packed cell, and per-word results join
    the document token stream on the uniform word key — the Viterbi
    cost is paid once per DISTINCT word, never per occurrence.
    """
    words = word_counts(docs, text_col, id_col)
    vocab = candidate_vocab(words, min_count)
    seg = viterbi_segment(words, vocab).select("word", "n_pieces")
    toks = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w"),
        )
        .filter(F.length("w") > 0)
        .select("id", F.substring("w", 1, SP_WORD_CAP).alias("word"))
    )
    return (
        toks.join(seg, "word")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
        .select(
            "id", "n_words", "n_chars", "n_pieces",
            F.expr("cast(100 * n_pieces div n_words as bigint)").alias(
                "pieces_per_100_words"
            ),
        )
    )
