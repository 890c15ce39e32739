"""Text-analysis column builders for training-data pipelines — language ID,
quality scoring, token counting, document fingerprinting, composite quality
gating, per-group term statistics, and class-balanced sampling. Pure
``pyspark.sql.functions`` expressions (whole-stage codegen; no Python)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..operators.textdedup import HASH32

# BPE-ish token pattern: letter runs, digit runs, single punctuation marks.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# deterministic n-gram-free language-ID heuristic: stopword hit counts.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "los", "que"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def ws_token_count(col: str):
    """Whitespace token count."""
    return F.size(F.split(F.trim(F.col(col)), r"\s+"))


def bpe_token_count(col: str):
    """Count of TOKEN_RE matches (a BPE-ish upper bound on subword count).

    Pattern passed as a literal column — F.expr string literals unescape
    backslashes and would corrupt ``\\s``."""
    return F.size(F.regexp_extract_all(F.col(col), F.lit(TOKEN_RE), F.lit(0)))


def punct_count(col: str):
    return F.size(
        F.regexp_extract_all(F.col(col), F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
    )


def fingerprint(col: str):
    """Normalization fingerprint: md5 of lower-cased, whitespace-collapsed
    text — the exact-dedup key robust to spacing/case differences."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " "))


def quality_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_chars, n_tokens, n_punct, score): length/punct heuristics.

    score = n_tokens capped at 256, minus a punctuation-excess penalty —
    integer arithmetic only, so any engine reproduces it bit-for-bit.
    """
    d = docs.select(
        F.col(id_col).alias("id"),
        F.length(F.col(text_col)).alias("n_chars"),
        ws_token_count(text_col).alias("n_tokens"),
        punct_count(text_col).alias("n_punct"),
    )
    return d.withColumn(
        "score",
        F.least(F.col("n_tokens"), F.lit(256))
        - F.greatest(F.col("n_punct") * 4 - F.col("n_tokens"), F.lit(0)),
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, pred_lang): argmax of stopword hit counts, ties broken by lang
    name (ordinal) — deterministic and SQL-reproducible."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    )
    scored = None
    for lang, words in LANG_STOPWORDS.items():
        s = toks.filter(F.col("tok").isin(words)).groupBy("id").agg(
            F.count(F.lit(1)).alias("hits")
        ).withColumn("lang", F.lit(lang))
        scored = s if scored is None else scored.unionByName(s)
    ids = docs.select(F.col(id_col).alias("id")).distinct()
    # argmax(hits) with ties to the alphabetically-first language:
    # max of struct(hits, -lang_rank, lang)
    langs = sorted(LANG_STOPWORDS)
    rank_map = F.create_map(*[F.lit(x) for pair in ((l, -i) for i, l in enumerate(langs)) for x in pair])
    best = (
        scored.withColumn("lrank", rank_map[F.col("lang")])
        .groupBy("id")
        .agg(F.max(F.struct(F.col("hits"), F.col("lrank"), F.col("lang"))).alias("m"))
        .select("id", F.col("m.lang").alias("pred_lang"))
    )
    return ids.join(best, "id", "left").fillna({"pred_lang": "unknown"})


# ---------------------------------------------------------------------------
# PII scrubbing (training-data redaction pass)
# ---------------------------------------------------------------------------

# Patterns are deliberately RE2-compatible (no backreferences/lookaround)
# so the DuckDB oracle runs them verbatim; order matters — emails are
# scrubbed before IPs so an address's dotted domain is never half-eaten.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def pii_scrub(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Redact emails, IPv4 addresses, and US-style phone numbers,
    counting each kind — the standard pre-training redaction pass.

    Sequential semantics: each pattern is counted on (and replaced in)
    the text as left by the previous pattern, so a redaction token never
    double-counts. Pure JVM ``regexp_count``/``regexp_replace`` columns
    (whole-stage codegen, embarrassingly parallel — no exchange at all).
    """
    out = docs.select(F.col(id_col), F.col(text_col).alias("t"))
    for name, pat, tok in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}", F.regexp_count("t", F.lit(pat)).cast("long")
        ).withColumn("t", F.regexp_replace("t", pat, tok))
    return out.select(
        id_col,
        F.col("t").alias("text_clean"),
        *[f"n_{name}" for name, _, _ in PII_PATTERNS],
    )


def repetition_stats(
    docs: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals over word
    ``n``-grams: ``(id, total_ngrams, distinct_ngrams, dup_ngram_frac,
    top_ngram_frac)`` — the quality gate drops docs whose
    ``dup_ngram_frac`` (share of n-gram occurrences beyond each gram's
    first) or ``top_ngram_frac`` (share claimed by the single most
    frequent n-gram) exceeds a threshold; boilerplate and spam score
    high on both. Docs shorter than ``n`` words report zero counts and
    NULL fractions (no signal, not a perfect score).

    100-TB shape: repetition is a PER-DOCUMENT property — the n-gram
    explode groups by (id, gram) then by id, both partially aggregated
    map-side, and because every group is confined to one document the
    keys are uniform by construction (no corpus-wide hot gram exists in
    this keyspace, unlike cross-corpus dedup). Pure JVM throughout.
    """
    grams = (
        docs.select(
            F.col(id_col).alias("id"),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w"),
        )
        .select(
            "id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(w) >= {n} THEN "
                    f"transform(sequence(1, size(w) - {n - 1}), "
                    f"i -> array_join(slice(w, i, {n}), ' ')) "
                    f"ELSE array() END"
                )
            ).alias("gram"),
        )
    )
    per_gram = grams.groupBy("id", "gram").agg(F.count(F.lit(1)).alias("c"))
    stats = per_gram.groupBy("id").agg(
        F.sum("c").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        F.max("c").alias("top_c"),
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(stats, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("total_ngrams", F.lit(0)).alias("total_ngrams"),
            F.coalesce("distinct_ngrams", F.lit(0)).alias("distinct_ngrams"),
            F.round(
                (F.col("total_ngrams") - F.col("distinct_ngrams"))
                / F.col("total_ngrams"),
                6,
            ).alias("dup_ngram_frac"),
            F.round(F.col("top_c") / F.col("total_ngrams"), 6).alias(
                "top_ngram_frac"
            ),
        )
    )

# ---------------------------------------------------------------------------
# composite quality gate (Gopher-style keep/drop), per-group term stats,
# class-balanced sampling
# ---------------------------------------------------------------------------

# Gopher-style gate thresholds (Rae et al. 2021, table A1 — adapted to the
# fixture corpus's ranges so every rule actually fires on some documents).
# Single source of truth: the battery oracle SQL interpolates THESE constants.
GOPHER_MIN_WORDS = 30
GOPHER_MWL_MIN_X100 = 300   # mean word length ∈ [3, 10] chars, ×100 integer
GOPHER_MWL_MAX_X100 = 1000
GOPHER_MAX_DUP_FRAC = 0.05  # duplicate-bigram occupancy ceiling
GOPHER_MIN_STOP_HITS = 2    # ≥2 hits of the en stopword list
GOPHER_RULES = ("too_few_words", "word_length", "repetition", "no_stopwords")


def gopher_filter(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite pre-training quality gate: ``(id, n_words, mwl_x100,
    dup_ngram_frac, stop_hits, keep, reason)`` where ``reason`` is the FIRST
    failing rule in GOPHER_RULES order ('ok' when all pass). Rules: word
    count ≥ GOPHER_MIN_WORDS; mean word length (×100, integer division) in
    [GOPHER_MWL_MIN_X100, GOPHER_MWL_MAX_X100]; duplicate-bigram fraction
    (from :func:`repetition_stats`, 6-dp rounded) ≤ GOPHER_MAX_DUP_FRAC;
    ≥ GOPHER_MIN_STOP_HITS English-stopword tokens.

    100-TB shape: the per-row signals (word count, mean word length,
    stopword hits) are zero-exchange codegen expressions; the only exchange
    pair is repetition_stats' per-document bigram aggregation, whose keys
    are uniform by construction (grouping is confined to one document).
    Integer arithmetic + one 6-dp rounded double keep any engine bit-exact.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    stopw = list(LANG_STOPWORDS["en"])
    base = docs.select(
        F.col(id_col).alias("id"),
        ws_token_count(text_col).alias("n_words"),
        F.expr(
            f"div(length(regexp_replace({text_col}, '\\\\s+', '')) * 100, "
            f"size(split(trim({text_col}), '\\\\s+')))"
        ).alias("mwl_x100"),
        F.size(F.filter(toks, lambda t: t.isin(*stopw))).alias("stop_hits"),
    )
    rep = repetition_stats(docs, n=2, text_col=text_col, id_col=id_col).select(
        F.col(id_col).alias("id"), "dup_ngram_frac"
    )
    j = base.join(rep, "id")
    reason = (
        F.when(F.col("n_words") < GOPHER_MIN_WORDS, GOPHER_RULES[0])
        .when(
            (F.col("mwl_x100") < GOPHER_MWL_MIN_X100)
            | (F.col("mwl_x100") > GOPHER_MWL_MAX_X100),
            GOPHER_RULES[1],
        )
        .when(F.col("dup_ngram_frac") > GOPHER_MAX_DUP_FRAC, GOPHER_RULES[2])
        .when(F.col("stop_hits") < GOPHER_MIN_STOP_HITS, GOPHER_RULES[3])
        .otherwise("ok")
    )
    return j.select(
        F.col("id").alias(id_col),
        "n_words",
        "mwl_x100",
        "dup_ngram_frac",
        "stop_hits",
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


def topk_terms(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
    k: int = 3,
    min_len: int = 4,
) -> DataFrame:
    """Top-``k`` terms per group by frequency: ``(grp, term, tf, rank)``,
    ties broken by term ascending. Terms are lower-cased whitespace tokens
    of length ≥ ``min_len`` (drops stop-ish short words without a list).

    100-TB shape: the explode is followed by a (grp, term) hash aggregate
    with map-side partial combine — the shuffled row count is bounded by
    |groups| × |vocabulary|, not corpus tokens. The row_number window runs
    on that aggregated set, so a mega-group's partition holds at most its
    distinct-term count (vocabulary-bounded, not document-bounded); for a
    vocabulary-unbounded corpus swap the final exact window for a per-
    partition top-k + merge (the politeness top-k pattern, operators/seq).
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.length("term") >= min_len)
    tf = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("grp").orderBy(F.col("tf").desc(), F.col("term").asc())
    return tf.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def unigram_lm_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style language-model quality score with a corpus-fit unigram
    LM as the deterministic KenLM stand-in: fit ``P(term) = tf/T`` on the
    corpus itself, then score every document by its average token
    log-probability — boilerplate built from common words scores high,
    gibberish/rare-token soup scores low. Output ``(id, n_tokens,
    sum_lp_micronat, avg_lp_micronat)``.

    Engine-exactness: each token's log-prob is rounded ONCE to integer
    micro-nats (``round(ln(tf/T)·1e6)``) and all downstream math is
    integer (BIGINT sum + integer-div average) — float summation order
    can never change the answer, so any engine agrees bit-exactly.

    100-TB shape: one explode → (term) hash aggregate with map-side
    partial combine (shuffled rows are vocabulary-bounded, not
    token-bounded); the corpus total is an aggregate OVER the vocab table
    (never a second corpus pass); the token→vocab lookup join keys on the
    term — a web-scale vocab is broadcast when it fits and a uniform-key
    shuffle join otherwise, with AQE splitting the inevitable hot terms
    ("the") because the probe side skew sits in one key; the final
    per-document aggregate is uniform by construction.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").alias("T"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(F.log(F.col("tf") / F.col("T")) * 1e6)
        .cast("long")
        .alias("lp_micronat"),
    )
    return (
        toks.join(lp, "term")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micronat").alias("sum_lp_micronat"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "sum_lp_micronat",
            F.expr("div(sum_lp_micronat, n_tokens)").alias("avg_lp_micronat"),
        )
    )


def balanced_sample(
    docs: DataFrame, class_col: str, cap: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic class-balanced downsampling: keep each row iff
    ``hash32(id) mod n_class < cap``, where ``n_class`` is the exact row
    count of the row's class — i.e. sample every class at rate
    ``min(1, cap/n_class)`` toward a per-class target of ``cap`` rows
    (classes at or under the cap are kept whole). The training-mix
    balancing pass: flatten a language/source-skewed corpus without an
    order-dependent limit.

    Deterministic and engine-independent: membership depends only on the
    row id and the class size (md5-derived HASH32, the corpus-wide shared
    base hash), never on partitioning or scan order — reruns and the
    DuckDB oracle keep the identical set, unlike ``df.limit(cap)``.

    100-TB shape: one small aggregate (|classes| rows) broadcast back onto
    the corpus — the filter is map-side, zero exchange on the big side; no
    window, no global sort, no skew sensitivity (a mega-class costs the
    same map-side comparison as a tiny one).
    """
    counts = docs.groupBy(class_col).agg(F.count(F.lit(1)).alias("__n"))
    h = F.expr(HASH32.format(col=f"cast({id_col} as string)"))
    return (
        docs.join(F.broadcast(counts), class_col)
        .filter(F.pmod(h, F.col("__n")) < F.lit(cap))
        .drop("__n")
    )


# C4 line-level cleaning thresholds (Raffel et al. 2020 §2.2, adapted):
# a line survives iff it ends in terminal punctuation, has at least
# C4_MIN_LINE_WORDS words, and does not mention "javascript"; a document
# survives iff it contains no lorem-ipsum / curly-brace markers and keeps
# at least C4_MIN_LINES lines. One constant set, interpolated into the
# oracle SQL (the lsh_bucket_stats drift lesson).
C4_MIN_LINE_WORDS = 5
C4_MIN_LINES = 3
C4_TERMINALS = (".", "!", "?", '"')
C4_LINE_BAD = "javascript"
C4_DOC_BAD_LOREM = "lorem ipsum"
C4_DOC_BAD_BRACE = "{"
C4_REASONS = ("lorem_ipsum", "brace", "too_few_lines")


def c4_clean(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep a
    newline-delimited line iff it ends with terminal punctuation
    (C4_TERMINALS), has ≥ C4_MIN_LINE_WORDS whitespace words, and does not
    contain "javascript" (case-insensitive); drop the whole document when
    it contains "lorem ipsum" (case-insensitive) or "{", or keeps fewer
    than C4_MIN_LINES lines. Output ``(id, lines_kept, lines_dropped,
    reason, keep, text_clean)`` with ``reason`` the FIRST failing
    document rule in C4_REASONS order ('ok' when kept) and ``text_clean``
    the newline-join of surviving lines ('' for dropped docs).

    100-TB shape: a single zero-exchange projection — the line split,
    per-line predicates, counts, and re-join are all higher-order array
    functions inside whole-stage codegen; no explode, no shuffle, no
    Python. The whole pass is map-side over the corpus scan.
    """
    lines = F.split(F.col(text_col), "\n")

    def _line_ok(line):
        t = F.trim(line)
        return (
            (t != "")
            & F.substring(t, -1, 1).isin(*C4_TERMINALS)
            & (F.size(F.split(t, r"\s+")) >= C4_MIN_LINE_WORDS)
            & ~F.lower(line).contains(C4_LINE_BAD)
        )

    kept = F.filter(lines, _line_ok)
    low = F.lower(F.col(text_col))
    reason = (
        F.when(low.contains(C4_DOC_BAD_LOREM), C4_REASONS[0])
        .when(F.col(text_col).contains(C4_DOC_BAD_BRACE), C4_REASONS[1])
        .when(F.size(kept) < C4_MIN_LINES, C4_REASONS[2])
        .otherwise("ok")
    )
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(kept).cast("long").alias("lines_kept"),
        (F.size(lines) - F.size(kept)).cast("long").alias("lines_dropped"),
        reason.alias("reason"),
        (reason == F.lit("ok")).alias("keep"),
        F.when(reason == F.lit("ok"), F.array_join(kept, "\n"))
        .otherwise("")
        .alias("text_clean"),
    )


def chunk_by_tokens(
    docs: DataFrame, size: int, stride: int,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Split every document into overlapping token windows for a model
    context: chunk ``i`` covers whitespace tokens ``[i*stride,
    i*stride+size)``; the last chunk starts at the final stride step that
    still has unseen tokens, so every token lands in ≥1 chunk and docs at
    or under ``size`` tokens yield exactly one chunk. Output ``(id,
    chunk_id, start_tok, n_tok, chunk_text)``. ``stride < size`` gives
    ``size - stride`` tokens of overlap between neighbors (the usual
    training-window setup); ``stride == size`` is exact tiling.

    Deterministic: chunk membership depends only on the document's own
    token array — never on partitioning — so reruns and the DuckDB oracle
    agree exactly. Complements ``operators/seq.shard_by_tokens``: shards
    pack whole documents into files, chunks split one document into
    model-sized windows.

    100-TB shape: zero exchange — split, chunk-count arithmetic, the
    sequence explode, and the per-chunk slice/join are all map-side
    codegen over the corpus scan; output rows ≈ corpus tokens / stride,
    produced without any shuffle.
    """
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    base = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("w"),
    ).select("id", "w", F.size("w").alias("n"))
    base = base.withColumn(
        "n_chunks",
        F.when(F.col("n") <= size, F.lit(1)).otherwise(
            F.lit(1) + F.expr(f"div(n - {size} + {stride} - 1, {stride})")
        ),
    )
    ci = F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("ci")
    chunks = base.select("id", "w", ci)
    tok = F.slice(F.col("w"), F.col("ci") * stride + 1, F.lit(size))
    return chunks.select(
        F.col("id"),
        F.col("ci").cast("long").alias("chunk_id"),
        (F.col("ci") * stride).cast("long").alias("start_tok"),
        F.size(tok).cast("long").alias("n_tok"),
        F.array_join(tok, " ").alias("chunk_text"),
    )


# BM25 parameters (Robertson/Spärck Jones; the standard k1/b defaults).
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_rank(
    docs: DataFrame, query_terms: list[str], k: int = 20,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Full-text relevance ranking: score every document against a bag of
    query terms with BM25 and return the total-ordered top ``k`` as
    ``(id, n_hits, score_micro, rank)``. ``idf = ln(1 + (N - df + 0.5) /
    (df + 0.5))``, per-term contribution ``idf · tf·(k1+1) / (tf + k1·(1
    - b + b·dl/avgdl))`` — each contribution is rounded ONCE to integer
    micro-units and summed as BIGINT (the unigram_lm_score recipe: float
    summation order structurally cannot flip the hash; ln/round verified
    identical across engines there).

    100-TB shape: tokens are filtered to the |query|-bounded term set
    BEFORE the tf aggregate, so the only corpus-sized exchanges are the
    per-document tf/dl aggregates (uniform keys, map-side partial
    combine); df and avgdl are scalar-sized broadcasts. The final top-k
    is orderBy(score).limit(k) — Spark's distributed TakeOrdered, a
    per-partition heap + driver merge of k·P rows, never a global sort.
    """
    terms = [t.lower() for t in query_terms]
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(*terms))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
                * 1e6
            )
            .cast("long")
            .alias("c_micro"),
        )
    )
    scored = contrib.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum("c_micro").alias("score_micro"),
    )
    top = scored.orderBy(F.desc("score_micro"), F.asc("id")).limit(k)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("score_micro"), F.asc("id"))
        ).cast("long"),
    ).select("id", F.col("n_hits").cast("long").alias("n_hits"),
             "score_micro", "rank")


def postings_state(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The PERSISTABLE search-index state: full ``(id, term, tf)``
    postings under :func:`bm25_rank`'s exact tokenization — the smallest
    granularity from which every BM25 input is derivable (``dl`` is the
    per-id tf sum since postings cover EVERY term; ``df``/``N``/``avgdl``
    follow), and which merges across crawls per id (a re-fetched id's
    postings replace its stored ones, :func:`bm25_incremental`). The
    index-maintenance analog of ``anchors.anchor_counts``: a deployment
    writes this once per crawl instead of re-tokenizing 100 TB."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_from_postings(
    postings: DataFrame, query_terms: list[str], k: int = 20
) -> DataFrame:
    """:func:`bm25_rank` computed FROM a postings table instead of raw
    text — same output, bit for bit: ``dl`` is the per-id tf sum, the
    scoring expression is shared. This is the query path of the
    maintained index: corpus text is never touched.

    100-TB shape: ``dl`` and the term filter are uniform-key aggregates /
    map-side filters over the postings table (token-count-bounded, far
    smaller than text); df/avgdl broadcast as scalars; top-k is
    TakeOrdered, never a global sort.
    """
    terms = [t.lower() for t in query_terms]
    dl = postings.groupBy("id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = postings.filter(F.col("term").isin(*terms)).select("id", "term", "tf")
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
                * 1e6
            )
            .cast("long")
            .alias("c_micro"),
        )
    )
    scored = contrib.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum("c_micro").alias("score_micro"),
    )
    top = scored.orderBy(F.desc("score_micro"), F.asc("id")).limit(k)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("score_micro"), F.asc("id"))
        ).cast("long"),
    ).select("id", F.col("n_hits").cast("long").alias("n_hits"),
             "score_micro", "rank")


def bm25_incremental(
    delta_docs: DataFrame, stored_postings: DataFrame,
    query_terms: list[str], k: int = 20,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Incremental search-index maintenance — the SECOND incremental-state
    member of the delta-vs-corpus family (anchor_stats_incremental is the
    first): tokenize ONLY the delta, merge its postings into the persisted
    :func:`postings_state` (new docs append; a re-fetched doc's stored
    postings are replaced by its delta postings), and answer queries from
    the merged index. The corpus text is never re-read; the battery
    oracle is the WHOLE-CORPUS bm25_search SQL, so a hash match proves the
    merged index answers exactly like a from-scratch build.

    100-TB shape: the merge is one anti-join of the index on the delta's
    ids (the delta side is small by definition — AQE broadcasts it);
    scoring inherits :func:`bm25_from_postings`' shape.
    """
    refetched = delta_docs.select(F.col(id_col).alias("id"))
    merged = stored_postings.join(refetched, "id", "left_anti").unionByName(
        postings_state(delta_docs, text_col, id_col)
    )
    return bm25_from_postings(merged, query_terms, k)


def inverted_index(
    docs: DataFrame, min_term_len: int = 4, k_postings: int = 5,
    salt: int = 8, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Build a capped inverted index: one row per term with ``(term, df,
    tf, postings)`` where ``postings`` renders the ``k_postings``
    LOWEST-id documents as ``id:first_pos:tf_d`` joined by ',' — the
    search-index construction pass that pairs with :func:`bm25_rank`
    (df/tf are exact over the whole corpus; the posting list is the
    bounded per-term sample an index shard stores per segment).

    The per-term top-k is exact and salt-invariant: documents are
    pre-capped inside ``salt`` sub-groups (``pmod(id, salt)``), then the
    ≤ salt·k survivors merge and re-cap — the two-level TakeOrdered that
    avoids both an unbounded ``collect_list`` and a one-task window on a
    stopword term. Raising ``salt`` with corpus size bounds the first
    level's group width; the second level is ≤ salt·k rows per term.

    100-TB shape: tokens explode once; the (term, id) aggregate and the
    df/tf aggregate both partial-combine map-side on vocabulary-bounded
    keys; no window over a raw term partition anywhere, so "the"-scale
    terms cost salt parallel bounded sorts instead of one mega-task.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "term"),
    ).filter(F.length("term") >= min_term_len)
    per_doc = toks.groupBy("term", "id").agg(
        F.count(F.lit(1)).alias("tf_d"), F.min("pos").alias("first_pos")
    )
    stats = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf_d").alias("tf")
    )
    lvl1 = (
        per_doc.withColumn("s", F.pmod("id", F.lit(salt)))
        .groupBy("term", "s")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct("id", "first_pos", "tf_d"))
                ),
                1,
                k_postings,
            ).alias("part")
        )
    )
    top = (
        lvl1.groupBy("term")
        .agg(F.flatten(F.collect_list("part")).alias("allp"))
        .select(
            "term", F.slice(F.sort_array("allp"), 1, k_postings).alias("top")
        )
    )
    postings = top.select(
        "term",
        F.array_join(
            F.transform(
                "top",
                lambda x: F.concat_ws(
                    ":",
                    x["id"].cast("string"),
                    x["first_pos"].cast("string"),
                    x["tf_d"].cast("string"),
                ),
            ),
            ",",
        ).alias("postings"),
    )
    return stats.join(postings, "term").select(
        "term", F.col("df").cast("long").alias("df"),
        F.col("tf").cast("long").alias("tf"), "postings",
    )


def phrase_search(
    docs: DataFrame, phrase: list[str], k: int = 20,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Exact consecutive-phrase retrieval over the whitespace
    tokenization ``bm25_rank`` and ``inverted_index`` share: return the
    top ``k`` documents containing ``phrase`` as adjacent tokens, as
    ``(id, n_matches, first_pos, rank)`` ordered by (matches desc, id).

    The adjacency test is an ARRAY FOLD, not a join chain: per document,
    each phrase term's sorted position list is collected once, then
    ``array_intersect(transform(prev, p -> p + 1), positions(next))``
    folds left-to-right — after the fold the array holds the END
    positions of complete phrase occurrences (``n_matches = size``,
    ``first_pos = min - (n-1)``). A term repeated in the phrase reuses
    the same position list and the shift-intersect still demands real
    adjacent copies (unit-tested).

    100-TB shape: tokens filter to the |phrase|-bounded term set BEFORE
    any aggregate (the bm25_rank rule), so the one corpus-sized exchange
    is the per-(id, term) position collect on uniform keys — bounded per
    document by that document's own occurrences of the phrase terms; the
    fold is a zero-exchange projection; an n-term phrase costs n-1 array
    intersections instead of n-1 shuffled positional self-joins (what
    the DuckDB oracle deliberately runs instead); top-k is
    orderBy+limit (TakeOrdered), never a global sort.
    """
    terms = [t.lower() for t in phrase]
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "term"),
    ).filter(F.col("term").isin(*terms))
    pt = toks.groupBy("id", "term").agg(
        F.sort_array(F.collect_list("pos")).alias("ps")
    )
    per_doc = pt.groupBy("id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m")
    )
    cur = F.coalesce(F.col("m")[terms[0]], F.array().cast("array<int>"))
    for t in terms[1:]:
        cur = F.array_intersect(
            F.transform(cur, lambda p: p + 1),
            F.coalesce(F.col("m")[t], F.array().cast("array<int>")),
        )
    hits = (
        per_doc.select("id", cur.alias("ends"))
        .filter(F.size("ends") > 0)
        .select(
            "id",
            F.size("ends").cast("long").alias("n_matches"),
            (F.array_min("ends") - (len(terms) - 1)).cast("long")
            .alias("first_pos"),
        )
    )
    top = hits.orderBy(F.desc("n_matches"), F.asc("id")).limit(k)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("n_matches"), F.asc("id"))
        ).cast("long"),
    )


# Domain-level filtering thresholds (RefinedWeb §3.1-style: whole hosts
# are dropped when they are too small to judge, score poorly on average,
# or serve mostly duplicated content). One constant set, interpolated
# into the oracle SQL.
HOSTQ_MIN_DOCS = 3
HOSTQ_MIN_AVG_SCORE = 40
HOSTQ_MAX_DUP_PERMILLE = 150
HOSTQ_RULES = ("too_few_docs", "low_quality", "too_many_dups")


def host_quality_rollup(
    docs: DataFrame, host_col: str = "host",
    text_col: str = "text", id_col: str = "doc_id",
    min_docs: int = HOSTQ_MIN_DOCS,
    min_avg_score: int = HOSTQ_MIN_AVG_SCORE,
    max_dup_permille: int = HOSTQ_MAX_DUP_PERMILLE,
) -> DataFrame:
    """Domain-level quality gate: roll per-document quality and
    corpus-wide exact-duplication up to the host and keep/drop WHOLE
    hosts — ``(host, n_docs, n_dups, avg_score, dup_permille, reason,
    keep)`` with ``reason`` the first failing rule in HOSTQ_RULES order.
    A document is "duplicated" when its normalization fingerprint
    (:func:`fingerprint`) occurs more than once ANYWHERE in the corpus —
    the host is charged for serving content that exists elsewhere.

    Engine-exactness: ``avg_score = div(sum_score, n_docs)`` and
    ``dup_permille = div(n_dups·1000, n_docs)`` are integer division —
    no float anywhere.

    100-TB shape: per-doc signals are the zero-exchange
    :func:`quality_stats` projection; duplicate marking aggregates on the
    uniform md5 fingerprint with map-side combine, then ONLY the
    duplicated fingerprints (tiny in web corpora) join back —
    paragraph_dedup's duplicates-only trick, AQE-broadcast; the host
    rollup partial-combines map-side so a mega-host collapses before its
    exchange.
    """
    # score inlined (same formula as quality_stats) rather than joined:
    # a join would be a corpus×corpus self-join — two scans + a sort-merge
    # exchange pair for values computable on the row being scanned
    base = docs.select(
        F.col(host_col).alias("host"),
        F.col(id_col).alias("id"),
        fingerprint(text_col).alias("fp"),
        (
            F.least(ws_token_count(text_col), F.lit(256))
            - F.greatest(
                punct_count(text_col) * 4 - ws_token_count(text_col), F.lit(0)
            )
        ).alias("score"),
    )
    dup_fps = (
        base.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("fp", F.lit(1).alias("__dup"))
    )
    marked = base.join(dup_fps, "fp", "left").select(
        "host", "score", F.coalesce("__dup", F.lit(0)).alias("is_dup")
    )
    agg = marked.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").alias("n_dups"),
        F.sum("score").alias("sum_score"),
    ).select(
        "host", "n_docs", "n_dups",
        F.expr("div(sum_score, n_docs)").alias("avg_score"),
        F.expr("div(n_dups * 1000, n_docs)").alias("dup_permille"),
    )
    reason = (
        F.when(F.col("n_docs") < min_docs, HOSTQ_RULES[0])
        .when(F.col("avg_score") < min_avg_score, HOSTQ_RULES[1])
        .when(F.col("dup_permille") > max_dup_permille, HOSTQ_RULES[2])
        .otherwise("ok")
    )
    return agg.select(
        "host",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_dups").cast("long").alias("n_dups"),
        F.col("avg_score").cast("long").alias("avg_score"),
        F.col("dup_permille").cast("long").alias("dup_permille"),
        reason.alias("reason"),
        (reason == F.lit("ok")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier + DSIR importance weights
# ---------------------------------------------------------------------------

# fastText-style hashing trick: the "model" is a CLS_BUCKETS-dimensional
# weight vector; a term's feature index is hash32(term) mod CLS_BUCKETS and
# the weight at index b derives deterministically from hash32('w#'||b) —
# an engine-independent stand-in for trained parameters, so the classifier
# PLUMBING (hashing, bucket lookup, per-doc accumulation, thresholding) is
# real and oracle-checkable while the weights stay synthetic.
CLS_BUCKETS = 4096
CLS_W_SPAN = 2001          # integer weights in [-1000, 1000]
CLS_W_TAG = "w#"           # weight-derivation salt


def hash_classifier_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet/fastText-style linear quality classifier over hashed
    bag-of-words features: ``(id, n_tokens, score, label)`` where
    ``score = sum over tokens of W[hash32(term) mod CLS_BUCKETS]`` with the
    deterministic integer weight vector W described above, and
    ``label = score > 0``. This is the quality-filter shape used by CCNet /
    LLaMA / RefinedWeb (a fastText linear model over the raw corpus, keep
    the positive class); the weights here are hash-derived so both engines
    reproduce the decision bit-exactly without a training artifact.

    100-TB shape: the bucket index and its weight are MAP-SIDE codegen
    expressions per token (two md5s — no vocabulary table, no join: the
    hashing trick's whole point is O(1) parameter lookup); the only
    exchange is the per-document aggregate on the uniform doc-id key with
    map-side partial combine. Integer weights summed as BIGINT — no float
    anywhere, any engine bit-exact.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    b = toks.withColumn(
        "b", F.expr(f"pmod({HASH32.format(col='term')}, {CLS_BUCKETS})")
    )
    w_hash = HASH32.format(
        col=f"concat('{CLS_W_TAG}', cast(b as string))"
    )
    w = b.withColumn(
        "w", F.expr(f"pmod({w_hash}, {CLS_W_SPAN}) - {(CLS_W_SPAN - 1) // 2}")
    )
    agg = w.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("w").cast("long").alias("score"),
    )
    return agg.select(
        F.col("id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "score",
        (F.col("score") > 0).alias("label"),
    )


# DSIR (Data Selection via Importance Resampling, Xie et al. 2023): score
# every raw document by the log-likelihood ratio of a TARGET hashed-unigram
# LM over a RAW one, then keep the top-k. The target here is the corpus's
# own heuristic-clean subset (Gopher's two map-side rules), standing in for
# "Wikipedia-like" — the published method's target is any small trusted
# corpus, and the fit/score plumbing is identical.
DSIR_BUCKETS = 512
DSIR_TOPK = 200
DSIR_TGT_MIN_WORDS = GOPHER_MIN_WORDS
DSIR_TGT_MIN_STOP = GOPHER_MIN_STOP_HITS


def dsir_weights(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = DSIR_TOPK,
) -> DataFrame:
    """DSIR importance weights + top-k selection: ``(id, n_tokens,
    dsir_micronat)`` for the ``k`` documents with the highest
    ``sum over tokens of [log p_target(bucket) - log p_raw(bucket)]``,
    features hashed into DSIR_BUCKETS buckets with add-1 smoothing, the
    target LM fit on documents passing the two cheap Gopher rules
    (word count >= DSIR_TGT_MIN_WORDS, stopword hits >= DSIR_TGT_MIN_STOP).

    Engine-exactness: each bucket's two log-probs round ONCE each to
    integer micro-nats (the unigram_lm_score recipe); lambda and every doc
    weight are BIGINT, and the top-k orders by (weight desc, id) so ties
    at the boundary are deterministic.

    100-TB shape: the target flag is computed map-side and tokens explode
    in the same projection; BOTH LM fits are ONE conditional bucket
    aggregate (count + count-if-target) whose shuffled rows are
    DSIR_BUCKETS-bounded (not token-bounded) after map-side partial
    combine — so the corpus is scanned twice total (fit, score), never
    once per LM; the lambda table (DSIR_BUCKETS rows) broadcasts back
    onto the token stream; the per-doc weight is one uniform-key aggregate;
    selection is orderBy+limit — Spark plans TakeOrdered (per-partition
    heap + driver merge of k*P rows), never a global sort.
    """
    stopw = list(LANG_STOPWORDS["en"])
    toks_arr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    flagged = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__text"),
        (
            (ws_token_count(text_col) >= DSIR_TGT_MIN_WORDS)
            & (F.size(F.filter(toks_arr, lambda t: t.isin(*stopw)))
               >= DSIR_TGT_MIN_STOP)
        ).alias("is_target"),
    )
    toks = flagged.select(
        "id",
        "is_target",
        F.explode(F.split(F.lower(F.trim(F.col("__text"))), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    bt = toks.withColumn(
        "b", F.expr(f"pmod({HASH32.format(col='term')}, {DSIR_BUCKETS})")
    )
    # BOTH LM fits in one conditional aggregate — a single corpus pass
    # (raw count + target count per bucket), not one pass per LM
    both = bt.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
    )
    allb = docs.sparkSession.range(DSIR_BUCKETS).select(
        F.col("id").cast("long").alias("b")
    )
    counts = allb.join(both, "b", "left").select(
        "b",
        F.coalesce("cr", F.lit(0)).alias("cr"),
        F.coalesce("ct", F.lit(0)).alias("ct"),
    )
    # totals via a global window over the DSIR_BUCKETS-row table — NOT a
    # second aggregate branch off `counts`, which would recompute the
    # LM-fit corpus pass (the 512-row single-task window is free; a third
    # corpus scan at 100 TB is not). Plan-guarded: exactly 2 corpus scans.
    wall = Window.partitionBy(F.lit(1))
    tr = F.sum("cr").over(wall) + DSIR_BUCKETS
    tt = F.sum("ct").over(wall) + DSIR_BUCKETS
    lp = lambda c, t: F.round(F.log((F.col(c) + 1) / t) * 1e6).cast("long")
    lam = counts.select("b", (lp("ct", tt) - lp("cr", tr)).alias("lam"))
    w = (
        bt.join(F.broadcast(lam), "b")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lam").alias("dsir_micronat"),
        )
    )
    return (
        w.orderBy(F.col("dsir_micronat").desc(), F.col("id"))
        .limit(k)
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("dsir_micronat").cast("long").alias("dsir_micronat"),
        )
    )


def tfidf_topk(
    docs: DataFrame, k: int = 3, min_term_len: int = 4,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(id, term, tf, score_micro, rk) — the ``k`` highest-tf·idf terms per
    document (ties → term ASC): the classic keyword profile used to label
    corpus slices and drive topic-balanced sampling. Terms are lowercase
    whitespace tokens of length >= ``min_term_len`` (the inverted_index
    convention — drops most stopwords without a language-specific list).

    ``idf = ln((N+1)/(df+1))`` is rounded ONCE to integer micro-nats;
    ``score_micro = tf · idf_micro`` is exact BIGINT arithmetic after that
    single round (the unigram_lm_score recipe), so the per-document ranking
    is engine-exact. 100-TB shape: tf and df are uniform-key aggregates
    with map-side partial combine; N is a one-row broadcast; the df join
    keys on term (skew from residual common words is AQE's skew-join case —
    the df side is one row per term, never collected or broadcast by hand
    because a full-vocabulary table is NOT broadcast-size at corpus scale);
    the final top-k window partitions on doc id — millions of doc-sized
    partitions, no skew (a document holds at most |doc| distinct terms)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.length("term") >= min_term_len)
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("N"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "id", "term", "tf",
            (
                F.col("tf")
                * F.round(
                    F.log((F.col("N") + 1.0) / (F.col("df") + 1.0)) * 1e6
                ).cast("long")
            ).alias("score_micro"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score_micro"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            "id", "term", F.col("tf").cast("long").alias("tf"),
            "score_micro", "rk",
        )
    )


# per-host template detection: a line present in >= this fraction of a
# host's documents is navigation/boilerplate, not content
TMPL_MIN_PERMILLE = 250   # report lines at or above this share
TMPL_FLAG_PERMILLE = 500  # flag as template at or above this share


def template_lines(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_permille: int = TMPL_MIN_PERMILLE,
    flag_permille: int = TMPL_FLAG_PERMILLE,
) -> DataFrame:
    """(grp, line, n_docs, frac_permille, is_template) — per-host
    boilerplate template detection: every newline-delimited line that
    appears in at least ``min_permille``/1000 of the host's documents,
    flagged as template at ``flag_permille`` — the per-host counterpart of
    corpus-wide paragraph dedup (CCNet §4.1 runs line dedup per shard;
    production web pipelines run it per HOST so that one site's nav menu,
    cookie banner, and footer never survive into training text while a
    sentence two sites share does). Fractions are integer permille
    (``n_docs·1000 div total_docs``), so every engine agrees bit-exactly.

    100-TB shape: one explode → distinct on (grp, id, line) — uniform keys
    (a host's pages spread over the hash space with doc id in the key) —
    then a (grp, line) count aggregate with map-side partial combine and a
    per-host totals join keyed on grp. No window over the corpus; the
    totals side is |hosts| rows (broadcast when it fits). Output is the
    per-host template table a cleaning pass broadcast-anti-joins against.
    """
    lines = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), "\n")).alias("raw"),
        )
        .select("grp", "id", F.trim("raw").alias("line"))
        .filter(F.col("line") != "")
        .distinct()
    )
    per_line = lines.groupBy("grp", "line").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("__total")
    )
    return (
        per_line.join(totals, "grp")
        .select(
            "grp",
            "line",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr("cast(n_docs * 1000 div __total as bigint)").alias(
                "frac_permille"
            ),
        )
        .filter(F.col("frac_permille") >= min_permille)
        .select(
            "grp", "line", "n_docs", "frac_permille",
            (F.col("frac_permille") >= flag_permille).alias("is_template"),
        )
    )


# stupid-backoff discount (Brants et al. 2007): unseen bigrams fall back
# to alpha * unigram; alpha enters the ONE float rounding point below
BIGRAM_BACKOFF_ALPHA = 0.4


def bigram_lm_score(
    train: DataFrame,
    score: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_bigrams, n_backoff, n_oov, sum_lp_micronat, avg_lp_micronat)
    — held-out bigram language-model scoring with stupid backoff (Brants
    et al. 2007 §3: score(w|prev) = c(prev,w)/c(prev) if seen, else
    alpha·c(w)/T, no normalization — THE web-scale LM-filter shape, because
    unlike Kneser-Ney it needs no discount fitting and every count table is
    an additive aggregate). The LM is fit on ``train`` and scores the
    held-out ``score`` docs per bigram position; OOV words take
    alpha·1/T. Each branch's log-prob is rounded ONCE to integer
    micro-nats (the unigram_lm_score recipe), all downstream math is
    BIGINT, so any engine agrees bit-exactly.

    100-TB shape: fitting is two vocabulary-bounded uniform-key aggregates
    (bigram counts; context counts derived FROM the bigram table, never a
    second corpus pass); scoring explodes the held-out docs once and
    left-joins the two count tables on their term keys — web-scale count
    tables are NOT hand-broadcast (AQE picks broadcast when they fit and
    splits the inevitable hot heads otherwise); the per-document sum is
    uniform by construction. Documents under 2 tokens produce no bigrams
    and drop out deterministically."""
    alpha = BIGRAM_BACKOFF_ALPHA

    def _bigrams(docs: DataFrame) -> DataFrame:
        w = f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
        return (
            docs.select(
                F.col(id_col).alias("id"),
                F.expr(w).alias("__w"),
            )
            .filter(F.size("__w") >= 2)
            .select(
                "id",
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(__w, 1, size(__w) - 1)").alias("prev"),
                        F.expr("slice(__w, 2, size(__w) - 1)").alias("cur"),
                    )
                ).alias("bg"),
            )
            .select("id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
        )

    cb = _bigrams(train).groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("cb")
    )
    cc = cb.groupBy("prev").agg(F.sum("cb").alias("cc"))
    uni = (
        train.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("cur")
        )
        .filter(F.length("cur") > 0)
        .groupBy("cur")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    total = uni.agg(F.sum("tf").alias("T"))
    lp_bi = cb.join(cc, "prev").select(
        "prev", "cur",
        F.round(F.log(F.col("cb") / F.col("cc")) * 1e6)
        .cast("long").alias("lp_bi"),
    )
    lp_uni = uni.crossJoin(F.broadcast(total)).select(
        "cur",
        F.round(F.log(F.lit(alpha) * F.col("tf") / F.col("T")) * 1e6)
        .cast("long").alias("lp_uni"),
    )
    lp_oov = total.select(
        F.round(F.log(F.lit(alpha) * F.lit(1.0) / F.col("T")) * 1e6)
        .cast("long").alias("lp_oov")
    )
    scored = (
        _bigrams(score)
        .join(lp_bi, ["prev", "cur"], "left")
        .join(lp_uni, "cur", "left")
        .crossJoin(F.broadcast(lp_oov))
        .select(
            "id",
            F.coalesce("lp_bi", "lp_uni", "lp_oov").alias("lp"),
            F.when(F.col("lp_bi").isNotNull(), 0)
            .when(F.col("lp_uni").isNotNull(), 1)
            .otherwise(0).alias("is_backoff"),
            F.when(F.col("lp_bi").isNotNull() | F.col("lp_uni").isNotNull(), 0)
            .otherwise(1).alias("is_oov"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("is_backoff").alias("n_backoff"),
            F.sum("is_oov").alias("n_oov"),
            F.sum("lp").alias("sum_lp_micronat"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("n_backoff").cast("long").alias("n_backoff"),
            F.col("n_oov").cast("long").alias("n_oov"),
            "sum_lp_micronat",
            F.expr("div(sum_lp_micronat, n_bigrams)").alias("avg_lp_micronat"),
        )
    )


def strip_template_lines(
    docs: DataFrame,
    templates: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, grp, n_kept, n_stripped, text_clean) — the cleaning consumer of
    :func:`template_lines`: remove every line flagged ``is_template`` in
    the document's own host's template table, preserving the order of the
    surviving lines. Blank lines are dropped on both sides (the template
    pass never saw them). Documents whose every line is template survive
    with ``text_clean = ''`` — the downstream length gate (gopher_filter)
    is the policy point for dropping them, not this operator.

    100-TB shape: one posexplode (order carried as an integer, never a
    window), a left join on the uniform (grp, line) key — the template
    table is |hosts|·O(template lines) rows and is NOT hand-broadcast
    (AQE broadcasts when it fits) — and one uniform-key per-document
    aggregate; reassembly sorts each document's own ≤ |lines| array
    (array_sort of collected (pos, line) structs), never the corpus."""
    lines = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"),
        )
        .select("grp", "id", "pos", F.trim("raw").alias("line"))
        .filter(F.col("line") != "")
    )
    t = templates.filter("is_template").select(
        "grp", "line", F.lit(1).alias("__t")
    )
    return (
        lines.join(t, ["grp", "line"], "left")
        .groupBy("id", "grp")
        .agg(
            F.sum(F.when(F.col("__t").isNull(), 1).otherwise(0))
            .cast("long").alias("n_kept"),
            F.sum(F.when(F.col("__t").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_stripped"),
            F.expr(
                "array_sort(collect_list("
                "case when __t is null then struct(pos, line) end))"
            ).alias("__k"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("grp").alias(group_col),
            "n_kept",
            "n_stripped",
            F.array_join(
                F.expr("transform(__k, x -> x.line)"), "\n"
            ).alias("text_clean"),
        )
    )


# ---------------------------------------------------------------- PMI
# collocation mining (Church & Hanks 1990): sentinel tokens let unigram
# frequencies and the total derive FROM the bigram count table, so the
# whole statistic costs ONE corpus pass
PMI_SENT_L = "<s>"
PMI_SENT_R = "</s>"


def pmi_collocations(
    docs: DataFrame,
    top_k: int = 100,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``top_k`` bigram collocations by pointwise mutual information
    (Church & Hanks 1990) — ``(w1, w2, c12, c1, c2, pmi_micronat)``,
    ordered deterministically by (pmi DESC, w1, w2); ``min_count`` floors
    ``c12`` so singletons can't dominate (their PMI is maximal by
    construction).

    100-TB shape: ONE corpus pass — tokens (lowercased alpha words)
    wrapped in ``<s>``/``</s>`` sentinels explode into the bigram count
    table (map-side partial combine; shuffled rows are
    vocabulary²-bounded, not token-bounded). Every real token occurs
    exactly once as a bigram's LEFT (the ``</s>`` sentinel guarantees a
    successor) and once as its RIGHT, so the unigram marginals c1/c2 and
    the total T all derive FROM the bigram table — never a second corpus
    pass (the bigram_lm_score lesson). The marginal joins key on the
    uniform term columns of count-table-sized inputs (AQE broadcasts
    when they fit); the top-k is ``orderBy().limit()`` — Spark plans
    TakeOrdered, never a global sort. The log rounds ONCE to integer
    micro-nats from an all-double expression evaluated in one fixed
    order, so engines agree bit-exactly."""
    return pmi_from_counts(bigram_counts(docs, text_col), top_k, min_count)


def bigram_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The mergeable sentinel-bigram count table ``(w1, w2, c12)`` —
    additive state: counts from two corpus slices union+sum into the
    whole-corpus table (the basis of :func:`pmi_incremental`)."""
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.expr(
            f"concat(array('{PMI_SENT_L}'), "
            f"regexp_extract_all(lower({text_col}), '[a-z]+', 0), "
            f"array('{PMI_SENT_R}'))"
        ).alias("__w")
    )
    bg = toks.select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(__w, 1, size(__w) - 1)").alias("w1"),
                F.expr("slice(__w, 2, size(__w) - 1)").alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    return bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )


def pmi_incremental(
    delta_docs: DataFrame,
    stored_counts: DataFrame,
    top_k: int = 100,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Incremental PMI maintenance — an ADDITIVE-STATE member of the
    delta-vs-corpus family (the anchor_stats_incremental shape): tokenize
    ONLY the delta, merge its bigram counts into the persisted
    :func:`bigram_counts` state by sum, and recompute the collocation
    list from the merged table. The corpus text is never re-read; the
    battery oracle is the WHOLE-CORPUS PMI SQL, so a hash match proves
    the merge reconstructs the batch answer exactly.

    100-TB shape: the merge is one uniform-key (w1, w2) sum over
    state-table-sized inputs (the delta side is small by definition, AQE
    broadcasts it); marginals/total/top-k are the batch finisher
    unchanged."""
    merged = (
        stored_counts.unionByName(bigram_counts(delta_docs, text_col))
        .groupBy("w1", "w2")
        .agg(F.sum("c12").alias("c12"))
    )
    return pmi_from_counts(merged, top_k, min_count)


def pmi_from_counts(
    cb: DataFrame, top_k: int = 100, min_count: int = 5
) -> DataFrame:
    """Finisher shared by the batch and incremental paths: marginals and
    total FROM the count table, micro-nat PMI, TakeOrdered top-k.

    The count table is referenced FOUR times (candidate filter, both
    marginals, the total), so it is lineage-cut first — consumers read
    the one materialization (``Scan ExistingRDD``); without the cut each
    reference re-runs the tokenize+aggregate subtree (the dsir_weights
    3-scan lesson), re-reading the corpus up to 4×."""
    from ..operators.ckpt import cut

    cb = cut(cb, False)
    c1 = cb.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c2 = cb.groupBy("w2").agg(F.sum("c12").alias("c2"))
    total = cb.agg(F.sum("c12").alias("T"))
    return (
        cb.filter(
            (F.col("c12") >= min_count)
            & (F.col("w1") != PMI_SENT_L)
            & (F.col("w2") != PMI_SENT_R)
        )
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "c12", "c1", "c2",
            F.round(
                F.log(
                    (F.col("c12").cast("double") * F.col("T").cast("double"))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                )
                * 1e6
            ).cast("long").alias("pmi_micronat"),
        )
        .orderBy(F.desc("pmi_micronat"), "w1", "w2")
        .limit(top_k)
    )
