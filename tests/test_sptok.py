"""Unigram-LM tokenizer (operators/sptok): hand-computed Viterbi,
coverage guarantee, tie-breaks, and plan shape."""

from pyspark.sql import functions as F

from webcrawl_spark.operators import sptok as SP


def _vocab(spark, rows):
    return spark.createDataFrame(rows, "piece string, lp long")


def _words(spark, rows):
    return spark.createDataFrame(rows, "word string, freq long")


def test_viterbi_hand_computed(spark):
    """abc under lp {a:-100, b:-200, c:-300, ab:-250, bc:-350}: best is
    a+bc at cost 450 (ab+c costs 550, a+b+c 600, abc absent)."""
    v = _vocab(spark, [("a", -100), ("b", -200), ("c", -300),
                       ("ab", -250), ("bc", -350)])
    r = SP.viterbi_segment(_words(spark, [("abc", 7)]), v).collect()[0]
    assert r.best_cost == 450
    assert r.n_pieces == 2
    assert sorted(r.pieces) == ["a", "bc"]


def test_viterbi_single_char_coverage(spark):
    """A word with no multi-char pieces in the vocab segments into its
    characters — the coverage guarantee."""
    v = _vocab(spark, [("x", -10), ("y", -20), ("z", -30)])
    r = SP.viterbi_segment(_words(spark, [("zyx", 1)]), v).collect()[0]
    assert r.n_pieces == 3 and sorted(r.pieces) == ["x", "y", "z"]
    assert r.best_cost == 60


def test_viterbi_tie_prefers_fewer_pieces(spark):
    """Equal total cost -> the packing's tie-break picks fewer pieces."""
    v = _vocab(spark, [("a", -100), ("aa", -200)])
    r = SP.viterbi_segment(_words(spark, [("aa", 1)]), v).collect()[0]
    # a+a and aa both cost 200; aa is one piece
    assert r.best_cost == 200 and r.n_pieces == 1
    assert list(r.pieces) == ["aa"]


def test_candidate_vocab_coverage_and_floor(spark):
    """Single chars always kept; multi-char pieces need the count floor;
    counts weight by word frequency."""
    words = _words(spark, [("abab", 3), ("q", 1)])
    got = {r.piece: r["count"]
           for r in SP.candidate_vocab(words, min_count=4).collect()}
    assert got["a"] == 6 and got["b"] == 6 and got["q"] == 1
    # 'ab' occurs twice per 'abab' (count 6, kept); 'ba' once (count 3,
    # under the floor) and 'abab' itself (count 3) drop
    assert got["ab"] == 6
    assert "ba" not in got and "abab" not in got


def test_unigram_learn_end_to_end(spark):
    """One EM round on a tiny skewed corpus: the dominant word survives
    as a whole piece and counts are exact."""
    docs = spark.createDataFrame(
        [(i, "hello hello hello world") for i in range(5)],
        "doc_id long, text string",
    )
    got = {r.piece: (r.n_tokens, r.rank)
           for r in SP.unigram_learn(docs, min_count=2, top_n=10).collect()}
    assert got["hello"][0] == 15
    assert got["world"][0] == 5
    assert got["hello"][1] == 1  # most frequent piece ranks first


def test_plan_shape(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = (
        SP.unigram_learn(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_encode_stats_fertility(spark):
    """Per-doc stats: pieces counted once per occurrence via the
    distinct-word join; fertility in integer per-100-words."""
    docs = spark.createDataFrame(
        [(1, "hello hello world"), (2, "hello")],
        "doc_id long, text string",
    )
    got = {
        r.id: (r.n_words, r.n_chars, r.n_pieces, r.pieces_per_100_words)
        for r in SP.unigram_encode_stats(docs, min_count=2).collect()
    }
    # 'hello' count 3 >= 2 -> whole piece; 'world' count 1 -> chars
    assert got[1] == (3, 15, 1 + 1 + 5, (7 * 100) // 3)
    assert got[2] == (1, 5, 1, 100)


def test_sp_big_bounds(spark):
    """SP_BIG exceeds the costliest real segmentation (SP_WORD_CAP pieces,
    each below ln(2⁶³)·10⁶ micro-nats) and its packed DP cell still fits a
    BIGINT. A full-length word of the costliest single chars segments into
    those chars."""
    import math

    max_piece = 44_000_000
    assert math.log(2**63) * 1e6 < max_piece
    assert SP.SP_BIG > SP.SP_WORD_CAP * max_piece
    assert SP.SP_WORD_CAP * SP.SP_BIG * 2**20 < 2**63

    word = "ab" * (SP.SP_WORD_CAP // 2)
    v = _vocab(spark, [("a", -(max_piece - 1)), ("b", -(max_piece - 1))])
    r = SP.viterbi_segment(_words(spark, [(word, 1)]), v).collect()[0]
    assert r.n_pieces == SP.SP_WORD_CAP
    assert r.best_cost == SP.SP_WORD_CAP * (max_piece - 1)
