"""Unit battery for C4 line-level cleaning, token-window chunking, BM25
ranking (functions/textstats) and quality-aware dedup survivor selection
(operators/textdedup.dedup_keep_best)."""

import math

import pytest

from webcrawl_spark.functions.textstats import (
    BM25_B,
    BM25_K1,
    bm25_rank,
    c4_clean,
    chunk_by_tokens,
)
from webcrawl_spark.operators.textdedup import dedup_keep_best

GOOD = "this sentence has plenty of words and ends well."


def test_c4_clean_line_rules(spark):
    text = "\n".join(
        [
            GOOD,                                        # kept
            "no terminal punctuation on this long line",  # dropped: terminal
            "too short.",                                 # dropped: <5 words
            "please enable javascript to view the page.",  # dropped: js
            "a final question with enough words here?",    # kept
        ]
    )
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = c4_clean(docs).collect()[0]
    assert row.lines_kept == 2 and row.lines_dropped == 3
    assert row.reason == "too_few_lines" and not row.keep  # 2 < C4_MIN_LINES
    assert row.text_clean == ""


def test_c4_clean_doc_rules_first_match_wins(spark):
    three_good = "\n".join([GOOD] * 3)
    docs = spark.createDataFrame(
        [
            (1, three_good),                                   # ok
            (2, three_good + "\nsome Lorem Ipsum filler."),    # lorem
            (3, three_good + "\ncode { brace }"),              # brace
            # both markers → FIRST rule (lorem) wins
            (4, three_good + "\nlorem ipsum { x }"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in c4_clean(docs).collect()}
    assert out[1].reason == "ok" and out[1].keep
    assert out[1].text_clean == three_good
    assert out[2].reason == "lorem_ipsum" and not out[2].keep
    assert out[3].reason == "brace"
    assert out[4].reason == "lorem_ipsum"


def test_c4_clean_terminal_variants_and_trim(spark):
    # each terminal mark counts; trailing spaces are trimmed first
    text = "\n".join(
        [
            "an exclamation with five words total here!",
            'a quoted sentence with enough words ends."',
            "a padded sentence with enough words here.   ",
        ]
    )
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = c4_clean(docs).collect()[0]
    assert row.lines_kept == 3 and row.keep


def test_chunk_by_tokens_hand_computed(spark):
    words = [f"w{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    rows = sorted(
        chunk_by_tokens(docs, size=4, stride=3).collect(),
        key=lambda r: r.chunk_id,
    )
    # n_chunks = 1 + ceil((10-4)/3) = 3; starts 0, 3, 6
    assert [r.start_tok for r in rows] == [0, 3, 6]
    assert rows[0].chunk_text == "w0 w1 w2 w3"
    assert rows[1].chunk_text == "w3 w4 w5 w6"
    assert rows[2].chunk_text == "w6 w7 w8 w9"
    assert all(r.n_tok == 4 for r in rows)


def test_chunk_by_tokens_short_doc_single_chunk(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    rows = chunk_by_tokens(docs, size=8, stride=8).collect()
    assert len(rows) == 1
    assert rows[0].chunk_id == 0 and rows[0].n_tok == 3
    assert rows[0].chunk_text == "a b c"


def test_chunk_by_tokens_exact_tiling_reconstructs(spark):
    words = [f"t{i}" for i in range(23)]
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    rows = sorted(
        chunk_by_tokens(docs, size=5, stride=5).collect(),
        key=lambda r: r.chunk_id,
    )
    assert " ".join(r.chunk_text for r in rows) == " ".join(words)
    assert rows[-1].n_tok == 23 % 5  # ragged tail chunk


def test_chunk_by_tokens_every_token_covered_with_overlap(spark):
    n, size, stride = 57, 16, 11
    words = [f"t{i}" for i in range(n)]
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    rows = chunk_by_tokens(docs, size=size, stride=stride).collect()
    covered = set()
    for r in rows:
        covered.update(range(r.start_tok, r.start_tok + r.n_tok))
    assert covered == set(range(n))
    assert len(rows) == 1 + math.ceil((n - size) / stride)


def test_chunk_by_tokens_rejects_bad_params(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_by_tokens(docs, size=4, stride=5)
    with pytest.raises(ValueError):
        chunk_by_tokens(docs, size=0, stride=0)


def _bm25_expected(tf, df, n_docs, dl, avgdl):
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return round(
        idf * (tf * (BM25_K1 + 1)) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl))
        * 1e6
    )


def test_bm25_rank_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark streaming engine"),   # tf=2, dl=4
            (2, "spark on a much longer document with many extra words"),
            (3, "nothing relevant here at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in bm25_rank(docs, ["spark"], k=10).collect()}
    assert set(rows) == {1, 2}          # doc 3 has no hit → absent
    dls = {1: 4, 2: 10, 3: 5}
    avgdl = sum(dls.values()) / 3
    assert rows[1].score_micro == _bm25_expected(2, 2, 3, 4, avgdl)
    assert rows[2].score_micro == _bm25_expected(1, 2, 3, 10, avgdl)
    assert rows[1].rank == 1 and rows[2].rank == 2  # higher tf, shorter doc


def test_bm25_rank_length_normalization_and_topk(spark):
    # same tf=1: the SHORTER document must outrank the longer one
    docs = spark.createDataFrame(
        [
            (1, "merge now"),
            (2, "merge inside a considerably longer document body text"),
            (3, "merge here too"),
            (4, "unrelated filler"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_rank(docs, ["merge"], k=2).collect()
    assert len(rows) == 2               # top-k cap respected
    assert [r.id for r in sorted(rows, key=lambda r: r.rank)] == [1, 3]


def test_bm25_rank_multi_term_n_hits(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark window merge"),
            (2, "spark spark spark"),
        ],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in
            bm25_rank(docs, ["spark", "window", "merge"], k=10).collect()}
    assert rows[1].n_hits == 3 and rows[2].n_hits == 1


def test_dedup_keep_best_prefers_high_score(spark):
    # docs 1 and 2 are exact duplicates → one LSH cluster; doc 3 singleton
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, dup), (2, dup), (3, "completely different text body")],
        "doc_id long, text string",
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 7)], "id long, score long"
    )
    out = {r.id: r for r in dedup_keep_best(docs, scores).collect()}
    assert out[1].cluster_id == out[2].cluster_id == 1
    assert out[1].best_id == 2 and not out[1].keep      # higher score wins
    assert out[2].keep
    assert out[3].best_id == 3 and out[3].keep          # singleton keeps self


def test_dedup_keep_best_score_tie_takes_lowest_id(spark):
    dup = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(1, dup), (2, dup)], "doc_id long, text string"
    )
    scores = spark.createDataFrame([(1, 7), (2, 7)], "id long, score long")
    out = {r.id: r for r in dedup_keep_best(docs, scores).collect()}
    assert out[1].keep and not out[2].keep


from webcrawl_spark.functions.textstats import inverted_index
from webcrawl_spark.operators.textdedup import duplicate_spans


def test_duplicate_spans_flags_shared_span_positions(spark):
    shared = "one two three four five six seven eight"  # 8 words
    docs = spark.createDataFrame(
        [
            (1, "intro words here " + shared),           # span opens at pos 3
            (2, shared + " trailing tail"),              # span opens at pos 0
            (3, "completely unrelated text body with many distinct words"),
        ],
        "doc_id long, text string",
    )
    rows = duplicate_spans(docs, n=8).collect()
    flagged = {(r.id, r.pos) for r in rows}
    assert (1, 3) in flagged and (2, 0) in flagged
    assert all(r.id != 3 for r in rows)
    by_doc1 = [r for r in rows if r.id == 1 and r.pos == 3][0]
    assert by_doc1.n_docs == 2 and by_doc1.n_occurrences == 2


def test_duplicate_spans_within_doc_repeat_not_cross_doc(spark):
    # the gram repeats INSIDE doc 1 only → n_docs=1 → not flagged
    rep = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, rep + " x " + rep), (2, "other words entirely here friend")],
        "doc_id long, text string",
    )
    assert duplicate_spans(docs, n=8).count() == 0


def test_duplicate_spans_short_docs_contribute_nothing(spark):
    docs = spark.createDataFrame(
        [(1, "only four words here"), (2, "only four words here")],
        "doc_id long, text string",
    )
    assert duplicate_spans(docs, n=8).count() == 0


def test_inverted_index_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (10, "alpha beta alpha"),
            (20, "beta gamma"),
            (30, "alpha"),
        ],
        "doc_id long, text string",
    )
    out = {r.term: r for r in inverted_index(docs, min_term_len=4).collect()}
    assert out["alpha"].df == 2 and out["alpha"].tf == 3
    # doc 10: first_pos 0, tf_d 2; doc 30: first_pos 0, tf_d 1
    assert out["alpha"].postings == "10:0:2,30:0:1"
    assert out["beta"].postings == "10:1:1,20:0:1"
    assert out["gamma"].df == 1 and out["gamma"].postings == "20:1:1"


def test_inverted_index_salt_invariant_and_capped(spark):
    docs = spark.createDataFrame(
        [(i, "common word" + str(i)) for i in range(1, 9)],
        "doc_id long, text string",
    )
    a = sorted(
        inverted_index(docs, min_term_len=4, k_postings=3, salt=1).collect()
    )
    b = sorted(
        inverted_index(docs, min_term_len=4, k_postings=3, salt=4).collect()
    )
    assert a == b  # the two-level top-k is exact, salt only re-shards
    common = [r for r in a if r.term == "common"][0]
    assert common.df == 8                      # df exact, not capped
    assert common.postings == "1:0:1,2:0:1,3:0:1"  # postings capped at k


def _phrase_py(texts: dict, phrase: list[str]):
    """Plain-Python spec for phrase_search: scan every adjacent window."""
    n = len(phrase)
    out = {}
    for i, t in enumerate(texts):
        toks = t.lower().strip().split()
        ends = [
            j + n - 1
            for j in range(len(toks) - n + 1)
            if toks[j:j + n] == phrase
        ]
        if ends:
            out[i] = (len(ends), min(ends) - (n - 1))
    return out


@pytest.mark.parametrize(
    "phrase",
    [
        ["big", "data"],                 # plain bigram
        ["big", "data", "engine"],       # 3-term fold (two intersections)
        ["go", "go"],                    # repeated term: same position list
    ],
)
def test_phrase_search_matches_python_spec(spark, phrase):
    from webcrawl_spark.functions.textstats import phrase_search

    texts = [
        "big data engine for big data jobs",     # 2x 'big data', 1x 3-term
        "data big engine go go go stop",         # reversed pair; 'go go' x2
        "big big data data engine engine",       # adjacency edge cases
        "nothing here matches anything else",    # no phrase terms at all
        "big data",                              # phrase at document end
        "go stop go stop go",                    # 'go' present, never adjacent
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.id: (r.n_matches, r.first_pos)
        for r in phrase_search(docs, phrase, k=10).collect()
    }
    assert got == _phrase_py(texts, phrase)


def test_phrase_search_topk_and_rank_total_order(spark):
    from webcrawl_spark.functions.textstats import phrase_search

    docs = spark.createDataFrame(
        [(i, ("hit me " * (1 + i % 3)).strip()) for i in range(9)],
        "doc_id long, text string",
    )
    rows = phrase_search(docs, ["hit", "me"], k=4).collect()
    # ties on n_matches break by ascending id; rank is 1..k dense
    assert [r.rank for r in rows] == [1, 2, 3, 4]
    assert [(r.n_matches, r.id) for r in rows] == sorted(
        [(r.n_matches, r.id) for r in rows], key=lambda x: (-x[0], x[1])
    )
    assert rows[0].n_matches == 3 and rows[0].id == 2


# ---------------------------------------------------------------------------
# postings-state BM25 (maintained index)
# ---------------------------------------------------------------------------

from webcrawl_spark.functions.textstats import (  # noqa: E402
    bm25_from_postings,
    bm25_incremental,
    postings_state,
)


def _bmdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_from_postings_equals_raw_text(spark):
    """Scoring from the postings table must be bit-identical to scoring
    from raw text."""
    docs = _bmdocs(spark, [
        (1, "spark merge spark window join"),
        (2, "window window filter"),
        (3, "merge of the ten streams under one window pane today ok"),
        (4, "nothing relevant here"),
    ])
    raw = sorted(map(tuple, bm25_rank(docs, ["spark", "window"], k=10).collect()))
    viaidx = sorted(map(tuple, bm25_from_postings(
        postings_state(docs), ["spark", "window"], k=10
    ).collect()))
    assert raw == viaidx


def test_bm25_incremental_equals_whole_corpus(spark):
    """Delta-tokenize + tf-sum merge must answer exactly like a
    from-scratch build over corpus ∪ delta."""
    corpus = [(i, f"filler text number {i} about window frames") for i in range(3, 12)]
    delta = [(0, "spark spark merge"), (1, "window merge spark"), (2, "plain filler")]
    whole = _bmdocs(spark, corpus + delta)
    stored = postings_state(_bmdocs(spark, corpus)).localCheckpoint(eager=True)
    inc = sorted(map(tuple, bm25_incremental(
        _bmdocs(spark, delta), stored, ["spark", "merge"], k=10
    ).collect()))
    batch = sorted(map(tuple, bm25_rank(whole, ["spark", "merge"], k=10).collect()))
    assert inc == batch


def test_bm25_incremental_refetched_doc_replaces_postings(spark):
    """A doc id present in BOTH state and delta is a re-fetch: its stored
    postings go, and the merged index answers like a from-scratch build
    over the delta's text for that id."""
    stored = postings_state(
        _bmdocs(spark, [(1, "spark window"), (2, "other words")])
    ).localCheckpoint(eager=True)
    terms = ["spark", "window", "other"]
    inc = sorted(map(tuple, bm25_incremental(
        _bmdocs(spark, [(1, "spark spark")]), stored, terms, k=10
    ).collect()))
    refetched = _bmdocs(spark, [(1, "spark spark"), (2, "other words")])
    batch = sorted(map(tuple, bm25_rank(refetched, terms, k=10).collect()))
    assert inc == batch


def test_bm25_incremental_plan_never_reads_corpus_text(spark, tmp_path):
    """Plan guard: with the index state persisted as parquet, the consumer
    plan's only file scans read (id, term, tf) — corpus TEXT structurally
    cannot be re-tokenized (the delta, in-memory here, owns every
    Generate; its subtree repeats textually per consumer branch but
    exchange reuse dedupes execution)."""
    p = str(tmp_path / "postings")
    postings_state(
        _bmdocs(spark, [(1, "spark window"), (2, "other words")])
    ).write.parquet(p)
    plan = bm25_incremental(
        _bmdocs(spark, [(3, "delta doc")]), spark.read.parquet(p),
        ["spark"], k=5
    )._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"ReadSchema: ([^\n]*)", plan):
        assert "text" not in m.group(1), m.group(1)
    assert "Generate" in plan          # the delta tokenize exists
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
