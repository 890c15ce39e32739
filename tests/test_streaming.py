"""Structured Streaming ≡ batch equivalence (watermarked windows + custom
stateful operator)."""

import time

from pyspark.sql import functions as F

from webcrawl_spark.operators import memo
from webcrawl_spark.streaming import events as SE

SF = "/root/testdata/sf0.001"


def _drain(q, timeout=120):
    deadline = time.time() + timeout
    while time.time() < deadline:
        q.processAllAvailable()
        if not q.status["isDataAvailable"]:
            break
        time.sleep(0.2)
    q.stop()


def test_stream_tumbling_equals_batch(spark):
    q = SE.stream_tumbling_counts(spark, SF, "tumbling_t")
    _drain(q)
    got = {
        (r["hour_bucket"], r["event_type"]): r["n"]
        for r in spark.sql("select * from tumbling_t").collect()
    }
    want = {
        (r["hb"], r["event_type"]): r["n"]
        for r in (
            spark.read.parquet(f"{SF}/events.parquet")
            .groupBy(
                F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH").alias("hb"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    assert got == want and len(got) > 0


def test_stream_stateful_counts(spark):
    q = SE.stream_session_counts(spark, SF, "sessions_t")
    _drain(q)
    # update-mode memory sink keeps every update; the MAX per user is the
    # final accumulated count
    got = {
        r["user_id"]: r["mx"]
        for r in spark.sql(
            "select user_id, max(n_events) as mx from sessions_t group by user_id"
        ).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in (
            spark.read.parquet(f"{SF}/events.parquet")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    assert got == want and len(got) > 0


def _frontier_rows(n, hosts):
    return [
        (f"http://h{i % hosts}.test/p{i}.html", f"h{i % hosts}.test",
         (i * 7) % 2, i)
        for i in range(n)
    ]


def test_streaming_frontier_single_trigger_equals_batch(spark, tmp_path):
    """One trigger = one politeness quantum: released set == batch window
    top-k per host (plans/round.py step 1)."""
    from pyspark.sql import Window
    from webcrawl_spark.streaming import frontier as SFr

    rows = _frontier_rows(60, 5)
    src = str(tmp_path / "f1")
    spark.createDataFrame(rows, SFr.FRONTIER_IN_SCHEMA).coalesce(1).write.parquet(src)
    q = SFr.stream_frontier_politeness(spark, src, "frontier_t1", budget=3)
    _drain(q)
    got = {
        (r["host"], r["url"]) for r in spark.sql("select * from frontier_t1").collect()
    }
    w = Window.partitionBy("host").orderBy("priority", "seq")
    want = {
        (r["host"], r["url"])
        for r in (
            spark.createDataFrame(rows, SFr.FRONTIER_IN_SCHEMA)
            .withColumn("rn", F.row_number().over(w))
            .filter("rn <= 3")
            .collect()
        )
    }
    assert got == want and len(got) == 15


def test_streaming_frontier_rank_weighted_equals_batch(spark, tmp_path):
    """Rank-priority parity (VERDICT r4 item 7): the streaming frontier with
    a ranks table releases exactly the set a rank-weighted batch round
    selects — both fold rank via the one shared expression
    (functions.rankprio.fold_rank_priority), so class still dominates and
    rank reorders within a class."""
    from pyspark.sql import Window
    from webcrawl_spark.functions.rankprio import fold_rank_priority
    from webcrawl_spark.streaming import frontier as SFr

    rows = _frontier_rows(60, 5)
    # rank LATER urls higher so plain (priority, seq) order (earliest seq
    # wins) and rank-weighted order (highest rank wins within a class)
    # provably differ
    ranks = [(url, i) for i, (url, _h, _p, _s) in enumerate(rows)]
    ranks_df = spark.createDataFrame(ranks, "url string, rank long")
    src = str(tmp_path / "f3")
    spark.createDataFrame(rows, SFr.FRONTIER_IN_SCHEMA).coalesce(1).write.parquet(src)
    q = SFr.stream_frontier_politeness(
        spark, src, "frontier_t3", budget=3, ranks=ranks_df
    )
    _drain(q)
    got = {
        (r["host"], r["url"], r["priority"])
        for r in spark.sql("select * from frontier_t3").collect()
    }
    w = Window.partitionBy("host").orderBy("priority", "seq")
    batch = fold_rank_priority(
        spark.createDataFrame(rows, SFr.FRONTIER_IN_SCHEMA), ranks_df
    )
    want = {
        (r["host"], r["url"], r["priority"])
        for r in batch.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3").collect()
    }
    assert got == want and len(got) == 15
    # the weighting actually changed the selection vs the unranked run
    unranked = {
        (r["host"], r["url"])
        for r in spark.createDataFrame(rows, SFr.FRONTIER_IN_SCHEMA)
        .withColumn("rn", F.row_number().over(w)).filter("rn <= 3").collect()
    }
    assert {(h, u) for h, u, _p in got} != unranked


def test_streaming_frontier_carryover(spark, tmp_path):
    """Across triggers the per-host queue carries over in state; a python
    replay of the same quantum discipline predicts the exact release order."""
    from webcrawl_spark.streaming import frontier as SFr

    batch1 = _frontier_rows(20, 4)
    batch2 = [
        (f"http://h{i % 4}.test/late{i}.html", f"h{i % 4}.test", 0, 100 + i)
        for i in range(8)
    ]
    src = str(tmp_path / "f2")
    spark.createDataFrame(batch1, SFr.FRONTIER_IN_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    q = SFr.stream_frontier_politeness(spark, src, "frontier_t2", budget=2)
    q.processAllAvailable()
    spark.createDataFrame(batch2, SFr.FRONTIER_IN_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    _drain(q)

    got = [
        (r["host"], r["url"], r["priority"], r["seq"])
        for r in spark.sql("select * from frontier_t2").collect()
    ]
    # python replay: two quanta, budget 2 per host per quantum
    state: dict = {}
    want = set()
    for batch in (batch1, batch2):
        for url, host, prio, seq in batch:
            state.setdefault(host, []).append((prio, seq, url))
        for host, pend in state.items():
            pend.sort()
            emit, state[host] = pend[:2], pend[2:]
            want.update((host, u) for _p, _s, u in emit)
    assert {(h, u) for h, u, _p, _s in got} == want


def test_stream_dedup_equals_batch(spark):
    """Streaming first-arrival dedup keeps exactly one row per distinct
    content digest — same digest set and count as the batch distinct."""
    q = SE.stream_dedup_docs(spark, SF, "dedup_t")
    _drain(q)
    got = spark.sql("select * from dedup_t").toPandas()
    want = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.md5(F.col("text")).alias("digest"))
        .distinct()
        .toPandas()
    )
    assert len(got) == len(want) > 0
    assert set(got["digest"]) == set(want["digest"])
    # every surviving row is a genuine member of its digest group
    full = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.md5(F.col("text")).alias("digest"))
        .toPandas()
    )
    valid = set(map(tuple, full[["doc_id", "digest"]].itertuples(index=False)))
    assert set(map(tuple, got[["doc_id", "digest"]].itertuples(index=False))) <= valid


def test_stream_dedup_null_text_passthrough(spark, tmp_path):
    """NULL-text rows are not duplicates of each other: dropDuplicates
    treats NULL keys as equal, so the dedup key falls back to the doc_id —
    every content-less row survives ingest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # single parquet FILE — the shape table_stream's symlink staging expects
    pq.write_table(
        pa.table(
            {"doc_id": [1, 2, 3, 4], "text": ["same", "same", None, None]}
        ),
        str(tmp_path / "documents.parquet"),
    )
    q = SE.stream_dedup_docs(spark, str(tmp_path), "dedup_null_t")
    _drain(q)
    got = spark.sql("select * from dedup_null_t").toPandas()
    # one survivor for the duplicated content + BOTH null-text rows
    assert len(got) == 3
    assert {3, 4} <= set(got["doc_id"])


def test_stream_neardup_flags_equals_batch(spark, tmp_path):
    """Near-dup-at-ingest: a delta arriving as THREE micro-batches must
    produce exactly the pairs of the one-shot batch probe — per-document
    results are batch-split-invariant (uncapped delta side), and the
    corpus side is the same persisted signature table for every batch."""
    from webcrawl_spark.operators import textdedup as TD

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 150")
    )
    corpus = docs.filter("doc_id < 100")
    delta = docs.filter("doc_id >= 100")
    memo.clear()
    try:
        corpus_sigs = TD.minhash_wide_cached(corpus, cache_key="stream-corpus")

        # stage the delta as 3 parquet files -> 3 micro-batches
        stage = tmp_path / "delta_stage"
        stage.mkdir()
        for i in range(3):
            delta.filter(f"doc_id % 3 = {i}").coalesce(1).write.mode(
                "append"
            ).parquet(str(stage))

        out = tmp_path / "pairs_out"
        q = SE.stream_neardup_flags(
            spark, str(stage), corpus_sigs, str(out), "neardup_stream_t"
        )
        _drain(q)

        got = {
            (r.a, r.b)
            for r in spark.read.parquet(str(out)).collect()
        }
        want = {
            (r.a, r.b)
            for r in TD.lsh_pairs_incremental(
                delta, corpus_sigs, delta_max_bucket_size=None
            ).collect()
        }
        assert got == want
        assert want, "fixture delta should hit at least one corpus bucket"
    finally:
        memo.clear()


def test_stream_paragraph_dedup_equals_batch(spark, tmp_path):
    """Paragraph-dedup-at-ingest with the growing hash store: a delta
    arriving as three IN-ORDER micro-batches must equal the one-shot
    incremental operator over the whole delta — the per-batch append of
    kept hashes reproduces first-occurrence-wins across batches."""
    import os

    from webcrawl_spark.operators import textdedup as TD

    def txt(i):
        return f"shared boilerplate line\ndoc {i} unique line\ngroup {i % 4} footer"

    all_delta = spark.createDataFrame(
        [(i, txt(i)) for i in range(30)], "doc_id long, text string"
    )
    seed = spark.createDataFrame(
        [(1000, "seed corpus line\ngroup 0 footer")], "doc_id long, text string"
    )

    phash = tmp_path / "phash"
    TD.paragraph_hashes(seed).write.parquet(str(phash))

    # three contiguous in-order batches, mtimes strictly increasing so
    # FileStreamSource (oldest-first) preserves doc order
    stage = tmp_path / "stage"
    stage.mkdir()
    for b, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 30)]):
        all_delta.filter(f"doc_id >= {lo} and doc_id < {hi}").coalesce(1).write.mode(
            "append"
        ).parquet(str(stage))
        for f in os.listdir(stage):
            p = os.path.join(stage, f)
            if os.path.getmtime(p) > b * 10:  # only newly written files
                os.utime(p, (b * 10, b * 10))

    out = tmp_path / "cleaned"
    q = SE.stream_paragraph_dedup(
        spark, str(stage), str(phash), str(out), "para_stream_t"
    )
    _drain(q)

    got = {
        r.doc_id: (r.text_clean, r.paras_kept, r.paras_dropped)
        for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        r.doc_id: (r.text_clean, r.paras_kept, r.paras_dropped)
        for r in TD.paragraph_dedup_incremental(
            all_delta, TD.paragraph_hashes(seed)
        ).collect()
    }
    assert got == want
    # sanity on semantics: doc 0 keeps boilerplate+unique+footer-0-hit?
    # 'group 0 footer' is in the SEED corpus → dropped even for doc 0
    assert got[0][0] == "shared boilerplate line\ndoc 0 unique line"
    # doc 17 (batch 2): boilerplate kept by doc 0 in batch 1 → dropped
    assert got[17][0] == "doc 17 unique line\ngroup 1 footer" or got[17][0] == "doc 17 unique line"


def test_stream_clean_chunk_equals_batch(spark, tmp_path):
    """Stateless C4-clean + chunking at ingest: the drained stream must
    equal the batch composition row-for-row — same expressions, no state,
    so parity is structural."""
    from webcrawl_spark.functions import textstats as TS

    good = "this sentence has plenty of words and ends well."

    def txt(i):
        # docs with i%3==0 keep 3 good lines (pass), others keep 2 (drop)
        lines = [good, f"doc {i} asks a question with enough words?"]
        if i % 3 == 0:
            lines.append("a third full sentence closes the document here.")
        lines.append("no terminal punctuation on this line")
        return "\n".join(lines)

    docs = spark.createDataFrame(
        [(i, txt(i)) for i in range(24)], "doc_id long, text string"
    )
    stage = tmp_path / "stage"
    docs.repartition(3).write.parquet(str(stage))

    schema = spark.read.parquet(str(stage)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    q = (
        SE.clean_chunk_stream(stream, size=8, stride=6)
        .writeStream.format("memory")
        .queryName("clean_chunk_t")
        .outputMode("append")
        .start()
    )
    _drain(q)

    got = {
        (r.doc_id, r.chunk_id): (r.start_tok, r.n_tok, r.chunk_text)
        for r in spark.sql("select * from clean_chunk_t").collect()
    }
    want = {
        (r.doc_id, r.chunk_id): (r.start_tok, r.n_tok, r.chunk_text)
        for r in SE.clean_chunk_stream(docs, size=8, stride=6).collect()
    }
    assert got == want and len(want) > 0
    # only the i%3==0 docs survive the 3-kept-lines rule
    assert {d for d, _ in want} == {i for i in range(24) if i % 3 == 0}


def test_stream_pq_topk_equals_batch(spark, tmp_path):
    """PQ-similarity-at-ingest: a delta arriving as THREE micro-batches
    must produce exactly the one-shot incremental operator's rows — a
    vector's top-k depends only on its own embedding and the static
    model, so batch-split invariance holds by construction."""
    from webcrawl_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter("vec_id % 5 <> 4")
    delta = emb.filter("vec_id % 5 = 4")
    memo.clear()
    try:
        _, cent, codes = SIM.pq_model_cached(
            corpus, cache_key=("stream-pq", SF)
        )

        stage = tmp_path / "emb_stage"
        stage.mkdir()
        for i in range(3):
            delta.filter(f"vec_id % 3 = {i}").coalesce(1).write.mode(
                "append"
            ).parquet(str(stage))

        out = tmp_path / "topk_out"
        q = SE.stream_pq_topk(
            spark, str(stage), cent, codes, str(out), "pq_stream_t", k=3
        )
        _drain(q)

        got = {
            tuple(r) for r in spark.read.parquet(str(out)).collect()
        }
        want = {
            tuple(r)
            for r in SIM.pq_delta_topk(delta, cent, codes, k=3).collect()
        }
        assert got == want
        assert want and len(want) == delta.count() * 3
    finally:
        memo.clear()


def test_stream_hll_registers_equal_batch(spark):
    """Sketch-at-ingest: the drained streaming register table must equal
    the batch HLL registers over the whole corpus (streaming max-agg ==
    the sketch's cellwise-max merge law), hence identical estimates."""
    from webcrawl_spark.operators import sketches as SK
    from webcrawl_spark.operators.textdedup import shingle_hashes_sql

    q = SE.stream_hll_registers(spark, SF, "hll_t", shingle_k=8)
    _drain(q)
    got = {
        (r["grp"], r["idx"]): r["rho"]
        for r in spark.sql("select * from hll_t").collect()
    }
    sh = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            F.col("source").alias("grp"),
            F.explode(F.expr(shingle_hashes_sql("text", k=8))).alias("h"),
        )
    )
    want = {
        (r["grp"], r["idx"]): r["rho"]
        for r in SK.hll_registers(sh).collect()
    }
    assert got == want and len(got) > 0
    # and the estimates built from the streamed registers match too
    est_stream = {
        (r["grp"],): r["est_distinct"]
        for r in SK.hll_estimate(spark.sql("select * from hll_t")).collect()
    }
    est_batch = {
        (r["grp"],): r["est_distinct"] for r in SK.hll_distinct(sh).collect()
    }
    assert est_stream == est_batch


def test_stream_template_counts_equal_batch(spark):
    """Template-at-ingest: the drained streaming (host, line) doc-count
    table must equal the batch template pass's per-line counts (counts
    are additive across batches because each doc ships its within-doc-
    distinct lines exactly once)."""
    from webcrawl_spark.functions import textstats as TS

    q = SE.stream_template_counts(spark, SF, "tmplc_t")
    _drain(q)
    got = {
        (r["grp"], r["line"]): r["n_docs"]
        for r in spark.sql("select * from tmplc_t").collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lines = (
        docs.select(
            F.col("source").alias("grp"),
            F.col("doc_id").alias("id"),
            F.explode(F.split(F.col("text"), "\n")).alias("raw"),
        )
        .select("grp", "id", F.trim("raw").alias("line"))
        .filter(F.col("line") != "")
        .distinct()
    )
    want = {
        (r["grp"], r["line"]): r["n_docs"]
        for r in lines.groupBy("grp", "line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_bigram_counts_equal_batch(spark):
    """PMI-state-at-ingest: the drained streaming (w1, w2) count table
    must equal the batch bigram_counts table — the additive merge law
    that makes pmi_incremental's stored state maintainable at ingest."""
    from webcrawl_spark.functions.textstats import bigram_counts

    q = SE.stream_bigram_counts(spark, SF, "bgc_t")
    _drain(q)
    got = {
        (r["w1"], r["w2"]): r["c12"]
        for r in spark.sql("select * from bgc_t").collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    want = {
        (r["w1"], r["w2"]): r["c12"] for r in bigram_counts(docs).collect()
    }
    assert got == want and len(got) > 0


def test_stream_feed_discovery_equal_batch(spark):
    """Discovery-at-ingest: the drained streaming (host, loc) reference
    counts must equal the batch parse of the same per-doc feed bodies —
    the additive merge law that lets the frontier's discovery state be
    maintained at ingest (parse_feeds is stateless and narrow)."""
    from webcrawl_spark.operators.feeds import parse_feeds
    from webcrawl_spark.queries import _feed_body_sql

    q = SE.stream_feed_discovery(spark, SF, "feeddisc_t")
    _drain(q)
    got = {
        (r["host"], r["loc"]): r["n_refs"]
        for r in spark.sql("select * from feeddisc_t").collect()
    }
    bodies = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.expr("'site' || CAST(doc_id AS STRING) || '.test'").alias("host"),
        F.expr(_feed_body_sql("doc_id")).alias("body"),
    )
    want = {
        (r["host"], r["loc"]): r["n_refs"]
        for r in parse_feeds(bodies)
        .groupBy("host", "loc")
        .agg(F.count(F.lit(1)).alias("n_refs"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_revisit_classify_equals_batch(spark, tmp_path):
    """Revisit-at-ingest: pages arriving as THREE micro-batches must get
    exactly the one-shot classification — per-row verdicts depend only
    on the row's digest and the static previous-capture table."""
    base = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 120")
    )
    # previous capture: digests of docs < 100 as-fetched
    prev = base.filter("doc_id < 100").select(
        F.expr("concat('http://r.test/', doc_id)").alias("url"),
        F.md5("text").alias("prev_digest"),
        F.lit("2026-07-01T00:00:00Z").alias("prev_ts"),
    )
    # today's fetch: every 4th doc changed; docs >= 100 are first-seen
    pages = base.select(
        F.expr("concat('http://r.test/', doc_id)").alias("url"),
        F.lit("2026-08-01T00:00:00Z").alias("ts"),
        F.encode(
            F.when(
                F.col("doc_id") % 4 == 0, F.concat("text", F.lit("v2"))
            ).otherwise(F.col("text")),
            "UTF-8",
        ).alias("payload"),
        F.col("doc_id"),
    )
    stage = tmp_path / "pages_stage"
    stage.mkdir()
    for i in range(3):
        pages.filter(f"doc_id % 3 = {i}").drop("doc_id").coalesce(1).write.mode(
            "append"
        ).parquet(str(stage))

    out = tmp_path / "verdicts_out"
    q = SE.stream_revisit_classify(
        spark, str(stage), prev, str(out), "revisit_stream_t"
    )
    _drain(q)

    got = {
        r.url: r.record_type for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        r.url: r.record_type
        for r in pages.join(prev, "url", "left")
        .select(
            "url",
            F.when(
                F.col("prev_digest").isNotNull()
                & (F.md5("payload") == F.col("prev_digest")),
                F.lit("revisit"),
            ).otherwise(F.lit("response")).alias("record_type"),
        )
        .collect()
    }
    assert got == want
    assert len(got) == 120
    # spot-pin the three verdict classes from the construction
    assert got["http://r.test/1"] == "revisit"      # unchanged, seen
    assert got["http://r.test/4"] == "response"     # changed
    assert got["http://r.test/110"] == "response"   # first-seen


def test_stream_bloom_positions_equal_batch(spark):
    """Bloom-at-ingest: the drained streaming set-bit table must equal
    batch bloom_build over the whole corpus (streaming distinct == the
    filter's position-set union merge law), hence identical probe
    answers for any probe set."""
    from webcrawl_spark.operators import sketches as SK

    q = SE.stream_bloom_positions(spark, SF, "bloom_t")
    _drain(q)
    streamed = spark.sql("select pos from bloom_t")
    got = {r["pos"] for r in streamed.collect()}
    corpus = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select(F.md5("text").alias("item"))
    )
    want = {r["pos"] for r in SK.bloom_build(corpus).collect()}
    assert got == want and len(got) > 0
    # probing the streamed filter answers exactly like the batch filter
    probes = corpus.limit(20).unionByName(
        spark.createDataFrame([(f"absent-{i}",) for i in range(20)],
                              "item string")
    )
    a = {r.item: r.bloom_hit
         for r in SK.bloom_probe(streamed, probes).collect()}
    b = {r.item: r.bloom_hit
         for r in SK.bloom_probe(SK.bloom_build(corpus), probes).collect()}
    assert a == b


def test_stream_backoff_counts_equal_batch(spark):
    """Backoff-at-ingest: the drained streaming per-host counters must
    equal the batch aggregate (counts are additive — the streaming sum
    IS the merge law), hence identical budgets from host_backoff's
    fold."""
    from webcrawl_spark.operators.snapshot import host_backoff
    from webcrawl_spark.queries import _BACKOFF_STATUS_SQL

    q = SE.stream_backoff_counts(spark, SF, "backoff_t", _BACKOFF_STATUS_SQL)
    _drain(q)
    got = {
        r["host"]: (r["n_fetches"], r["n_errors"])
        for r in spark.sql("select * from backoff_t").collect()
    }
    log = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.expr("'h' || CAST(doc_id % 8 AS STRING) || '.test'").alias("host"),
        F.expr(_BACKOFF_STATUS_SQL).cast("int").alias("status"),
    )
    batch = {
        r.host: (r.n_fetches, r.n_errors)
        for r in host_backoff(log).select(
            "host", "n_fetches", "n_errors"
        ).collect()
    }
    assert got == batch and len(got) == 8
