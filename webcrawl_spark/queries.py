"""The engine's query battery: every operator family from SURVEY.md §2 plus
the training-data pipeline ops, as two parallel dicts.

``QUERIES[name] = fn`` — ``fn(spark, sf_dir) -> DataFrame``.
``ORACLE_SQL[name] = sql`` — the ANSI-SQL equivalent DuckDB runs over the
same parquet tables (views: region nation customer supplier part orders
lineitem events documents embeddings). A name present in ``QUERIES`` but
absent from ``ORACLE_SQL`` marks a genuinely non-SQL-expressible op (the
iterative BFS trace) — the driver records a rows-only check for those.

Cross-engine exactness rules used throughout:
- integer outputs are BIGINT on both sides; money sums go through
  DECIMAL(18,2); float folds use index-ordered sequential summation with
  per-element double casts (bit-identical IEEE results), rounded last.
- timestamps are NTZ in the testdata; bucketing goes through string
  prefixes (``cast(ts as string)``), never through session-timezone
  conversions.
- hashes are md5-hex-prefix based (identical in Spark, DuckDB, Python).
"""

from __future__ import annotations

import tempfile
from typing import Callable, Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import anchors as ANC
from .functions import boilerplate as BP
from .functions import multimodal as MM
from .functions import textstats as TS
from .kernels import surt as SURT
from .kernels.links import extract_links_batch
from .kernels.robots import build_rule_index, robots_allowed
from .kernels.urlnorm import canonicalize
from .operators import blocklist as BLK
from .operators import bpe as BPE
from .operators import graph as GR
from .operators import memo
from .operators import psl as PSL
from .operators import urlpatterns as UP
from .operators import similarity as SIM
from .operators import sketches as SK
from .operators import snapshot as SNAP
from .operators import textdedup as TD
from .operators.feeds import parse_feeds, rfc822_date_sql
from .operators.robotsparse import parse_robots
from .operators.seq import shard_by_tokens
from .operators.sitemap import parse_sitemaps
from .plans.crawl import SparkCrawler
from .sources import synth_web as SW
from .sources import warc as WARC

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col: str):
    """Exact integer cents from a 2-dp double: double → DECIMAL(18,2) →
    ×100 → BIGINT. Decimal types never reach the output schema (engines
    render them differently); the arithmetic is exact on every engine."""
    return (F.col(col).cast("decimal(18,2)") * 100).cast("long")


def _crawl(spark: SparkSession, sf_dir: str, n_docs: int, max_rounds: Optional[int] = None) -> SparkCrawler:
    pages = SW.synth_pages(spark, sf_dir, n_docs)
    state = tempfile.mkdtemp(prefix="wc_state_")
    c = SparkCrawler(
        spark, pages, SW.seed_urls(), state, SW.crawl_config(num_partitions=16)
    )
    c.run(max_rounds=max_rounds)
    return c


# DuckDB-side builders mirroring the Spark operators' formulas exactly.

def _duck_hash32(col: str) -> str:
    return f"CAST(('0x' || substr(md5({col}), 1, 8)) AS BIGINT)"


def _duck_shingles(col: str, k: int) -> str:
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(length({col}) - {k - 1}, 1) + 1), "
        f"i -> substr({col}, CAST(i AS INT), {k})))"
    )


def _duck_minhash(col: str, j: int, k: int) -> str:
    h = _duck_hash32("s")
    return (
        f"CAST(list_aggregate(list_transform({_duck_shingles(col, k)}, "
        f"s -> ({TD.MINHASH_A[j]} * {h} + {TD.MINHASH_B[j]}) % {TD.MINHASH_PRIME}), "
        f"'min') AS BIGINT)"
    )


def _duck_dot64(a: str, b: str) -> str:
    """Index-ordered 64-dim double dot product (bit-identical to Spark's
    sequential ``aggregate`` fold)."""
    return (
        f"list_aggregate(list_transform(range(1, 65), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )


def _duck_cos64(a: str, b: str) -> str:
    return (
        f"({_duck_dot64(a, b)} / "
        f"(sqrt({_duck_dot64(a, a)}) * sqrt({_duck_dot64(b, b)})))"
    )


_AUG_DOCS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50"
)


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )


# ---------------------------------------------------------------------------
# crawl-engine queries (SURVEY.md §2 ops 1-13, 15-18)
# ---------------------------------------------------------------------------

def q_crawl_reach_seen(spark, sf_dir):
    """End-to-end crawl gate: final seen set == BFS reachability (§2 ops
    1,2,3,5,6,10 composed; politeness affects order, not membership)."""
    c = _crawl(spark, sf_dir, 300)
    return c.seen().select("host", "url_key")


def q_crawl_frontier_round1(spark, sf_dir):
    """One frontier-expansion round: links of the seed pages, deduped,
    anti-joined against seen (§2 ops 6, 9, 10)."""
    c = _crawl(spark, sf_dir, 300, max_rounds=1)
    return c.state.read_frontier(1).select("url", F.col("depth").cast("long").alias("depth"))


def q_crawl_bfs_trace(spark, sf_dir):
    """Full deterministic crawl trace (politeness + priority + rounds).
    Oracle: the scheduled BFS unrolled into per-round CTEs
    (sources/synth_web.trace_sql) — hash-checked on every column."""
    c = _crawl(spark, sf_dir, 300)
    return c.trace().select(
        F.col("round").cast("long").alias("round"),
        "fetch_seq", "url",
        F.col("depth").cast("long").alias("depth"),
        "link_type",
    )


def q_link_pagerank(spark, sf_dir):
    """Integer PageRank over the synthetic link graph (3 iterations,
    damping 0.85) — the classic crawl-priority signal: rank feeds the
    frontier's priority ordering at scale (prioritize important hosts
    first). All-integer arithmetic (r0 = 10^6 per node, truncating
    division) makes every engine compute bit-identical ranks — no float
    fold ordering to pin. Each iteration is one uniform-key shuffle
    (groupBy dst) plus a left join back to the node set; out-degrees come
    from the generator closed-form (2 + d % 4), so no degree groupBy is
    needed. Every node has out-degree ≥ 2 — no dangling mass."""
    from .sources.synth_web import LINK_MULT, LINK_STEP

    n = 300
    docs = _t(spark, sf_dir, "documents").filter(f"doc_id < {n}").select("doc_id")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.expr(
                f"transform(sequence(0, 1 + cast(doc_id % 4 as int)), "
                f"k -> (doc_id * {LINK_MULT} + {LINK_STEP} * k + 1) % {n})"
            )
        ).alias("dst"),
    )
    ranks = docs.select(
        F.col("doc_id").alias("id"), F.lit(1000000).cast("long").alias("r")
    )
    for _ in range(3):
        contrib = (
            edges.join(
                ranks.select(F.col("id").alias("src"), F.col("r").alias("rs")),
                "src",
            )
            .select("dst", F.expr("rs div (2 + src % 4)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            docs.select(F.col("doc_id").alias("id"))
            .join(contrib.withColumnRenamed("dst", "id"), "id", "left")
            .select(
                "id",
                (
                    F.lit(150000)
                    + F.expr("(85 * coalesce(contrib, 0)) div 100")
                ).cast("long").alias("r"),
            )
        )
    return ranks.select(F.col("id").alias("doc_id"), F.col("r").alias("pagerank"))


def q_link_opic(spark, sf_dir):
    """Integer OPIC (Abiteboul et al. 2003, Adaptive On-Line Page
    Importance Computation; 3 synchronous rounds) over the same synthetic
    link graph as ``link_pagerank`` — the FOURTH crawl-ordering rank
    producer (after PageRank, HITS, TrustRank), and the one actually
    designed for crawlers: each page holds ``cash`` it distributes
    equally to its out-links each round while banking the distributed
    amount into ``history``; importance = (history + cash) / total. No
    damping parameter, no convergence wait — a crawler reads the running
    estimate whenever it schedules. All-integer (cash0 = 10^6, truncating
    division; distribution remainders vanish — deterministic), so every
    engine agrees bit-for-bit. Every node has out-degree ≥ 2, so there is
    no dangling mass to redistribute. Per round: ONE uniform-key shuffle
    (groupBy dst) + a left join back to the node set; the final
    normalizer is a broadcast 1-row scalar."""
    from .sources.synth_web import LINK_MULT, LINK_STEP

    n = 300
    docs = _t(spark, sf_dir, "documents").filter(f"doc_id < {n}").select("doc_id")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.expr(
                f"transform(sequence(0, 1 + cast(doc_id % 4 as int)), "
                f"k -> (doc_id * {LINK_MULT} + {LINK_STEP} * k + 1) % {n})"
            )
        ).alias("dst"),
    )
    state = docs.select(
        F.col("doc_id").alias("id"),
        F.lit(1000000).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("hist"),
    )
    for _ in range(3):
        contrib = (
            edges.join(
                state.select(
                    F.col("id").alias("src"), F.col("cash").alias("cs")
                ),
                "src",
            )
            .select("dst", F.expr("cs div (2 + src % 4)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        state = (
            state.join(contrib.withColumnRenamed("dst", "id"), "id", "left")
            .select(
                "id",
                F.coalesce("contrib", F.lit(0)).cast("long").alias("cash"),
                (F.col("hist") + F.col("cash")).cast("long").alias("hist"),
            )
        )
    tot = state.agg(F.sum(F.col("cash") + F.col("hist")).alias("s"))
    return state.crossJoin(F.broadcast(tot)).select(
        F.col("id").alias("doc_id"),
        F.col("hist").alias("history"),
        "cash",
        F.expr("cast((cash + hist) * 1000000 div s as bigint)").alias(
            "importance_ppm"
        ),
    )


def q_cocitation(spark, sf_dir):
    """Related pages by co-citation (operators/graph.cocitation_pairs,
    Dean & Henzinger 1999's sibling algorithm) over the same synthetic
    link graph as link_pagerank: pairs sharing ≥ COCIT_MIN_COMMON citing
    sources, overlap vs the smaller in-degree in permille, flagged at
    COCIT_MIN_PERMILLE — the 'users also visit' signal a crawler uses to
    widen a focused frontier."""
    from .sources.synth_web import LINK_MULT, LINK_STEP

    n = 300
    docs = _t(spark, sf_dir, "documents").filter(f"doc_id < {n}").select("doc_id")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.expr(
                f"transform(sequence(0, 1 + cast(doc_id % 4 as int)), "
                f"k -> (doc_id * {LINK_MULT} + {LINK_STEP} * k + 1) % {n})"
            )
        ).alias("dst"),
    )
    return GR.cocitation_pairs(edges)


def q_link_hits(spark, sf_dir):
    """Integer HITS (hubs & authorities, 2 iterations) over the same
    synthetic link graph as ``link_pagerank`` — the second classic
    crawl-priority signal (Kleinberg): authorities rank pages worth
    fetching, hubs rank pages worth re-scanning for links. All-integer
    arithmetic again: scores start at 10^6 and each half-step L1-normalizes
    back to ~10^6 via truncating division by the global sum, so every
    engine computes bit-identical scores (no float fold ordering, no L2
    sqrt). Per half-step the plan is one uniform-key shuffle (groupBy
    dst or src) plus a broadcast of the 1-row global sum — at 100 TB the
    only exchanges are the two groupBys; the normalizer is a scalar."""
    from .sources.synth_web import LINK_MULT, LINK_STEP

    n = 300
    docs = _t(spark, sf_dir, "documents").filter(f"doc_id < {n}").select("doc_id")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.expr(
                f"transform(sequence(0, 1 + cast(doc_id % 4 as int)), "
                f"k -> (doc_id * {LINK_MULT} + {LINK_STEP} * k + 1) % {n})"
            )
        ).alias("dst"),
    )

    def _normalized(raw, key):
        tot = raw.agg(F.sum("raw").alias("tot"))
        return (
            docs.select(F.col("doc_id").alias("id"))
            .join(raw.withColumnRenamed(key, "id"), "id", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "id",
                F.expr("(coalesce(raw, 0) * 1000000) div tot")
                .cast("long").alias("v"),
            )
        )

    h = docs.select(
        F.col("doc_id").alias("id"), F.lit(1000000).cast("long").alias("v")
    )
    a = None
    for _ in range(2):
        a_raw = (
            edges.join(
                h.select(F.col("id").alias("src"), F.col("v").alias("hv")), "src"
            )
            .groupBy("dst").agg(F.sum("hv").alias("raw"))
        )
        a = _normalized(a_raw, "dst")
        h_raw = (
            edges.join(
                a.select(F.col("id").alias("dst"), F.col("v").alias("av")), "dst"
            )
            .groupBy("src").agg(F.sum("av").alias("raw"))
        )
        h = _normalized(h_raw, "src")
    return (
        a.select(F.col("id").alias("doc_id"), F.col("v").alias("authority"))
        .join(
            h.select(F.col("id").alias("doc_id"), F.col("v").alias("hub")),
            "doc_id",
        )
        .select("doc_id", "authority", "hub")
    )


def _host_graph(spark, sf_dir, n):
    """Host-level link graph: the page edge formula aggregated to
    (hsrc, hdst, w) with intra-host links dropped — the Common Crawl
    domain-graph construction rule (inter-domain hyperlinks only,
    weight = link count). Host 0 is the generator's deliberate mega-host
    (~23% of pages), so the host graph inherits realistic skew. Returns
    (hosts, hedges, hout): node set, weighted edges, per-source out-weight.
    ONE aggregation shuffle builds the graph; at web scale (10^8 hosts)
    every key below is the uniform host id."""
    from .sources.synth_web import LINK_MULT, LINK_STEP, host_id_expr

    docs = _t(spark, sf_dir, "documents").filter(f"doc_id < {n}").select("doc_id")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.expr(
                f"transform(sequence(0, 1 + cast(doc_id % 4 as int)), "
                f"k -> (doc_id * {LINK_MULT} + {LINK_STEP} * k + 1) % {n})"
            )
        ).alias("dst"),
    )
    hosts = docs.select(
        F.expr(host_id_expr("doc_id")).cast("long").alias("h")
    ).distinct()
    hedges = (
        edges.select(
            F.expr(host_id_expr("src")).cast("long").alias("hsrc"),
            F.expr(host_id_expr("dst")).cast("long").alias("hdst"),
        )
        .filter("hsrc <> hdst")
        .groupBy("hsrc", "hdst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    hout = hedges.groupBy("hsrc").agg(F.sum("w").alias("ow"))
    return hosts, hedges, hout


def q_host_rank(spark, sf_dir):
    """Weighted integer PageRank over the HOST graph (3 iterations,
    damping 0.85) — Common Crawl's domain-ranks product: the
    crawl-budget allocator above the page-level ``link_pagerank``
    (rank hosts, then spend politeness budget on high-rank hosts
    first; the crawl's ``ranks`` table consumes the rollup). Edge mass is
    weighted: each host splits its rank over out-LINKS, not out-hosts
    (``(r * w) div ow`` per edge, truncating per-edge BEFORE the sum so
    every engine agrees bit-for-bit). Per iteration: one uniform-key
    groupBy(hdst) + a left join back to the node set; the rank table is
    hosts-sized (10^8 rows at web scale, never assumed broadcast-able —
    AQE may pick a broadcast when it measures small, as here at 32
    hosts). Dangling mass (a host whose every link is intra-host) leaks,
    matching the page-level sibling's no-redistribution contract."""
    hosts, hedges, hout = _host_graph(spark, sf_dir, 600)
    hw = hedges.join(hout, "hsrc")
    ranks = hosts.select("h", F.lit(1000000).cast("long").alias("r"))
    for _ in range(3):
        contrib = (
            hw.join(ranks.select(F.col("h").alias("hsrc"), "r"), "hsrc")
            .select("hdst", F.expr("(r * w) div ow").alias("c"))
            .groupBy("hdst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            hosts.join(contrib.withColumnRenamed("hdst", "h"), "h", "left")
            .select(
                "h",
                (
                    F.lit(150000)
                    + F.expr("(85 * coalesce(contrib, 0)) div 100")
                ).cast("long").alias("r"),
            )
        )
    return ranks.select(F.col("h").alias("host"), F.col("r").alias("hrank"))


def q_trust_demotion(spark, sf_dir):
    """The TrustRank demotion rule (Gyöngyi et al. 2004 §6 — the paper's
    actual anti-spam application): per host, the ratio of seeded trust
    to generic PageRank mass in integer micro-units. A host whose rank
    comes mostly from spam-farm neighborhoods has trust ≪ rank (low
    ratio → demote/review); seed-adjacent hosts score high. One
    uniform-key join of the two 10^8-at-scale rank tables; the division
    truncates once."""
    hr = q_host_rank(spark, sf_dir)
    tr = q_trust_rank(spark, sf_dir)
    return hr.join(tr, "host").select(
        "host", "hrank", "trank",
        F.expr("(trank * 1000000) div hrank").alias("trust_ratio_micro"),
    )


HOST_RANK_DIV = 8   # PageRank mass → fold clamp range (engine AND oracle)


def q_host_rank_urls(spark, sf_dir):
    """The domain-rank rollup (operators/graph.host_ranks_to_url_ranks)
    oracle-checked end-to-end: host_rank ids rendered as the synthetic
    hostnames, rolled down onto every page URL as the (url, rank) table
    the crawler's priority fold consumes. The oracle unrolls the same
    weighted-PageRank CTE chain and restates the rollup join + integer
    scaling in SQL — rank production AND consumption-side shaping both
    hash-checked."""
    from .operators.graph import host_ranks_to_url_ranks

    hr = q_host_rank(spark, sf_dir).select(
        F.concat(
            F.lit("site"), F.col("host").cast("string"), F.lit(".test")
        ).alias("host"),
        F.col("hrank"),
    )
    urls = _t(spark, sf_dir, "documents").select(
        F.expr(SW.url_sql("doc_id")).alias("url")
    )
    return host_ranks_to_url_ranks(hr, urls, rank_div=HOST_RANK_DIV)


def q_trust_rank(spark, sf_dir):
    """Seeded TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004)
    over the same host graph — the spam-demotion signal: restart mass
    goes ONLY to a vetted seed set (hosts 0-3 here, standing in for a
    human-reviewed whitelist), so hosts reachable only through spam-farm
    neighborhoods decay toward zero instead of inheriting generic
    PageRank mass. Same all-integer recurrence as ``host_rank`` with the
    uniform 150000 restart replaced by a per-host seed indicator; the
    seed set is a WHERE clause on the node id, not data — nothing to
    broadcast. Deployments subtract: crawl-priority = host_rank scaled
    by trust_rank/host_rank ratio (the 2004 paper's demotion rule)."""
    hosts, hedges, hout = _host_graph(spark, sf_dir, 600)
    hw = hedges.join(hout, "hsrc")
    seed = F.expr("CASE WHEN h < 4 THEN 1000000 ELSE 0 END")
    restart = F.expr("CASE WHEN h < 4 THEN 150000 ELSE 0 END")
    ranks = hosts.select("h", seed.cast("long").alias("r"))
    for _ in range(3):
        contrib = (
            hw.join(ranks.select(F.col("h").alias("hsrc"), "r"), "hsrc")
            .select("hdst", F.expr("(r * w) div ow").alias("c"))
            .groupBy("hdst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            hosts.join(contrib.withColumnRenamed("hdst", "h"), "h", "left")
            .select(
                "h",
                (
                    restart + F.expr("(85 * coalesce(contrib, 0)) div 100")
                ).cast("long").alias("r"),
            )
        )
    return ranks.select(F.col("h").alias("host"), F.col("r").alias("trank"))


_CANON_SCHEMA = "doc_id long, url string, host string, url_key string"


def _canon_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        c = canonicalize(pdf["messy"], normalize_query=True)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "url": c["url"],
                "host": c["host"],
                "url_key": c["url_key"],
            }
        )


def q_url_canonicalize(spark, sf_dir):
    """Canonicalization kernel (§2 op 5) against an independently
    constructed expectation: case, default port, slash runs, dot segments,
    query sort, fragment strip."""
    hid = SW.host_id_expr("doc_id")
    messy = (
        f"concat('HTTP://Site', cast({hid} as string), '.TEST:80//a//b/../doc', "
        f"cast(doc_id as string), '.html?b=2&a=1#frag')"
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.expr(messy).alias("messy"))
        .mapInPandas(_canon_stage, _CANON_SCHEMA)
    )


_LINKS_SCHEMA = "url string, href string"


def _extract_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        lists = extract_links_batch(
            pdf["text"], pd.Series("html", index=pdf.index)
        )
        rows = [
            (u, href)
            for u, found in zip(pdf["url"], lists)
            for href, _lt, _de in found
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["url", "href"])


def q_link_extract(spark, sf_dir):
    """Link-extraction regexes (§2 op 6) over the synthetic web: extracted
    hrefs must equal the generating edge function."""
    return (
        SW.synth_pages(spark, sf_dir, 200)
        .select("url", "text")
        .mapInPandas(_extract_stage, _LINKS_SCHEMA)
    )


_MIME_EXTS = ["html", "css", "js", "png", "jpg", "pdf", "zip", "txt", "gif", "mp3", "avi", "doc"]
_MIME_SCHEMA = "doc_id long, path string, rtype string"


def _mime_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .kernels.mime import guess_types_batch

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "path": pdf["path"],
                "rtype": guess_types_batch(pdf["path"]),
            }
        )


_RETYPE_EXTS = ["html", "css", "", "png", "xyz", "js"]
_RETYPE_MIMES = [
    None,                          # no header → extension guess stands
    "text/css; charset=utf-8",     # parameters stripped, re-type to css
    "application/octet-stream",    # binary — suppresses parsing
    "TEXT/HTML",                   # case-insensitive
    "application/weird",           # unmapped non-empty → binary
]
_RETYPE_SCHEMA = (
    "doc_id long, path string, server_mime string, mime string, rtype string"
)


def _retype_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The decode stage's effective-type decision
    (:func:`kernels.mime.effective_types`) over (doc_id, path, server_mime)."""
    from .kernels import mime as M

    for pdf in batches:
        rtype, mime = M.effective_types(pdf["path"], pdf["server_mime"])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "path": pdf["path"],
                "server_mime": pdf["server_mime"],
                "mime": mime,
                "rtype": rtype,
            }
        )


def q_server_mime_retype(spark, sf_dir):
    """Server Content-Type second-chance re-type (round-3 §2 op 8 extension;
    GetMimeType prefers the response header over the extension guess,
    Crawler.cs:2100-2119). Covers: no header, parameterized header,
    octet-stream, case-insensitivity, unmapped mime, extension-less path."""
    exts = ", ".join(f"'{e}'" for e in _RETYPE_EXTS)
    mimes = ", ".join(
        "CAST(NULL AS STRING)" if m is None else f"'{m}'" for m in _RETYPE_MIMES
    )
    path = (
        f"concat('/f', cast(doc_id as string), "
        f"if(element_at(array({exts}), cast(doc_id % 6 as int) + 1) = '', '', "
        f"concat('.', element_at(array({exts}), cast(doc_id % 6 as int) + 1))))"
    )
    srv = f"element_at(array({mimes}), cast(doc_id % 5 as int) + 1)"
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(path).alias("path"),
            F.expr(srv).alias("server_mime"),
        )
        .mapInPandas(_retype_stage, _RETYPE_SCHEMA)
    )


def q_mime_infer(spark, sf_dir):
    """Extension → MIME → resource-type tables (§2 op 8)."""
    exts = ", ".join(f"'{e}'" for e in _MIME_EXTS)
    path = (
        f"concat('/f', cast(doc_id as string), '.', "
        f"element_at(array({exts}), cast(doc_id % 12 as int) + 1))"
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.expr(path).alias("path"))
        .mapInPandas(_mime_stage, _MIME_SCHEMA)
    )


_ROBOTS_SCHEMA = "doc_id long, host string, path string, allowed boolean"
_ROBOTS_RULES = pd.DataFrame(
    {
        "host": [f"site{h}.test" for h in range(32) if h % 4 == 1],
        "path_prefix": ["/doc1"] * 8,
        "allow": [False] * 8,
        "crawl_delay": [None] * 8,
    }
)


def _robots_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    idx = build_rule_index(_ROBOTS_RULES)
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "host": pdf["host"],
                "path": pdf["path"],
                "allowed": robots_allowed(pdf["host"], pdf["path"], idx).astype(bool),
            }
        )


_WILD_RULES = pd.DataFrame(
    [
        (f"site{h}.test", pat, allow, None)
        for h in range(32)
        if h % 8 != 3          # leave some hosts ruleless (short-circuit path)
        for pat, allow in [
            ("/doc*7.html$", False),   # len 12: ids ending in 7
            ("/doc13*", True),         # len 7: ids starting 13 re-allowed
            ("/doc1*", False),         # len 6: ids starting 1 blocked
        ]
    ],
    columns=["host", "path_prefix", "allow", "crawl_delay"],
)


def _robots_wild_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    idx = build_rule_index(_WILD_RULES)
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "host": pdf["host"],
                "path": pdf["path"],
                "allowed": robots_allowed(pdf["host"], pdf["path"], idx).astype(bool),
            }
        )


def q_robots_wildcard(spark, sf_dir):
    """RFC 9309 wildcard-rule decisions (kernels/robots): ``*`` and
    trailing ``$`` patterns under the longest-raw-pattern specificity
    rule — '/doc*7.html$' (12) beats '/doc13*' (7) beats '/doc1*' (6),
    so an id ending in 7 is blocked even when a shorter allow matches.
    Hosts with hid % 8 = 3 carry no rules (the short-circuit path). The
    oracle restates every verdict in CLOSED FORM with LIKE predicates on
    the id string — the matcher, the specificity order, and the
    anchoring are all end-to-end checked against independent machinery."""
    hid = SW.host_id_expr("doc_id")
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(f"concat('site', cast({hid} as string), '.test')").alias("host"),
            F.expr("concat('/doc', cast(doc_id as string), '.html')").alias("path"),
        )
        .mapInPandas(_robots_wild_stage, _ROBOTS_SCHEMA)
    )


def q_robots_filter(spark, sf_dir):
    """Robots rules longest-prefix decisions (north_rule addition)."""
    hid = SW.host_id_expr("doc_id")
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(f"concat('site', cast({hid} as string), '.test')").alias("host"),
            F.expr("concat('/doc', cast(doc_id as string), '.html')").alias("path"),
        )
        .mapInPandas(_robots_stage, _ROBOTS_SCHEMA)
    )


def _robots_body_sql(h: str) -> str:
    """Deterministic per-host robots.txt body — ONE SQL string valid in both
    Spark SQL and DuckDB (structural synthesis parity, like url_sql).
    Exercises every parser branch: comments, mixed-case field names, the
    ``*`` group, an exact-UA group that overrides it (hid%4=1), consecutive
    ``User-agent:`` heads in one group (hid%8=1), a group for another bot
    (hid%8=5, never matched), empty-value ``Disallow:`` no-ops (hid%5=2),
    ``Crawl-delay`` (hid%3=0), and a delay-only group with no path rules
    (hid%16=12 → carrier-row path)."""
    s = f"CAST({h} AS STRING)"
    nl = "chr(10)"
    return (
        f"'# robots for site' || {s} || {nl}"
        f" || 'User-Agent: *' || {nl}"
        f" || CASE WHEN {h} % 16 = 12 THEN '' ELSE 'Disallow: /private' || {s} || {nl} END"
        f" || CASE WHEN {h} % 2 = 0 AND {h} % 16 <> 12 THEN 'Allow: /private' || {s} || '/pub' || {nl} ELSE '' END"
        f" || CASE WHEN {h} % 3 = 0 THEN 'Crawl-delay: ' || CAST(1 + {h} % 5 AS STRING) || {nl} ELSE '' END"
        f" || CASE WHEN {h} % 5 = 2 THEN 'Disallow:' || {nl} ELSE '' END"
        f" || {nl}"
        f" || CASE WHEN {h} % 4 = 1 THEN 'User-agent: amwc' || {nl} ELSE '' END"
        f" || CASE WHEN {h} % 8 = 1 THEN 'User-agent: extrabot' || {nl} ELSE '' END"
        f" || CASE WHEN {h} % 4 = 1 THEN 'Disallow: /amwc-only' || {s} || {nl} ELSE '' END"
        f" || CASE WHEN {h} % 8 = 5 THEN 'User-agent: heavybot' || {nl} || 'Disallow: /' || {nl} ELSE '' END"
    )


def q_robots_parse(spark, sf_dir):
    """Raw robots.txt bodies → the broadcast rules table (RFC 9309 group
    semantics; north_rule loop closure — the rules table kernels/robots.py
    consumes is now PRODUCED from fetched robots bodies by a pure
    DataFrame plan, operators/robotsparse.parse_robots)."""
    hid = SW.host_id_expr("doc_id")
    bodies = (
        _t(spark, sf_dir, "documents")
        .select(F.expr(hid).alias("hid"))
        .distinct()
        .select(
            F.expr("'site' || CAST(hid AS STRING) || '.test'").alias("host"),
            F.expr(_robots_body_sql("hid")).alias("body"),
        )
    )
    return parse_robots(bodies, user_agent="amwc")


def _sitemap_body_sql(h: str) -> str:
    """Deterministic per-host sitemap XML — ONE SQL string valid in both
    Spark SQL and DuckDB. Branches: hid%4=3 hosts serve a
    ``<sitemapindex>`` (child sitemaps, one with lastmod, one with
    whitespace-padded loc); others a ``<urlset>`` with an
    entity-escaped loc + full W3C datetime lastmod, an optional
    priority (hid%2=0), a whitespace/newline-padded loc, and (hid%5=2)
    a loc-less entry that must be dropped."""
    s = f"CAST({h} AS STRING)"
    nl = "chr(10)"
    mon = f"lpad(CAST(1 + {h} % 12 AS STRING), 2, '0')"
    return (
        f"CASE WHEN {h} % 4 = 3 THEN"
        f" '<?xml version=\"1.0\"?><sitemapindex>'"
        f" || '<sitemap><loc>http://site' || {s} || '.test/maps/a.xml</loc>"
        f"<lastmod>2024-02-0' || CAST(1 + {h} % 9 AS STRING) || '</lastmod></sitemap>'"
        f" || '<sitemap><loc> http://site' || {s} || '.test/maps/b.xml </loc></sitemap>'"
        f" || '</sitemapindex>'"
        f" ELSE"
        f" '<?xml version=\"1.0\"?><urlset>'"
        f" || '<url><loc>http://site' || {s} || '.test/page1?a=1&amp;b=2</loc>"
        f"<lastmod>2024-' || {mon} || '-10T08:30:00+00:00</lastmod>'"
        f" || CASE WHEN {h} % 2 = 0 THEN '<priority>0.8</priority>' ELSE '' END || '</url>'"
        f" || '<url><loc>' || {nl} || '  http://site' || {s} || '.test/page2.html' || {nl} || '</loc></url>'"
        f" || CASE WHEN {h} % 5 = 2 THEN '<url><lastmod>2024-01-01</lastmod></url>' ELSE '' END"
        f" || '</urlset>'"
        f" END"
    )


def q_sitemap_parse(spark, sf_dir):
    """Sitemap XML bodies → URL-discovery rows (sitemaps.org protocol;
    the other discovery edge next to robots_parse — see
    operators/sitemap.parse_sitemaps)."""
    hid = SW.host_id_expr("doc_id")
    bodies = (
        _t(spark, sf_dir, "documents")
        .select(F.expr(hid).alias("hid"))
        .distinct()
        .select(
            F.expr("'site' || CAST(hid AS STRING) || '.test'").alias("host"),
            F.expr(_sitemap_body_sql("hid")).alias("body"),
        )
    )
    # lastmod re-cast date→string for the hash compare: DuckDB dates land
    # in pandas as Timestamps, Spark dates as datetime.date — same value,
    # different str() repr
    return parse_sitemaps(bodies).withColumn(
        "lastmod", F.col("lastmod").cast("string")
    )


def q_sitemap_recrawl(spark, sf_dir):
    """Sitemap-driven recrawl (operators/sitemap.sitemap_recrawl): the
    parsed <urlset> entries joined against a stored fetch-state table —
    never-fetched locs are 'new', locs fetched on or after lastmod
    'fresh', the rest 'refetch' (conservative policy: also when the
    dates do not compare). Fetch state
    synthesized deterministically: half the locs (md5 parity) carry a
    fetch date, split between one far older and one far newer than any
    advertised lastmod, so every action branch is exercised."""
    base = q_sitemap_parse(spark, sf_dir)
    h = "cast(conv(substr(md5(loc), 1, 8), 16, 10) as bigint) % 4"
    fetched = (
        base.filter(F.col("kind") == "url")
        .select("loc")
        .distinct()
        .filter(F.expr(f"{h} < 2"))
        .select(
            "loc",
            F.expr(
                f"CASE WHEN {h} = 0 THEN '2000-01-01' ELSE '2030-01-01' END"
            ).alias("last_fetch"),
        )
    )
    from .operators.sitemap import sitemap_recrawl

    return sitemap_recrawl(base, fetched)


def _feed_body_sql(h: str) -> str:
    """Deterministic per-host RSS/Atom feed XML — ONE SQL string valid in
    both Spark SQL and DuckDB. Branches: hid%3=0 hosts serve an Atom feed
    (one full entry, one link-less entry that must be dropped, one
    title-less entry with an entity-escaped href); others RSS 2.0 (one
    full item incl. weekday'd RFC 822 pubDate, one link-less item, one
    whitespace-padded entity-escaped link with no title/guid/pubDate, and
    on even hids a fourth item with a weekday-less single-digit-day
    pubDate)."""
    s = f"CAST({h} AS STRING)"
    nl = "chr(10)"
    d = f"CAST(1 + {h} % 28 AS STRING)"
    mon = (
        f"substr('JanFebMarAprMayJunJulAugSepOctNovDec',"
        f" CAST(1 + ({h} % 12) * 3 AS INT), 3)"
    )
    mm = f"lpad(CAST(1 + {h} % 12 AS STRING), 2, '0')"
    dd = f"lpad(CAST(1 + {h} % 28 AS STRING), 2, '0')"
    return (
        f"CASE WHEN {h} % 3 = 0 THEN"
        f" '<?xml version=\"1.0\"?><feed><title>Feed ' || {s} || '</title>'"
        f" || '<entry><title>Alpha &amp; beta ' || {s} || '</title>"
        f"<link href=\"http://site' || {s} || '.test/a/1\"/>"
        f"<id>urn:site' || {s} || ':1</id>"
        f"<updated>2024-' || {mm} || '-' || {dd} || 'T10:00:00Z</updated></entry>'"
        f" || '<entry><title>No link entry</title><id>urn:site' || {s} || ':2</id>"
        f"<updated>2024-01-01T00:00:00Z</updated></entry>'"
        f" || '<entry><link rel=\"alternate\" href=\"http://site' || {s} ||"
        f" '.test/a/2?x=1&amp;y=2\"/></entry>'"
        f" || '</feed>'"
        f" ELSE"
        f" '<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>"
        f"<title>Site ' || {s} || '</title>'"
        f" || '<item><title>Post one</title>"
        f"<link>http://site' || {s} || '.test/blog/1</link>"
        f"<guid isPermaLink=\"false\">tag:site' || {s} || ':1</guid>"
        f"<pubDate>Tue, ' || {d} || ' ' || {mon} ||"
        f" ' 2024 04:05:06 GMT</pubDate></item>'"
        f" || '<item><title>No link item</title>"
        f"<guid>tag:site' || {s} || ':2</guid></item>'"
        f" || '<item><link>' || {nl} || '  http://site' || {s} ||"
        f" '.test/blog/2?a=1&amp;b=2 </link></item>'"
        f" || CASE WHEN {h} % 2 = 0 THEN '<item><title>Extra &amp; post</title>"
        f"<link>http://site' || {s} || '.test/blog/3</link>"
        f"<pubDate>1 Feb 2024 00:00:00 GMT</pubDate></item>' ELSE '' END"
        f" || '</channel></rss>'"
        f" END"
    )


def q_feed_parse(spark, sf_dir):
    """RSS 2.0 / Atom feed bodies → URL-discovery rows (the third
    discovery edge next to robots_parse and sitemap_parse — see
    operators/feeds.parse_feeds)."""
    hid = SW.host_id_expr("doc_id")
    bodies = (
        _t(spark, sf_dir, "documents")
        .select(F.expr(hid).alias("hid"))
        .distinct()
        .select(
            F.expr("'site' || CAST(hid AS STRING) || '.test'").alias("host"),
            F.expr(_feed_body_sql("hid")).alias("body"),
        )
    )
    # published re-cast date→string for the hash compare (same reason as
    # sitemap_parse's lastmod: date repr differs across engines' pandas)
    return parse_feeds(bodies).withColumn(
        "published", F.col("published").cast("string")
    )


def _disc_robots_sql(h: str) -> str:
    """Deterministic per-host robots.txt bodies for the DISCOVERY battery
    entry (separate from ``_robots_body_sql`` so the robots_parse fixture
    stays byte-stable): exercises ``Sitemap:`` extraction — canonical
    spacing, lowercase no-space field, leading indentation (hid%7=0),
    empty-value drop (hid%5=0), and a comment line that must be
    stripped."""
    s = f"CAST({h} AS STRING)"
    nl = "chr(10)"
    return (
        f"'# discovery robots for site' || {s} || {nl}"
        f" || 'User-agent: *' || {nl}"
        f" || 'Disallow: /private' || {nl}"
        f" || 'Sitemap: http://site' || {s} || '.test/maps/a.xml' || {nl}"
        f" || CASE WHEN {h} % 2 = 0 THEN"
        f" 'sitemap:http://site' || {s} || '.test/feed.xml' || {nl}"
        f" ELSE '' END"
        f" || CASE WHEN {h} % 7 = 0 THEN"
        f" '  Sitemap: http://site' || {s} || '.test/maps/extra.xml' || {nl}"
        f" ELSE '' END"
        f" || CASE WHEN {h} % 5 = 0 THEN 'Sitemap:' || {nl} ELSE '' END"
    )


# "yesterday's crawl fetched every host's front article" — the seen set
# the discovery anti-join removes; ONE string shared by both engines
def _disc_seen_sql(h: str) -> str:
    return (
        f"'http://site' || CAST({h} AS STRING) || '.test' ||"
        f" CASE WHEN {h} % 3 = 0 THEN '/a/1' ELSE '/blog/1' END"
    )


def q_url_discovery(spark, sf_dir):
    """Discovery-trio capstone (operators/discovery.discover_urls): robots
    ``Sitemap:`` lines + sitemap urlset/index + RSS/Atom entries union into
    one deduplicated candidate table, seen anti-joined (§2 op-10 pattern).
    Multi-source rows are exercised by construction: hid%4=3 hosts' index
    children are ALSO their robots Sitemap target (sources =
    'robots+sitemap_index')."""
    from .operators.discovery import discover_urls

    hid = SW.host_id_expr("doc_id")
    hosts = (
        _t(spark, sf_dir, "documents")
        .select(F.expr(hid).alias("hid"))
        .distinct()
    )

    def bodies(body_sql):
        return hosts.select(
            F.expr("'site' || CAST(hid AS STRING) || '.test'").alias("host"),
            F.expr(body_sql).alias("body"),
        )

    seen = hosts.select(F.expr(_disc_seen_sql("hid")).alias("url"))
    return discover_urls(
        bodies(_disc_robots_sql("hid")),
        bodies(_sitemap_body_sql("hid")),
        bodies(_feed_body_sql("hid")),
        seen,
    )


def q_politeness_topk(spark, sf_dir):
    """Per-host politeness top-k (§2 ops 2-3) — drives the ENGINE's actual
    selection code path (`plans.round.select_polite`, the same function the
    crawl round calls) over neutral data, with the mega-host salt pre-prune
    ON. The oracle is a plain per-host top-k: a hash match therefore also
    proves cross-engine that salting is semantically transparent."""
    from .plans.round import select_polite

    fr = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("host"),
        F.col("o_orderdate").alias("priority"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderkey").cast("string").alias("url_key"),
    )
    return select_polite(fr, 2, salt_buckets=4, rank_col="rn").select(
        F.col("host").alias("o_custkey"),
        F.col("seq").alias("o_orderkey"),
        F.col("rn").cast("long").alias("rn"),
    )


def q_politeness_topk_ranked(spark, sf_dir):
    """Rank-weighted politeness selection (§2 ops 2-3 + crawl ranks):
    the engine's shared priority formula — ``base * RANK_SPAN − clamp(rank)``
    (`config.rank_weighted_priority`, what the crawl applies at its accept
    stage) — evaluated JVM-side over neutral data, then the REAL selection
    function. The DuckDB oracle replays the exact integer arithmetic, so
    the hash match proves the rank ordering cross-engine."""
    from .config import RANK_SPAN
    from .plans.round import select_polite

    fr = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("host"),
        (
            (F.col("o_orderkey") % 2).cast("long") * F.lit(RANK_SPAN)
            - F.least(F.col("o_orderkey") % 1000, F.lit(RANK_SPAN - 1))
        ).alias("priority"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderkey").cast("string").alias("url_key"),
    )
    return select_polite(fr, 2, salt_buckets=4, rank_col="rn").select(
        F.col("host").alias("o_custkey"),
        F.col("seq").alias("o_orderkey"),
        F.col("priority").cast("long").alias("priority"),
        F.col("rn").cast("long").alias("rn"),
    )


def q_seen_antijoin(spark, sf_dir):
    """Seen-set dedup shape: left-anti join (§2 op 10)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_min_depth_merge(spark, sf_dir):
    """Min-merge on rediscovery (§2 op 9) as groupBy-min."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.min("o_totalprice").alias("min_price"))
    )


def q_global_budget_limit(spark, sf_dir):
    """Global connection budget (§2 op 3) — the engine's selection with a
    per-host budget high enough to be inert, so the MaxConnections ordered
    limit inside `plans.round.select_polite` is what bounds the result."""
    from .plans.round import select_polite

    fr = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("host"),
        F.col("o_orderdate").alias("priority"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderkey").cast("string").alias("url_key"),
    )
    return select_polite(fr, 10**9, max_connections=100).select(
        F.col("seq").alias("o_orderkey"),
        F.substring(F.col("priority").cast("string"), 1, 10).alias("odate"),
    )


def q_query_string_cap(spark, sf_dir):
    """Distinct-count trap cap shape (§2 op 11)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .filter(F.col("n_supp") >= 2)
    )


def q_retry_union(spark, sf_dir):
    """Retry/error routing: when/otherwise split + union (§2 op 13)."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", F.lit("returned").alias("reason")
    )
    b = li.filter(F.col("l_returnflag") == "A").select(
        "l_orderkey", "l_linenumber", F.lit("accepted").alias("reason")
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# relational / windows / event-time aggregates
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style partial-aggregate rollup (decimal-exact)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents("l_quantity")).alias("sum_qty_cents"),
            F.sum(_cents("l_extendedprice")).alias("sum_base_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_join_agg_revenue(spark, sf_dir):
    """Star join with broadcast dims: revenue per nation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(_cents("o_totalprice")).alias("revenue_cents"))
    )


def q_window_running_sum(spark, sf_dir):
    """Running sum per user in (ts, event_id) order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        _t(spark, sf_dir, "events")
        .withColumn("running_cents", F.sum(_cents("value")).over(w))
        .select("event_id", "user_id", "running_cents")
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min gaps) via lag + cumulative sum.

    Gaps measured in integer microseconds over NTZ timestamps — exact and
    timezone-free on every engine."""
    ev = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(wo)
    ev = ev.withColumn("prev_ts", prev)
    gap = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    flag = F.when(gap > 1_800_000_000, 1).otherwise(0)
    return (
        ev.withColumn("flag", F.coalesce(flag, F.lit(0)))
        .withColumn("session_idx", F.sum("flag").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"))
        .select("event_id", "user_id", "session_idx")
    )


def q_event_tumbling_counts(spark, sf_dir):
    """Count and value sum per (1-hour tumbling window, event type); the
    hour bucket is the timestamp's string prefix, tz-proof over NTZ."""
    return (
        _t(spark, sf_dir, "events")
        .withColumn("hour_bucket", F.substring(F.col("ts").cast("string"), 1, 13))
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents("value")).alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / text analysis / similarity / multimodal
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return TD.exact_duplicates(_aug_docs(spark, sf_dir))


def _para_text_sql(d: str) -> str:
    """Deterministic multi-paragraph text per doc — ONE SQL string valid
    in both Spark SQL and DuckDB. Paragraph mix: a corpus-wide
    boilerplate line (dropped everywhere but the global first
    occurrence), a unique body line, a 7-variant shared footer, an
    extra footer for d%3=0 docs, and a whitespace-only paragraph
    (d%11=4) that must vanish without being counted."""
    s = f"CAST({d} AS STRING)"
    nl = "chr(10)"
    return (
        f"'subscribe to our newsletter for updates' || {nl}"
        f" || 'doc ' || {s} || ' body: ' || substr(text, 1, 40) || {nl}"
        f" || 'shared footer variant ' || CAST({d} % 7 AS STRING)"
        f" || CASE WHEN {d} % 3 = 0 THEN {nl} || 'copyright example footer' ELSE '' END"
        f" || CASE WHEN {d} % 11 = 4 THEN {nl} || '   ' ELSE '' END"
    )


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup (C4 §2.2 / RefinedWeb line dedup):
    drop every newline-delimited span that occurs elsewhere in the
    corpus, keeping the global first occurrence (operators/textdedup
    .paragraph_dedup — min-struct survivor, no hot window partitions)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_para_text_sql("doc_id")).alias("text")
    )
    return TD.paragraph_dedup(docs)


def _pii_text_sql(d: str) -> str:
    """Deterministic PII-bearing text per doc — ONE SQL string valid in
    both Spark SQL and DuckDB: an email for every doc, a US-style phone
    (d%2=0), an IPv4 (d%3=0), and two extra emails (d%5=1)."""
    s = f"CAST({d} AS STRING)"
    return (
        f"substr(text, 1, 60) || ' contact user' || {s} || '@mail.example.com'"
        f" || CASE WHEN {d} % 2 = 0 THEN ' call 555-' || lpad(CAST({d} % 1000 AS STRING), 3, '0')"
        f" || '-' || lpad(CAST({d} % 10000 AS STRING), 4, '0') ELSE '' END"
        f" || CASE WHEN {d} % 3 = 0 THEN ' from 10.' || CAST({d} % 256 AS STRING) || '.0.' || CAST({d} % 100 AS STRING) ELSE '' END"
        f" || CASE WHEN {d} % 5 = 1 THEN ' cc admin@example.org plus root@example.net' ELSE '' END"
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction pass (emails / IPv4 / phone numbers → tokens, with
    per-kind counts; functions/textstats.pii_scrub — sequential RE2-safe
    regexes, zero exchanges)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_pii_text_sql("doc_id")).alias("text")
    )
    return TS.pii_scrub(docs)


def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-doc repetition signals over word 2-grams
    (functions/textstats.repetition_stats) — the corpus's small
    vocabulary makes real repetition, no synthesis needed."""
    return TS.repetition_stats(_t(spark, sf_dir, "documents"), n=2)


PARA_SPLIT = 250  # delta = doc_id < PARA_SPLIT; corpus = the rest


def q_paragraph_dedup_incremental(spark, sf_dir):
    """Incremental paragraph dedup: clean today's delta (doc_id <
    PARA_SPLIT) against the persisted paragraph-hash table of
    yesterday's corpus (operators/textdedup.paragraph_dedup_incremental
    + paragraph_hashes) — the line-dedup member of the delta-vs-corpus
    family. The corpus holds the boilerplate/footer lines, so every
    delta doc keeps exactly its unique body paragraph."""
    all_docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_para_text_sql("doc_id")).alias("text")
    )
    delta = all_docs.where(f"doc_id < {PARA_SPLIT}")
    corpus_hashes = TD.paragraph_hashes(all_docs.where(f"doc_id >= {PARA_SPLIT}"))
    return TD.paragraph_dedup_incremental(delta, corpus_hashes)


SHARD_TOKENS = 1000  # tokens per shard (engine AND oracle)
PACK_SEQ_LEN = 1024  # packed training-sequence capacity (engine AND oracle)
PACK_SHARDS = 8      # packing shards (engine AND oracle)


def q_shard_by_tokens(spark, sf_dir):
    """Token-budget shard packing (operators/seq.shard_by_tokens) — the
    distributed prefix sum that turns a cleaned corpus into bounded
    training shards; the oracle is a plain ordered window cumsum, which
    the engine must equal at ANY partitioning."""
    return shard_by_tokens(
        _t(spark, sf_dir, "documents"), tokens_per_shard=SHARD_TOKENS
    )


SHUFFLE_SEED = 20260820  # engine AND oracle


def q_seeded_shuffle(spark, sf_dir):
    """Deterministic training-order shuffle (operators/seq
    .seeded_shuffle): global position by a seeded two-round MINSTD key
    shared textually with the oracle — same seed, same order, any
    parallelism. The oracle is the single ordered window the engine's
    distributed prefix sum must equal."""
    from .operators.seq import seeded_shuffle

    return seeded_shuffle(_t(spark, sf_dir, "documents"), seed=SHUFFLE_SEED)


def q_pack_sequences(spark, sf_dir):
    """Next-fit sequence packing (operators/seq.pack_sequences): whole
    documents assembled into fixed-capacity training sequences (bins of
    ≤ PACK_SEQ_LEN tokens, never splitting a doc) — the packed-batch
    assembly step between a cleaned corpus and the training loader. The
    oracle replays the per-shard next-fit recurrence exactly with a
    recursive CTE, so the engine's one-exchange JVM fold is pinned
    row-for-row (bin AND position) at any partitioning."""
    from .operators.seq import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents").filter("text is not null"),
        seq_len=PACK_SEQ_LEN,
        n_shards=PACK_SHARDS,
    )


PMI_TOP_K = 100   # collocation list size (engine AND oracle)
PMI_MIN_COUNT = 5  # bigram count floor (engine AND oracle)


def q_pmi_collocations(spark, sf_dir):
    """Top-k bigram collocations by PMI (functions/textstats
    .pmi_collocations, Church & Hanks 1990) — corpus-analysis surface for
    template/phrase discovery. One corpus pass: sentinel bigram counts,
    marginals and total derived FROM the count table, once-rounded integer
    micro-nat PMI, TakeOrdered top-k with a total (pmi, w1, w2) order."""
    return TS.pmi_collocations(
        _t(spark, sf_dir, "documents"),
        top_k=PMI_TOP_K,
        min_count=PMI_MIN_COUNT,
    )


def q_nofollow_gate(spark, sf_dir):
    """In-page REP gating (functions/metarobots.gated_links): per-anchor
    follow verdicts under <meta name="robots"> noindex/nofollow and
    rel="nofollow", over a deterministically messy fixture (upper/lower
    case variants, multi-directive contents, hrefless anchors). The
    oracle restates every flag in CLOSED FORM from the id formulas —
    extraction, case folding, whole-token directive matching and the
    gating rule are all end-to-end checked. One scan, one Generate, zero
    exchanges (plan-guarded in tests/test_metarobots.py)."""
    meta = """
      CASE CAST(doc_id % 8 AS INT)
        WHEN 1 THEN '<meta name="robots" content="noindex">'
        WHEN 5 THEN '<META NAME="robots" CONTENT="NOINDEX">'
        WHEN 2 THEN '<meta name="robots" content="nofollow">'
        WHEN 6 THEN '<META NAME="robots" CONTENT="NOFOLLOW">'
        WHEN 3 THEN '<meta name="robots" content="noindex, nofollow">'
        WHEN 7 THEN '<META NAME="robots" CONTENT="NOINDEX, NOFOLLOW">'
        ELSE '' END"""
    anchors = """
      concat_ws('', transform(sequence(0, cast(doc_id % 3 as int)),
        k -> concat('<a href="http://t.test/x', cast(doc_id as string), '_',
                    cast(k as string), '.html"',
                    CASE WHEN (doc_id + k) % 3 = 0 THEN
                      CASE WHEN (doc_id + k) % 6 = 3
                           THEN ' rel="NoFollow"' ELSE ' rel="nofollow"' END
                    ELSE '' END, '>x</a>')))"""
    hrefless = "IF(doc_id % 11 = 0, '<a name=\"anch\">x</a>', '')"
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://s.test/p"), F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.expr(
            f"concat('<html><head>', {meta}, '</head><body>', "
            f"{anchors}, {hrefless}, '</body></html>')"
        ).alias("text"),
    )
    from .functions.metarobots import gated_links

    return gated_links(pages)


PMI_SPLIT = 400  # docs below are "today's delta", the rest persisted state


def q_pmi_incremental(spark, sf_dir):
    """Incremental PMI maintenance (functions/textstats.pmi_incremental):
    the eighth delta-vs-corpus family member, additive-state flavor —
    ONLY the delta's text is tokenized; yesterday's persisted (w1, w2,
    c12) bigram table merges by sum and the collocation list recomputes
    from the merged state. The oracle is the WHOLE-CORPUS PMI SQL, so a
    hash match proves merge exactness (the anchor_stats_incremental
    shape)."""
    docs = _t(spark, sf_dir, "documents")
    stored = TS.bigram_counts(
        docs.where(f"doc_id >= {PMI_SPLIT}")
    ).localCheckpoint(eager=True)  # the persisted state table stand-in
    return TS.pmi_incremental(
        docs.where(f"doc_id < {PMI_SPLIT}"),
        stored,
        top_k=PMI_TOP_K,
        min_count=PMI_MIN_COUNT,
    )


DECON_N = 8  # word n-gram size for decontamination (engine AND oracle)
DECON_BENCH_FILTER = "doc_id % 97 = 3"  # deterministic eval-set subset
DECON_BENCH_TEXT = "substr(text, 20, 150)"  # mid-document excerpt


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 / Pile style): flag training
    docs sharing any word 8-gram with an eval set (operators/textdedup
    .contamination_flags — broadcast bench n-grams, one corpus scan).
    The synthetic eval set is a mid-document excerpt of every 97th doc,
    so the flagged set is exactly those source docs, found via interior
    n-gram overlap (the excerpt's cut word edges must not match)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = (
        _t(spark, sf_dir, "documents")
        .where(DECON_BENCH_FILTER)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.expr(DECON_BENCH_TEXT).alias("text"),
        )
    )
    return TD.contamination_flags(docs, bench, n=DECON_N)


def q_gopher_filter(spark, sf_dir):
    """Composite Gopher-style quality gate (functions/textstats
    .gopher_filter): word count, mean word length, duplicate-bigram
    fraction, stopword presence — keep/drop with the first failing rule
    as the reason. The oracle interpolates the SAME GOPHER_* constants,
    so engine and gate can never drift apart (the lsh_bucket_stats
    lesson, ADVICE r4)."""
    g = TS.gopher_filter(_t(spark, sf_dir, "documents"))
    return g.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("mwl_x100").cast("long").alias("mwl_x100"),
        "dup_ngram_frac",
        F.col("stop_hits").cast("long").alias("stop_hits"),
        "reason",
        "keep",
    )


TOPK_TERMS_K = 3
TOPK_TERMS_MIN_LEN = 4


def q_topk_terms(spark, sf_dir):
    """Top-k terms per source (functions/textstats.topk_terms): the
    corpus-profiling TF pass — frequency ties broken by term so the
    top-3 is total-ordered and hash-exact."""
    t = TS.topk_terms(
        _t(spark, sf_dir, "documents"),
        "source",
        k=TOPK_TERMS_K,
        min_len=TOPK_TERMS_MIN_LEN,
    )
    return t.select(
        "grp",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("rank").cast("long").alias("term_rank"),
    )


SAMPLE_CAP = 70  # per-language row target (engine AND oracle)


def q_lang_balanced_sample(spark, sf_dir):
    """Deterministic language-balanced downsampling (functions/textstats
    .balanced_sample): keep a row iff hash32(doc_id) mod n_lang < cap —
    rate min(1, cap/n_lang) per language, membership independent of
    partitioning/scan order. At sf0.01 the corpus is en-heavy (218 en
    vs 64 fr); cap=70 trims en/zh/es and keeps de/fr whole."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return TS.balanced_sample(d, "lang", SAMPLE_CAP).select("doc_id", "lang")


SNAP_DEL_MOD = 7  # doc_id % 7 == 3 → url vanishes in snapshot B
SNAP_CHG_MOD = 5  # doc_id % 5 == 0 → content (digest) changes
SNAP_NEW_N = 40  # brand-new urls appearing only in snapshot B
SNAP_NEW_OFS = 20000


def q_crawl_snapshot_diff(spark, sf_dir):
    """Inter-crawl snapshot diff (operators/snapshot.snapshot_diff):
    classify every url across two crawl snapshots as new / deleted /
    changed / unchanged by content digest — the CDX-revisit dedup pass
    between monthly crawls. Snapshot B perturbs A deterministically:
    every 7th-mod-3 url vanishes, every 5th-mod-0 re-digests, and
    SNAP_NEW_N fresh urls appear."""
    d = _t(spark, sf_dir, "documents")
    url = F.expr(SW.url_sql("doc_id"))
    old = d.select(url.alias("url"), F.md5("text").alias("digest"))
    new_digest = F.when(
        (F.col("doc_id") % SNAP_CHG_MOD) == 0,
        F.md5(F.concat(F.col("text"), F.lit("v2"))),
    ).otherwise(F.md5("text"))
    new_b = d.filter((F.col("doc_id") % SNAP_DEL_MOD) != 3).select(
        url.alias("url"), new_digest.alias("digest")
    )
    extra = d.filter(F.col("doc_id") < SNAP_NEW_N).select(
        F.expr(SW.url_sql(f"doc_id + {SNAP_NEW_OFS}")).alias("url"),
        F.md5(F.concat(F.lit("fresh"), F.col("text"))).alias("digest"),
    )
    return SNAP.snapshot_diff(old, new_b.unionByName(extra))


def q_unigram_lm_score(spark, sf_dir):
    """Corpus-fit unigram LM quality score (functions/textstats
    .unigram_lm_score): the CCNet/KenLM-filter stand-in — per-document
    average token log-probability in integer micro-nats (one rounding
    point, integer math after; float sum order can never flip a hash)."""
    s = TS.unigram_lm_score(_t(spark, sf_dir, "documents"))
    return s.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "sum_lp_micronat",
        "avg_lp_micronat",
    )


def _c4_text_sql(d: str) -> str:
    """Deterministic multi-line text per doc — ONE SQL string valid in
    both Spark SQL and DuckDB, exercising every c4_clean rule: a clean
    terminal-punctuated opener, an unterminated line (d%2=0), a too-short
    line, a javascript line (d%5=0), a terminal question line, plus
    doc-level lorem-ipsum (d%7=3) and curly-brace (d%11=6) poison."""
    s = f"CAST({d} AS STRING)"
    nl = "chr(10)"
    return (
        f"'Document ' || {s} || ' begins with a clean complete sentence.'"
        f" || {nl} || CASE WHEN {d} % 2 = 0"
        f" THEN 'this line has no terminal punctuation at all'"
        f" ELSE 'another good sentence appears right here today!' END"
        f" || {nl} || 'too short.'"
        f" || CASE WHEN {d} % 5 = 0 THEN {nl} ||"
        f" 'please enable javascript to view the comments.' ELSE '' END"
        f" || {nl} || 'the crawler asks a question about '"
        f" || substr(text, 1, 20) || ' now?'"
        f" || CASE WHEN {d} % 7 = 3 THEN {nl} ||"
        f" 'filler Lorem Ipsum filler text remains here.' ELSE '' END"
        f" || CASE WHEN {d} % 11 = 6 THEN {nl} ||"
        f" 'if (x) |BRACE| return; end.' ELSE '' END"
    ).replace("|BRACE|", "{")


def q_c4_clean(spark, sf_dir):
    """C4-style line-level cleaning (functions/textstats.c4_clean,
    Raffel et al. 2020 §2.2): terminal-punctuation / min-words /
    javascript line rules + lorem-ipsum / brace / min-lines document
    rules, as one zero-exchange higher-order-function projection."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_c4_text_sql("doc_id")).alias("text")
    )
    return TS.c4_clean(docs).select(
        F.col("id").alias("doc_id"), "lines_kept", "lines_dropped",
        "reason", "keep", "text_clean",
    )


CHUNK_SIZE = 32    # tokens per context window (engine AND oracle)
CHUNK_STRIDE = 24  # window step → 8 tokens of overlap


def q_chunk_by_tokens(spark, sf_dir):
    """Overlapping token-window chunking (functions/textstats
    .chunk_by_tokens): every document split into model-context windows of
    CHUNK_SIZE tokens at CHUNK_STRIDE steps — the doc→training-example
    explode, zero exchanges. Complements shard_by_tokens (whole docs →
    files; here one doc → many windows)."""
    return TS.chunk_by_tokens(
        _t(spark, sf_dir, "documents"), size=CHUNK_SIZE, stride=CHUNK_STRIDE
    ).select(
        F.col("id").alias("doc_id"), "chunk_id", "start_tok", "n_tok",
        "chunk_text",
    )


BM25_QUERY = ("spark", "window", "merge")  # engine AND oracle
BM25_TOPK = 20


def q_bm25_search(spark, sf_dir):
    """BM25 full-text relevance top-k (functions/textstats.bm25_rank):
    score every document against the BM25_QUERY bag, keep the
    total-ordered top BM25_TOPK. Per-term contributions round ONCE to
    integer micro-units then sum as BIGINT (the unigram_lm_score
    recipe), so the ranking is engine-exact."""
    return TS.bm25_rank(
        _t(spark, sf_dir, "documents"), list(BM25_QUERY), k=BM25_TOPK
    ).select(
        F.col("id").alias("doc_id"), "n_hits", "score_micro", "rank"
    )


BM25_SPLIT = 100  # delta = doc_id < BM25_SPLIT; corpus = the rest


def q_bm25_incremental(spark, sf_dir):
    """Incremental search-index maintenance (functions/textstats
    .bm25_incremental): the second incremental-state member of the
    delta-vs-corpus family — only the delta's text is tokenized;
    yesterday's persisted (id, term, tf) postings, less any re-fetched
    id's, union the delta's and queries answer from the merged index.
    The oracle is the WHOLE-CORPUS bm25_search SQL, so the hash match
    proves the maintained index answers exactly like a from-scratch
    build."""
    d = _t(spark, sf_dir, "documents")
    stored = TS.postings_state(
        d.where(f"doc_id >= {BM25_SPLIT}")
    ).localCheckpoint(eager=True)  # the persisted state table stand-in
    return TS.bm25_incremental(
        d.where(f"doc_id < {BM25_SPLIT}"), stored,
        list(BM25_QUERY), k=BM25_TOPK,
    ).select(
        F.col("id").alias("doc_id"), "n_hits", "score_micro", "rank"
    )


def q_rel_canonical(spark, sf_dir):
    """In-page canonical-URL election (functions/metarobots
    .rel_canonical): ``<link rel="canonical">`` one-hop election +
    alias-group rollup over a deterministically messy fixture (case
    variants, explicit-self, EMPTY href that must fall back to self,
    undeclared pages). The oracle restates the elected canonical in
    CLOSED FORM from the id formulas (it never parses) and computes the
    rollup with its own GROUP BY — extraction, fallback ladder, and
    group sizes all end-to-end checked."""
    link = """
      CASE
        WHEN doc_id % 11 = 0 THEN '<link rel="canonical" href="">'
        WHEN doc_id % 7 = 0 THEN concat(
          '<link rel="canonical" href="http://s.test/p',
          cast(doc_id as string), '.html">')
        WHEN doc_id % 3 <> 0 THEN concat(
          CASE WHEN doc_id % 2 = 1 THEN '<LINK REL="canonical" HREF="'
               ELSE '<link rel="canonical" href="' END,
          'http://s.test/p', cast(doc_id - doc_id % 3 as string),
          '.html">')
        ELSE '' END"""
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://s.test/p"), F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.expr(
            f"concat('<html><head>', {link}, "
            f"'</head><body>doc</body></html>')"
        ).alias("text"),
    )
    from .functions.metarobots import rel_canonical

    return rel_canonical(pages)


def q_meta_refresh(spark, sf_dir):
    """Meta-refresh redirect extraction (functions/metarobots
    .meta_refresh): the fourth in-page directive and the fourth
    discovery edge (operators/discovery.discover_urls ``pages=``). The
    fixture ladder exercises absolute targets, root-relative resolution
    against the page origin, protocol-relative and path-relative forms
    that must stay unresolved (NULL target), delay parsing with spaces,
    case variants, and undeclared pages (absent from the output). The
    oracle restates every row in CLOSED FORM from the id formulas."""
    meta = """
      CASE CAST(doc_id % 5 AS INT)
        WHEN 1 THEN concat('<meta http-equiv="refresh" content="0;url=',
          'http://ext', cast(doc_id % 9 as string), '.test/land',
          cast(doc_id as string), '.html">')
        WHEN 2 THEN concat('<META HTTP-EQUIV="refresh" CONTENT="5 ; url=',
          '/next', cast(doc_id as string), '.html">')
        WHEN 3 THEN '<meta http-equiv="refresh" content="30;url=//cdn.test/x">'
        WHEN 4 THEN '<meta http-equiv="refresh" content="2;url=relative.html">'
        ELSE '' END"""
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://s"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".test/page"), F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.expr(
            f"concat('<html><head>', {meta}, '</head><body>b</body></html>')"
        ).alias("text"),
    )
    from .functions.metarobots import meta_refresh

    return meta_refresh(pages)


PHRASE_QUERY = ("value", "table")   # engine AND oracle
PHRASE_TOPK = 20


def q_phrase_search(spark, sf_dir):
    """Exact consecutive-phrase retrieval (functions/textstats
    .phrase_search): top-k documents containing the PHRASE_QUERY tokens
    adjacently. The engine folds per-term position arrays with
    shift-intersect (zero joins after the token filter); the oracle runs
    the classic positional self-join chain — deliberately different
    machinery proving the same relation."""
    return TS.phrase_search(
        _t(spark, sf_dir, "documents"), list(PHRASE_QUERY), k=PHRASE_TOPK
    ).select(F.col("id").alias("doc_id"), "n_matches", "first_pos", "rank")


RRF_K = 60          # the standard reciprocal-rank-fusion constant
RRF_POOL = 30       # candidate pool per ranking leg
RRF_TOPK = 10       # fused results returned
RRF_QVEC = 0        # semantic query = embedding of vec 0


def q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal rank fusion (Cormack et al. 2009)
    — the retrieval stack a training-data curation pipeline actually
    runs: a lexical BM25 leg and a semantic exact-cosine leg, each
    producing a top-RRF_POOL ranking, fused by
    Σ SCALE div (RRF_K + rank) in exact integers. A doc absent from one
    leg contributes nothing there (NULL rank → 0) — fusion rewards
    agreement without requiring it. Both legs are single corpus passes
    with map-side rank limits; the fusion itself is a full-outer join of
    two ≤ RRF_POOL-row lists — driver-free and broadcastable at any
    scale."""
    lex = TS.bm25_rank(
        _t(spark, sf_dir, "documents"), list(BM25_QUERY), k=RRF_POOL
    ).select(F.col("id").alias("doc_id"), F.col("rank").cast("long").alias("lex_rank"))
    sem = SIM.brute_force_ranks(
        _t(spark, sf_dir, "embeddings"), query_id=RRF_QVEC, k=RRF_POOL
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rk").alias("sem_rank"))
    fused = (
        lex.join(sem, "doc_id", "full")
        .select(
            "doc_id", "lex_rank", "sem_rank",
            (
                F.coalesce(F.expr(f"1000000 div ({RRF_K} + lex_rank)"), F.lit(0))
                + F.coalesce(F.expr(f"1000000 div ({RRF_K} + sem_rank)"), F.lit(0))
            ).cast("long").alias("rrf_micro"),
        )
    )
    w = Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= RRF_TOPK)
    )


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup survivor selection (operators/textdedup
    .dedup_keep_best): LSH clusters from the shared signature
    materialization, survivor = highest quality_stats score per cluster
    (ties → lowest id) — the production policy where 'first seen' keeps
    the ad-wrapped copy and 'best' keeps the clean one."""
    docs = _aug_docs(spark, sf_dir)
    scores = TS.quality_stats(docs).select("id", "score")
    r = TD.dedup_keep_best(
        docs, scores, bands=4, rows_per_band=2, k=5,
        cache_key=f"aug:{sf_dir}",
    )
    return r.select(
        "id", "cluster_id", F.col("score").cast("long").alias("score"),
        "best_id", "keep",
    )


SPAN_N = 8  # duplicate-span gram width (engine AND oracle)


def q_duplicate_spans(spark, sf_dir):
    """ExactSubstr-style duplicate-span flags (operators/textdedup
    .duplicate_spans, Lee et al. 2022): every word position opening a
    word-8-gram that occurs in >1 document — the spans a training-set
    substring dedup would cut. Over the duplicate-injected corpus so real
    cross-document spans exist."""
    return TD.duplicate_spans(_aug_docs(spark, sf_dir), n=SPAN_N).select(
        F.col("id").alias("doc_id"), "pos", "gram_hash", "n_docs",
        "n_occurrences",
    )


def q_duplicate_span_strip(spark, sf_dir):
    """The REMOVAL half of ExactSubstr dedup (operators/textdedup
    .duplicate_span_strip): cut every word covered by a cross-document
    duplicated 8-gram window, preserving survivor order — what Lee et
    al. 2022 actually do to the training set with the flags
    ``duplicate_spans`` produces. Same duplicate-injected corpus, so the
    injected copies lose their duplicated text on both sides."""
    return TD.duplicate_span_strip(_aug_docs(spark, sf_dir), n=SPAN_N)


INV_MIN_TERM_LEN = 4
INV_K_POSTINGS = 5


def q_inverted_index(spark, sf_dir):
    """Capped inverted-index build (functions/textstats.inverted_index):
    term → exact df/tf + the k lowest-id postings as id:first_pos:tf_d —
    the search-index constructor pairing bm25_search. The salted two-level
    top-k is exact, so the result is salt-invariant and hash-exact."""
    return TS.inverted_index(
        _t(spark, sf_dir, "documents"),
        min_term_len=INV_MIN_TERM_LEN, k_postings=INV_K_POSTINGS,
    )


def _anchor_html_sql(d: str) -> str:
    """Deterministic anchor-bearing HTML per doc — ONE SQL string valid
    in both engines: a topical anchor to a sharded target, an upper-case
    anchor to one hub page (every doc), an empty-text anchor (d%3=0), a
    non-anchor img link that must be ignored, and a second hub anchor
    variant (d%4=1) so top-anchor selection has real competition."""
    s = f"CAST({d} AS STRING)"
    return (
        f"'<p>doc ' || {s} || '</p>'"
        f" || '<a href=\"http://site' || CAST({d} % 7 AS STRING)"
        f" || '.test/page' || CAST({d} % 13 AS STRING)"
        f" || '.html\">guide to topic ' || CAST({d} % 5 AS STRING) || '</a>'"
        f" || '<A HREF=\"http://hub.test/index.html\">home</A>'"
        f" || CASE WHEN {d} % 3 = 0 THEN"
        f" '<a href=\"http://site' || CAST({d} % 7 AS STRING)"
        f" || '.test/page' || CAST(({d} + 1) % 13 AS STRING) || '.html\"></a>'"
        f" ELSE '' END"
        f" || '<img src=\"http://img.test/i' || {s} || '.png\">'"
        f" || CASE WHEN {d} % 4 = 1 THEN"
        f" '<a href=\"http://hub.test/index.html\">start here</a>' ELSE '' END"
    )


def q_anchor_text_stats(spark, sf_dir):
    """Inbound anchor-text aggregation (functions/anchors
    .anchor_text_stats): per-target inbound count, distinct sources, and
    the most frequent anchor text — the search/quality signal the crawl
    kernel deliberately drops. Struct-min arg-max, no window, so the hub
    mega-target never pins one task."""
    pages = _t(spark, sf_dir, "documents").select(
        F.expr("'http://src' || CAST(doc_id AS STRING) || '.test/'").alias("url"),
        F.expr(_anchor_html_sql("doc_id")).alias("html"),
    )
    return ANC.anchor_text_stats(pages)


def q_host_quality_rollup(spark, sf_dir):
    """Domain-level quality gate (functions/textstats.host_quality_rollup,
    RefinedWeb-style): per-host doc count, integer average quality,
    corpus-wide duplication permille — whole hosts kept/dropped with the
    first failing rule as the reason. Over the duplicate-injected corpus
    with the synthetic host mapping (sources/synth_web.host_id_expr), so
    the mega-host and real dup pressure both exist."""
    docs = _aug_docs(spark, sf_dir).select(
        "doc_id", "text",
        F.expr(
            "'site' || CAST(" + SW.host_id_expr("doc_id") + " AS STRING)"
            " || '.test'"
        ).alias("host"),
    )
    return TS.host_quality_rollup(docs)


TSB_SIZE = 8   # training-set-build chunk window (engine AND oracle)
TSB_STRIDE = 6
TSB_MIN_AVG = 30  # domain-gate threshold tuned to the short c4 texts


def q_training_set_build(spark, sf_dir):
    """The round-5 operators COMPOSED as one declarative training-set
    build (the 100-TB use case, not an operator demo): domain gate
    (host_quality_rollup keep) → C4 line cleaning (c4_clean keep, cleaned
    text) → token-window chunking (chunk_by_tokens) — one logical plan,
    no driver round-trips; the domain gate's host table is
    broadcast-sized, the C4 and chunk stages are zero-exchange map-side,
    so the composition scales exactly like its parts."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "'site' || CAST(" + SW.host_id_expr("doc_id") + " AS STRING)"
            " || '.test'"
        ).alias("host"),
        F.expr(_c4_text_sql("doc_id")).alias("text"),
    )
    kept_hosts = (
        TS.host_quality_rollup(docs, min_avg_score=TSB_MIN_AVG)
        .filter("keep").select("host")
    )
    survivors = docs.join(F.broadcast(kept_hosts), "host")
    cleaned = (
        TS.c4_clean(survivors)
        .filter("keep")
        .select(F.col("id").alias("doc_id"), F.col("text_clean").alias("text"))
    )
    return TS.chunk_by_tokens(cleaned, size=TSB_SIZE, stride=TSB_STRIDE).select(
        F.col("id").alias("doc_id"), "chunk_id", "start_tok", "n_tok",
        "chunk_text",
    )


def _boiler_html_sql(d: str) -> str:
    """Deterministic chrome-wrapped HTML per doc — ONE SQL string valid
    in both engines: a link-dense nav bar, a script block (must vanish),
    the real content paragraph, an optional related-links list (d%3=0),
    an optional mixed content+link paragraph (d%4=1, must be KEPT), and
    a too-short block."""
    s = f"CAST({d} AS STRING)"
    return (
        "'<div>home | <a href=\"/\">start</a> <a href=\"/a\">about us</a>"
        " <a href=\"/b\">contact now</a></div>'"
        f" || '<script>var x = ' || {s} || ';</script>'"
        f" || '<p>doc ' || {s} || ' main content reads '"
        " || substr(text, 1, 60) || ' end</p>'"
        f" || CASE WHEN {d} % 3 = 0 THEN"
        " '<div><a href=\"/x\">related one</a>"
        " <a href=\"/y\">related two</a></div>' ELSE '' END"
        f" || CASE WHEN {d} % 4 = 1 THEN"
        " '<p>a second paragraph with <a href=\"/z\">one inline link</a>"
        " and more plain words here</p>' ELSE '' END"
        " || '<p>short.</p>'"
    )


def q_strip_boilerplate(spark, sf_dir):
    """Main-content extraction (functions/boilerplate.strip_boilerplate,
    JusText/Kohlschütter-style): block split + word-count / link-density
    keep rule, zero exchanges — the HTML→clean-text step before any text
    filter. The nav/related/footer chrome must drop, the content and the
    mixed content+link paragraph must survive."""
    pages = _t(spark, sf_dir, "documents").select(
        F.expr("'http://src' || CAST(doc_id AS STRING) || '.test/'").alias("url"),
        F.expr(_boiler_html_sql("doc_id")).alias("html"),
    )
    return BP.strip_boilerplate(pages)


ANCHOR_SPLIT = 250  # delta = doc_id < ANCHOR_SPLIT; corpus = the rest


def q_anchor_stats_incremental(spark, sf_dir):
    """Incremental anchor-profile maintenance (functions/anchors
    .anchor_stats_incremental): the ADDITIVE-STATE member of the
    delta-vs-corpus family — the delta's HTML is the only HTML scanned;
    yesterday's persisted (target, anchor, src, cnt) state merges by sum
    and the rollup recomputes from the merged state. The oracle is the
    WHOLE-CORPUS anchor_text_stats SQL, so a hash match proves the merge
    reconstructs the batch answer exactly."""
    def pages(pred):
        return _t(spark, sf_dir, "documents").where(pred).select(
            F.expr("'http://src' || CAST(doc_id AS STRING) || '.test/'")
            .alias("url"),
            F.expr(_anchor_html_sql("doc_id")).alias("html"),
        )

    stored = ANC.anchor_counts(
        pages(f"doc_id >= {ANCHOR_SPLIT}")
    ).localCheckpoint(eager=True)  # the persisted state table stand-in
    return ANC.anchor_stats_incremental(
        pages(f"doc_id < {ANCHOR_SPLIT}"), stored
    )


ANCHOR_QUERY = ("guide", "topic")  # engine AND oracle
ANCHOR_TOPK = 10


def q_anchor_search(spark, sf_dir):
    """Anchor-field retrieval (functions/anchors.anchor_postings +
    textstats.bm25_from_postings): targets ranked by BM25 over their
    INBOUND anchor texts — the Brin & Page signal as a search field,
    reusing the maintained-index scorer unchanged (the postings schema
    is shared). Anchor fixture: topical 'guide to topic K' anchors vs
    the ubiquitous 'home' hub anchor; the query hits the topical
    field."""
    pages = _t(spark, sf_dir, "documents").select(
        F.expr("'http://src' || CAST(doc_id AS STRING) || '.test/'")
        .alias("url"),
        F.expr(_anchor_html_sql("doc_id")).alias("html"),
    )
    return TS.bm25_from_postings(
        ANC.anchor_postings(pages), list(ANCHOR_QUERY), k=ANCHOR_TOPK
    ).select(F.col("id").alias("target"), "n_hits", "score_micro", "rank")


ALIAS_N = 50  # docs with a longer mirror URL serving identical content


def q_url_alias_groups(spark, sf_dir):
    """Mirror / URL-alias canonicalization (operators/textdedup
    .url_alias_groups): group by content digest, canonical = shortest
    URL then lexicographic — the third survivor policy next to
    first-seen (dedup_exact) and best-quality (dedup_keep_best)."""
    base = _t(spark, sf_dir, "documents")
    pages = base.select(
        F.expr(SW.url_sql("doc_id")).alias("url"), "text"
    ).unionByName(
        base.where(f"doc_id < {ALIAS_N}").select(
            F.expr(
                "'http://mirror-of-the-original.example/copy'"
                " || CAST(doc_id AS STRING) || '.html'"
            ).alias("url"),
            "text",
        )
    )
    return TD.url_alias_groups(pages)


def q_recrawl_ranks(spark, sf_dir):
    """Recrawl scheduling (operators/snapshot.recrawl_ranks): the snapshot
    diff folded into the (url, rank) table the crawl's ``ranks`` takes —
    host change-rate in integer thousandths plus a flat boost for urls
    whose own digest changed; deleted urls dropped. Closes the loop
    snapshot_diff's docstring promises: diff → next crawl's priorities."""
    diff = q_crawl_snapshot_diff(spark, sf_dir)
    return SNAP.recrawl_ranks(diff)


CR_SNAPS = 4  # crawl-history depth (engine AND oracle)
# presence: a gap at snap 1 for %7=2 urls (span>n case) and a
# single-observation url class (%11=5, no pair evidence → dropped)
_CR_FILTER = (
    "NOT (doc_id % 7 = 2 AND snap = 1)"
    " AND NOT (doc_id % 11 = 5 AND snap > 0)"
)
# digest version v = floor(snap·(doc_id%5)/4): %5=0 never changes (λ̂=0),
# %5=4 changes every pair (X=n — the bias-corrected estimator's edge),
# %5=1..3 change at staircase points; exact integer+md5, ONE shared string
_CR_DIGEST = (
    "md5('d' || CAST(doc_id AS STRING) || ':' ||"
    " CAST(CAST(floor((snap * (doc_id % 5)) / 4.0) AS INT) AS STRING))"
)


def q_change_rate(spark, sf_dir):
    """Adaptive recrawl scheduling (operators/snapshot
    .change_rate_estimate): Cho & Garcia-Molina bias-corrected Poisson
    change rate per url over a CR_SNAPS-deep crawl history, with gaps,
    never-changing urls, every-snapshot-changing urls (the X=n edge),
    and single-observation urls that must be dropped."""
    hist = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(CR_SNAPS - 1))).alias(
                "snap"
            ),
        )
        .where(_CR_FILTER)
        .select(
            F.expr(SW.url_sql("doc_id")).alias("url"),
            "snap",
            F.expr(_CR_DIGEST).alias("digest"),
        )
    )
    return SNAP.change_rate_estimate(hist)


def q_dedup_minhash_sig(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return TD.minhash_signatures(docs, num_hashes=8, k=5).select(
        "id", F.col("h").cast("long").alias("h"), "minhash"
    )


def q_dedup_lsh_pairs(spark, sf_dir):
    return TD.lsh_candidate_pairs(
        _aug_docs(spark, sf_dir), bands=4, rows_per_band=2, k=5,
        cache_key=f"aug:{sf_dir}",
    )


# One constant drives BOTH the engine call and the DuckDB oracle SQL for
# lsh_bucket_stats (ADVICE r4: two hardcoded copies could silently drift).
LSH_STATS_CAP = 3


def q_dedup_exact_incremental(spark, sf_dir):
    """Exact-digest incremental dedup — the fifth member of the
    delta-vs-corpus family (operators/textdedup.dedup_exact_incremental):
    today's delta probes yesterday's persisted digest table (corpus text
    never read). Delta synthesis: re-crawl copies of docs < 50 (corpus
    hits, dropped), fresh ' v2' revisions of docs < 30 (survive), and a
    second copy of each revision (within-delta dupes — min id keeps)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    delta = (
        d.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        .unionByName(
            d.filter(F.col("doc_id") < 30).select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.concat("text", F.lit(" v2")).alias("text"),
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") < 30).select(
                (F.col("doc_id") + 30000).alias("doc_id"),
                F.concat("text", F.lit(" v2")).alias("text"),
            )
        )
    )
    return TD.dedup_exact_incremental(delta, TD.corpus_digests(d))


def q_dedup_lsh_incremental(spark, sf_dir):
    """Incremental dedup — today's delta vs yesterday's persisted corpus
    (VERDICT r4 item 5). The aug corpus's injected duplicates (doc_id ≥
    10000, copies of doc_id < 50) play "today's re-crawled delta"; the
    original documents are "yesterday's corpus" whose signature table is a
    fit-once materialization (in a deployment: a parquet/Iceberg (id, sig)
    table) — the plan signatures ONLY the delta; the corpus side is a
    stored-value projection (plan-guarded in test_plans_guard)."""
    aug = _aug_docs(spark, sf_dir)
    delta = aug.filter(F.col("doc_id") >= 10000)
    corpus_sigs = TD.minhash_wide_cached(
        aug.filter(F.col("doc_id") < 10000),
        num_hashes=8, k=5, cache_key=f"aug-corpus:{sf_dir}",
    )
    return TD.lsh_pairs_incremental(
        delta, corpus_sigs, bands=4, rows_per_band=2, k=5,
        cache_key=f"aug-delta:{sf_dir}",
    )


def q_dedup_simhash_incremental(spark, sf_dir):
    """Incremental SimHash dedup — the third member of the delta-vs-corpus
    family (LSH: `dedup_lsh_incremental`; embedding ANN:
    `embed_neardup_incremental`). The aug corpus's injected re-crawl copies
    (doc_id >= 10000) are today's delta; the corpus side is a persisted
    (id, simhash) table (ONE bigint per document — fit-once materialization
    here, a parquet/Iceberg table in a deployment), banded by pure
    shift/mask projection. With max_hamming=3 <= bands-1 the pigeonhole
    blocking is EXACT, so this equals the full delta×corpus Hamming join at
    banded cost. Corpus bounded to doc_id < 100 so the DuckDB oracle's
    token-level simhash replay stays affordable (same bound as
    `dedup_simhash`)."""
    aug = _aug_docs(spark, sf_dir)
    delta = aug.filter(F.col("doc_id") >= 10000)
    corpus_sigs = TD.simhash_cached(
        aug.filter(F.col("doc_id") < 100),
        cache_key=f"aug-corpus-sh:{sf_dir}",
    )
    return TD.simhash_pairs_incremental(
        delta, corpus_sigs,
        bands=SIMHASH_INCR_BANDS, max_hamming=SIMHASH_INCR_MAX_HAMMING,
        max_bucket_size=SIMHASH_INCR_CAP,
        cache_key=f"aug-delta-sh:{sf_dir}",
    )


# one source for the incremental-SimHash tunables: the engine call above
# and the DuckDB oracle both interpolate these (cap drift = ADVICE r4 #3)
SIMHASH_INCR_BANDS = 4
SIMHASH_INCR_MAX_HAMMING = 3   # <= bands - 1 keeps the blocking lossless
SIMHASH_INCR_CAP = 1000


def q_lsh_bucket_stats(spark, sf_dir):
    """Skew-cap accounting (no silent truncation): buckets over the cap are
    REPORTED with their drop counts — the operator a pipeline operator
    watches to know the cap bit. Cap=LSH_STATS_CAP so the aug corpus's
    duplicate groups actually exceed it; shares the round's signature
    materialization."""
    return TD.lsh_bucket_stats(
        _aug_docs(spark, sf_dir), bands=4, rows_per_band=2, k=5,
        max_bucket_size=LSH_STATS_CAP, cache_key=f"aug:{sf_dir}",
    ).select("bucket", "size", F.col("dropped").cast("long").alias("dropped"))


def q_dedup_clusters(spark, sf_dir):
    """LSH pairs → connected components → cluster assignment (the step that
    turns candidate pairs into an actual deduped corpus; near-dup relations
    chain, so a pair list alone cannot pick survivors). Iterative min-label
    propagation with pointer jumping — O(log d) rounds of uniform-key
    shuffles; the full corpus joins the (small) component labels once at
    the end. DuckDB oracle replays it as a recursive-CTE transitive
    closure."""
    return TD.dedup_clusters(
        _aug_docs(spark, sf_dir), bands=4, rows_per_band=2, k=5,
        cache_key=f"aug:{sf_dir}",
    )


def q_dedup_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return TD.simhash(docs)


def q_simhash_hamming(spark, sf_dir):
    """Near-dup candidates by SimHash Hamming distance over consecutive-id
    pairs (bit_count(xor) — JVM-side in Spark, identical in DuckDB)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sh = TD.simhash(docs)
    a = sh.select(F.col("id").alias("a"), F.col("simhash").alias("ha"))
    b = sh.select((F.col("id") - 1).alias("a"), F.col("id").alias("b"),
                  F.col("simhash").alias("hb"))
    return (
        a.join(b, "a")
        .select(
            "a", "b",
            F.expr("cast(bit_count(ha ^ hb) as bigint)").alias("hamming"),
        )
    )


def q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return TD.ngram_jaccard_pairs(docs, k=3)


def q_lang_id(spark, sf_dir):
    return TS.lang_id(_t(spark, sf_dir, "documents"))


def q_quality_score(spark, sf_dir):
    return TS.quality_stats(_t(spark, sf_dir, "documents")).select(
        "id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_punct").cast("long").alias("n_punct"),
        F.col("score").cast("long").alias("score"),
    )


def q_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("id"),
        TS.ws_token_count("text").cast("long").alias("ws_tokens"),
        TS.bpe_token_count("text").cast("long").alias("bpe_tokens"),
    )


def q_corpus_split_stats(spark, sf_dir):
    """Deterministic train/val/test corpus split (90/5/5) by content-free
    id hash — the standard leakage-safe split for training data at scale:
    assignment depends only on the stable doc id (reshuffling or growing
    the corpus never moves a doc between splits), is uniform by md5, and
    is reproducible in any engine. Aggregates per-split doc and token
    budgets; one map-side-combined groupBy on a 3-value key."""
    bucket = (
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"
    )
    return (
        _t(spark, sf_dir, "documents")
        .select(
            F.expr(
                f"CASE WHEN {bucket} < 90 THEN 'train' "
                f"WHEN {bucket} < 95 THEN 'val' ELSE 'test' END"
            ).alias("split"),
            TS.ws_token_count("text").cast("long").alias("ws"),
            TS.bpe_token_count("text").cast("long").alias("bpe"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
        )
    )


def q_fingerprint(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), TS.fingerprint("text").alias("fp")
    )


def q_corpus_clean_pipeline(spark, sf_dir):
    """The training-data operators COMPOSED as one declarative cleaning job
    (the 100-TB use case, not an operator demo): language-ID gate →
    quality-score gate → fingerprint dedup (lowest id survives) → BPE-ish
    token accounting, over the duplicate-injected corpus. One logical plan,
    no driver round-trips between stages; every shuffle keys on a uniform
    hash (id / md5 fingerprint), so the composition scales exactly like its
    parts. Dedup runs AFTER the gates (a rejected duplicate must not shadow
    a surviving one)."""
    docs = _aug_docs(spark, sf_dir)
    enriched = (
        docs.select(
            F.col("doc_id").alias("id"),
            TS.fingerprint("text").alias("fp"),
            TS.bpe_token_count("text").cast("long").alias("bpe_tokens"),
        )
        .join(TS.quality_stats(docs).select("id", "score"), "id")
        .join(TS.lang_id(docs), "id")
    )
    survivors = enriched.filter(
        (F.col("pred_lang") == "en") & (F.col("score") >= 40)
    )
    keepers = survivors.groupBy("fp").agg(F.min("id").alias("id"))
    return survivors.join(keepers, ["fp", "id"]).select(
        "id", "fp", F.col("score").cast("long").alias("score"), "bpe_tokens"
    )


def q_cosine_topk(spark, sf_dir):
    return SIM.brute_force_topk(_t(spark, sf_dir, "embeddings"), n_queries=8, k=5)


def _shared_quantizer(spark, sf_dir):
    """Fit-once k-means quantizer shared by ann_ivf_topk and
    embed_neardup_ann (memoized per application+input in similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb, SIM.kmeans_ranked_cached(
        emb, k_clusters=4, iters=2, cache_key=("emb", sf_dir)
    )


def _shared_knn(spark, sf_dir):
    """Build-once k-NN edge list shared by knn_graph, semantic_clusters,
    and cluster_balanced_sample (memoized per application+input in
    similarity.py; rides the shared quantizer)."""
    emb, ranked = _shared_quantizer(spark, sf_dir)
    return emb, SIM.knn_edges_cached(
        emb, k=KNN_K, k_clusters=4, iters=2, probes=2,
        cache_key=("knn", sf_dir), ranked=ranked,
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN with the deterministic integer k-means quantizer + 2-probe
    search (operators/similarity.kmeans_ivf_topk)."""
    emb, ranked = _shared_quantizer(spark, sf_dir)
    return SIM.kmeans_ivf_topk(
        emb, n_queries=8, k=5, k_clusters=4, iters=2, probes=2, ranked=ranked,
    )


def q_ann_recall(spark, sf_dir):
    """Recall@5 of the IVF ANN against the brute-force exact ground truth —
    the measurement that justifies trading exactness for the bucketed scale
    path ("measure, don't guess"). Both sides are existing battery queries;
    the join keys on (query, neighbor), so the check costs O(queries · k)."""
    emb = _t(spark, sf_dir, "embeddings")
    bf = SIM.brute_force_topk(emb, n_queries=8, k=5).select(
        "query_id", "neighbor_id"
    )
    emb2, ranked = _shared_quantizer(spark, sf_dir)
    ivf = (
        SIM.kmeans_ivf_topk(
            emb2, n_queries=8, k=5, k_clusters=4, iters=2, probes=2, ranked=ranked,
        )
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        bf.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("hits"))
        .withColumn("recall_at_5", F.round(F.col("hits") / 5.0, 4))
    )


def q_neardup_recall(spark, sf_dir):
    """Recall of the bucketed (k-means) embedding near-dup path against the
    exact all-pairs baseline on the id<200 subset where the baseline is
    affordable — quantifies the cross-bucket-miss trade the scale path
    accepts, instead of merely documenting it. One row per probe count
    (1 = plain bucketing, 2 = multi-probe): exact pair count, found pair
    count, recall — the recall/candidate-volume knob, measured."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = SIM.neardup_pairs(emb, n=200, threshold=0.3).select("a", "b")
    emb2, ranked = _shared_quantizer(spark, sf_dir)
    out = None
    for p in (1, 2):
        ann = (
            SIM.neardup_pairs_bucketed(emb2, threshold=0.3, k_clusters=4,
                                       iters=2, ranked=ranked, probes=p)
            .filter((F.col("a") < 200) & (F.col("b") < 200))
            .select("a", "b")
            .withColumn("hit", F.lit(1))
        )
        r = (
            exact.join(ann, ["a", "b"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("hit").alias("n_found"),
                F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("recall"),
            )
            .withColumn("probes", F.lit(p).cast("long"))
        )
        out = r if out is None else out.unionByName(r)
    return out.select("probes", "n_exact", "n_found", "recall")


def q_embed_neardup(spark, sf_dir):
    return SIM.neardup_pairs(_t(spark, sf_dir, "embeddings"), n=200, threshold=0.3)


DECON_SEM_MOD = 61  # benchmark = every 61st vector (9 at sf0.01)


def q_decontaminate_semantic(spark, sf_dir):
    """Embedding-space benchmark decontamination (operators/similarity
    .contamination_semantic): flag training vectors with cosine >= tau
    against any benchmark vector — the semantic sibling of the lexical
    8-gram ``decontaminate`` pass (catches paraphrases the n-gram pass
    misses). The synthetic eval set is every DECON_SEM_MOD-th vector, so
    each bench vector flags itself (cos 1.0) plus its near-dups; the
    benchmark side is broadcast (small by definition), the corpus is
    scanned once, and the only shuffle is the per-doc aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % DECON_SEM_MOD == 0).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    )
    return SIM.contamination_semantic(emb, bench)


def q_edu_classifier(spark, sf_dir):
    """FineWeb-Edu-style model-based quality gate (operators/similarity
    .edu_scores): a linear head over the precomputed embedding column,
    bucketed into the published 0..5 educational-value scale, keep >= 3.
    Zero exchanges — the md5-derived integer weight vector rides the plan
    as a literal array and the fold is whole-stage-codegen BIGINT math,
    so classifier inference at 100 TB is a map-side projection."""
    return SIM.edu_scores(_t(spark, sf_dir, "embeddings"))


EDU_RANK_SCALE = 50  # rank units per educational-value bucket


def q_focused_crawl_ranks(spark, sf_dir):
    """Focused crawling for training data (Chakrabarti et al. 1999 meets
    the FineWeb-Edu gate): the edu classifier's 0..5 buckets become the
    FIFTH rank producer — a ``(url, rank)`` table with ``rank =
    edu_score · EDU_RANK_SCALE`` that the crawl's ``ranks`` consumes,
    composing with recrawl/change-rate/domain-rank producers by
    rank-table sum. Within a politeness class the frontier then fetches
    predicted-educational pages first — classifier inference steers the
    crawl, not just the post-hoc filter. Zero exchanges end to end: the
    classifier is a map-side literal-weights fold and the URL rendering
    is a projection."""
    scores = SIM.edu_scores(_t(spark, sf_dir, "embeddings"))
    return scores.select(
        F.expr(SW.url_sql("vec_id")).alias("url"),
        (F.col("edu_score") * EDU_RANK_SCALE).cast("long").alias("rank"),
    )


def q_multimodal_meta(spark, sf_dir):
    """Binary-column metadata plumbing (decode stubbed, deterministic)."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    )
    return MM.extract_image_meta(d, "doc_id", "blob").select(
        "id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "digest",
    )


def q_multimodal_audio_meta(spark, sf_dir):
    """Audio-column metadata plumbing: same Arrow stage pattern as the image
    path; the production stage parses WAV headers for REAL (stdlib; covered
    end-to-end by tests/test_multimodal.py), other codecs fall to the
    deterministic digest-derived fake (no audio libs in-container). The
    DuckDB oracle always replays the fake, so THIS battery query pins
    ``real_wav=False`` — parity with the oracle is structural, not a bet
    that no text-derived blob ever parses as RIFF/WAVE (ADVICE r4)."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    )
    return MM.extract_audio_meta(d, "doc_id", "blob", real_wav=False).select(
        "id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "duration_ms",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("channels").cast("long").alias("channels"),
        "digest",
    )


def q_multimodal_video_meta(spark, sf_dir):
    """Video-column metadata plumbing: the production stage REALLY parses
    MP4 moov/mvhd/tkhd/stts boxes in pure Python (decode_video_mp4; covered
    end-to-end by tests/test_multimodal.py) and falls to the deterministic
    digest fake for other containers — pixel decode stays PyAV-gated. The
    DuckDB oracle always replays the fake, so THIS battery query pins
    ``real_mp4=False`` for structural parity (same contract as audio)."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    )
    return MM.extract_video_meta(d, "doc_id", "blob", real_mp4=False).select(
        "id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "duration_ms",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("fps_x100").cast("long").alias("fps_x100"),
        "n_frames",
        "digest",
    )


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

def _oracle_sql() -> dict:
    hid = SW.host_id_expr("doc_id")
    url_d = SW.url_sql("doc_id")

    sql = {}

    sql["crawl_reach_seen"] = SW.reach_seen_sql(300)

    # flagship trace: the politeness-scheduled BFS unrolled into static
    # per-round CTEs (sources/synth_web.trace_sql) — full-row hash check
    # on (round, fetch_seq, url, depth, link_type)
    sql["crawl_bfs_trace"] = SW.trace_sql(300)

    sql["crawl_frontier_round1"] = f"""
WITH {SW.edges_sql(300)}
SELECT {SW.url_sql('dst')} AS url, CAST(1 AS BIGINT) AS depth
FROM (SELECT DISTINCT dst FROM edges WHERE src < 4
      AND dst NOT IN (SELECT doc_id FROM docs WHERE doc_id < 4))
"""

    _pr_iter = """
c{i} AS (
  SELECT e.dst AS id, CAST(SUM(r{p}.r // (2 + e.src % 4)) AS BIGINT) AS contrib
  FROM edges e JOIN r{p} ON r{p}.id = e.src GROUP BY e.dst),
r{i} AS (
  SELECT d.doc_id AS id,
         CAST(150000 + (85 * COALESCE(c{i}.contrib, 0)) // 100 AS BIGINT) AS r
  FROM docs d LEFT JOIN c{i} ON c{i}.id = d.doc_id)"""
    sql["link_pagerank"] = f"""
WITH {SW.edges_sql(300)},
r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r FROM docs),
{_pr_iter.format(i=1, p=0)},
{_pr_iter.format(i=2, p=1)},
{_pr_iter.format(i=3, p=2)}
SELECT id AS doc_id, r AS pagerank FROM r3
"""

    # OPIC: unrolled synchronous rounds — distribute cash over out-links
    # (truncating //), bank the old cash into history, repeat
    _opic_iter = """
o{i} AS (
  SELECT e.dst AS id, SUM(s{p}.cash // (2 + e.src % 4)) AS contrib
  FROM edges e JOIN s{p} ON s{p}.id = e.src GROUP BY e.dst),
s{i} AS (
  SELECT d.doc_id AS id, CAST(COALESCE(x.contrib, 0) AS BIGINT) AS cash,
         CAST(s{p}.hist + s{p}.cash AS BIGINT) AS hist
  FROM docs d LEFT JOIN o{i} x ON x.id = d.doc_id
  JOIN s{p} ON s{p}.id = d.doc_id)"""
    sql["link_opic"] = f"""
WITH {SW.edges_sql(300)},
s0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS cash,
              CAST(0 AS BIGINT) AS hist FROM docs),
{_opic_iter.format(i=1, p=0)},
{_opic_iter.format(i=2, p=1)},
{_opic_iter.format(i=3, p=2)}
SELECT id AS doc_id, hist AS history, cash,
       CAST((cash + hist) * 1000000
            // (SELECT SUM(cash + hist) FROM s3) AS BIGINT)
         AS importance_ppm
FROM s3
"""

    # cocitation: the capped set-overlap core replayed on the link graph
    # (entity = cited page, feature = citing source); constants from GR
    sql["cocitation"] = f"""
WITH {SW.edges_sql(300)},
ef AS (SELECT DISTINCT dst AS page, src AS citer FROM edges),
sizes AS (SELECT page, COUNT(*) AS sz FROM ef GROUP BY 1),
capped AS (SELECT page, citer FROM (
    SELECT page, citer,
           ROW_NUMBER() OVER (PARTITION BY citer ORDER BY page) AS rn
    FROM ef) WHERE rn <= {GR.COCIT_SRC_CAP}),
pairs AS (
  SELECT x.page AS a, y.page AS b, COUNT(*) AS common
  FROM capped x JOIN capped y ON x.citer = y.citer AND x.page < y.page
  GROUP BY 1, 2 HAVING COUNT(*) >= {GR.COCIT_MIN_COMMON})
SELECT a AS page_a, b AS page_b, CAST(common AS BIGINT) AS common,
       CAST(sa.sz AS BIGINT) AS cited_a, CAST(sb.sz AS BIGINT) AS cited_b,
       CAST(1000 * common // least(sa.sz, sb.sz) AS BIGINT)
         AS overlap_permille,
       1000 * common // least(sa.sz, sb.sz) >= {GR.COCIT_MIN_PERMILLE}
         AS related
FROM pairs
JOIN sizes sa ON sa.page = pairs.a
JOIN sizes sb ON sb.page = pairs.b
"""

    # one HITS iteration = authority half-step (sum of hub mass over
    # inlinks, L1-renormalized by truncating division) then hub half-step
    # (sum of authority mass over outlinks, renormalized); DuckDB's
    # SUM(BIGINT) widens to HUGEINT, the CAST narrows back after //
    _hits_half = """
{r}{i}_raw AS (
  SELECT e.{key} AS id, SUM({src}.v) AS raw
  FROM edges e JOIN {src} ON {src}.id = e.{other} GROUP BY e.{key}),
{r}{i} AS (
  SELECT d.doc_id AS id,
         CAST((COALESCE(x.raw, 0) * 1000000)
              // (SELECT SUM(raw) FROM {r}{i}_raw) AS BIGINT) AS v
  FROM docs d LEFT JOIN {r}{i}_raw x ON x.id = d.doc_id)"""
    sql["link_hits"] = f"""
WITH {SW.edges_sql(300)},
h0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS v FROM docs),
{_hits_half.format(r='a', i=1, key='dst', other='src', src='h0')},
{_hits_half.format(r='h', i=1, key='src', other='dst', src='a1')},
{_hits_half.format(r='a', i=2, key='dst', other='src', src='h1')},
{_hits_half.format(r='h', i=2, key='src', other='dst', src='a2')}
SELECT a2.id AS doc_id, a2.v AS authority, h2.v AS hub
FROM a2 JOIN h2 ON h2.id = a2.id
"""

    # host graph shared by host_rank / trust_rank: page edges aggregated
    # to hosts, self-loops dropped, per-edge truncating division BEFORE
    # the contribution sum (matches the engine's (r*w) div ow exactly)
    _hg = f"""
hosts AS (SELECT DISTINCT CAST({SW.host_id_expr('doc_id')} AS BIGINT) AS h FROM docs),
hedges AS (
  SELECT CAST({SW.host_id_expr('src')} AS BIGINT) AS hsrc,
         CAST({SW.host_id_expr('dst')} AS BIGINT) AS hdst,
         COUNT(*) AS w
  FROM edges
  WHERE {SW.host_id_expr('src')} <> {SW.host_id_expr('dst')}
  GROUP BY 1, 2),
hout AS (SELECT hsrc, SUM(w) AS ow FROM hedges GROUP BY hsrc)"""
    _hr_iter = """
c{i} AS (
  SELECT e.hdst AS h, CAST(SUM((r{p}.r * e.w) // o.ow) AS BIGINT) AS contrib
  FROM hedges e JOIN hout o ON o.hsrc = e.hsrc
  JOIN r{p} ON r{p}.h = e.hsrc GROUP BY e.hdst),
r{i} AS (
  SELECT hosts.h,
         CAST({restart} + (85 * COALESCE(c{i}.contrib, 0)) // 100 AS BIGINT) AS r
  FROM hosts LEFT JOIN c{i} ON c{i}.h = hosts.h)"""
    _hr = _hr_iter.replace("{restart}", "150000")
    sql["host_rank"] = f"""
WITH {SW.edges_sql(600)},
{_hg},
r0 AS (SELECT h, CAST(1000000 AS BIGINT) AS r FROM hosts),
{_hr.format(i=1, p=0)},
{_hr.format(i=2, p=1)},
{_hr.format(i=3, p=2)}
SELECT h AS host, r AS hrank FROM r3
"""
    # rollup oracle: the SAME unrolled host-rank chain, then every page
    # URL inherits its host's scaled rank via the closed-form host id
    sql["host_rank_urls"] = f"""
WITH {SW.edges_sql(600)},
{_hg},
r0 AS (SELECT h, CAST(1000000 AS BIGINT) AS r FROM hosts),
{_hr.format(i=1, p=0)},
{_hr.format(i=2, p=1)},
{_hr.format(i=3, p=2)}
SELECT {SW.url_sql('doc_id')} AS url,
       (r3.r // {HOST_RANK_DIV}) AS rank
FROM documents JOIN r3 ON r3.h = {SW.host_id_expr('doc_id')}
"""

    _tr = _hr_iter.replace(
        "{restart}", "(CASE WHEN hosts.h < 4 THEN 150000 ELSE 0 END)"
    )
    sql["trust_rank"] = f"""
WITH {SW.edges_sql(600)},
{_hg},
r0 AS (SELECT h, CAST(CASE WHEN h < 4 THEN 1000000 ELSE 0 END AS BIGINT) AS r
       FROM hosts),
{_tr.format(i=1, p=0)},
{_tr.format(i=2, p=1)},
{_tr.format(i=3, p=2)}
SELECT h AS host, r AS trank FROM r3
"""

    # demotion oracle: BOTH unrolled chains in one WITH (trust chain
    # renamed t*/tc* to avoid CTE collisions), ratio truncates once
    _trn = (
        _tr.replace("hosts.h < 4", "hosts.h < 4")
        .replace("c{i}", "tc{i}").replace("r{i}", "t{i}")
        .replace("r{p}", "t{p}")
    )
    sql["trust_demotion"] = f"""
WITH {SW.edges_sql(600)},
{_hg},
r0 AS (SELECT h, CAST(1000000 AS BIGINT) AS r FROM hosts),
{_hr.format(i=1, p=0)},
{_hr.format(i=2, p=1)},
{_hr.format(i=3, p=2)},
t0 AS (SELECT h, CAST(CASE WHEN h < 4 THEN 1000000 ELSE 0 END AS BIGINT) AS r
       FROM hosts),
{_trn.format(i=1, p=0)},
{_trn.format(i=2, p=1)},
{_trn.format(i=3, p=2)}
SELECT hosts.h AS host, r3.r AS hrank, t3.r AS trank,
       (t3.r * 1000000) // r3.r AS trust_ratio_micro
FROM hosts JOIN r3 ON r3.h = hosts.h JOIN t3 ON t3.h = hosts.h
"""

    sql["url_canonicalize"] = f"""
SELECT doc_id,
  'http://site' || CAST({hid} AS STRING) || '.test/a/doc'
    || CAST(doc_id AS STRING) || '.html?a=1&b=2' AS url,
  'site' || CAST({hid} AS STRING) || '.test' AS host,
  '/a/doc' || CAST(doc_id AS STRING) || '.html?a=1&b=2' AS url_key
FROM documents
"""

    sql["link_extract"] = f"""
WITH {SW.edges_sql(200)}
SELECT {SW.url_sql('src')} AS url, {SW.url_sql('dst')} AS href FROM edges
"""

    ext_list = ", ".join(f"'{e}'" for e in _MIME_EXTS)
    sql["mime_infer"] = f"""
SELECT doc_id,
  '/f' || CAST(doc_id AS STRING) || '.' || ext AS path,
  CASE WHEN doc_id % 12 = 0 THEN 'html'
       WHEN doc_id % 12 = 1 THEN 'css'
       WHEN doc_id % 12 = 2 THEN 'javascript'
       ELSE 'binary' END AS rtype
FROM (SELECT doc_id, ([{ext_list}])[CAST(doc_id % 12 AS INT) + 1] AS ext FROM documents)
"""

    retype_exts = ", ".join(f"'{e}'" for e in _RETYPE_EXTS)
    retype_mimes = ", ".join(
        "NULL" if m is None else f"'{m}'" for m in _RETYPE_MIMES
    )
    sql["server_mime_retype"] = f"""
WITH base AS (
  SELECT doc_id,
    ([{retype_exts}])[CAST(doc_id % 6 AS INT) + 1] AS ext,
    ([{retype_mimes}])[CAST(doc_id % 5 AS INT) + 1] AS server_mime
  FROM documents)
SELECT doc_id,
  '/f' || CAST(doc_id AS STRING)
       || CASE WHEN ext = '' THEN '' ELSE '.' || ext END AS path,
  server_mime,
  CASE WHEN server_mime IS NOT NULL
         THEN lower(trim(string_split(server_mime, ';')[1]))
       WHEN ext = 'css' THEN 'text/css'
       WHEN ext = 'png' THEN 'application/octet-stream'
       WHEN ext = 'js'  THEN 'text/javascript'
       ELSE 'text/html' END AS mime,
  CASE WHEN server_mime IS NULL THEN
         CASE WHEN ext = 'css' THEN 'css'
              WHEN ext = 'png' THEN 'binary'
              WHEN ext = 'js'  THEN 'javascript'
              ELSE 'html' END
       WHEN doc_id % 5 = 1 THEN 'css'
       WHEN doc_id % 5 = 3 THEN 'html'
       ELSE 'binary' END AS rtype
FROM base
"""

    sql["robots_filter"] = f"""
SELECT doc_id,
  'site' || CAST({hid} AS STRING) || '.test' AS host,
  '/doc' || CAST(doc_id AS STRING) || '.html' AS path,
  NOT (({hid}) % 4 = 1 AND ('/doc' || CAST(doc_id AS STRING) || '.html') LIKE '/doc1%') AS allowed
FROM documents
"""

    # wildcard verdicts in closed form: specificity order restated as a
    # CASE ladder over LIKE predicates on the id string (longest pattern
    # first), ruleless hosts first of all
    sql["robots_wildcard"] = f"""
SELECT doc_id,
  'site' || CAST({hid} AS STRING) || '.test' AS host,
  '/doc' || CAST(doc_id AS STRING) || '.html' AS path,
  CASE WHEN ({hid}) % 8 = 3 THEN TRUE
       WHEN CAST(doc_id AS STRING) LIKE '%7' THEN FALSE
       WHEN CAST(doc_id AS STRING) LIKE '13%' THEN TRUE
       WHEN CAST(doc_id AS STRING) LIKE '1%' THEN FALSE
       ELSE TRUE END AS allowed
FROM documents
"""

    # independent re-derivation of the RFC 9309 group semantics in DuckDB
    # (window-function group ids; the body synthesis SQL is shared
    # textually with the engine — structural parity)
    sql["robots_parse"] = f"""
WITH hosts AS (SELECT DISTINCT {hid} AS hid FROM documents),
bodies AS (
  SELECT 'site' || CAST(hid AS STRING) || '.test' AS host,
         {_robots_body_sql("hid")} AS body
  FROM hosts
),
lines0 AS (
  SELECT host, i AS pos,
         trim(regexp_replace(arr[CAST(i AS INT) + 1], '#.*', '')) AS line
  FROM (SELECT host, string_split(body, chr(10)) AS arr FROM bodies)
  CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
  WHERE i < len(arr)
),
lines1 AS (
  SELECT host, pos,
         lower(trim(string_split(line, ':')[1])) AS field,
         trim(substr(line, strpos(line, ':') + 1)) AS value
  FROM lines0 WHERE line <> '' AND strpos(line, ':') > 0
),
known AS (
  SELECT * FROM lines1
  WHERE field IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
),
g AS (
  SELECT host, pos, field, value, (field = 'user-agent') AS is_ua,
    CASE WHEN field = 'user-agent'
          AND NOT coalesce(lag(field = 'user-agent')
                OVER (PARTITION BY host ORDER BY pos), FALSE)
         THEN 1 ELSE 0 END AS gstart
  FROM known
),
g2 AS (SELECT *, SUM(gstart) OVER (PARTITION BY host ORDER BY pos) AS gid FROM g),
spec AS (
  SELECT host, gid,
    MAX(CASE WHEN lower(value) = 'amwc' THEN 2
             WHEN value = '*' THEN 1 ELSE 0 END) AS spec
  FROM g2 WHERE is_ua GROUP BY host, gid
),
spec1 AS (SELECT * FROM spec WHERE spec > 0),
best AS (SELECT host, MAX(spec) AS best FROM spec1 GROUP BY host),
matched AS (
  SELECT s.host, s.gid FROM spec1 s
  JOIN best b ON s.host = b.host AND s.spec = b.best
),
rules AS (
  SELECT g2.host, g2.field, g2.value FROM g2
  JOIN matched m ON g2.host = m.host AND g2.gid = m.gid
  WHERE NOT g2.is_ua
),
paths AS (
  SELECT DISTINCT host, value AS path_prefix, (field = 'allow') AS allow
  FROM rules WHERE field IN ('allow', 'disallow') AND value <> ''
),
delays AS (
  SELECT host, MAX(TRY_CAST(value AS DOUBLE)) AS crawl_delay
  FROM rules WHERE field = 'crawl-delay' GROUP BY host
  HAVING MAX(TRY_CAST(value AS DOUBLE)) IS NOT NULL
)
SELECT p.host, p.path_prefix, p.allow, d.crawl_delay
FROM paths p LEFT JOIN delays d ON p.host = d.host
UNION ALL
SELECT d.host, '' AS path_prefix, TRUE AS allow, d.crawl_delay
FROM delays d WHERE d.host NOT IN (SELECT host FROM paths)
"""

    # independent sitemaps.org parse in DuckDB (RE2 regexp_extract_all;
    # body synthesis SQL shared textually with the engine)
    sql["sitemap_parse"] = f"""
WITH hosts AS (SELECT DISTINCT {hid} AS hid FROM documents),
bodies AS (
  SELECT 'site' || CAST(hid AS STRING) || '.test' AS host,
         {_sitemap_body_sql("hid")} AS body
  FROM hosts
),
url_e AS (
  SELECT host, 'url' AS kind,
         unnest(regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)) AS entry
  FROM bodies WHERE contains(body, '<urlset')
),
map_e AS (
  SELECT host, 'sitemap' AS kind,
         unnest(regexp_extract_all(body, '(?s)<sitemap>(.*?)</sitemap>', 1)) AS entry
  FROM bodies WHERE contains(body, '<sitemapindex')
),
fields AS (
  SELECT host, kind,
    coalesce(regexp_extract(entry, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1), '') AS rawloc,
    coalesce(regexp_extract(entry, '(?s)<lastmod>\\s*(.*?)\\s*</lastmod>', 1), '') AS rawmod,
    coalesce(regexp_extract(entry, '(?s)<priority>\\s*(.*?)\\s*</priority>', 1), '') AS rawpri
  FROM (SELECT * FROM url_e UNION ALL SELECT * FROM map_e)
)
SELECT host, kind,
  replace(replace(replace(replace(replace(rawloc,
    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', chr(39)),
    '&amp;', '&') AS loc,
  CAST(TRY_CAST(substr(rawmod, 1, 10) AS DATE) AS STRING) AS lastmod,
  CASE WHEN kind = 'url' THEN coalesce(TRY_CAST(rawpri AS DOUBLE), 0.5)
       ELSE TRY_CAST(rawpri AS DOUBLE) END AS priority
FROM fields WHERE rawloc <> ''
"""

    # independent RSS/Atom parse in DuckDB (RE2 regexp_extract_all; body
    # synthesis SQL + the backslash-free RFC 822 date surgery shared
    # textually with the engine via _feed_body_sql / rfc822_date_sql)
    _dec = (
        "replace(replace(replace(replace(replace({x}, '&lt;', '<'),"
        " '&gt;', '>'), '&quot;', '\"'), '&apos;', chr(39)), '&amp;', '&')"
    )
    sql["feed_parse"] = f"""
WITH hosts AS (SELECT DISTINCT {hid} AS hid FROM documents),
bodies AS (
  SELECT 'site' || CAST(hid AS STRING) || '.test' AS host,
         {_feed_body_sql("hid")} AS body
  FROM hosts
),
rss_e AS (
  SELECT host, 'rss' AS kind,
         unnest(regexp_extract_all(body, '(?s)<item>(.*?)</item>', 1)) AS entry
  FROM bodies WHERE contains(body, '<rss')
),
atom_e AS (
  SELECT host, 'atom' AS kind,
         unnest(regexp_extract_all(body, '(?s)<entry>(.*?)</entry>', 1)) AS entry
  FROM bodies WHERE contains(body, '<feed') AND NOT contains(body, '<rss')
),
fields AS (
  SELECT host, kind,
    CASE WHEN kind = 'rss'
         THEN coalesce(regexp_extract(entry, '(?s)<link>\\s*(.*?)\\s*</link>', 1), '')
         ELSE coalesce(regexp_extract(entry, '<link[^>]*href\\s*=\\s*"([^"]*)"', 1), '') END AS rawloc,
    coalesce(regexp_extract(entry, '(?s)<title>\\s*(.*?)\\s*</title>', 1), '') AS rawtitle,
    CASE WHEN kind = 'rss'
         THEN coalesce(regexp_extract(entry, '(?s)<guid[^>]*>\\s*(.*?)\\s*</guid>', 1), '')
         ELSE coalesce(regexp_extract(entry, '(?s)<id>\\s*(.*?)\\s*</id>', 1), '') END AS rawguid,
    CASE WHEN kind = 'rss'
         THEN coalesce(regexp_extract(entry, '(?s)<pubDate>\\s*(.*?)\\s*</pubDate>', 1), '')
         ELSE coalesce(regexp_extract(entry, '(?s)<updated>\\s*(.*?)\\s*</updated>', 1), '') END AS rawdate
  FROM (SELECT * FROM rss_e UNION ALL SELECT * FROM atom_e)
)
SELECT host, kind,
  {_dec.format(x="rawloc")} AS loc,
  CASE WHEN rawtitle = '' THEN NULL ELSE {_dec.format(x="rawtitle")} END AS title,
  CASE WHEN rawguid = '' THEN NULL ELSE {_dec.format(x="rawguid")} END AS guid,
  CAST(CASE WHEN kind = 'rss' THEN {rfc822_date_sql("rawdate")}
       ELSE TRY_CAST(substr(rawdate, 1, 10) AS DATE) END AS STRING) AS published
FROM fields WHERE rawloc <> ''
"""

    # independent discovery-trio union in DuckDB: robots Sitemap: lines
    # re-derived from line splitting, sitemap/feed locs from the same
    # regex CTEs as their own oracles; dedup via string_agg(DISTINCT) +
    # COUNT(*), seen removed with NOT IN (fixture SQL shared textually)
    sql["url_discovery"] = f"""
WITH hosts AS (SELECT DISTINCT {hid} AS hid FROM documents),
rb AS (
  SELECT 'site' || CAST(hid AS STRING) || '.test' AS host,
         {_disc_robots_sql("hid")} AS body
  FROM hosts
),
rb_lines AS (
  SELECT host, trim(regexp_replace(unnest(string_split(body, chr(10))), '#.*', '')) AS line
  FROM rb
),
rb_urls AS (
  SELECT host, trim(substring(line, instr(line, ':') + 1)) AS loc,
         'robots' AS source
  FROM rb_lines
  WHERE lower(line) LIKE 'sitemap:%'
    AND trim(substring(line, instr(line, ':') + 1)) <> ''
),
sm AS (
  SELECT 'site' || CAST(hid AS STRING) || '.test' AS host,
         {_sitemap_body_sql("hid")} AS body
  FROM hosts
),
sm_url AS (
  SELECT host, 'sitemap' AS source,
         unnest(regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)) AS entry
  FROM sm WHERE contains(body, '<urlset')
),
sm_idx AS (
  SELECT host, 'sitemap_index' AS source,
         unnest(regexp_extract_all(body, '(?s)<sitemap>(.*?)</sitemap>', 1)) AS entry
  FROM sm WHERE contains(body, '<sitemapindex')
),
sm_urls AS (
  SELECT host,
    replace(replace(replace(replace(replace(
      coalesce(regexp_extract(entry, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1), ''),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', chr(39)), '&amp;', '&') AS loc,
    source
  FROM (SELECT * FROM sm_url UNION ALL SELECT * FROM sm_idx)
  WHERE coalesce(regexp_extract(entry, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1), '') <> ''
),
fb AS (
  SELECT 'site' || CAST(hid AS STRING) || '.test' AS host,
         {_feed_body_sql("hid")} AS body
  FROM hosts
),
fd_rss AS (
  SELECT host, unnest(regexp_extract_all(body, '(?s)<item>(.*?)</item>', 1)) AS entry,
         'rss' AS kind
  FROM fb WHERE contains(body, '<rss')
),
fd_atom AS (
  SELECT host, unnest(regexp_extract_all(body, '(?s)<entry>(.*?)</entry>', 1)) AS entry,
         'atom' AS kind
  FROM fb WHERE contains(body, '<feed') AND NOT contains(body, '<rss')
),
fd_urls AS (
  SELECT host,
    replace(replace(replace(replace(replace(rawloc,
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', chr(39)), '&amp;', '&') AS loc,
    'feed' AS source
  FROM (
    SELECT host,
      CASE WHEN kind = 'rss'
           THEN coalesce(regexp_extract(entry, '(?s)<link>\\s*(.*?)\\s*</link>', 1), '')
           ELSE coalesce(regexp_extract(entry, '<link[^>]*href\\s*=\\s*"([^"]*)"', 1), '') END AS rawloc
    FROM (SELECT * FROM fd_rss UNION ALL SELECT * FROM fd_atom)
  ) WHERE rawloc <> ''
),
uni AS (
  SELECT * FROM rb_urls UNION ALL SELECT * FROM sm_urls UNION ALL SELECT * FROM fd_urls
),
seen AS (SELECT {_disc_seen_sql("hid")} AS url FROM hosts)
SELECT host, loc,
       string_agg(DISTINCT source, '+' ORDER BY source) AS sources,
       COUNT(*) AS n_refs
FROM uni
WHERE loc NOT IN (SELECT url FROM seen)
GROUP BY host, loc
"""

    sql["politeness_topk"] = """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
  FROM orders) WHERE rn <= 2
"""

    sql["politeness_topk_ranked"] = """
WITH fr AS (
  SELECT o_custkey AS host, o_orderkey AS seq,
         CAST((o_orderkey % 2) * 1048576
              - LEAST(o_orderkey % 1000, 1048575) AS BIGINT) AS priority
  FROM orders
), ranked AS (
  SELECT host, seq, priority,
         CAST(ROW_NUMBER() OVER (PARTITION BY host
              ORDER BY priority, seq) AS BIGINT) AS rn
  FROM fr
)
SELECT host AS o_custkey, seq AS o_orderkey,
       CAST(priority AS BIGINT) AS priority, rn
FROM ranked WHERE rn <= 2
"""

    sql["seen_antijoin"] = """
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""

    sql["min_depth_merge"] = """
SELECT o_custkey, MIN(o_totalprice) AS min_price FROM orders GROUP BY o_custkey
"""

    sql["global_budget_limit"] = """
SELECT o_orderkey, substr(CAST(o_orderdate AS STRING), 1, 10) AS odate
FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 100
"""

    sql["query_string_cap"] = """
SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_supp
FROM lineitem GROUP BY l_partkey HAVING COUNT(DISTINCT l_suppkey) >= 2
"""

    sql["retry_union"] = """
SELECT l_orderkey, l_linenumber, 'returned' AS reason FROM lineitem WHERE l_returnflag = 'R'
UNION ALL
SELECT l_orderkey, l_linenumber, 'accepted' AS reason FROM lineitem WHERE l_returnflag = 'A'
"""

    sql["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_cents,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
  COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

    sql["join_agg_revenue"] = """
SELECT n_name, CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

    sql["window_running_sum"] = """
SELECT event_id, user_id,
  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
FROM events
"""

    sql["sessionize"] = """
SELECT event_id, user_id,
  CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
FROM (
  SELECT event_id, user_id, ts,
    CASE WHEN date_diff('microsecond',
              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800000000
         THEN 1 ELSE 0 END AS flag
  FROM events)
"""

    sql["event_tumbling_counts"] = """
SELECT substr(CAST(ts AS STRING), 1, 13) AS hour_bucket, event_type,
  COUNT(*) AS n, CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY 1, 2
"""

    sql["dedup_exact"] = f"""
WITH aug AS ({_AUG_DOCS_SQL})
SELECT md5(text) AS digest, MIN(doc_id) AS keeper, COUNT(*) AS n_docs
FROM aug WHERE text IS NOT NULL
GROUP BY md5(text) HAVING COUNT(*) > 1
"""

    sql["dedup_exact_incremental"] = """
WITH delta AS (
  SELECT doc_id + 10000 AS id, text FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 20000 AS id, text || ' v2' FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT doc_id + 30000 AS id, text || ' v2' FROM documents WHERE doc_id < 30),
dig AS (SELECT DISTINCT md5(text) AS digest FROM documents WHERE text IS NOT NULL),
dd AS (SELECT id, md5(text) AS digest FROM delta),
first AS (SELECT digest, MIN(id) AS f FROM dd WHERE digest IS NOT NULL GROUP BY digest)
SELECT dd.id AS doc_id, dd.digest,
       (dd.digest IS NULL
        OR (g.digest IS NULL AND dd.id = first.f)) AS keep
FROM dd LEFT JOIN dig g ON g.digest = dd.digest
        LEFT JOIN first ON first.digest = dd.digest
"""

    # paragraph dedup oracle: paragraphs re-derived straight from the
    # synthesis formula (independent of the engine's newline split);
    # survivor = global first (id, pos); rebuild via ordered string_agg
    # paragraph rows re-derived straight from the synthesis formula
    # (independent of the engine's newline split); shared by the
    # whole-corpus and incremental oracles
    para_rows = """
  SELECT doc_id AS id, 0 AS pos,
         'subscribe to our newsletter for updates' AS para FROM documents
  UNION ALL
  SELECT doc_id, 1,
         trim('doc ' || CAST(doc_id AS STRING) || ' body: ' || substr(text, 1, 40))
  FROM documents
  UNION ALL
  SELECT doc_id, 2, 'shared footer variant ' || CAST(doc_id % 7 AS STRING)
  FROM documents
  UNION ALL
  SELECT doc_id, 3, 'copyright example footer' FROM documents WHERE doc_id % 3 = 0
"""

    sql["paragraph_dedup"] = f"""
WITH paras AS ({para_rows}),
marked AS (
  SELECT id, pos, para,
         (ROW_NUMBER() OVER (PARTITION BY para ORDER BY id, pos) = 1) AS keep
  FROM paras
)
SELECT id AS doc_id,
  coalesce(string_agg(para, chr(10) ORDER BY pos) FILTER (WHERE keep), '') AS text_clean,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS paras_kept,
  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS paras_dropped
FROM marked GROUP BY id
"""

    sql["paragraph_dedup_incremental"] = f"""
WITH paras AS ({para_rows}),
delta AS (SELECT * FROM paras WHERE id < {PARA_SPLIT}),
corpus AS (SELECT DISTINCT para FROM paras WHERE id >= {PARA_SPLIT}),
marked AS (
  SELECT d.id, d.pos, d.para,
         (d.para NOT IN (SELECT para FROM corpus))
         AND (ROW_NUMBER() OVER (PARTITION BY d.para ORDER BY d.id, d.pos) = 1)
         AS keep
  FROM delta d
)
SELECT id AS doc_id,
  coalesce(string_agg(para, chr(10) ORDER BY pos) FILTER (WHERE keep), '') AS text_clean,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS paras_kept,
  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS paras_dropped
FROM marked GROUP BY id
"""

    # decontamination oracle: n / bench filter / bench text shared via
    # module constants; n-gram helper shared with the repetition oracle
    # word n-grams in DuckDB list algebra (shared by the repetition and
    # decontamination oracles; distinct=False keeps every occurrence)
    def _duck_word_ngrams(w: str, n: int, distinct: bool) -> str:
        body = (
            f"list_transform(range(1, len({w}) - {n - 1} + 1), "
            f"i -> array_to_string(list_slice({w}, CAST(i AS INT), "
            f"CAST(i + {n - 1} AS INT)), ' '))"
        )
        if distinct:
            body = f"list_distinct({body})"
        return (
            f"CASE WHEN len({w}) >= {n} THEN {body} "
            f"ELSE CAST([] AS VARCHAR[]) END"
        )

    def _duck_all_ngrams(w: str, n: int) -> str:
        return _duck_word_ngrams(w, n, distinct=False)

    # shard packing oracle: the single-window cumsum DuckDB can afford
    # seeded shuffle oracle: the same two-round MINSTD key expression
    # (operators/seq.shuffle_key_sql, shared textually), position from one
    # ordered window the engine's distributed prefix sum must equal
    from .operators.seq import shuffle_key_sql as _sks

    sql["seeded_shuffle"] = f"""
WITH keyed AS (
  SELECT doc_id,
         CAST({_sks('doc_id', SHUFFLE_SEED)} AS BIGINT) AS shuffle_key
  FROM documents)
SELECT doc_id, shuffle_key,
       CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
         AS shuffle_pos
FROM keyed
"""

    # at sf scale — the engine's distributed prefix sum must equal it
    sql["shard_by_tokens"] = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
  CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
       / {SHARD_TOKENS}.0) AS BIGINT) AS shard
FROM toks
"""

    # pack_sequences oracle: the next-fit recurrence replayed exactly —
    # one recursive-CTE step advances every shard by one doc; the CASE
    # is the engine fold's branch expression verbatim (new bin iff the
    # current bin is non-empty and would overflow)
    sql["pack_sequences"] = f"""
WITH RECURSIVE base AS (
  SELECT CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
         CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(regexp_extract_all(text, '{TS.TOKEN_RE}')) AS BIGINT)
           AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % {PACK_SHARDS}
                            ORDER BY doc_id) AS rn
  FROM documents WHERE text IS NOT NULL),
pack AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS bin, n_tokens AS fill, CAST(0 AS BIGINT) AS pos
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.shard, b.rn, b.doc_id, b.n_tokens,
         CASE WHEN p.fill > 0 AND p.fill + b.n_tokens > {PACK_SEQ_LEN}
              THEN p.bin + 1 ELSE p.bin END,
         CASE WHEN p.fill > 0 AND p.fill + b.n_tokens > {PACK_SEQ_LEN}
              THEN b.n_tokens ELSE p.fill + b.n_tokens END,
         CASE WHEN p.fill > 0 AND p.fill + b.n_tokens > {PACK_SEQ_LEN}
              THEN CAST(0 AS BIGINT) ELSE p.pos + 1 END
  FROM pack p JOIN base b ON b.shard = p.shard AND b.rn = p.rn + 1)
SELECT shard, bin, pos, doc_id, n_tokens FROM pack
"""

    # pmi_collocations oracle: same sentinel construction — marginals and
    # T from the bigram table, the all-double log expression in the same
    # evaluation order, the same (pmi DESC, w1, w2) total order
    sql["pmi_collocations"] = f"""
WITH toks AS (
  SELECT ['{TS.PMI_SENT_L}'] || regexp_extract_all(lower(text), '[a-z]+')
         || ['{TS.PMI_SENT_R}'] AS w
  FROM documents WHERE text IS NOT NULL),
bg AS (SELECT unnest(w[1:-2]) AS w1, unnest(w[2:-1]) AS w2 FROM toks),
cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1),
c2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM cb GROUP BY 1),
tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS T FROM cb)
SELECT b.w1, b.w2, b.c12, c1.c1, c2.c2,
  CAST(round(ln((CAST(b.c12 AS DOUBLE) * CAST(tot.T AS DOUBLE))
               / (CAST(c1.c1 AS DOUBLE) * CAST(c2.c2 AS DOUBLE))) * 1e6)
    AS BIGINT) AS pmi_micronat
FROM cb b
JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot
WHERE b.c12 >= {PMI_MIN_COUNT}
  AND b.w1 <> '{TS.PMI_SENT_L}' AND b.w2 <> '{TS.PMI_SENT_R}'
ORDER BY pmi_micronat DESC, b.w1, b.w2
LIMIT {PMI_TOP_K}
"""
    # merge exactness: the incremental path must reconstruct the
    # whole-corpus answer bit-for-bit
    sql["pmi_incremental"] = sql["pmi_collocations"]

    # nofollow_gate oracle: every flag restated in closed form from the
    # fixture's id formulas — the engine's regex extraction and gating
    # rule must reproduce the generating function exactly
    # meta_refresh oracle: declaring pages only, delay/raw/resolved all
    # in closed form — root-relative resolves against the page origin,
    # protocol-relative and path-relative stay NULL
    sql["meta_refresh"] = """
WITH base AS (
  SELECT doc_id,
    'http://s' || CAST(doc_id % 7 AS STRING) || '.test/page'
      || CAST(doc_id AS STRING) || '.html' AS url,
    'http://s' || CAST(doc_id % 7 AS STRING) || '.test' AS origin,
    CAST(doc_id % 5 AS INT) AS k
  FROM documents WHERE doc_id % 5 <> 0)
SELECT url,
  CAST(CASE k WHEN 1 THEN 0 WHEN 2 THEN 5 WHEN 3 THEN 30 ELSE 2 END
       AS BIGINT) AS delay_s,
  CASE k
    WHEN 1 THEN 'http://ext' || CAST(doc_id % 9 AS STRING) || '.test/land'
                || CAST(doc_id AS STRING) || '.html'
    WHEN 2 THEN '/next' || CAST(doc_id AS STRING) || '.html'
    WHEN 3 THEN '//cdn.test/x'
    ELSE 'relative.html' END AS target_raw,
  CASE k
    WHEN 1 THEN 'http://ext' || CAST(doc_id % 9 AS STRING) || '.test/land'
                || CAST(doc_id AS STRING) || '.html'
    WHEN 2 THEN origin || '/next' || CAST(doc_id AS STRING) || '.html'
    ELSE NULL END AS target
FROM base
"""

    # rel_canonical oracle: the elected canonical in CLOSED FORM from the
    # fixture's id ladder (empty-href and explicit-self both collapse to
    # self; only d%3<>0 non-special docs point at their group head), the
    # rollup recomputed with an independent GROUP BY
    sql["rel_canonical"] = """
WITH pages AS (
  SELECT 'http://s.test/p' || CAST(doc_id AS STRING) || '.html' AS url,
    CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 3 = 0
         THEN 'http://s.test/p' || CAST(doc_id AS STRING) || '.html'
         ELSE 'http://s.test/p' || CAST(doc_id - doc_id % 3 AS STRING)
              || '.html'
    END AS canonical_url
  FROM documents),
g AS (SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_aliases
      FROM pages GROUP BY 1)
SELECT p.url, p.canonical_url, p.canonical_url = p.url AS is_self,
       g.n_aliases
FROM pages p JOIN g USING (canonical_url)
"""

    sql["nofollow_gate"] = """
WITH docs AS (SELECT doc_id AS d FROM documents),
flag AS (
  SELECT d,
    CAST(d % 8 AS INT) IN (1, 3, 5, 7) AS page_noindex,
    CAST(d % 8 AS INT) IN (2, 3, 6, 7) AS page_nofollow
  FROM docs),
ks AS (SELECT unnest(range(0, 3)) AS k),
links AS (SELECT d, k FROM docs CROSS JOIN ks WHERE k <= d % 3)
SELECT 'http://s.test/p' || CAST(f.d AS STRING) || '.html' AS url,
  'http://t.test/x' || CAST(f.d AS STRING) || '_' || CAST(l.k AS STRING)
    || '.html' AS href,
  f.page_noindex, f.page_nofollow,
  ((f.d + l.k) % 3 = 0) AS link_nofollow,
  (NOT f.page_nofollow AND NOT ((f.d + l.k) % 3 = 0)) AS followed
FROM links l JOIN flag f ON f.d = l.d
UNION ALL
SELECT 'http://s.test/p' || CAST(d AS STRING) || '.html', '',
  page_noindex, page_nofollow, FALSE, FALSE
FROM flag WHERE d % 11 = 0
"""

    sql["repetition_stats"] = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
),
g AS (SELECT doc_id, unnest({_duck_all_ngrams("w", 2)}) AS gram FROM w),
pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
st AS (
  SELECT doc_id, SUM(c) AS total, COUNT(*) AS distinct_n, MAX(c) AS top_c
  FROM pg GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(coalesce(st.total, 0) AS BIGINT) AS total_ngrams,
  CAST(coalesce(st.distinct_n, 0) AS BIGINT) AS distinct_ngrams,
  ROUND((st.total - st.distinct_n) / CAST(st.total AS DOUBLE), 6) AS dup_ngram_frac,
  ROUND(st.top_c / CAST(st.total AS DOUBLE), 6) AS top_ngram_frac
FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
"""

    sql["decontaminate"] = f"""
WITH dw AS (
  SELECT doc_id AS id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
),
dg AS (SELECT id, unnest({_duck_word_ngrams("w", DECON_N, distinct=True)}) AS gram FROM dw),
bw AS (
  SELECT doc_id AS bench_id,
         string_split_regex(lower(trim({DECON_BENCH_TEXT})), '\\s+') AS w
  FROM documents WHERE {DECON_BENCH_FILTER}
),
bg AS (SELECT bench_id, unnest({_duck_word_ngrams("w", DECON_N, distinct=True)}) AS gram FROM bw)
SELECT d.id AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_gram_hits,
  CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
FROM dg d JOIN bg b USING (gram)
GROUP BY d.id
"""

    # PII scrub oracle: stages generated from the SAME PII_PATTERNS
    # constant the engine uses (single source of truth — patterns are
    # RE2-compatible by design; DuckDB needs the explicit 'g' flag)
    pii_stages = ""
    for i, (pname, pat, tok) in enumerate(TS.PII_PATTERNS):
        pii_stages += f""",
d{i + 1} AS (
  SELECT * EXCLUDE (t),
         CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{pname},
         regexp_replace(t, '{pat}', '{tok}', 'g') AS t
  FROM d{i}
)"""
    sql["pii_scrub"] = f"""
WITH d0 AS (SELECT doc_id, {_pii_text_sql("doc_id")} AS t FROM documents){pii_stages}
SELECT doc_id, t AS text_clean, n_email, n_ip, n_phone
FROM d{len(TS.PII_PATTERNS)}
"""

    # Gopher gate oracle: thresholds interpolated from the SAME TS.GOPHER_*
    # constants the engine uses; dup fraction is the repetition_stats bigram
    # formula (LEFT JOIN so a <2-word doc keeps NULL dup and falls through
    # the repetition rule identically on both engines).
    _stoplist = ", ".join(f"'{w}'" for w in TS.LANG_STOPWORDS["en"])
    sql["gopher_filter"] = f"""
WITH s AS (
  SELECT doc_id,
    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
    CAST(length(regexp_replace(text, '\\s+', '', 'g')) * 100
         // len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS mwl_x100,
    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         t -> t IN ({_stoplist}))) AS BIGINT) AS stop_hits
  FROM documents),
w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
g AS (SELECT doc_id, unnest({_duck_all_ngrams("w", 2)}) AS gram FROM w),
pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
st AS (SELECT doc_id,
         ROUND((SUM(c) - COUNT(*)) / CAST(SUM(c) AS DOUBLE), 6) AS dup
       FROM pg GROUP BY 1),
r AS (
  SELECT s.doc_id, n_words, mwl_x100, st.dup AS dup_ngram_frac, stop_hits,
    CASE WHEN n_words < {TS.GOPHER_MIN_WORDS} THEN '{TS.GOPHER_RULES[0]}'
         WHEN mwl_x100 < {TS.GOPHER_MWL_MIN_X100}
           OR mwl_x100 > {TS.GOPHER_MWL_MAX_X100} THEN '{TS.GOPHER_RULES[1]}'
         WHEN st.dup > {TS.GOPHER_MAX_DUP_FRAC} THEN '{TS.GOPHER_RULES[2]}'
         WHEN stop_hits < {TS.GOPHER_MIN_STOP_HITS} THEN '{TS.GOPHER_RULES[3]}'
         ELSE 'ok' END AS reason
  FROM s LEFT JOIN st ON st.doc_id = s.doc_id)
SELECT doc_id, n_words, mwl_x100, dup_ngram_frac, stop_hits, reason,
       reason = 'ok' AS keep
FROM r
"""

    sql["topk_terms"] = f"""
WITH toks AS (
  SELECT source AS grp,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
tf AS (SELECT grp, term, COUNT(*) AS tf FROM toks
       WHERE length(term) >= {TOPK_TERMS_MIN_LEN} GROUP BY 1, 2),
r AS (SELECT grp, term, CAST(tf AS BIGINT) AS tf,
        ROW_NUMBER() OVER (PARTITION BY grp ORDER BY tf DESC, term ASC) AS rk
      FROM tf)
SELECT grp, term, tf, CAST(rk AS BIGINT) AS term_rank FROM r WHERE rk <= {TOPK_TERMS_K}
"""

    sql["lang_balanced_sample"] = f"""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang
FROM documents d JOIN c ON c.lang = d.lang
WHERE {_duck_hash32("CAST(d.doc_id AS STRING)")} % c.n < {SAMPLE_CAP}
"""

    # c4_clean oracle: line/doc rules replayed in DuckDB list algebra
    # over the SAME synthesis SQL; constants interpolated from textstats
    _terminals = ", ".join("'" + t + "'" for t in TS.C4_TERMINALS)
    sql["c4_clean"] = f"""
WITH d AS (SELECT doc_id, {_c4_text_sql("doc_id")} AS text FROM documents),
s AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM d),
k AS (
  SELECT doc_id, text, len(ls) AS n_lines,
    list_filter(ls, l -> trim(l) <> ''
      AND right(trim(l), 1) IN ({_terminals})
      AND len(string_split_regex(trim(l), '\\s+')) >= {TS.C4_MIN_LINE_WORDS}
      AND NOT contains(lower(l), '{TS.C4_LINE_BAD}')) AS kept
  FROM s),
r AS (
  SELECT doc_id, n_lines, kept,
    CASE WHEN contains(lower(text), '{TS.C4_DOC_BAD_LOREM}') THEN '{TS.C4_REASONS[0]}'
         WHEN contains(text, '{TS.C4_DOC_BAD_BRACE}') THEN '{TS.C4_REASONS[1]}'
         WHEN len(kept) < {TS.C4_MIN_LINES} THEN '{TS.C4_REASONS[2]}'
         ELSE 'ok' END AS reason
  FROM k)
SELECT doc_id, CAST(len(kept) AS BIGINT) AS lines_kept,
  CAST(n_lines - len(kept) AS BIGINT) AS lines_dropped,
  reason, reason = 'ok' AS keep,
  CASE WHEN reason = 'ok' THEN array_to_string(kept, chr(10)) ELSE '' END AS text_clean
FROM r
"""

    sql["chunk_by_tokens"] = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
n AS (SELECT doc_id, w, len(w) AS n FROM w),
c AS (
  SELECT doc_id, w, n,
    CASE WHEN n <= {CHUNK_SIZE} THEN 1
         ELSE 1 + (n - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}
    END AS n_chunks
  FROM n),
e AS (SELECT doc_id, w, n, unnest(range(0, n_chunks)) AS ci FROM c)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
  CAST(ci * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
  CAST(len(list_slice(w, CAST(ci * {CHUNK_STRIDE} + 1 AS INT),
       CAST(least(ci * {CHUNK_STRIDE} + {CHUNK_SIZE}, n) AS INT))) AS BIGINT) AS n_tok,
  array_to_string(list_slice(w, CAST(ci * {CHUNK_STRIDE} + 1 AS INT),
       CAST(least(ci * {CHUNK_STRIDE} + {CHUNK_SIZE}, n) AS INT)), ' ') AS chunk_text
FROM e
"""

    # bm25 oracle: identical formula text/parenthesization; one rounding
    # point to BIGINT micro-units (the unigram_lm_score recipe). The CTE
    # chain through the per-doc score table `s` is shared with the
    # hybrid_search_rrf oracle's lexical leg.
    _bm25_terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    _k1, _b = TS.BM25_K1, TS.BM25_B

    # the scoring chain from a `t2(id, term)` token table to the per-doc
    # score table `s` — parameterized by the query-term list so the
    # body-text, anchor-field, and rrf oracles share ONE formula text
    def _bm25_chain(terms: str) -> str:
        return f"""dl AS (SELECT id, COUNT(*) AS dl FROM t2 GROUP BY id),
st AS (SELECT COUNT(*) AS N, SUM(dl) / COUNT(*) AS avgdl FROM dl),
tf AS (SELECT id, term, COUNT(*) AS tf FROM t2
       WHERE term IN ({terms}) GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
c AS (
  SELECT tf.id,
    CAST(ROUND(ln(1.0 + (st.N - df.df + 0.5) / (df.df + 0.5))
      * (tf.tf * ({_k1} + 1)) / (tf.tf + {_k1} * (1 - {_b} + {_b} * dl.dl / st.avgdl))
      * 1e6) AS BIGINT) AS c_micro
  FROM tf JOIN df USING (term) JOIN dl USING (id) CROSS JOIN st),
s AS (SELECT id, COUNT(*) AS n_hits, SUM(c_micro) AS score_micro FROM c GROUP BY id)"""

    _bm25_ctes = f"""toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
t2 AS (SELECT id, term FROM toks WHERE term <> ''),
{_bm25_chain(_bm25_terms)}"""
    sql["bm25_search"] = f"""
WITH {_bm25_ctes},
r AS (SELECT id, CAST(n_hits AS BIGINT) AS n_hits,
        CAST(score_micro AS BIGINT) AS score_micro,
        CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, id) AS BIGINT) AS rank
      FROM s)
SELECT id AS doc_id, n_hits, score_micro, rank FROM r WHERE rank <= {BM25_TOPK}
"""

    # phrase oracle: the classic positional self-join chain (one CTE per
    # adjacency step) — deliberately NOT the engine's array fold
    _ph = [t.lower() for t in PHRASE_QUERY]
    _ph_steps = ",\n".join(
        f"m{i} AS (SELECT m{i-1}.id AS id, t.pos FROM m{i-1} "
        f"JOIN toks t ON t.id = m{i-1}.id AND t.pos = m{i-1}.pos + 1 "
        f"AND t.term = '{_ph[i]}')"
        for i in range(1, len(_ph))
    )
    sql["phrase_search"] = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
toks AS (
  SELECT doc_id AS id, unnest(w) AS term, unnest(range(0, len(w))) AS pos FROM w),
m0 AS (SELECT id, pos FROM toks WHERE term = '{_ph[0]}'),
{_ph_steps},
g AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        CAST(MIN(pos) - {len(_ph) - 1} AS BIGINT) AS first_pos
      FROM m{len(_ph) - 1} GROUP BY id),
r AS (SELECT id, n_matches, first_pos,
        CAST(ROW_NUMBER() OVER (ORDER BY n_matches DESC, id) AS BIGINT) AS rank
      FROM g)
SELECT id AS doc_id, n_matches, first_pos, rank FROM r WHERE rank <= {PHRASE_TOPK}
"""

    sql["hybrid_search_rrf"] = f"""
WITH {_bm25_ctes},
lex AS (SELECT id AS doc_id, CAST(rk AS BIGINT) AS lex_rank FROM (
          SELECT id, ROW_NUMBER() OVER (ORDER BY score_micro DESC, id) AS rk
          FROM s) WHERE rk <= {RRF_POOL}),
sem0 AS (
  SELECT e.vec_id AS doc_id,
         {_duck_cos64('q.embedding', 'e.embedding')} AS cos
  FROM (SELECT embedding FROM embeddings WHERE vec_id = {RRF_QVEC}) q
  CROSS JOIN embeddings e WHERE e.vec_id <> {RRF_QVEC}),
sem AS (SELECT doc_id, CAST(rk AS BIGINT) AS sem_rank FROM (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rk
          FROM sem0) WHERE rk <= {RRF_POOL}),
f AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
         CAST(COALESCE(1000000 // ({RRF_K} + lex_rank), 0)
              + COALESCE(1000000 // ({RRF_K} + sem_rank), 0) AS BIGINT)
           AS rrf_micro
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
SELECT doc_id, lex_rank, sem_rank, rrf_micro, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
      FROM f) WHERE rank <= {RRF_TOPK}
"""

    # duplicate-span oracle: positional word n-grams via zipped unnests
    sql["duplicate_spans"] = f"""
WITH aug AS ({_AUG_DOCS_SQL}),
w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM aug),
g AS (SELECT doc_id, w, unnest(range(1, len(w) - {SPAN_N} + 2)) AS i
      FROM w WHERE len(w) >= {SPAN_N}),
g2 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(list_slice(w, CAST(i AS INT),
                                    CAST(i + {SPAN_N - 1} AS INT)), ' ') AS gram
       FROM g),
d AS (SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT g2.doc_id, g2.pos, md5(g2.gram) AS gram_hash, d.n_docs, d.n_occurrences
FROM g2 JOIN d USING (gram)
"""

    # duplicate_span_strip: the span CTEs restate duplicate_spans' chain,
    # then covered word positions explode per flagged span and survivors
    # reassemble with an ordered string_agg (NULL-skipping, so a fully
    # covered document yields '' via the coalesce)
    sql["duplicate_span_strip"] = f"""
WITH aug AS ({_AUG_DOCS_SQL}),
w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM aug),
g AS (SELECT doc_id, w, unnest(range(1, len(w) - {SPAN_N} + 2)) AS i
      FROM w WHERE len(w) >= {SPAN_N}),
g2 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(list_slice(w, CAST(i AS INT),
                                    CAST(i + {SPAN_N - 1} AS INT)), ' ') AS gram
       FROM g),
d AS (SELECT gram FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
spans AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN d USING (gram)),
cov AS (SELECT DISTINCT doc_id, wpos FROM
        (SELECT doc_id, unnest(range(pos, pos + {SPAN_N})) AS wpos FROM spans)),
words AS (SELECT doc_id, unnest(w) AS word,
                 unnest(range(0, len(w))) AS wpos FROM w),
j AS (SELECT words.doc_id, words.wpos, words.word,
             (cov.wpos IS NOT NULL) AS cut
      FROM words LEFT JOIN cov
        ON words.doc_id = cov.doc_id AND words.wpos = cov.wpos)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
       COALESCE(string_agg(CASE WHEN cut THEN NULL ELSE word END,
                           ' ' ORDER BY wpos), '') AS text_clean
FROM j GROUP BY doc_id
"""

    sql["inverted_index"] = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
toks AS (
  SELECT doc_id AS id, unnest(w) AS term, unnest(range(0, len(w))) AS pos FROM w),
t2 AS (SELECT id, term, pos FROM toks WHERE length(term) >= {INV_MIN_TERM_LEN}),
pd AS (SELECT term, id, COUNT(*) AS tf_d, MIN(pos) AS first_pos
       FROM t2 GROUP BY 1, 2),
st AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(tf_d) AS BIGINT) AS tf FROM pd GROUP BY 1),
top AS (SELECT term, id, first_pos, tf_d FROM pd
        QUALIFY ROW_NUMBER() OVER (PARTITION BY term ORDER BY id) <= {INV_K_POSTINGS}),
p AS (SELECT term,
        string_agg(CAST(id AS STRING) || ':' || CAST(first_pos AS STRING)
                   || ':' || CAST(tf_d AS STRING), ',' ORDER BY id) AS postings
      FROM top GROUP BY 1)
SELECT st.term, st.df, st.tf, p.postings FROM st JOIN p USING (term)
"""

    # anchor-text oracle: the SAME RE2 pattern constants replayed in
    # DuckDB over the same synthesis SQL
    sql["anchor_text_stats"] = f"""
WITH pages AS (
  SELECT 'http://src' || CAST(doc_id AS STRING) || '.test/' AS src,
         {_anchor_html_sql("doc_id")} AS html
  FROM documents),
tags AS (
  SELECT src, unnest(regexp_extract_all(html, '{ANC.ANCHOR_TAG_RE}')) AS tag
  FROM pages),
a AS (
  SELECT src, regexp_extract(tag, '{ANC.ANCHOR_HREF_RE}', 1) AS target,
         trim(regexp_extract(tag, '{ANC.ANCHOR_TEXT_RE}', 1)) AS anchor
  FROM tags),
per AS (SELECT target, anchor, COUNT(*) AS cnt FROM a GROUP BY 1, 2),
tot AS (SELECT target, CAST(COUNT(*) AS BIGINT) AS n_inbound,
          CAST(COUNT(DISTINCT src) AS BIGINT) AS n_sources
        FROM a GROUP BY 1),
top AS (SELECT target, anchor AS top_anchor,
          CAST(cnt AS BIGINT) AS top_anchor_count
        FROM per
        QUALIFY ROW_NUMBER() OVER (PARTITION BY target
                                   ORDER BY cnt DESC, anchor) = 1)
SELECT tot.target, tot.n_inbound, tot.n_sources,
       top.top_anchor, top.top_anchor_count
FROM tot JOIN top USING (target)
"""

    # incremental anchor maintenance: the oracle is the WHOLE-CORPUS
    # anchor profile — a hash match proves the merge is exact
    sql["anchor_stats_incremental"] = sql["anchor_text_stats"]
    # the merged index must answer exactly like a from-scratch build
    sql["bm25_incremental"] = sql["bm25_search"]

    # anchor_search: the SAME scoring chain (_bm25_chain) over the anchor
    # field — tokens come from inbound anchor texts, id = the target url
    _anc_terms = ", ".join(f"'{t}'" for t in ANCHOR_QUERY)
    sql["anchor_search"] = f"""
WITH pages AS (
  SELECT 'http://src' || CAST(doc_id AS STRING) || '.test/' AS src,
         {_anchor_html_sql("doc_id")} AS html
  FROM documents),
tags AS (
  SELECT src, unnest(regexp_extract_all(html, '{ANC.ANCHOR_TAG_RE}')) AS tag
  FROM pages),
a AS (
  SELECT regexp_extract(tag, '{ANC.ANCHOR_HREF_RE}', 1) AS target,
         trim(regexp_extract(tag, '{ANC.ANCHOR_TEXT_RE}', 1)) AS anchor
  FROM tags),
toks AS (
  SELECT target AS id,
         unnest(string_split_regex(lower(trim(anchor)), '\\s+')) AS term
  FROM a WHERE target <> ''),
t2 AS (SELECT id, term FROM toks WHERE term <> ''),
{_bm25_chain(_anc_terms)},
r AS (SELECT id, CAST(n_hits AS BIGINT) AS n_hits,
        CAST(score_micro AS BIGINT) AS score_micro,
        CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, id) AS BIGINT)
          AS rank
      FROM s)
SELECT id AS target, n_hits, score_micro, rank FROM r
WHERE rank <= {ANCHOR_TOPK}
"""

    # sitemap_recrawl: composed over the sitemap_parse oracle text; the
    # fetch-state synthesis replays the engine's md5-parity split
    _sr_h = f"{_duck_hash32('loc')} % 4"
    sql["sitemap_recrawl"] = f"""
WITH base AS ({sql["sitemap_parse"]}),
u AS (SELECT loc, lastmod FROM base WHERE kind = 'url'),
f AS (SELECT loc,
        CASE WHEN {_sr_h} = 0 THEN '2000-01-01'
             ELSE '2030-01-01' END AS last_fetch
      FROM (SELECT DISTINCT loc FROM base WHERE kind = 'url')
      WHERE {_sr_h} < 2)
SELECT u.loc, u.lastmod, f.last_fetch,
       CASE WHEN f.last_fetch IS NULL THEN 'new'
            WHEN TRY_CAST(u.lastmod AS DATE) > TRY_CAST(f.last_fetch AS DATE)
              THEN 'refetch'
            WHEN TRY_CAST(u.lastmod AS DATE) <= TRY_CAST(f.last_fetch AS DATE)
              THEN 'fresh'
            ELSE 'refetch' END AS action
FROM u LEFT JOIN f ON f.loc = u.loc
"""

    # sp_unigram_learn: the two Viterbi folds replayed with list_reduce
    # over the SAME packed representation (cost·2^20 + n_pieces·2^10 +
    # backpointer); constants interpolate from operators/sptok
    from .operators import sptok as SPT

    # The oracle is fully LAMBDA-FREE: DuckDB v1.0 list_reduce /
    # list_transform lambdas nondeterministically MIS-BIND outer-column
    # captures (a word resolved against another row's value, dependent on
    # vector-chunk layout — observed twice on different words). The DP
    # and the backpointer walk run as RECURSIVE CTEs instead — plain
    # scalar SQL per step, one list_append per iteration, no lambdas and
    # no unrolled-expression blowup. least() over the guarded candidate
    # CASEs == the engine fold's array_min over the identical packing,
    # so the tie-break is preserved.
    _sp_cands = ", ".join(
        f"CASE WHEN i + 1 >= {o} THEN"
        f" (dp[i + 2 - {o}] // 1048576 + ct[i + 2 - {o}][{o}]) * 1048576"
        f" + ((dp[i + 2 - {o}] % 1048576) // 1024 + 1) * 1024"
        f" + (i + 1 - {o}) END"
        for o in range(1, SPT.SP_MAXP + 1)
    )
    _sp_prefix = f"""
WITH RECURSIVE w0 AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents),
words AS (SELECT substr(w, 1, {SPT.SP_WORD_CAP}) AS word,
                 COUNT(*) AS freq
          FROM w0 WHERE length(w) > 0 GROUP BY 1),
pos AS (SELECT word, freq, unnest(range(1, length(word) + 1)) AS i
        FROM words),
pl AS (SELECT word, freq, i,
              unnest(range(1, least({SPT.SP_MAXP},
                     length(word) - CAST(i AS INT) + 1) + 1)) AS l
       FROM pos),
pieces0 AS (SELECT word, freq, i, l,
                   substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
            FROM pl),
counts AS (SELECT piece, SUM(freq) AS count FROM pieces0 GROUP BY 1),
kept AS (SELECT piece, count FROM counts
         WHERE length(piece) = 1 OR count >= {SPT.SP_MIN_COUNT}),
tot AS (SELECT SUM(count) AS total FROM kept),
vocab AS (SELECT piece,
            CAST(ROUND(ln(CAST(count AS DOUBLE) / total) * 1000000)
                 AS BIGINT) AS lp
          FROM kept CROSS JOIN tot),
pc AS (SELECT p.word, p.freq, p.i, p.l,
              coalesce(-v.lp, CAST({SPT.SP_BIG} AS BIGINT)) AS cost
       FROM pieces0 p LEFT JOIN vocab v ON v.piece = p.piece),
ctrows AS (SELECT word, freq, i, list(cost ORDER BY l) AS ctrow
           FROM pc GROUP BY 1, 2, 3),
c0 AS (SELECT word, freq, list(ctrow ORDER BY i) AS ct
       FROM ctrows GROUP BY 1, 2),
rec AS (
  SELECT word, freq, ct, 0 AS i, [CAST(0 AS BIGINT)] AS dp FROM c0
  UNION ALL
  SELECT word, freq, ct, i + 1,
         list_append(dp, least({_sp_cands}))
  FROM rec WHERE i < length(word)),
d AS (SELECT word, freq, dp FROM rec WHERE i = length(word))"""
    sql["sp_unigram_learn"] = _sp_prefix + f""",
wrec AS (
  SELECT word, freq, dp, CAST(length(word) AS BIGINT) AS wpos,
         CAST([] AS BIGINT[]) AS pks
  FROM d
  UNION ALL
  SELECT word, freq, dp, dp[CAST(wpos AS INT) + 1] % 1024,
         list_append(pks,
           (dp[CAST(wpos AS INT) + 1] % 1024 + 1) * 1024
           + (wpos - dp[CAST(wpos AS INT) + 1] % 1024))
  FROM wrec WHERE wpos > 0),
w1 AS (SELECT word, freq, pks FROM wrec WHERE wpos = 0),
p0 AS (SELECT word, freq, unnest(pks) AS p FROM w1),
pieces AS (SELECT freq,
                  substr(word, CAST(p // 1024 AS INT),
                         CAST(p % 1024 AS INT)) AS piece
           FROM p0),
cnt AS (SELECT piece, SUM(freq) AS n_tokens FROM pieces GROUP BY 1),
t2 AS (SELECT SUM(n_tokens) AS total FROM cnt),
scored AS (SELECT piece, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(ROUND(ln(CAST(n_tokens AS DOUBLE) / total) * 1000000)
                  AS BIGINT) AS lp_micronat
           FROM cnt CROSS JOIN t2),
rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n_tokens DESC, piece) AS rank
       FROM scored)
SELECT piece, n_tokens, lp_micronat, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {SPT.SP_TOPN}
"""

    # sp_unigram_encode: the same chain through the DP, no walk —
    # n_pieces unpacks from the final packed cell; doc tokens join the
    # per-word results on the uniform word key
    sql["sp_unigram_encode"] = _sp_prefix + f""",
seg AS (SELECT word, (dp[length(word) + 1] % 1048576) // 1024
          AS n_pieces FROM d),
toks AS (SELECT id, substr(w, 1, {SPT.SP_WORD_CAP}) AS word FROM (
    SELECT doc_id AS id,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents) WHERE length(w) > 0)
SELECT t.id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(t.word)) AS BIGINT) AS n_chars,
       CAST(SUM(seg.n_pieces) AS BIGINT) AS n_pieces,
       CAST(100 * SUM(seg.n_pieces) // COUNT(*) AS BIGINT)
         AS pieces_per_100_words
FROM toks t JOIN seg ON seg.word = t.word
GROUP BY 1
"""

    sql["url_alias_groups"] = f"""
WITH pages AS (
  SELECT {SW.url_sql("doc_id")} AS url, text FROM documents
  UNION ALL
  SELECT 'http://mirror-of-the-original.example/copy'
         || CAST(doc_id AS STRING) || '.html' AS url, text
  FROM documents WHERE doc_id < {ALIAS_N}),
d AS (SELECT url, md5(text) AS digest FROM pages),
r AS (
  SELECT url, digest,
    CAST(COUNT(*) OVER (PARTITION BY digest) AS BIGINT) AS group_size,
    ROW_NUMBER() OVER (PARTITION BY digest ORDER BY length(url), url) AS rn
  FROM d),
canon AS (SELECT digest, url AS canonical_url FROM r WHERE rn = 1)
SELECT r.url, r.digest, r.group_size, canon.canonical_url,
       r.url = canon.canonical_url AS is_canonical
FROM r JOIN canon USING (digest)
"""

    # boilerplate oracle: the block heuristic replayed in DuckDB list
    # algebra with the SAME pattern/threshold constants; DuckDB's
    # regexp_replace needs the explicit 'g' flag (Spark's is global)
    def _bp_txt(b: str) -> str:
        return (
            f"trim(regexp_replace(regexp_replace({b}, '{BP.BP_TAG_RE}', ' ', 'g'),"
            f" '\\s+', ' ', 'g'))"
        )

    def _bp_words(b: str) -> str:
        t = _bp_txt(b)
        return f"(CASE WHEN {t} = '' THEN 0 ELSE len(string_split({t}, ' ')) END)"

    def _bp_linkwords(b: str) -> str:
        # DuckDB array_to_string(empty) is NULL (Spark: ''): coalesce
        j = (
            f"coalesce(array_to_string(regexp_extract_all({b},"
            f" '{BP.BP_ANCHOR_BODY_RE}', 1), ' '), '')"
        )
        return _bp_words(j)

    def _bp_keep(b: str) -> str:
        return (
            f"({_bp_words(b)} >= {BP.BP_MIN_WORDS}"
            f" AND ({_bp_linkwords(b)} * 1000) // greatest({_bp_words(b)}, 1)"
            f" <= {BP.BP_MAX_LINK_PERMILLE})"
        )

    sql["strip_boilerplate"] = f"""
WITH pages AS (
  SELECT 'http://src' || CAST(doc_id AS STRING) || '.test/' AS url,
         {_boiler_html_sql("doc_id")} AS html
  FROM documents),
c AS (
  SELECT url,
    regexp_replace(regexp_replace(html, '{BP.BP_SCRIPT_RE}', ' ', 'g'),
                   '{BP.BP_STYLE_RE}', ' ', 'g') AS cleaned
  FROM pages),
b AS (SELECT url, string_split_regex(cleaned, '{BP.BP_BLOCK_SPLIT_RE}') AS blocks FROM c)
SELECT url,
  CAST(len(list_filter(blocks, x -> {_bp_txt("x")} <> '')) AS BIGINT) AS n_blocks,
  CAST(len(list_filter(blocks, x -> {_bp_keep("x")})) AS BIGINT) AS blocks_kept,
  coalesce(array_to_string(
    list_transform(list_filter(blocks, x -> {_bp_keep("x")}),
                   x -> {_bp_txt("x")}), chr(10)), '') AS text_main
FROM b
"""

    # host rollup oracle: quality_score formula + fingerprint + host map
    # replayed with the HOSTQ_* constants interpolated
    sql["host_quality_rollup"] = f"""
WITH aug AS ({_AUG_DOCS_SQL}),
base AS (
  SELECT 'site' || CAST({SW.host_id_expr("doc_id")} AS STRING) || '.test' AS host,
    doc_id AS id,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
    CAST(least(len(string_split_regex(trim(text), '\\s+')), 256)
      - greatest(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 4
                 - len(string_split_regex(trim(text), '\\s+')), 0) AS BIGINT) AS score
  FROM aug),
dups AS (SELECT fp FROM base GROUP BY fp HAVING COUNT(*) > 1),
marked AS (
  SELECT host, score,
         CASE WHEN fp IN (SELECT fp FROM dups) THEN 1 ELSE 0 END AS is_dup
  FROM base),
agg AS (
  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(is_dup) AS BIGINT) AS n_dups,
    CAST(SUM(score) // COUNT(*) AS BIGINT) AS avg_score,
    CAST(SUM(is_dup) * 1000 // COUNT(*) AS BIGINT) AS dup_permille
  FROM marked GROUP BY host)
SELECT host, n_docs, n_dups, avg_score, dup_permille,
  CASE WHEN n_docs < {TS.HOSTQ_MIN_DOCS} THEN '{TS.HOSTQ_RULES[0]}'
       WHEN avg_score < {TS.HOSTQ_MIN_AVG_SCORE} THEN '{TS.HOSTQ_RULES[1]}'
       WHEN dup_permille > {TS.HOSTQ_MAX_DUP_PERMILLE} THEN '{TS.HOSTQ_RULES[2]}'
       ELSE 'ok' END AS reason,
  (CASE WHEN n_docs < {TS.HOSTQ_MIN_DOCS} THEN '{TS.HOSTQ_RULES[0]}'
        WHEN avg_score < {TS.HOSTQ_MIN_AVG_SCORE} THEN '{TS.HOSTQ_RULES[1]}'
        WHEN dup_permille > {TS.HOSTQ_MAX_DUP_PERMILLE} THEN '{TS.HOSTQ_RULES[2]}'
        ELSE 'ok' END) = 'ok' AS keep
FROM agg
"""

    # composed training-set build: host gate → C4 clean → chunk windows,
    # each stage replaying its own oracle shape over the previous one
    sql["training_set_build"] = f"""
WITH d AS (
  SELECT doc_id,
    'site' || CAST({SW.host_id_expr("doc_id")} AS STRING) || '.test' AS host,
    {_c4_text_sql("doc_id")} AS text
  FROM documents),
hb AS (
  SELECT host,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
    CAST(least(len(string_split_regex(trim(text), '\\s+')), 256)
      - greatest(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 4
                 - len(string_split_regex(trim(text), '\\s+')), 0) AS BIGINT) AS score
  FROM d),
hd AS (SELECT fp FROM hb GROUP BY fp HAVING COUNT(*) > 1),
ha AS (
  SELECT host, COUNT(*) AS n_docs,
    SUM(CASE WHEN fp IN (SELECT fp FROM hd) THEN 1 ELSE 0 END) AS n_dups,
    SUM(score) // COUNT(*) AS avg_score,
    SUM(CASE WHEN fp IN (SELECT fp FROM hd) THEN 1 ELSE 0 END) * 1000
      // COUNT(*) AS dup_permille
  FROM hb GROUP BY host),
hkeep AS (
  SELECT host FROM ha
  WHERE n_docs >= {TS.HOSTQ_MIN_DOCS} AND avg_score >= {TSB_MIN_AVG}
    AND dup_permille <= {TS.HOSTQ_MAX_DUP_PERMILLE}),
s AS (SELECT doc_id, text FROM d JOIN hkeep USING (host)),
s2 AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM s),
k AS (
  SELECT doc_id, text,
    list_filter(ls, l -> trim(l) <> ''
      AND right(trim(l), 1) IN ({_terminals})
      AND len(string_split_regex(trim(l), '\\s+')) >= {TS.C4_MIN_LINE_WORDS}
      AND NOT contains(lower(l), '{TS.C4_LINE_BAD}')) AS kept
  FROM s2),
clean AS (
  SELECT doc_id, array_to_string(kept, chr(10)) AS text
  FROM k
  WHERE NOT contains(lower(text), '{TS.C4_DOC_BAD_LOREM}')
    AND NOT contains(text, '{TS.C4_DOC_BAD_BRACE}')
    AND len(kept) >= {TS.C4_MIN_LINES}),
w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM clean),
n AS (SELECT doc_id, w, len(w) AS n FROM w),
c AS (
  SELECT doc_id, w, n,
    CASE WHEN n <= {TSB_SIZE} THEN 1
         ELSE 1 + (n - {TSB_SIZE} + {TSB_STRIDE} - 1) // {TSB_STRIDE}
    END AS n_chunks
  FROM n),
e AS (SELECT doc_id, w, n, unnest(range(0, n_chunks)) AS ci FROM c)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
  CAST(ci * {TSB_STRIDE} AS BIGINT) AS start_tok,
  CAST(len(list_slice(w, CAST(ci * {TSB_STRIDE} + 1 AS INT),
       CAST(least(ci * {TSB_STRIDE} + {TSB_SIZE}, n) AS INT))) AS BIGINT) AS n_tok,
  array_to_string(list_slice(w, CAST(ci * {TSB_STRIDE} + 1 AS INT),
       CAST(least(ci * {TSB_STRIDE} + {TSB_SIZE}, n) AS INT)), ' ') AS chunk_text
FROM e
"""

    _snap_ctes = f"""
old AS (
  SELECT {SW.url_sql("doc_id")} AS url, md5(text) AS digest FROM documents),
newb AS (
  SELECT {SW.url_sql("doc_id")} AS url,
         CASE WHEN doc_id % {SNAP_CHG_MOD} = 0 THEN md5(text || 'v2')
              ELSE md5(text) END AS digest
  FROM documents WHERE doc_id % {SNAP_DEL_MOD} != 3
  UNION ALL
  SELECT {SW.url_sql(f"doc_id + {SNAP_NEW_OFS}")} AS url,
         md5('fresh' || text) AS digest
  FROM documents WHERE doc_id < {SNAP_NEW_N}),
diff AS (
  SELECT COALESCE(o.url, n.url) AS url,
    CASE WHEN o.digest IS NULL THEN 'new'
         WHEN n.digest IS NULL THEN 'deleted'
         WHEN o.digest = n.digest THEN 'unchanged'
         ELSE 'changed' END AS status,
    o.digest AS old_digest, n.digest AS new_digest
  FROM old o FULL OUTER JOIN newb n ON o.url = n.url)"""

    # unigram LM score: ln on doubles rounds ONCE to integer micro-nats in
    # both engines (round = half away from zero in both; // on BIGINTs
    # truncates toward zero in DuckDB, matching Spark's div — verified)
    sql["unigram_lm_score"] = """
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
t2 AS (SELECT id, term FROM toks WHERE length(term) > 0),
v AS (SELECT term, COUNT(*) AS tf FROM t2 GROUP BY term),
tot AS (SELECT SUM(tf) AS T FROM v),
lp AS (SELECT term,
         CAST(round(ln(tf / CAST(T AS DOUBLE)) * 1e6) AS BIGINT) AS lp
       FROM v, tot)
SELECT t2.id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(lp.lp) AS BIGINT) AS sum_lp_micronat,
       CAST(SUM(lp.lp) // COUNT(*) AS BIGINT) AS avg_lp_micronat
FROM t2 JOIN lp ON lp.term = t2.term GROUP BY t2.id
"""

    sql["crawl_snapshot_diff"] = f"""
WITH {_snap_ctes}
SELECT url, status, old_digest, new_digest FROM diff
"""

    # recrawl ranks: same host regex, integer thousandths (DuckDB // is
    # floor-div on BIGINTs, matching Spark's div()), scale from one constant
    sql["recrawl_ranks"] = f"""
WITH {_snap_ctes},
d AS (
  SELECT url, status,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1) AS host
  FROM diff WHERE status != 'deleted'),
r AS (
  SELECT host,
    SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS chg,
    SUM(CASE WHEN status IN ('changed', 'unchanged') THEN 1 ELSE 0 END) AS rev
  FROM d GROUP BY host)
SELECT d.url,
  CAST(CASE WHEN r.rev > 0 THEN (r.chg * {SNAP.RECRAWL_SCALE}) // r.rev ELSE 0 END
       + CASE WHEN d.status = 'changed' THEN {SNAP.RECRAWL_SCALE} ELSE 0 END
       AS BIGINT) AS rank
FROM d JOIN r ON r.host = d.host
"""

    # change-rate: lag-window replay; λ̂ and revisit math SHARED verbatim
    # (snapshot.LAMBDA_MICRO_SQL / REVISIT_SQL) so the float op order is
    # bit-identical; history synthesis from the same _CR_* constants
    sql["change_rate"] = f"""
WITH hist AS (
  SELECT {SW.url_sql("doc_id")} AS url, snap, {_CR_DIGEST} AS digest
  FROM (SELECT doc_id, unnest(generate_series(0, {CR_SNAPS - 1})) AS snap
        FROM documents)
  WHERE {_CR_FILTER}
),
pairs AS (
  SELECT url, snap, digest,
         lag(digest) OVER (PARTITION BY url ORDER BY snap) AS __prev
  FROM hist
),
agg AS (
  SELECT url, COUNT(__prev) AS n_obs,
         CAST(SUM(CASE WHEN __prev IS NOT NULL AND digest <> __prev
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
         CAST(MAX(snap) - MIN(snap) AS BIGINT) AS span
  FROM pairs GROUP BY url HAVING COUNT(__prev) > 0
)
SELECT url, n_obs, n_changes, span, lambda_micro,
       {SNAP.REVISIT_SQL} AS revisit_snaps
FROM (SELECT url, n_obs, n_changes, span,
             {SNAP.LAMBDA_MICRO_SQL} AS lambda_micro
      FROM agg)
"""

    mh_cols = ",\n  ".join(
        f"{_duck_minhash('text', j, 5)} AS mh{j}" for j in range(8)
    )
    sql["dedup_minhash_sig"] = f"""
WITH sigs AS (
  SELECT doc_id AS id, {mh_cols}
  FROM documents WHERE doc_id < 100
)
SELECT id, CAST(h AS BIGINT) AS h, minhash FROM (
  {" UNION ALL ".join(f"SELECT id, {j} AS h, mh{j} AS minhash FROM sigs" for j in range(8))}
)
"""

    def _band_selects(table: str) -> str:
        return " UNION ALL ".join(
            f"SELECT id, CAST({b} AS STRING) || ':' || CAST(mh{2*b} AS STRING)"
            f" || ':' || CAST(mh{2*b+1} AS STRING) AS bucket FROM {table}"
            for b in range(4)
        )

    band_selects = _band_selects("sigs")
    sql["dedup_lsh_pairs"] = f"""
WITH aug AS ({_AUG_DOCS_SQL}),
sigs AS (
  SELECT doc_id AS id, {mh_cols}
  FROM aug
),
buckets_all AS ({band_selects}),
buckets AS (
  SELECT id, bucket FROM buckets_all
  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id) <= 1000
)
SELECT DISTINCT l.id AS a, r.id AS b
FROM buckets l JOIN buckets r ON l.bucket = r.bucket AND l.id < r.id
"""

    sql["dedup_lsh_incremental"] = f"""
WITH aug AS ({_AUG_DOCS_SQL}),
dsigs AS (
  SELECT doc_id AS id, {mh_cols}
  FROM aug WHERE doc_id >= 10000
),
csigs AS (
  SELECT doc_id AS id, {mh_cols}
  FROM aug WHERE doc_id < 10000
),
dbuckets_all AS ({_band_selects("dsigs")}),
dbuckets AS (
  SELECT id, bucket FROM dbuckets_all
  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id) <= 1000
),
cbuckets_all AS ({_band_selects("csigs")}),
cbuckets AS (
  SELECT id, bucket FROM cbuckets_all
  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id) <= 1000
)
SELECT DISTINCT d.id AS a, c.id AS b
FROM dbuckets d JOIN cbuckets c ON d.bucket = c.bucket
"""

    sql["lsh_bucket_stats"] = f"""
WITH aug AS ({_AUG_DOCS_SQL}),
sigs AS (
  SELECT doc_id AS id, {mh_cols}
  FROM aug
),
buckets_all AS ({band_selects})
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS size,
       CAST(COUNT(*) - {LSH_STATS_CAP} AS BIGINT) AS dropped
FROM buckets_all GROUP BY bucket HAVING COUNT(*) > {LSH_STATS_CAP}
"""

    sql["dedup_clusters"] = f"""
WITH RECURSIVE aug AS ({_AUG_DOCS_SQL}),
sigs AS (
  SELECT doc_id AS id, {mh_cols}
  FROM aug
),
buckets_all AS ({band_selects}),
buckets AS (
  SELECT id, bucket FROM buckets_all
  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id) <= 1000
),
pairs AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM buckets l JOIN buckets r ON l.bucket = r.bucket AND l.id < r.id
),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
reach(id, root) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.id
),
labels AS (SELECT id, MIN(root) AS cc FROM reach GROUP BY id)
SELECT a.doc_id AS id,
       COALESCE(l.cc, a.doc_id) AS cluster_id,
       a.doc_id = COALESCE(l.cc, a.doc_id) AS is_canonical
FROM aug a LEFT JOIN labels l ON l.id = a.doc_id
"""

    # keep-best survivor policy: the dedup_clusters closure + the
    # quality_score integer formula, arg-max per cluster
    sql["dedup_keep_best"] = f"""
WITH RECURSIVE aug AS ({_AUG_DOCS_SQL}),
sigs AS (
  SELECT doc_id AS id, {mh_cols}
  FROM aug
),
buckets_all AS ({band_selects}),
buckets AS (
  SELECT id, bucket FROM buckets_all
  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id) <= 1000
),
pairs AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM buckets l JOIN buckets r ON l.bucket = r.bucket AND l.id < r.id
),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
reach(id, root) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.id
),
labels AS (SELECT id, MIN(root) AS cc FROM reach GROUP BY id),
cl AS (
  SELECT a.doc_id AS id, COALESCE(l.cc, a.doc_id) AS cluster_id
  FROM aug a LEFT JOIN labels l ON l.id = a.doc_id),
sc AS (
  SELECT doc_id AS id,
    CAST(least(len(string_split_regex(trim(text), '\\s+')), 256)
      - greatest(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 4
                 - len(string_split_regex(trim(text), '\\s+')), 0) AS BIGINT) AS score
  FROM aug),
j AS (SELECT cl.id, cl.cluster_id, sc.score FROM cl JOIN sc USING (id)),
b AS (
  SELECT cluster_id, id AS best_id
  FROM j
  QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY score DESC, id) = 1)
SELECT j.id, j.cluster_id, j.score, b.best_id, j.id = b.best_id AS keep
FROM j JOIN b USING (cluster_id)
"""

    sql["ngram_jaccard_lsh"] = f"""
WITH aug AS ({_AUG_DOCS_SQL}),
sigs AS (
  SELECT doc_id AS id, {mh_cols}
  FROM aug
),
buckets_all AS ({band_selects}),
buckets AS (
  SELECT id, bucket FROM buckets_all
  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id) <= 1000
),
pairs AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM buckets l JOIN buckets r ON l.bucket = r.bucket AND l.id < r.id
),
sh AS (SELECT doc_id AS id, {_duck_shingles('text', 3)} AS s FROM aug)
SELECT p.a, p.b,
  ROUND(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
        CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE), 6) AS jaccard
FROM pairs p JOIN sh x ON x.id = p.a JOIN sh y ON y.id = p.b
"""

    sql["dedup_simhash"] = f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE doc_id < 100
),
th AS (SELECT id, {_duck_hash32('tok')} AS h FROM toks WHERE tok <> ''),
bits AS (
  SELECT id, i, SUM(((h >> CAST(i AS INT)) & 1) * 2 - 1) AS s
  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS i) r
  GROUP BY id, i
)
SELECT id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY id
"""

    _simhash_cte = "\nWITH toks AS (\n  SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok\n  FROM documents WHERE doc_id < 100\n),\nth AS (SELECT id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks WHERE tok <> ''),\nbits AS (\n  SELECT id, i, SUM(((h >> CAST(i AS INT)) & 1) * 2 - 1) AS s\n  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS i) r\n  GROUP BY id, i\n),\nsh AS (\n  SELECT id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS simhash\n  FROM bits GROUP BY id\n)"
    sql["simhash_hamming"] = (
        _simhash_cte
        + """
SELECT a.id AS a, b.id AS b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON b.id = a.id + 1
"""
    )

    def _simhash_block(tag: str, src: str, where: str) -> str:
        """Token-level simhash replay for one population (unique CTE names
        per ``tag`` so delta + corpus coexist in one WITH)."""
        return f"""toks_{tag} AS (
  SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM {src}{where}
),
th_{tag} AS (SELECT id, {_duck_hash32('tok')} AS h FROM toks_{tag} WHERE tok <> ''),
bits_{tag} AS (
  SELECT id, i, SUM(((h >> CAST(i AS INT)) & 1) * 2 - 1) AS s
  FROM th_{tag} CROSS JOIN (SELECT unnest(range(0, 32)) AS i) r
  GROUP BY id, i
),
sh_{tag} AS (
  SELECT id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits_{tag} GROUP BY id
)"""

    # band join on (band index, chunk value) ≡ the engine's tagged string
    # key; caps replayed QUALIFY-style like dedup_lsh_incremental's oracle.
    # All constants derive from the SAME Python values the engine call
    # passes (ADVICE-3 lesson: never hardcode a tunable in two places)
    _shw = 32 // SIMHASH_INCR_BANDS
    _shmask = (1 << _shw) - 1

    def _sh_bands(tag: str) -> str:
        return f"""bandsall_{tag} AS (
  SELECT id, i AS bi, (simhash >> (CAST(i AS INT) * {_shw})) & {_shmask} AS bv
  FROM sh_{tag} CROSS JOIN (SELECT unnest(range(0, {SIMHASH_INCR_BANDS})) AS i) r
),
bands_{tag} AS (
  SELECT id, bi, bv FROM bandsall_{tag}
  QUALIFY row_number() OVER (PARTITION BY bi, bv ORDER BY id) <= {SIMHASH_INCR_CAP}
)"""

    sql["dedup_simhash_incremental"] = f"""
WITH aug AS ({_AUG_DOCS_SQL}),
{_simhash_block('d', 'aug', ' WHERE doc_id >= 10000')},
{_simhash_block('c', 'aug', ' WHERE doc_id < 100')},
{_sh_bands('d')},
{_sh_bands('c')},
cand AS (
  SELECT DISTINCT d.id AS a, c.id AS b
  FROM bands_d d JOIN bands_c c ON d.bi = c.bi AND d.bv = c.bv
)
SELECT p.a, p.b,
       CAST(bit_count(xor(da.simhash, cb.simhash)) AS BIGINT) AS hamming
FROM cand p
JOIN sh_d da ON da.id = p.a
JOIN sh_c cb ON cb.id = p.b
WHERE bit_count(xor(da.simhash, cb.simhash)) <= {SIMHASH_INCR_MAX_HAMMING}
"""

    sql["ngram_jaccard"] = f"""
WITH sh AS (
  SELECT doc_id AS id, {_duck_shingles('text', 3)} AS s
  FROM documents WHERE doc_id < 200
)
SELECT a.id AS a, b.id AS b,
  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
FROM sh a JOIN sh b ON b.id = a.id + 1
"""

    lang_cases = " UNION ALL ".join(
        f"SELECT id, '{lang}' AS lang, {-i} AS lrank, COUNT(*) AS hits FROM toks "
        f"WHERE tok IN ({', '.join(repr(w) for w in TS.LANG_STOPWORDS[lang])}) GROUP BY id"
        for i, lang in enumerate(sorted(TS.LANG_STOPWORDS))
    )
    sql["lang_id"] = f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
scored AS ({lang_cases}),
best AS (
  SELECT id, lang, ROW_NUMBER() OVER (PARTITION BY id ORDER BY hits DESC, lrank DESC) AS rk
  FROM scored
)
SELECT d.doc_id AS id, COALESCE(b.lang, 'unknown') AS pred_lang
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN (SELECT id, lang FROM best WHERE rk = 1) b ON b.id = d.doc_id
"""

    sql["quality_score"] = """
SELECT doc_id AS id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
  CAST(least(len(string_split_regex(trim(text), '\\s+')), 256)
    - greatest(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 4
               - len(string_split_regex(trim(text), '\\s+')), 0) AS BIGINT) AS score
FROM documents
"""

    sql["token_count"] = f"""
SELECT doc_id AS id,
  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '{TS.TOKEN_RE}')) AS BIGINT) AS bpe_tokens
FROM documents
"""

    sql["corpus_split_stats"] = f"""
WITH b AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 8)) AS BIGINT) % 100 AS bucket,
    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws,
    CAST(len(regexp_extract_all(text, '{TS.TOKEN_RE}')) AS BIGINT) AS bpe
  FROM documents)
SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
  COUNT(*) AS n_docs,
  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens
FROM b GROUP BY 1
"""

    sql["fingerprint"] = """
SELECT doc_id AS id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
"""

    sql["corpus_clean_pipeline"] = f"""
WITH aug AS ({_AUG_DOCS_SQL}),
toks AS (
  SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM aug
),
scored AS ({lang_cases}),
best AS (
  SELECT id, lang FROM (
    SELECT id, lang,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY hits DESC, lrank DESC) AS rk
    FROM scored) WHERE rk = 1
),
enriched AS (
  SELECT a.doc_id AS id,
    md5(regexp_replace(lower(trim(a.text)), '\\s+', ' ', 'g')) AS fp,
    CAST(least(len(string_split_regex(trim(a.text), '\\s+')), 256)
      - greatest(len(regexp_extract_all(a.text, '[^A-Za-z0-9\\s]')) * 4
                 - len(string_split_regex(trim(a.text), '\\s+')), 0) AS BIGINT) AS score,
    CAST(len(regexp_extract_all(a.text, '{TS.TOKEN_RE}')) AS BIGINT) AS bpe_tokens,
    COALESCE(b.lang, 'unknown') AS pred_lang
  FROM aug a LEFT JOIN best b ON b.id = a.doc_id
),
survivors AS (SELECT * FROM enriched WHERE pred_lang = 'en' AND score >= 40)
SELECT s.id, s.fp, s.score, s.bpe_tokens
FROM survivors s
JOIN (SELECT fp, MIN(id) AS id FROM survivors GROUP BY fp) k
  ON s.fp = k.fp AND s.id = k.id
"""

    sql["cosine_topk"] = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
s AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         {_duck_cos64('q.embedding', 'e.embedding')} AS cos
  FROM (SELECT * FROM e WHERE vec_id < 8) q CROSS JOIN e
  WHERE e.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM s) WHERE rk <= 5
"""

    # ann_ivf_topk oracle: replay the integer k-means quantizer exactly —
    # long-form (id, pos, val), 2 unrolled Lloyd iterations with
    # floor(sum/count + 0.5) integer centroids, 2-probe search, exact
    # cosine rank (mirrors operators/similarity.kmeans_ivf_topk).
    _assign = """
  SELECT ve.id, c.cid, SUM((ve.val - c.cval) * (ve.val - c.cval)) AS dist
  FROM ve JOIN {cent} c USING (pos) GROUP BY ve.id, c.cid
"""
    _update = """
  SELECT a.cid, ve.pos,
         CAST(floor(SUM(ve.val) * 1.0 / COUNT(*) + 0.5) AS BIGINT) AS cval
  FROM ve JOIN {assign} a USING (id) GROUP BY a.cid, ve.pos
"""
    def _kmeans_block(where: str = "") -> str:
        """The unrolled integer-Lloyd CTE chain, parameterized by the fit
        population (the incremental oracle fits on the corpus split only)."""
        return f"""ve AS (
  SELECT vec_id AS id, CAST(pos - 1 AS INT) AS pos,
         CAST(floor(CAST(val AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS val
  FROM (SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings{where})
),
c0 AS (SELECT CAST(id AS INT) AS cid, pos, val AS cval FROM ve WHERE id < 4),
d0 AS ({_assign.format(cent='c0')}),
a0 AS (SELECT id, cid FROM d0
       QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cid) = 1),
c1 AS ({_update.format(assign='a0')}),
d1 AS ({_assign.format(cent='c1')}),
a1 AS (SELECT id, cid FROM d1
       QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cid) = 1),
c2 AS ({_update.format(assign='a1')}),
df AS ({_assign.format(cent='c2')}),
ranked AS (SELECT id, cid,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cid) AS rn FROM df)"""

    _kmeans_ctes = _kmeans_block()

    sql["ann_ivf_topk"] = f"""
WITH {_kmeans_ctes},
corpus_bucket AS (SELECT id AS neighbor_id, cid FROM ranked WHERE rn = 1),
probe AS (SELECT id AS query_id, cid FROM ranked WHERE id < 8 AND rn <= 2),
s AS (
  SELECT p.query_id, b.neighbor_id,
         {_duck_cos64('q.embedding', 'e.embedding')} AS cos
  FROM probe p
  JOIN corpus_bucket b ON b.cid = p.cid AND b.neighbor_id <> p.query_id
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings e ON e.vec_id = b.neighbor_id
)
SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM s) WHERE rk <= 5
"""

    sql["embed_neardup_ann"] = f"""
WITH {_kmeans_ctes},
bucket AS (SELECT id, cid FROM ranked WHERE rn <= 2),
cand AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM bucket x JOIN bucket y ON x.cid = y.cid AND x.id < y.id
)
SELECT c.a, c.b,
       ROUND({_duck_cos64('ea.embedding', 'eb.embedding')}, 4) AS cos
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.a
JOIN embeddings eb ON eb.vec_id = c.b
WHERE {_duck_cos64('ea.embedding', 'eb.embedding')} > 0.3
"""

    # knn_graph / semantic_clusters: the ann_ivf_topk replay without the
    # query-id filter (every vector is a query), then — for the clusters —
    # threshold, mutuality INTERSECT, and the recursive reachability
    # closure (the dedup_clusters oracle pattern over the mutual edges)
    _knn_scored = f"""
corpus_bucket AS (SELECT id AS nid, cid FROM ranked WHERE rn = 1),
probe AS (SELECT id AS qid, cid FROM ranked WHERE rn <= 2),
s AS (
  SELECT p.qid, b.nid,
         {_duck_cos64('q.embedding', 'e.embedding')} AS cos
  FROM probe p
  JOIN corpus_bucket b ON b.cid = p.cid AND b.nid <> p.qid
  JOIN embeddings q ON q.vec_id = p.qid
  JOIN embeddings e ON e.vec_id = b.nid
),
knn AS (
  SELECT qid, nid, ROUND(cos, 4) AS cos FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
    FROM s) WHERE rk <= {KNN_K})"""

    sql["knn_graph"] = f"""
WITH {_kmeans_ctes},
{_knn_scored}
SELECT qid AS src, nid AS dst, cos FROM knn
"""

    _sem_labels = f"""te AS (SELECT qid AS a, nid AS b FROM knn WHERE cos >= {SEM_TAU}),
mutual AS (
  -- mutuality via join, not INTERSECT: DuckDB only allows UNION setops
  -- inside a WITH RECURSIVE block; top-k lists are duplicate-free so the
  -- inner join IS the intersection (mirrors the engine exactly)
  SELECT f.a, f.b
  FROM (SELECT a, b FROM te WHERE a < b) f
  JOIN (SELECT b AS a, a AS b FROM te WHERE a > b) r USING (a, b)),
edges AS (SELECT a AS u, b AS v FROM mutual UNION SELECT b, a FROM mutual),
reach(id, root) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e2.v, r.root FROM reach r JOIN edges e2 ON e2.u = r.id
),
labels AS (SELECT id, MIN(root) AS cc FROM reach GROUP BY id),
clusters AS (
  SELECT v.vec_id AS id, COALESCE(l.cc, v.vec_id) AS cluster_id
  FROM embeddings v LEFT JOIN labels l ON l.id = v.vec_id)"""

    sql["semantic_clusters"] = f"""
WITH RECURSIVE {_kmeans_ctes},
{_knn_scored},
{_sem_labels}
SELECT id, cluster_id, id = cluster_id AS is_canonical FROM clusters
"""

    sql["cluster_balanced_sample"] = f"""
WITH RECURSIVE {_kmeans_ctes},
{_knn_scored},
{_sem_labels},
rk AS (
  SELECT id, cluster_id,
         ROW_NUMBER() OVER (
           PARTITION BY cluster_id
           ORDER BY {_duck_hash32("CAST(id AS VARCHAR)")}, id) AS rk
  FROM clusters)
SELECT r.id AS doc_id, r.cluster_id, CAST(r.rk AS BIGINT) AS rk, d.lang
FROM rk r JOIN documents d ON d.doc_id = r.id
WHERE r.rk <= {CBS_CAP}
"""

    sql["tfidf_topk"] = f"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
t2 AS (SELECT id, term FROM toks WHERE len(term) >= {TFIDF_MIN_LEN}),
tf AS (SELECT id, term, COUNT(*) AS tf FROM t2 GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS N FROM documents),
sc AS (
  SELECT id, term, tf,
         tf * CAST(ROUND(ln((n.N + 1.0) / (df.df + 1.0)) * 1e6) AS BIGINT)
           AS score_micro
  FROM tf JOIN df USING (term) CROSS JOIN n),
r AS (SELECT *,
        ROW_NUMBER() OVER (PARTITION BY id ORDER BY score_micro DESC, term)
          AS rk
      FROM sc)
SELECT id, term, CAST(tf AS BIGINT) AS tf,
       CAST(score_micro AS BIGINT) AS score_micro, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= {TFIDF_K}
"""

    # srp_pairs / srp_recall: the hyperplane weights are model constants
    # generated by the SAME Python function the engine embeds in its plan
    # (similarity.srp_weights) — the oracle replays exact int64 projections
    # over the shared x1000 quantization, so every bit/bucket matches.
    _w = SIM.srp_weights()
    _n_bands = SIM.SRP_PLANES // SIM.SRP_BAND_BITS
    _srp_mask = (1 << SIM.SRP_BAND_BITS) - 1
    _hs, _ds, _ws = [], [], []
    for _h, _row in enumerate(_w):
        for _d, _wt in enumerate(_row):
            _hs.append(_h)
            _ds.append(_d)
            _ws.append(_wt)
    _srp_code_ctes = f"""wt AS (SELECT unnest({_hs}) AS h, unnest({_ds}) AS d, unnest({_ws}) AS w),
q AS (SELECT vec_id AS id, CAST(pos - 1 AS BIGINT) AS d,
             CAST(floor(CAST(val AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS val
      FROM (SELECT vec_id, unnest(embedding) AS val,
                   generate_subscripts(embedding, 1) AS pos FROM embeddings)),
bits AS (SELECT q.id, wt.h, SUM(q.val * wt.w) >= 0 AS bit
         FROM q JOIN wt ON wt.d = q.d GROUP BY 1, 2),
codes AS (SELECT id, SUM(CASE WHEN bit THEN (CAST(1 AS BIGINT) << h) ELSE 0 END) AS code
          FROM bits GROUP BY 1),
bands AS (SELECT id, b, (code >> CAST(b * {SIM.SRP_BAND_BITS} AS INT)) & {_srp_mask} AS bv
          FROM codes CROSS JOIN (SELECT unnest(range(0, {_n_bands})) AS b))"""

    _srp_ctes = f"""{_srp_code_ctes},
srp_cand AS (SELECT DISTINCT x.id AS a, y.id AS b
             FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.id < y.id),
srp AS (
  SELECT c.a, c.b, ROUND({_duck_cos64('ea.embedding', 'eb.embedding')}, 4) AS cos
  FROM srp_cand c
  JOIN embeddings ea ON ea.vec_id = c.a
  JOIN embeddings eb ON eb.vec_id = c.b
  WHERE {_duck_cos64('ea.embedding', 'eb.embedding')} > {SRP_TAU})"""

    # srp_incremental: codes are data-independent, so the oracle computes
    # them ONCE over all vectors and only the pairing splits delta/corpus
    sql["srp_incremental"] = f"""
WITH {_srp_code_ctes},
cand AS (
  SELECT DISTINCT d.id AS a, c.id AS b
  FROM (SELECT * FROM bands WHERE id % {EMB_DELTA_MOD} = {EMB_DELTA_MOD - 1}) d
  JOIN (SELECT * FROM bands WHERE id % {EMB_DELTA_MOD} <> {EMB_DELTA_MOD - 1}) c
    ON d.b = c.b AND d.bv = c.bv)
SELECT c.a, c.b, ROUND({_duck_cos64('ea.embedding', 'eb.embedding')}, 4) AS cos
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.a
JOIN embeddings eb ON eb.vec_id = c.b
WHERE {_duck_cos64('ea.embedding', 'eb.embedding')} > {SRP_TAU}
"""

    sql["srp_pairs"] = f"""
WITH {_srp_ctes}
SELECT a, b, cos FROM srp
"""

    # kmv_vocab_est / cms_freq_est: deterministic sketches replayed exactly
    # (shared md5 base hash); each entry carries its own measured error
    _kmv_num = (SK.KMV_K - 1) * (1 << 32)
    # vocab growth: same first-occurrence histogram + cumulative window;
    # zipf: the identical once-rounded milli-log moments and the same
    # pinned truncating-division order (both engines truncate toward 0)
    sql["vocab_growth"] = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents WHERE doc_id < {VOCAB_GROWTH_MAX} AND text IS NOT NULL),
toks AS (
  SELECT doc_id, unnest(w) AS term FROM w),
t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
first AS (SELECT term, MIN(doc_id) AS fd FROM t2 GROUP BY term),
vh AS (SELECT (fd // {VOCAB_GROWTH_STEP} + 1) * {VOCAB_GROWTH_STEP} AS n_docs,
         COUNT(*) AS new_terms FROM first GROUP BY 1),
dt AS (SELECT doc_id, COUNT(*) AS nt FROM t2 GROUP BY doc_id),
th AS (SELECT (doc_id // {VOCAB_GROWTH_STEP} + 1) * {VOCAB_GROWTH_STEP}
         AS n_docs, SUM(nt) AS bucket_tokens FROM dt GROUP BY 1),
curve AS (
  SELECT COALESCE(vh.n_docs, th.n_docs) AS n_docs,
    CAST(SUM(COALESCE(new_terms, 0))
      OVER (ORDER BY COALESCE(vh.n_docs, th.n_docs)) AS BIGINT) AS vocab_size,
    CAST(SUM(COALESCE(bucket_tokens, 0))
      OVER (ORDER BY COALESCE(vh.n_docs, th.n_docs)) AS BIGINT) AS n_tokens
  FROM vh FULL OUTER JOIN th ON th.n_docs = vh.n_docs)
SELECT n_docs, vocab_size, n_tokens,
  (vocab_size * 1000000) // n_tokens AS ttr_micro
FROM curve
"""

    sql["zipf_fit"] = """
WITH w AS (
  SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents WHERE text IS NOT NULL),
toks AS (SELECT unnest(w) AS term FROM w),
tf AS (SELECT term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY term),
ranked AS (
  SELECT CAST(ROUND(ln(ROW_NUMBER() OVER (ORDER BY tf DESC, term)) * 1000)
           AS BIGINT) AS x,
         CAST(ROUND(ln(tf) * 1000) AS BIGINT) AS y
  FROM tf),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
        CAST(SUM(x * x) AS BIGINT) AS sxx FROM ranked)
SELECT n AS n_terms,
  ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx) AS slope_micro,
  (sy - (((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx))
     * sx // 1000000) // n AS intercept_milli
FROM m
"""

    sql["kmv_vocab_est"] = f"""
WITH sh0 AS (
  SELECT source AS grp,
         unnest(list_transform({_duck_shingles('text', KMV_SHINGLE_K)},
                               s -> {_duck_hash32('s')})) AS h
  FROM documents),
sh AS (SELECT DISTINCT grp, h FROM sh0),
rk AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rk
       FROM sh),
agg AS (SELECT grp, COUNT(*) AS n, MAX(h) AS hk
        FROM rk WHERE rk <= {SK.KMV_K} GROUP BY 1),
est AS (SELECT grp,
               CASE WHEN n < {SK.KMV_K} THEN n ELSE {_kmv_num} // hk END AS e
        FROM agg),
exact AS (SELECT grp, COUNT(*) AS x FROM sh GROUP BY 1)
SELECT est.grp AS source, CAST(est.e AS BIGINT) AS est_distinct,
       CAST(exact.x AS BIGINT) AS exact_distinct,
       CAST(abs(est.e - exact.x) * 1000 // exact.x AS BIGINT) AS err_permille
FROM est JOIN exact USING (grp)
"""

    sql["cms_freq_est"] = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
t AS (SELECT term FROM toks WHERE term <> ''),
tf AS (SELECT term, COUNT(*) AS true_tf FROM t GROUP BY 1),
top AS (SELECT term, true_tf FROM (
          SELECT *, ROW_NUMBER() OVER (ORDER BY true_tf DESC, term) AS rk
          FROM tf) WHERE rk <= {CMS_TOP_N}),
rows_r AS (SELECT unnest(range(0, {SK.CMS_D})) AS r),
cells AS (
  SELECT rows_r.r,
         {_duck_hash32("'cms' || CAST(rows_r.r AS VARCHAR) || ':' || t.term")}
           % {SK.CMS_W} AS bucket,
         COUNT(*) AS cnt
  FROM t CROSS JOIN rows_r GROUP BY 1, 2),
probe AS (
  SELECT top.term, top.true_tf, rows_r.r,
         {_duck_hash32("'cms' || CAST(rows_r.r AS VARCHAR) || ':' || top.term")}
           % {SK.CMS_W} AS bucket
  FROM top CROSS JOIN rows_r),
est AS (SELECT p.term, p.true_tf, MIN(COALESCE(c.cnt, 0)) AS est_tf
        FROM probe p LEFT JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
        GROUP BY 1, 2)
SELECT term, CAST(true_tf AS BIGINT) AS true_tf,
       CAST(est_tf AS BIGINT) AS est_tf,
       CAST(est_tf - true_tf AS BIGINT) AS overest
FROM est
"""

    # hll_vocab_est: same shingle domain as kmv_vocab_est; every estimator
    # constant (alpha, LC table, bit splits) interpolates from
    # operators/sketches so both engines share one definition
    _hll_lc = "[" + ",".join(str(v) for v in SK.HLL_LC) + "]"
    _hll_raw_num = SK.HLL_ALPHA_MICRO * SK.HLL_M * SK.HLL_M * (1 << SK.HLL_RHO_MAX)
    _hll_div = 1 << SK.HLL_REST
    _hll_2k = 1 << SK.HLL_RHO_MAX
    sql["hll_vocab_est"] = f"""
WITH sh0 AS (
  SELECT source AS grp,
         unnest(list_transform({_duck_shingles('text', KMV_SHINGLE_K)},
                               s -> {_duck_hash32('s')})) AS h
  FROM documents),
sh AS (SELECT DISTINCT grp, h FROM sh0),
regs AS (
  SELECT grp, h // {_hll_div} AS idx,
         MAX(CASE WHEN h % {_hll_div} = 0 THEN {SK.HLL_RHO_MAX}
             ELSE {SK.HLL_RHO_MAX} - length(bin(h % {_hll_div})) END) AS rho
  FROM sh GROUP BY 1, 2),
agg AS (
  SELECT grp, COUNT(*) AS n,
         SUM(CAST(1 AS BIGINT) << ({SK.HLL_RHO_MAX} - rho)) AS s
  FROM regs GROUP BY 1),
est AS (
  SELECT grp,
         {_hll_raw_num} // ((s + ({SK.HLL_M} - n) * {_hll_2k}) * 1000000) AS raw,
         {SK.HLL_M} - n AS v
  FROM agg),
fin AS (
  SELECT grp, CASE WHEN v > 0 AND raw <= {SK.HLL_LC_THRESHOLD}
              THEN ({_hll_lc})[v] ELSE raw END AS e
  FROM est),
exact AS (SELECT grp, COUNT(*) AS x FROM sh GROUP BY 1)
SELECT fin.grp AS source, CAST(fin.e AS BIGINT) AS est_distinct,
       CAST(exact.x AS BIGINT) AS exact_distinct,
       CAST(abs(fin.e - exact.x) * 1000 // exact.x AS BIGINT) AS err_permille
FROM fin JOIN exact USING (grp)
"""

    # doclen_quantiles: histogram constants come from operators/sketches
    _qh_w, _qh_b = SK.HIST_W, SK.HIST_B
    _qh_qs = ",".join(str(q) for q in QHIST_QS)
    sql["doclen_quantiles"] = f"""
WITH vals AS (
  SELECT CAST(length(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS v
  FROM documents),
hist AS (
  SELECT CAST(least(v // {_qh_w}, {_qh_b - 1}) AS INT) AS bucket, COUNT(*) AS cnt
  FROM vals GROUP BY 1),
cum AS (
  SELECT bucket, cnt, SUM(cnt) OVER (ORDER BY bucket) AS cum,
         SUM(cnt) OVER () AS n
  FROM hist),
qs AS (SELECT unnest([{_qh_qs}]) AS q_permille),
crossing AS (
  SELECT q_permille, bucket, cnt, cum,
         (q_permille * n + 999) // 1000 AS target,
         ROW_NUMBER() OVER (PARTITION BY q_permille ORDER BY bucket) AS rk
  FROM qs CROSS JOIN cum
  WHERE cum >= (q_permille * n + 999) // 1000),
e1 AS (
  SELECT q_permille,
         bucket * {_qh_w} + (target - (cum - cnt)) * {_qh_w} // cnt AS est
  FROM crossing WHERE rk = 1),
vcum AS (
  SELECT v, SUM(c2) OVER (ORDER BY v) AS cum, SUM(c2) OVER () AS n
  FROM (SELECT v, COUNT(*) AS c2 FROM vals GROUP BY 1)),
ex AS (
  SELECT q_permille, MIN(v) AS exact
  FROM qs CROSS JOIN vcum
  WHERE cum >= (q_permille * n + 999) // 1000 GROUP BY 1)
SELECT CAST(e1.q_permille AS BIGINT) AS q_permille,
       CAST(e1.est AS BIGINT) AS est_tokens,
       CAST(ex.exact AS BIGINT) AS exact_tokens,
       CAST(e1.est - ex.exact AS BIGINT) AS err
FROM e1 JOIN ex USING (q_permille)
"""

    # ccnet_buckets: the lang_id UNION chain + the unigram-LM micro-nat
    # recipe + the per-language histogram interpolation, all from the same
    # shared constants (CCNET_W/CCNET_B/CCNET_QS) the engine uses.
    _cc_t1, _cc_t2 = CCNET_QS
    sql["ccnet_buckets"] = f"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents),
t2 AS (SELECT id, tok AS term FROM toks WHERE length(tok) > 0),
v AS (SELECT term, COUNT(*) AS tf FROM t2 GROUP BY term),
tot AS (SELECT SUM(tf) AS T FROM v),
lp AS (SELECT term,
         CAST(round(ln(tf / CAST(T AS DOUBLE)) * 1e6) AS BIGINT) AS lp
       FROM v, tot),
lm AS (SELECT t2.id, COUNT(*) AS n_tokens,
              -(SUM(lp.lp) // COUNT(*)) AS score
       FROM t2 JOIN lp ON lp.term = t2.term GROUP BY t2.id),
scored0 AS ({lang_cases}),
best AS (
  SELECT id, lang,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY hits DESC, lrank DESC) AS rk
  FROM scored0),
langt AS (
  SELECT d.doc_id AS id, COALESCE(b.lang, 'unknown') AS pred_lang
  FROM (SELECT DISTINCT doc_id FROM documents) d
  LEFT JOIN (SELECT id, lang FROM best WHERE rk = 1) b ON b.id = d.doc_id),
sc AS (
  SELECT lm.id, langt.pred_lang, lm.n_tokens, lm.score AS v
  FROM lm JOIN langt ON langt.id = lm.id),
hist AS (
  SELECT pred_lang, CAST(least(v // {CCNET_W}, {CCNET_B - 1}) AS INT) AS bucket,
         COUNT(*) AS cnt
  FROM sc GROUP BY 1, 2),
cum AS (
  SELECT pred_lang, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY pred_lang ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY pred_lang) AS n
  FROM hist),
qs AS (SELECT unnest([{_cc_t1}, {_cc_t2}]) AS q_permille),
crossing AS (
  SELECT pred_lang, q_permille, bucket, cnt, cum,
         (q_permille * n + 999) // 1000 AS target,
         ROW_NUMBER() OVER (PARTITION BY pred_lang, q_permille
                            ORDER BY bucket) AS rk
  FROM qs CROSS JOIN cum
  WHERE cum >= (q_permille * n + 999) // 1000),
est AS (
  SELECT pred_lang, q_permille,
         bucket * {CCNET_W} + (target - (cum - cnt)) * {CCNET_W} // cnt AS est
  FROM crossing WHERE rk = 1),
thr AS (
  SELECT pred_lang,
         MIN(CASE WHEN q_permille = {_cc_t1} THEN est END) AS t_head,
         MIN(CASE WHEN q_permille = {_cc_t2} THEN est END) AS t_mid
  FROM est GROUP BY 1),
asg AS (
  SELECT sc.pred_lang,
         CASE WHEN sc.v <= thr.t_head THEN 'head'
              WHEN sc.v <= thr.t_mid THEN 'middle'
              ELSE 'tail' END AS bucket,
         sc.n_tokens, thr.t_head, thr.t_mid
  FROM sc JOIN thr ON thr.pred_lang = sc.pred_lang)
SELECT pred_lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(t_head AS BIGINT) AS t_head, CAST(t_mid AS BIGINT) AS t_mid
FROM asg GROUP BY 1, 2, 5, 6
"""

    sql["weighted_sample"] = f"""
WITH pr AS (
  SELECT source, doc_id, n_chars AS weight,
         ({_duck_hash32("'ws:' || CAST(doc_id AS VARCHAR)")}) * {WS_SCALE}
           // n_chars AS priority
  FROM documents),
ranked AS (
  SELECT source, doc_id, weight, priority,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY priority, doc_id)
           AS rk0
  FROM pr)
SELECT source, doc_id, CAST(weight AS BIGINT) AS weight,
       CAST(priority AS BIGINT) AS priority, CAST(rk0 AS BIGINT) AS rk
FROM ranked WHERE rk0 <= {WS_K}
"""

    _lpa_iter = """
c{i} AS (
  SELECT e.src AS id, l{p}.label AS label, COUNT(*) AS c
  FROM und e JOIN l{p} ON l{p}.id = e.dst GROUP BY 1, 2),
b{i} AS (
  SELECT id, label FROM (
    SELECT id, label,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rk
    FROM c{i}) WHERE rk = 1),
l{i} AS (
  SELECT l{p}.id, COALESCE(b{i}.label, l{p}.label) AS label
  FROM l{p} LEFT JOIN b{i} ON b{i}.id = l{p}.id)"""
    _lpa_chain = ",".join(
        _lpa_iter.format(i=i, p=i - 1) for i in range(1, LPA_ITERS + 1)
    )
    sql["link_communities"] = f"""
WITH {SW.edges_sql(300)},
und AS (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM edges
          UNION ALL SELECT dst AS src, src AS dst FROM edges)
        WHERE src <> dst),
l0 AS (SELECT doc_id AS id, CAST(doc_id AS BIGINT) AS label FROM docs),
{_lpa_chain}
SELECT id AS doc_id, label AS community FROM l{LPA_ITERS}
"""

    sql["srp_recall"] = f"""
WITH {_srp_ctes},
e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
exact AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {_duck_cos64('a.embedding', 'b.embedding')} > {SRP_TAU}
),
hits AS (SELECT a, b, 1 AS hit FROM srp WHERE a < 200 AND b < 200)
SELECT COUNT(*) AS n_exact, COUNT(h.hit) AS n_found,
       ROUND(COUNT(h.hit) / COUNT(*), 4) AS recall
FROM exact x LEFT JOIN hits h USING (a, b)
"""

    # shared by the incremental near-dup query and its recall measurement:
    # quantizer fit on the corpus split only, plus the delta's assignment
    # (the probe pass neardup_incremental runs per delta)
    _mod = EMB_DELTA_MOD
    _incr_ctes = f"""{_kmeans_block(f" WHERE vec_id % {_mod} <> {_mod - 1}")},
vd AS (
  SELECT vec_id AS id, CAST(pos - 1 AS INT) AS pos,
         CAST(floor(CAST(val AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS val
  FROM (SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings WHERE vec_id % {_mod} = {_mod - 1})
),
dd AS (
  SELECT vd.id, c.cid, SUM((vd.val - c.cval) * (vd.val - c.cval)) AS dist
  FROM vd JOIN c2 c USING (pos) GROUP BY vd.id, c.cid
),
dranked AS (SELECT id, cid,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cid) AS rn FROM dd)"""

    sql["embed_neardup_incremental"] = f"""
WITH {_incr_ctes},
cand AS (
  SELECT DISTINCT d.id AS a, r.id AS b
  FROM (SELECT id, cid FROM dranked WHERE rn <= 2) d
  JOIN (SELECT id, cid FROM ranked WHERE rn <= 2) r ON d.cid = r.cid
)
SELECT c.a, c.b,
       ROUND({_duck_cos64('ea.embedding', 'eb.embedding')}, 4) AS cos
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.a
JOIN embeddings eb ON eb.vec_id = c.b
WHERE {_duck_cos64('ea.embedding', 'eb.embedding')} > 0.3
"""

    _recall_row = """
SELECT CAST({p} AS BIGINT) AS probes, COUNT(*) AS n_exact, COUNT(x.a) AS n_found,
       ROUND(COUNT(x.a) * 1.0 / COUNT(*), 4) AS recall
FROM exact t LEFT JOIN ann{p} x ON x.a = t.a AND x.b = t.b
"""
    _cap = INCR_RECALL_CORPUS_CAP
    _incr_found = f"""
  SELECT DISTINCT d.id AS a, r.id AS b
  FROM (SELECT id, cid FROM dranked WHERE rn <= {{p}}) d
  JOIN (SELECT id, cid FROM ranked WHERE rn <= {{p}} AND id < {_cap}) r
    ON d.cid = r.cid
  JOIN embeddings ea ON ea.vec_id = d.id
  JOIN embeddings eb ON eb.vec_id = r.id
  WHERE {_duck_cos64('ea.embedding', 'eb.embedding')} > 0.3
"""
    sql["embed_neardup_incr_recall"] = f"""
WITH {_incr_ctes},
exact AS (
  SELECT d.vec_id AS a, c.vec_id AS b
  FROM embeddings d JOIN embeddings c
    ON d.vec_id % {_mod} = {_mod - 1}
   AND c.vec_id % {_mod} <> {_mod - 1} AND c.vec_id < {_cap}
  WHERE {_duck_cos64('d.embedding', 'c.embedding')} > 0.3
),
ann1 AS ({_incr_found.format(p=1)}),
ann2 AS ({_incr_found.format(p=2)})
{_recall_row.format(p=1)}
UNION ALL
{_recall_row.format(p=2)}
"""

    sql["ann_recall"] = f"""
WITH {_kmeans_ctes},
corpus_bucket AS (SELECT id AS neighbor_id, cid FROM ranked WHERE rn = 1),
probe AS (SELECT id AS query_id, cid FROM ranked WHERE id < 8 AND rn <= 2),
s AS (
  SELECT p.query_id, b.neighbor_id,
         {_duck_cos64('q.embedding', 'e.embedding')} AS cos
  FROM probe p
  JOIN corpus_bucket b ON b.cid = p.cid AND b.neighbor_id <> p.query_id
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings e ON e.vec_id = b.neighbor_id
),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
    FROM s) WHERE rk <= 5
),
e2 AS (SELECT vec_id, embedding FROM embeddings),
bs AS (
  SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
         {_duck_cos64('q.embedding', 'e2.embedding')} AS cos
  FROM (SELECT * FROM e2 WHERE vec_id < 8) q CROSS JOIN e2
  WHERE e2.vec_id <> q.vec_id
),
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
    FROM bs) WHERE rk <= 5
)
SELECT b.query_id, COUNT(i.neighbor_id) AS hits,
       ROUND(COUNT(i.neighbor_id) / 5.0, 4) AS recall_at_5
FROM bf b LEFT JOIN ivf i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""

    _ann_probe = """
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM (SELECT id, cid FROM ranked WHERE rn <= {p}) x
  JOIN (SELECT id, cid FROM ranked WHERE rn <= {p}) y
    ON x.cid = y.cid AND x.id < y.id
  JOIN embeddings ea ON ea.vec_id = x.id
  JOIN embeddings eb ON eb.vec_id = y.id
  WHERE x.id < 200 AND y.id < 200
    AND {cos} > 0.3
""".format(p="{p}", cos=_duck_cos64('ea.embedding', 'eb.embedding'))
    sql["neardup_recall"] = f"""
WITH {_kmeans_ctes},
e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
exact AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {_duck_cos64('a.embedding', 'b.embedding')} > 0.3
),
ann1 AS ({_ann_probe.format(p=1)}),
ann2 AS ({_ann_probe.format(p=2)})
{_recall_row.format(p=1)}
UNION ALL
{_recall_row.format(p=2)}
"""

    sql["embed_neardup"] = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS a, b.vec_id AS b,
       ROUND({_duck_cos64('a.embedding', 'b.embedding')}, 4) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_duck_cos64('a.embedding', 'b.embedding')} > 0.3
"""

    # redirect_resolve oracle: the same synthetic edge set, resolution
    # unrolled as max_redirects-1 = 2 LEFT-JOIN steps + a final
    # still-redirecting probe (mirrors operators/redirect.resolve_redirects)
    _mk = "'http://h' || CAST(id % 7 AS VARCHAR) || '.test/d' || CAST(id AS VARCHAR)"
    _mk1 = "'http://h' || CAST((id + 1) % 7 AS VARCHAR) || '.test/d' || CAST(id + 1 AS VARCHAR)"
    sql["redirect_resolve"] = f"""
WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 500),
pages AS (
  SELECT {_mk} AS url,
    CASE
      WHEN id = 444 THEN 'http://h4.test/d333'
      WHEN id = 333 THEN 'http://h3.test/d444'
      WHEN id % 35 = 0 THEN 'http://dead.test/x' || CAST(id AS VARCHAR)
      WHEN id % 5 < 2 THEN {_mk1}
      ELSE NULL
    END AS redirect_to
  FROM ids
),
edges AS (SELECT url, redirect_to FROM pages WHERE redirect_to IS NOT NULL),
s0 AS (SELECT url, redirect_to AS cur, 1 AS hops FROM edges),
s1 AS (
  SELECT s0.url, coalesce(e.redirect_to, s0.cur) AS cur,
         s0.hops + CASE WHEN e.url IS NOT NULL THEN 1 ELSE 0 END AS hops
  FROM s0 LEFT JOIN edges e ON s0.cur = e.url
),
s2 AS (
  SELECT s1.url, coalesce(e.redirect_to, s1.cur) AS cur,
         s1.hops + CASE WHEN e.url IS NOT NULL THEN 1 ELSE 0 END AS hops
  FROM s1 LEFT JOIN edges e ON s1.cur = e.url
)
SELECT s2.url, s2.cur AS final_url, CAST(s2.hops AS BIGINT) AS hops,
       (e.url IS NOT NULL) AS exceeded
FROM s2 LEFT JOIN edges e ON s2.cur = e.url
"""

    # the oracle's fatal-code table is transcribed INDEPENDENTLY from the
    # reference (IsFatalError, Crawler.cs:2137-2156: HTTP 300/301/302/303/
    # 307/401/402/404/406/407/410 + FTP 332/530/532/534) rather than
    # formatted from the engine's kernels.errors.FATAL_CODES constant, so a
    # transcription error in either side shows up as a hash mismatch.
    _oracle_fatal = "300, 301, 302, 303, 307, 332, 401, 402, 404, 406, 407, 410, 530, 532, 534"

    _codes = "[" + ", ".join(str(c) for c in _ERR_CODES) + "]"
    sql["fatal_error_routing"] = f"""
WITH assigned AS (
  SELECT doc_id AS id,
         {_codes}[CAST(doc_id % {len(_ERR_CODES)} AS INT) + 1] AS code
  FROM documents WHERE doc_id < 1000
)
SELECT id, CAST(code AS BIGINT) AS code,
       (code <> 200 AND code IN ({_oracle_fatal})) AS fatal,
       CASE WHEN code = 200 THEN 'ok'
            WHEN code IN ({_oracle_fatal}) THEN 'fatal'
            ELSE 'retry' END AS action
FROM assigned
"""

    sql["multimodal_meta"] = """
SELECT doc_id AS id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CAST(CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 1024 + 16 AS BIGINT) AS width,
  CAST(CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) % 1024 + 16 AS BIGINT) AS height,
  md5(text) AS digest
FROM documents WHERE doc_id < 200
"""

    sql["multimodal_audio_meta"] = """
WITH h AS (
  SELECT doc_id AS id, octet_length(encode(text)) AS nb, md5(text) AS dg
  FROM documents WHERE doc_id < 200
)
SELECT id,
  CAST(nb AS BIGINT) AS n_bytes,
  CAST(CAST(('0x' || substr(dg, 9, 4)) AS BIGINT) % 600000 + 1000 AS BIGINT) AS duration_ms,
  CAST(CASE CAST(('0x' || substr(dg, 13, 2)) AS BIGINT) % 5
       WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
       WHEN 3 THEN 44100 ELSE 48000 END AS BIGINT) AS sample_rate,
  CAST(CAST(('0x' || substr(dg, 15, 2)) AS BIGINT) % 2 + 1 AS BIGINT) AS channels,
  dg AS digest
FROM h
"""

    sql["multimodal_video_meta"] = """
WITH h AS (
  SELECT doc_id AS id, octet_length(encode(text)) AS nb, md5(text) AS dg
  FROM documents WHERE doc_id < 200
), p AS (
  SELECT id, nb, dg,
    CAST(('0x' || substr(dg, 9, 4)) AS BIGINT) % 600000 + 1000 AS dur,
    CAST(('0x' || substr(dg, 1, 4)) AS BIGINT) % 1024 + 16 AS w,
    CAST(('0x' || substr(dg, 5, 4)) AS BIGINT) % 1024 + 16 AS ht,
    CASE CAST(('0x' || substr(dg, 13, 2)) AS BIGINT) % 5
         WHEN 0 THEN 2397 WHEN 1 THEN 2400 WHEN 2 THEN 2500
         WHEN 3 THEN 3000 ELSE 6000 END AS fps
  FROM h
)
SELECT id, CAST(nb AS BIGINT) AS n_bytes, CAST(dur AS BIGINT) AS duration_ms,
  CAST(w AS BIGINT) AS width, CAST(ht AS BIGINT) AS height,
  CAST(fps AS BIGINT) AS fps_x100,
  CAST(dur * fps // 100000 AS BIGINT) AS n_frames,
  dg AS digest
FROM p
"""

    # constants shared with the engine path (one source each:
    # queries.FRAME_EVERY_MS/FRAME_DOCS, multimodal.FRAME_PATCH_*)
    _pb, _ps = MM.FRAME_PATCH_BYTES, MM.FRAME_PATCH_STRIDE
    sql["multimodal_frame_patches"] = f"""
WITH h AS (
  SELECT doc_id AS id, text, octet_length(encode(text)) AS nb, md5(text) AS dg
  FROM documents
  WHERE doc_id < {FRAME_DOCS} AND octet_length(encode(text)) = length(text)
), p AS (
  SELECT id, text, nb,
    CAST(('0x' || substr(dg, 9, 4)) AS BIGINT) % 600000 + 1000 AS dur,
    CASE CAST(('0x' || substr(dg, 13, 2)) AS BIGINT) % 5
         WHEN 0 THEN 2397 WHEN 1 THEN 2400 WHEN 2 THEN 2500
         WHEN 3 THEN 3000 ELSE 6000 END AS fps
  FROM h
), w AS (
  SELECT id, text, nb,
    CAST(k * {FRAME_EVERY_MS} AS BIGINT) AS ts_ms,
    CAST(k * {FRAME_EVERY_MS} * fps // 100000 AS BIGINT) AS frame_idx
  FROM (SELECT *, unnest(range(0, ((dur - 1) // {FRAME_EVERY_MS}) + 1)) AS k
        FROM p) pk
), f AS (
  SELECT id, frame_idx, ts_ms,
    (frame_idx * {_ps}) % greatest(nb - {_pb - 1}, 1) AS off,
    substr(text,
           CAST((frame_idx * {_ps}) % greatest(nb - {_pb - 1}, 1) AS BIGINT) + 1,
           {_pb}) AS patch
  FROM w
)
SELECT id, frame_idx, ts_ms,
  CAST(off AS BIGINT) AS patch_off,
  CAST(length(patch) AS BIGINT) AS patch_len,
  md5(patch) AS patch_digest,
  CAST(list_aggregate(list_transform(string_split(patch, ''), x -> ascii(x)),
                      'sum') AS BIGINT) AS byte_sum
FROM f
"""

    # mixture_temperature: the same three-alpha formulas; DuckDB's
    # SUM(BIGINT) widens to HUGEINT, the outer CASTs narrow back
    sql["mixture_temperature"] = """
WITH r AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+')))
              AS BIGINT) AS tokens_raw
  FROM documents GROUP BY source)
SELECT source, tokens_raw,
  CAST(tokens_raw * 1000 // SUM(tokens_raw) OVER () AS BIGINT)
    AS w_a100_permille,
  CAST(CAST(floor(sqrt(CAST(tokens_raw AS DOUBLE))) AS BIGINT) * 1000
       // SUM(CAST(floor(sqrt(CAST(tokens_raw AS DOUBLE))) AS BIGINT))
          OVER () AS BIGINT) AS w_a50_permille,
  CAST(1000 // COUNT(*) OVER () AS BIGINT) AS w_a0_permille
FROM r
"""

    # the WARC round-trip oracle is WARC-blind: serializer∘parser must be
    # identity, so the expected output is just the input fields (url/ts
    # formulas mirrored from q_warc_roundtrip; length/digest of the UTF-8
    # payload bytes)
    sql["warc_roundtrip"] = """
SELECT
  'http://w' || cast(doc_id % 16 AS varchar) || '.example/doc/'
            || cast(doc_id AS varchar) AS url,
  '2026-01-02T03:04:' || lpad(cast(doc_id % 60 AS varchar), 2, '0') || 'Z'
    AS warc_ts,
  CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
  md5(text) AS payload_md5
FROM documents
WHERE text IS NOT NULL
"""

    # revisit oracle: WARC-blind closed form of the mixed record stream —
    # classification from the perturbation formulas, revisit rows pinned
    # to zero octets and the empty-payload digest
    sql["warc_revisit"] = f"""
WITH cur AS (
  SELECT doc_id, text,
    CASE WHEN doc_id % {SNAP_CHG_MOD} = 0 THEN text || 'v2' ELSE text END
      AS body,
    doc_id % {SNAP_CHG_MOD} = 0 AS changed
  FROM documents WHERE text IS NOT NULL AND doc_id % {SNAP_DEL_MOD} <> 3),
refetched AS (
  SELECT 'http://w' || cast(doc_id % 16 AS varchar) || '.example/doc/'
           || cast(doc_id AS varchar) AS url,
    CASE WHEN changed THEN 'response' ELSE 'revisit' END AS record_type,
    '{REVISIT_TS}' AS warc_ts,
    CASE WHEN changed THEN CAST(octet_length(encode(body)) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS content_length,
    CASE WHEN changed THEN md5(body) ELSE md5('') END AS payload_md5
  FROM cur),
fresh AS (
  SELECT 'http://w' || cast((doc_id + {SNAP_NEW_OFS}) % 16 AS varchar)
           || '.example/doc/' || cast(doc_id + {SNAP_NEW_OFS} AS varchar)
           AS url,
    'response' AS record_type,
    '{REVISIT_TS}' AS warc_ts,
    CAST(octet_length(encode('fresh' || text)) AS BIGINT) AS content_length,
    md5('fresh' || text) AS payload_md5
  FROM documents WHERE text IS NOT NULL AND doc_id < {SNAP_NEW_N})
SELECT * FROM refetched UNION ALL SELECT * FROM fresh
"""

    # the WET round-trip oracle is WET-blind for the same reason: the
    # conversion-record serializer∘parser must be identity on the
    # extracted text, so expected output restates the input fields
    sql["wet_extract"] = """
SELECT
  'http://w' || cast(doc_id % 16 AS varchar) || '.example/doc/'
            || cast(doc_id AS varchar) AS url,
  '2026-01-02T03:04:' || lpad(cast(doc_id % 60 AS varchar), 2, '0') || 'Z'
    AS warc_ts,
  CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
  md5(text) AS payload_md5
FROM documents
WHERE text IS NOT NULL
"""

    # wat_extract oracle: WAT-blind AND kernel-blind — every envelope
    # field restated in closed form from the synth-web generator (url/ts
    # formulas, title = 'doc'||id, links = the edge function in k order,
    # content_length = byte length of the reconstructed html string)
    sql["wat_extract"] = f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
ks AS (SELECT unnest(range(0, {SW.MAX_LINKS})) AS k),
ed AS (SELECT d.doc_id AS src, ks.k AS k,
              ((d.doc_id * {SW.LINK_MULT} + {SW.LINK_STEP} * ks.k + 1) % 200) AS dst
       FROM docs d CROSS JOIN ks WHERE ks.k < 2 + (d.doc_id % 4)),
lk AS (SELECT src,
              CAST(count(*) AS BIGINT) AS n_links,
              md5(string_agg({SW.url_sql('dst')}, '|' ORDER BY k)) AS links_md5,
              string_agg('<a href="' || {SW.url_sql('dst')} || '">t</a>', ''
                         ORDER BY k) AS anchors
       FROM ed GROUP BY src)
SELECT {SW.url_sql('d.doc_id')} AS url,
  strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(d.doc_id),
           '%Y-%m-%dT%H:%M:%SZ') AS wat_ts,
  CAST(octet_length(encode('<html><head><title>doc'
       || CAST(d.doc_id AS STRING) || '</title></head><body>'
       || l.anchors || '<p>' || d.text || '</p></body></html>'))
    AS BIGINT) AS content_length,
  'doc' || CAST(d.doc_id AS STRING) AS title,
  l.n_links,
  l.links_md5
FROM docs d JOIN lk l ON l.src = d.doc_id
"""

    # cdx_index oracle: the SAME messy-url fixture formula, but the SURT
    # key stated in CLOSED FORM from the id arithmetic — scheme dropped,
    # www label dropped, everything lowercased, :80 dropped / :8080 kept,
    # empty path → '/', query sorted (a= before z=), fragment gone. The
    # oracle never parses, so each rule is independently pinned.
    sql["cdx_index"] = f"""
SELECT
  ('test,site' || CAST({hid} AS STRING) || ',sub' || CAST(doc_id % 3 AS STRING)
   || (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) || ')'
   || (CASE WHEN doc_id % 11 = 0 THEN '/'
            ELSE '/dir' || CAST(doc_id % 10 AS STRING) || '/doc'
                 || CAST(doc_id AS STRING) || '.html' END)
   || (CASE WHEN doc_id % 9 = 0 THEN ''
            ELSE '?a=' || CAST(doc_id % 3 AS STRING)
                 || '&z=' || CAST(doc_id % 4 AS STRING) END)) AS url_key,
  strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
           '%Y%m%d%H%M%S') AS cdx_ts,
  {_cdx_url_sql('doc_id')} AS url,
  'text/html' AS mime,
  CAST(200 AS INTEGER) AS status,
  md5(text) AS digest,
  CAST(octet_length(encode(text)) AS BIGINT) AS length
FROM documents
WHERE text IS NOT NULL
"""

    # crawl_host_stats oracle: the unrolled trace CTE joined to a full
    # reconstruction of each page's html from the generator formula
    # (sources/synth_web.synth_pages replayed in DuckDB), aggregated per
    # host — pins the engine's bytes metric, not just membership.
    sql["crawl_host_stats"] = f"""
WITH docs3 AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
edges3 AS (
  SELECT d.doc_id AS src, ks.k AS k,
         ((d.doc_id * {SW.LINK_MULT} + {SW.LINK_STEP} * ks.k + 1) % 300) AS dst
  FROM docs3 d CROSS JOIN (SELECT unnest(range(0, {SW.MAX_LINKS})) AS k) ks
  WHERE ks.k < 2 + (d.doc_id % 4)),
links3 AS (
  SELECT src AS id,
         string_agg('<a href="' || {SW.url_sql('dst')} || '">t</a>',
                    '' ORDER BY k) AS lk
  FROM edges3 GROUP BY src),
page_bytes AS (
  SELECT d.doc_id AS id,
         octet_length(encode(
           '<html><head><title>doc' || CAST(d.doc_id AS STRING)
           || '</title></head><body>' || l.lk || '<p>' || d.text
           || '</p></body></html>')) AS b
  FROM docs3 d JOIN links3 l ON l.id = d.doc_id)
SELECT regexp_extract(t.url, 'http://([^/]+)/', 1) AS host,
       count(*) AS pages,
       CAST(sum(p.b) AS BIGINT) AS total_bytes,
       max(t.depth) AS max_depth,
       min(t.fetch_seq) AS first_seq,
       max(t.fetch_seq) AS last_seq
FROM ({SW.trace_sql(300)}) t
JOIN page_bytes p
  ON p.id = CAST(regexp_extract(t.url, 'doc(\\d+)[.]html', 1) AS BIGINT)
GROUP BY 1
"""

    # hash_classifier oracle: the same two md5-derived expressions — the
    # bucket index and the bucket's integer weight — replayed verbatim;
    # all-integer accumulation, so the hash match is structural.
    _cls_w = _duck_hash32(f"'{TS.CLS_W_TAG}' || CAST(b AS VARCHAR)")
    def _cls_block(src: str) -> str:
        """Hashed-linear-classifier CTE chain over ``src`` (doc_id, text),
        ending in clsagg(id, n_tokens, score) — shared by the standalone
        entry and the composed curation pipeline."""
        return f"""ctoks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM {src}),
ct2 AS (SELECT id, term FROM ctoks WHERE length(term) > 0),
wb AS (SELECT id, {_duck_hash32('term')} % {TS.CLS_BUCKETS} AS b FROM ct2),
ww AS (SELECT id, {_cls_w} % {TS.CLS_W_SPAN} - {(TS.CLS_W_SPAN - 1) // 2} AS w
       FROM wb),
clsagg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                  CAST(SUM(w) AS BIGINT) AS score
           FROM ww GROUP BY id)"""

    sql["hash_classifier"] = f"""
WITH {_cls_block('documents')}
SELECT id AS doc_id, n_tokens, score, score > 0 AS label FROM clsagg
"""

    # dsir_weights oracle: both hashed-unigram LMs re-fit from scratch —
    # target flag from the two map-side Gopher rules, add-1 smoothing over
    # the full DSIR_BUCKETS range, each log-prob rounded once to integer
    # micro-nats (the unigram_lm_score recipe), BIGINT from there on.
    def _dsir_block(src: str, k: int) -> str:
        """DSIR CTE chain over ``src`` (doc_id, text), ending in
        dtop(doc_id, n_tokens, dsir_micronat) — the top-k selection.
        Shared by the standalone entry and the curation pipeline."""
        return f"""dtoks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM {src}),
dt2 AS (SELECT id, term FROM dtoks WHERE length(term) > 0),
flg AS (
  SELECT doc_id AS id,
    (CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       >= {TS.DSIR_TGT_MIN_WORDS}
     AND CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
          t -> t IN ({_stoplist}))) AS BIGINT) >= {TS.DSIR_TGT_MIN_STOP})
    AS is_target
  FROM {src}),
bt AS (SELECT dt2.id, f.is_target, {_duck_hash32('term')} % {TS.DSIR_BUCKETS} AS b
       FROM dt2 JOIN flg f ON f.id = dt2.id),
allb AS (SELECT CAST(range AS BIGINT) AS b FROM range({TS.DSIR_BUCKETS})),
rc AS (SELECT b, COUNT(*) AS cr FROM bt GROUP BY b),
tc AS (SELECT b, COUNT(*) AS ct FROM bt WHERE is_target GROUP BY b),
cnt AS (SELECT allb.b, COALESCE(rc.cr, 0) AS cr, COALESCE(tc.ct, 0) AS ct
        FROM allb LEFT JOIN rc USING (b) LEFT JOIN tc USING (b)),
tot AS (SELECT SUM(cr) + {TS.DSIR_BUCKETS} AS tr,
               SUM(ct) + {TS.DSIR_BUCKETS} AS tt FROM cnt),
lam AS (SELECT b,
    CAST(round(ln((ct + 1) / CAST(tt AS DOUBLE)) * 1e6) AS BIGINT)
  - CAST(round(ln((cr + 1) / CAST(tr AS DOUBLE)) * 1e6) AS BIGINT) AS lam
  FROM cnt, tot),
wt AS (SELECT bt.id, COUNT(*) AS n_tokens, SUM(lam.lam) AS dw
       FROM bt JOIN lam USING (b) GROUP BY bt.id),
dtop AS (
  SELECT id AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(dw AS BIGINT) AS dsir_micronat
  FROM wt QUALIFY ROW_NUMBER() OVER (ORDER BY dw DESC, id) <= {k})"""

    sql["dsir_weights"] = f"""
WITH {_dsir_block('documents', TS.DSIR_TOPK)}
SELECT * FROM dtop
"""

    # curation_pipeline oracle: the LLaMA/RefinedWeb-style selection
    # chain composed from the three proven blocks — exact dedup (keep the
    # lowest id per md5 digest, over the duplicate-injected corpus), the
    # hashed-linear-classifier gate (keep score > 0), then DSIR top-k
    # fitted on the GATED survivors.
    sql["curation_pipeline"] = f"""
WITH aug AS ({_AUG_DOCS_SQL}),
keep AS (SELECT doc_id, text FROM aug WHERE text IS NOT NULL
         QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))),
{_cls_block('keep')},
g AS (SELECT k.doc_id, k.text FROM keep k
      JOIN clsagg c ON c.id = k.doc_id WHERE c.score > 0),
{_dsir_block('g', CURATION_TOPK)}
SELECT * FROM dtop
"""

    # semdedup oracle: the k-means replay CTE chain (same as the ANN
    # entries), centroid cosine in the exact quantized-integer space
    # (dot/nx/nc are exact BIGINTs; one fixed 3-op IEEE expression), pair
    # cosines via the fold-parity _duck_cos64, and the keep-lowest-
    # centroid-sim loser rule as a row-value comparison.
    sql["semdedup"] = f"""
WITH {_kmeans_ctes},
asg AS (SELECT id, cid FROM ranked WHERE rn = 1),
cn AS (SELECT cid, SUM(cval * cval) AS nc FROM c2 GROUP BY cid),
dx AS (SELECT ve.id, a.cid,
              SUM(ve.val * c.cval) AS dot, SUM(ve.val * ve.val) AS nx
       FROM ve JOIN asg a USING (id)
       JOIN c2 c ON c.cid = a.cid AND c.pos = ve.pos
       GROUP BY ve.id, a.cid),
cs AS (SELECT id, cid, dot / sqrt(CAST(nx * nc AS DOUBLE)) AS cent_cos
       FROM dx JOIN cn USING (cid)),
p AS (SELECT x.id AS a, y.id AS b
      FROM asg x JOIN asg y ON x.cid = y.cid AND x.id < y.id
      JOIN embeddings ea ON ea.vec_id = x.id
      JOIN embeddings eb ON eb.vec_id = y.id
      WHERE {_duck_cos64('ea.embedding', 'eb.embedding')} > {SIM.SEMDEDUP_TAU}),
losers AS (SELECT DISTINCT
             CASE WHEN (ca.cent_cos, p.a) > (cb.cent_cos, p.b)
                  THEN p.a ELSE p.b END AS id
           FROM p JOIN cs ca ON ca.id = p.a JOIN cs cb ON cb.id = p.b)
SELECT cs.id AS vec_id, CAST(cs.cid AS BIGINT) AS cid,
       ROUND(cent_cos, 4) AS cent_cos, l.id IS NULL AS kept
FROM cs LEFT JOIN losers l ON l.id = cs.id
"""

    # PQ-ADC oracle: the M per-subspace Lloyd fits unrolled (two
    # iterations), the corpus encoded to (id, m, code), queries scored
    # against the code table through the broadcast ADC lookup — the exact
    # replay of operators/similarity.pq_fit/pq_encode/pq_topk. All-integer
    # until the one 3-op IEEE acos expression (the semdedup recipe).
    _pq_assign = """
  SELECT sv.id, sv.m, c.cid,
         SUM((sv.val - c.cval) * (sv.val - c.cval)) AS dist
  FROM sv JOIN {cent} c ON c.m = sv.m AND c.pl = sv.pl
  GROUP BY sv.id, sv.m, c.cid"""
    _pq_update = """
  SELECT a.m, a.cid, sv.pl,
         CAST(floor(SUM(sv.val) * 1.0 / COUNT(*) + 0.5) AS BIGINT) AS cval
  FROM sv JOIN {assign} a ON a.id = sv.id AND a.m = sv.m
  GROUP BY a.m, a.cid, sv.pl"""
    def _pq_fit_block(where: str = "") -> str:
        """sv → codebooks (pc2) → corpus code table, parameterized by the
        fit population (the incremental oracle fits on the corpus split
        only — same device as _kmeans_block)."""
        return f"""sv AS (
  SELECT vec_id AS id, CAST((pos - 1) // 8 AS INT) AS m,
         CAST((pos - 1) % 8 AS INT) AS pl,
         CAST(floor(CAST(val AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS val
  FROM (SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings{where})),
pc0 AS (SELECT m, CAST(id AS INT) AS cid, pl, val AS cval
        FROM sv WHERE id < {SIM.PQ_KS}),
pd0 AS ({_pq_assign.format(cent='pc0')}),
pa0 AS (SELECT id, m, cid FROM pd0
        QUALIFY ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY dist, cid) = 1),
pc1 AS ({_pq_update.format(assign='pa0')}),
pd1 AS ({_pq_assign.format(cent='pc1')}),
pa1 AS (SELECT id, m, cid FROM pd1
        QUALIFY ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY dist, cid) = 1),
pc2 AS ({_pq_update.format(assign='pa1')}),
pdf AS ({_pq_assign.format(cent='pc2')}),
codes AS (SELECT id, m, cid AS code FROM pdf
          QUALIFY ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY dist, cid) = 1)"""

    _pq_ctes = f"""
{_pq_fit_block()},
qsub AS (SELECT * FROM sv WHERE id < 8),
dotq AS (SELECT q.id AS qid, c.m, c.cid, SUM(q.val * c.cval) AS dot
         FROM qsub q JOIN pc2 c ON c.m = q.m AND c.pl = q.pl
         GROUP BY q.id, c.m, c.cid),
cn AS (SELECT m, cid, SUM(cval * cval) AS cn2 FROM pc2 GROUP BY m, cid),
qn AS (SELECT id AS qid, SUM(val * val) AS qn2 FROM qsub GROUP BY id),
sc AS (SELECT d.qid, k.id AS nid, SUM(d.dot) AS dot, SUM(cn.cn2) AS nx
       FROM codes k
       JOIN dotq d ON d.m = k.m AND d.cid = k.code
       JOIN cn ON cn.m = k.m AND cn.cid = k.code
       WHERE k.id <> d.qid GROUP BY d.qid, k.id),
pq AS (SELECT qid AS query_id, nid AS neighbor_id,
              ROUND(dot / sqrt(CAST(nx * qn2 AS DOUBLE)), 4) AS acos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                dot / sqrt(CAST(nx * qn2 AS DOUBLE)) DESC, nid) AS rk
       FROM sc JOIN qn USING (qid))"""
    sql["ann_pq_topk"] = f"""
WITH {_pq_ctes}
SELECT query_id, neighbor_id, acos FROM pq WHERE rk <= 5
"""

    # the ADC shortlist re-ranked by EXACT cosine from raw vectors — the
    # production IVFADC pipeline's second stage (shortlist bounds the raw
    # vector reads; _duck_cos64 is the oracle-proven float fold)
    _pq_rerank = f"""
short AS (SELECT query_id, neighbor_id FROM pq WHERE rk <= {SIM.PQ_SHORTLIST}),
rr AS (SELECT s.query_id, s.neighbor_id,
              {_duck_cos64('q.embedding', 'e.embedding')} AS cos
       FROM short s
       JOIN embeddings q ON q.vec_id = s.query_id
       JOIN embeddings e ON e.vec_id = s.neighbor_id),
rrk AS (SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rk2 FROM rr)"""
    sql["ann_pq_rerank"] = f"""
WITH {_pq_ctes},
{_pq_rerank}
SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos FROM rrk WHERE rk2 <= 5
"""

    sql["ann_pq_recall"] = f"""
WITH {_pq_ctes},
{_pq_rerank},
e2 AS (SELECT vec_id, embedding FROM embeddings),
bs AS (
  SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
         {_duck_cos64('q.embedding', 'e2.embedding')} AS cos
  FROM (SELECT * FROM e2 WHERE vec_id < 8) q CROSS JOIN e2
  WHERE e2.vec_id <> q.vec_id
),
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
    FROM bs) WHERE rk <= 5
)
SELECT b.query_id, 'adc' AS path, COUNT(p.neighbor_id) AS hits,
       ROUND(COUNT(p.neighbor_id) / 5.0, 4) AS recall_at_5
FROM bf b LEFT JOIN (SELECT query_id, neighbor_id FROM pq WHERE rk <= 5) p
  ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
GROUP BY b.query_id
UNION ALL
SELECT b.query_id, 'rerank' AS path, COUNT(r.neighbor_id) AS hits,
       ROUND(COUNT(r.neighbor_id) / 5.0, 4) AS recall_at_5
FROM bf b LEFT JOIN (SELECT query_id, neighbor_id FROM rrk WHERE rk2 <= 5) r
  ON r.query_id = b.query_id AND r.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""

    # incremental PQ oracle: codebooks + code table fit on the CORPUS
    # split only; the delta is quantized and ADC-scored against them —
    # the delta-vs-persisted-model replay (no self-exclusion: the id
    # spaces are disjoint by construction)
    sql["ann_pq_incremental"] = f"""
WITH {_pq_fit_block(f" WHERE vec_id % {EMB_DELTA_MOD} <> {EMB_DELTA_MOD - 1}")},
dsv AS (
  SELECT vec_id AS id, CAST((pos - 1) // 8 AS INT) AS m,
         CAST((pos - 1) % 8 AS INT) AS pl,
         CAST(floor(CAST(val AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS val
  FROM (SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
        WHERE vec_id % {EMB_DELTA_MOD} = {EMB_DELTA_MOD - 1})),
ddot AS (SELECT d.id AS qid, c.m, c.cid, SUM(d.val * c.cval) AS dot
         FROM dsv d JOIN pc2 c ON c.m = d.m AND c.pl = d.pl
         GROUP BY d.id, c.m, c.cid),
cn AS (SELECT m, cid, SUM(cval * cval) AS cn2 FROM pc2 GROUP BY m, cid),
dqn AS (SELECT id AS qid, SUM(val * val) AS qn2 FROM dsv GROUP BY id),
sc AS (SELECT d.qid, k.id AS nid, SUM(d.dot) AS dot, SUM(cn.cn2) AS nx
       FROM codes k
       JOIN ddot d ON d.m = k.m AND d.cid = k.code
       JOIN cn ON cn.m = k.m AND cn.cid = k.code
       GROUP BY d.qid, k.id),
pqd AS (SELECT qid AS query_id, nid AS neighbor_id,
               ROUND(dot / sqrt(CAST(nx * qn2 AS DOUBLE)), 4) AS acos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 dot / sqrt(CAST(nx * qn2 AS DOUBLE)) DESC, nid) AS rk
        FROM sc JOIN dqn USING (qid))
SELECT query_id, neighbor_id, acos FROM pqd WHERE rk <= 5
"""

    # BPE learn/encode oracles: the k merge iterations unrolled into
    # static CTE stages (the link_pagerank pattern). Each stage re-derives
    # the pair counts from the previous symbol table, picks the argmax
    # pair by (count DESC, left, right), and applies it with the SAME
    # greedy left-to-right fold the engine uses (list_reduce over wrapped
    # symbols — DuckDB's accumulator must be a LIST, hence the
    # list_transform(sym, x -> [x]) wrap; the fold from a first-element
    # seed equals Spark's fold from an empty array because the head can
    # never merge with an empty accumulator). Parallel unnests of the two
    # shifted slices zip adjacent pairs positionally.
    _bpe_iter = """
p{i} AS (
  SELECT l, r, SUM(wc) AS cnt FROM (
    SELECT wc, unnest(sym[1:-2]) AS l, unnest(sym[2:-1]) AS r
    FROM w{p} WHERE len(sym) > 1) GROUP BY l, r),
b{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
w{i} AS (
  SELECT w, wc,
    list_reduce(list_transform(sym, x -> [x]),
      (acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r
                       THEN list_concat(acc[1:-2], [acc[-1] || x[1]])
                       ELSE list_concat(acc, x) END) AS sym
  FROM w{p} LEFT JOIN b{i} b ON TRUE)"""
    _n_bpe = BPE.BPE_MERGES
    _bpe_ctes = ",".join(
        _bpe_iter.format(i=i, p=i - 1) for i in range(1, _n_bpe + 1)
    )
    _bpe_base = """
vraw AS (
  SELECT w, COUNT(*) AS wc FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents) WHERE length(w) > 0 GROUP BY w),
w0 AS (SELECT w, wc, list_filter(string_split(w, ''), x -> x <> '') AS sym
       FROM vraw)"""
    _bpe_merges_union = "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, l AS \"left\", r AS \"right\","
        f" l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, _n_bpe + 1)
    )
    sql["bpe_learn"] = f"""
WITH {_bpe_base},{_bpe_ctes}
{_bpe_merges_union}
"""

    sql["bpe_vocab"] = f"""
WITH {_bpe_base},{_bpe_ctes},
st AS (SELECT w, wc, unnest(sym) AS token FROM w{_n_bpe})
SELECT token, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words,
       CAST(SUM(wc) AS BIGINT) AS n_occurrences
FROM st GROUP BY token
"""

    sql["bpe_encode"] = f"""
WITH {_bpe_base},{_bpe_ctes},
toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents),
t2 AS (SELECT id, w FROM toks WHERE length(w) > 0)
SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(t2.w)) AS BIGINT) AS n_chars,
       CAST(SUM(len(v.sym)) AS BIGINT) AS n_subwords
FROM t2 JOIN w{_n_bpe} v ON v.w = t2.w
GROUP BY id
"""

    # snapshot_overlap_kmv: the KMV set-op estimator replayed exactly —
    # every constant interpolates from operators/sketches, and the exact
    # side shares the hash domain (distinct URL hashes) by construction
    _so_num = (SK.KMV_K - 1) * (1 << 32)
    sql["snapshot_overlap_kmv"] = f"""
WITH ha AS (
  SELECT DISTINCT {_duck_hash32(SW.url_sql('doc_id'))} AS h FROM documents),
hb AS (
  SELECT DISTINCT h FROM (
    SELECT {_duck_hash32(SW.url_sql('doc_id'))} AS h
    FROM documents WHERE doc_id % {SNAP_DEL_MOD} != 3
    UNION ALL
    SELECT {_duck_hash32(SW.url_sql(f'doc_id + {SNAP_NEW_OFS}'))} AS h
    FROM documents WHERE doc_id < {SNAP_NEW_N})),
ka AS (SELECT h FROM (
         SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM ha)
       WHERE rk <= {SK.KMV_K}),
kb AS (SELECT h FROM (
         SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM hb)
       WHERE rk <= {SK.KMV_K}),
u AS (
  SELECT COALESCE(a.h, b.h) AS h,
         CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
         CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
  FROM ka a FULL OUTER JOIN kb b ON a.h = b.h),
top AS (SELECT h, in_a, in_b FROM (
          SELECT *, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM u)
        WHERE rk <= {SK.KMV_K}),
agg AS (SELECT COUNT(*) AS n, MAX(h) AS hk, SUM(in_a * in_b) AS rho FROM top),
est AS (
  SELECT CASE WHEN n < {SK.KMV_K} THEN n ELSE {_so_num} // hk END AS eu,
         rho, n
  FROM agg),
ex AS (
  SELECT COUNT(*) AS xu,
         SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END)
           AS xi
  FROM ha a FULL OUTER JOIN hb b ON a.h = b.h)
SELECT CAST(est.eu AS BIGINT) AS est_union,
       CAST(ex.xu AS BIGINT) AS exact_union,
       CAST(est.rho * est.eu // est.n AS BIGINT) AS est_inter,
       CAST(ex.xi AS BIGINT) AS exact_inter,
       CAST(est.rho * 1000 // est.n AS BIGINT) AS est_jaccard_permille,
       CAST(ex.xi * 1000 // ex.xu AS BIGINT) AS exact_jaccard_permille,
       CAST(abs(est.eu - ex.xu) * 1000 // ex.xu AS BIGINT)
         AS union_err_permille
FROM est, ex
"""

    # host_template_lines: integer permille thresholds interpolate from
    # functions/textstats so engine and oracle can never drift
    sql["host_template_lines"] = f"""
WITH d AS (
  SELECT doc_id, source, {_tmpl_text_sql('doc_id')} AS text FROM documents),
l0 AS (
  SELECT source AS grp, doc_id AS id,
         trim(unnest(string_split(text, chr(10)))) AS line
  FROM d),
l AS (SELECT DISTINCT grp, id, line FROM l0 WHERE line <> ''),
per AS (SELECT grp, line, COUNT(*) AS n_docs FROM l GROUP BY 1, 2),
tot AS (SELECT source AS grp, COUNT(*) AS total FROM documents GROUP BY 1),
j AS (
  SELECT per.grp, per.line, per.n_docs,
         per.n_docs * 1000 // tot.total AS frac_permille
  FROM per JOIN tot USING (grp))
SELECT grp AS source, line, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(frac_permille AS BIGINT) AS frac_permille,
       frac_permille >= {TS.TMPL_FLAG_PERMILLE} AS is_template
FROM j WHERE frac_permille >= {TS.TMPL_MIN_PERMILLE}
"""

    # host_template_clean: detect + strip in one chain; string_agg with
    # ORDER BY pos replays the engine's (pos, line) struct sort; DuckDB's
    # all-stripped empty aggregate is NULL where Spark's array_join of an
    # empty array is '' — coalesce closes the cross-engine gap
    sql["host_template_clean"] = f"""
WITH d AS (
  SELECT doc_id, source, {_tmpl_text_sql('doc_id')} AS text FROM documents),
sp AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls FROM d),
l0 AS (
  SELECT doc_id, source AS grp,
         unnest(list_transform(ls, x -> trim(x))) AS line,
         unnest(range(1, len(ls) + 1)) AS pos
  FROM sp),
l AS (SELECT * FROM l0 WHERE line <> ''),
ld AS (SELECT DISTINCT grp, doc_id, line FROM l),
per AS (SELECT grp, line, COUNT(*) AS n_docs FROM ld GROUP BY 1, 2),
tot AS (SELECT source AS grp, COUNT(*) AS total FROM documents GROUP BY 1),
tmpl AS (
  SELECT per.grp, per.line
  FROM per JOIN tot USING (grp)
  WHERE per.n_docs * 1000 // tot.total >= {TS.TMPL_FLAG_PERMILLE}),
j AS (
  SELECT l.doc_id, l.grp, l.pos, l.line,
         t.line IS NOT NULL AS is_t
  FROM l LEFT JOIN tmpl t ON t.grp = l.grp AND t.line = l.line)
SELECT doc_id, grp AS source,
       CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_stripped,
       COALESCE(string_agg(CASE WHEN NOT is_t THEN line END, chr(10)
                           ORDER BY pos), '') AS text_clean
FROM j GROUP BY 1, 2
"""

    # bigram_lm_score: the stupid-backoff chain replayed exactly — the
    # three log-prob branches round ONCE each with formula text identical
    # to the engine's; alpha interpolates from functions/textstats
    _bo = TS.BIGRAM_BACKOFF_ALPHA
    sql["bigram_lm_score"] = f"""
WITH tr AS (
  SELECT text FROM documents WHERE doc_id % {BIGRAM_HOLDOUT_MOD} != 0),
sc AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {BIGRAM_HOLDOUT_MOD} = 0),
trw AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS w
  FROM tr),
trbg AS (
  SELECT unnest(w[1:-2]) AS prev, unnest(w[2:-1]) AS cur
  FROM trw WHERE len(w) >= 2),
cb AS (SELECT prev, cur, COUNT(*) AS cb FROM trbg GROUP BY 1, 2),
cc AS (SELECT prev, SUM(cb) AS cc FROM cb GROUP BY 1),
uni AS (
  SELECT term AS cur, COUNT(*) AS tf FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
    FROM tr) WHERE length(term) > 0 GROUP BY 1),
tot AS (SELECT SUM(tf) AS T FROM uni),
lpb AS (
  SELECT prev, cur,
         CAST(round(ln(cb / CAST(cc AS DOUBLE)) * 1e6) AS BIGINT) AS lp_bi
  FROM cb JOIN cc USING (prev)),
lpu AS (
  SELECT cur,
         CAST(round(ln({_bo} * tf / CAST(T AS DOUBLE)) * 1e6) AS BIGINT)
           AS lp_uni
  FROM uni, tot),
lpo AS (
  SELECT CAST(round(ln({_bo} * 1.0 / CAST(T AS DOUBLE)) * 1e6) AS BIGINT)
           AS lp_oov
  FROM tot),
scw AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS w
  FROM sc),
scbg AS (
  SELECT id, unnest(w[1:-2]) AS prev, unnest(w[2:-1]) AS cur
  FROM scw WHERE len(w) >= 2),
j AS (
  SELECT s.id,
         COALESCE(b.lp_bi, u.lp_uni, o.lp_oov) AS lp,
         CASE WHEN b.lp_bi IS NULL AND u.lp_uni IS NOT NULL
              THEN 1 ELSE 0 END AS is_backoff,
         CASE WHEN b.lp_bi IS NULL AND u.lp_uni IS NULL
              THEN 1 ELSE 0 END AS is_oov
  FROM scbg s
  LEFT JOIN lpb b ON b.prev = s.prev AND b.cur = s.cur
  LEFT JOIN lpu u ON u.cur = s.cur
  CROSS JOIN lpo o)
SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(is_backoff) AS BIGINT) AS n_backoff,
       CAST(SUM(is_oov) AS BIGINT) AS n_oov,
       CAST(SUM(lp) AS BIGINT) AS sum_lp_micronat,
       CAST(SUM(lp) // COUNT(*) AS BIGINT) AS avg_lp_micronat
FROM j GROUP BY 1
"""

    # url_blocklist_filter: rules VALUES interpolate from BLOCK_RULES (one
    # Python constant); most-specific-wins replayed as a row_number over
    # (length DESC, rule) — equivalent to the engine's min-struct argmax
    _blk_values = ", ".join(f"('{r}')" for r in BLOCK_RULES)
    sql["url_blocklist_filter"] = f"""
WITH b(rule) AS (VALUES {_blk_values}),
u AS (
  SELECT 'http://' || {_blk_host_sql('doc_id')} || '/doc' ||
           CAST(doc_id AS STRING) || '.html' AS url,
         {_blk_host_sql('doc_id')} AS host
  FROM documents),
ls AS (SELECT url, host, string_split(host, '.') AS parts FROM u),
sfx AS (
  SELECT url,
         unnest(list_transform(range(1, len(parts) + 1),
                i -> array_to_string(list_slice(parts, CAST(i AS INT),
                                                len(parts)), '.'))) AS rule
  FROM ls),
hits AS (
  SELECT url, rule FROM (
    SELECT s.url, s.rule,
           ROW_NUMBER() OVER (PARTITION BY s.url
                              ORDER BY length(s.rule) DESC, s.rule) AS rk
    FROM sfx s JOIN b USING (rule)) WHERE rk = 1)
SELECT u.url, u.host, hits.rule IS NOT NULL AS blocked,
       hits.rule AS matched_rule
FROM u LEFT JOIN hits ON hits.url = u.url
"""

    # registrable_domain / domain_rollup: rules VALUES interpolate from
    # PSL_RULES; the PSL machinery is ONE shared block (candidate keys =
    # every suffix + its single-* variant; prevailing = exception first,
    # then most labels, row_number ≡ the engine's min-struct argmax)
    _psl_values = ", ".join(f"('{r}')" for r in PSL_RULES)
    _psl_core = f"""
pr(rule) AS (VALUES {_psl_values}),
ri AS (SELECT regexp_replace(rule, '^!', '') AS key, rule,
              rule LIKE '!%' AS is_exc,
              len(string_split(regexp_replace(rule, '^!', ''), '.'))
                AS n_labels
       FROM pr),
ls AS (SELECT host, string_split(host, '.') AS parts FROM h),
cand AS (
  SELECT host, unnest(list_transform(range(1, len(parts) + 1),
         i -> array_to_string(list_slice(parts, CAST(i AS INT), len(parts)),
                              '.'))) AS key
  FROM ls
  UNION ALL
  SELECT host, unnest(list_transform(range(1, len(parts)),
         i -> '*.' || array_to_string(
                list_slice(parts, CAST(i AS INT) + 1, len(parts)), '.')))
           AS key
  FROM ls),
win AS (
  SELECT host, rule, is_exc FROM (
    SELECT c.host, r.rule, r.is_exc,
           ROW_NUMBER() OVER (PARTITION BY c.host
                              ORDER BY r.is_exc DESC, r.n_labels DESC,
                                       r.rule) AS rk
    FROM cand c JOIN ri r USING (key)) WHERE rk = 1),
fin AS (
  SELECT ls.host, ls.parts, w.rule,
         COALESCE(w.is_exc, FALSE) AS is_exc,
         CASE WHEN w.rule IS NULL THEN 1
              ELSE len(string_split(regexp_replace(w.rule, '^!', ''), '.'))
                   - CASE WHEN w.is_exc THEN 1 ELSE 0 END END AS nps
  FROM ls LEFT JOIN win w ON w.host = ls.host),
dom AS (
  SELECT host,
         array_to_string(list_slice(parts, len(parts) - nps + 1,
                                    len(parts)), '.') AS public_suffix,
         CASE WHEN len(parts) > nps THEN
           array_to_string(list_slice(parts, len(parts) - nps, len(parts)),
                           '.') END AS registrable_domain,
         rule AS matched_rule, is_exc AS is_exception
  FROM fin)"""

    sql["registrable_domain"] = f"""
WITH h AS (SELECT DISTINCT {_psl_host_sql('doc_id')} AS host
           FROM documents),
{_psl_core}
SELECT host, public_suffix, registrable_domain, matched_rule, is_exception
FROM dom
"""

    sql["domain_rollup"] = f"""
WITH u AS (SELECT {_psl_host_sql('doc_id')} AS host FROM documents),
h AS (SELECT DISTINCT host FROM u),
{_psl_core}
SELECT COALESCE(dom.registrable_domain, dom.host) AS registrable_domain,
       CAST(COUNT(DISTINCT u.host) AS BIGINT) AS n_hosts,
       CAST(COUNT(*) AS BIGINT) AS n_urls
FROM u JOIN dom ON dom.host = u.host
GROUP BY 1
"""

    # bloom_dedup_fpr: k/m interpolate from the SK constants; positions are
    # the 4 independent 8-hex-char md5 chunks mod m on both engines
    _bl_k, _bl_m, _bl_mod = SK.BLOOM_SK_K, SK.BLOOM_SK_M, BLOOM_PROBE_MOD
    _bl_ps = (
        f"list_distinct(list_transform(range(0, {_bl_k}), "
        f"j -> CAST(('0x' || substr(md5(item), CAST(1 + j * 8 AS INT), 8)) "
        f"AS BIGINT) % {_bl_m}))"
    )
    sql["bloom_dedup_fpr"] = f"""
WITH c AS (SELECT DISTINCT md5(text) AS item FROM documents
           WHERE doc_id % {_bl_mod} <> 0 AND text IS NOT NULL),
p AS (SELECT DISTINCT md5(text) AS item FROM documents
      WHERE doc_id % {_bl_mod} = 0 AND text IS NOT NULL),
bloom AS (SELECT DISTINCT unnest({_bl_ps}) AS pos FROM c),
pp AS (SELECT item, {_bl_ps} AS ps FROM p),
ppos AS (SELECT item, len(ps) AS n_pos, unnest(ps) AS pos FROM pp),
hits AS (SELECT item, n_pos, COUNT(*) AS n_hit
         FROM ppos JOIN bloom USING (pos) GROUP BY 1, 2),
mem AS (
  SELECT p.item,
         COALESCE(hits.n_hit = hits.n_pos, FALSE) AS bloom_hit,
         EXISTS (SELECT 1 FROM c WHERE c.item = p.item) AS in_set
  FROM p LEFT JOIN hits ON hits.item = p.item),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
         CAST(SUM(CASE WHEN in_set THEN 1 ELSE 0 END) AS BIGINT) AS n_in_set,
         CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         CAST(SUM(CASE WHEN bloom_hit AND NOT in_set THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_pos,
         CAST(SUM(CASE WHEN in_set AND NOT bloom_hit THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_neg
  FROM mem)
SELECT *, CAST(1000000 * n_false_pos // greatest(n_probes - n_in_set, 1)
               AS BIGINT) AS fpr_ppm
FROM agg
"""

    # url_pattern_groups: the split regex, the hex/digit template rules,
    # and the trap threshold all interpolate from the urlpatterns
    # constants (DuckDB regexp_replace needs the explicit 'g' flag)
    sql["url_pattern_groups"] = f"""
WITH u AS (SELECT {_urlpat_url_sql('doc_id')} AS url FROM documents),
p AS (SELECT url,
        regexp_extract(url, '{UP.URL_SPLIT_RE}', 1) AS host,
        regexp_extract(url, '{UP.URL_SPLIT_RE}', 2) AS path,
        regexp_extract(url, '{UP.URL_SPLIT_RE}', 3) AS query
      FROM u),
t AS (SELECT url,
        host || regexp_replace(regexp_replace(path, '{UP.HEX_RUN_RE}',
                  '{{hex}}', 'g'), '{UP.NUM_RUN_RE}', '{{n}}', 'g')
          || CASE WHEN query <> '' THEN '?' || array_to_string(
               list_sort(list_transform(string_split(query, '&'),
                                        s -> split_part(s, '=', 1))), '&')
             ELSE '' END AS template,
        path || '?' || query AS instance
      FROM p)
SELECT template, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT instance) AS BIGINT) AS n_instances,
       MIN(url) AS sample_url,
       COUNT(*) >= {UP.TRAP_MIN_URLS} AS trap_candidate
FROM t GROUP BY 1
"""

    # host_mirror_pairs: cap/threshold constants interpolate from the TD
    # constants; the row_number cap replays the engine's deterministic
    # (digest, host) truncation exactly
    sql["host_mirror_pairs"] = f"""
WITH src AS (
  SELECT 'h' || CAST(doc_id % 8 AS STRING) || '.test' AS host, text
  FROM documents
  UNION ALL
  SELECT 'mirror.test', text FROM documents WHERE doc_id % 8 = 0
  UNION ALL
  SELECT 'partial.test', text FROM documents WHERE doc_id % 16 = 1
  UNION ALL
  SELECT 'h' || CAST(doc_id % 8 AS STRING) || '.test',
         'boilerplate-' || (CASE WHEN doc_id % 16 < 8 THEN '0' ELSE '1' END)
  FROM documents WHERE doc_id < 16),
hd AS (SELECT DISTINCT host, md5(text) AS digest FROM src
       WHERE text IS NOT NULL),
sizes AS (SELECT host, COUNT(*) AS sz FROM hd GROUP BY 1),
capped AS (SELECT host, digest FROM (
    SELECT host, digest,
           ROW_NUMBER() OVER (PARTITION BY digest ORDER BY host) AS rn
    FROM hd) WHERE rn <= {TD.MIRROR_HOST_CAP}),
pairs AS (
  SELECT x.host AS host_a, y.host AS host_b, COUNT(*) AS shared
  FROM capped x JOIN capped y ON x.digest = y.digest AND x.host < y.host
  GROUP BY 1, 2 HAVING COUNT(*) >= {TD.MIRROR_MIN_SHARED})
SELECT host_a, host_b, CAST(shared AS BIGINT) AS shared,
       CAST(a.sz AS BIGINT) AS size_a, CAST(b.sz AS BIGINT) AS size_b,
       CAST(1000 * shared // least(a.sz, b.sz) AS BIGINT)
         AS containment_permille,
       1000 * shared // least(a.sz, b.sz) >= {TD.MIRROR_MIN_PERMILLE}
         AS mirror
FROM pairs
JOIN sizes a ON a.host = pairs.host_a
JOIN sizes b ON b.host = pairs.host_b
"""

    # dedup_normalized: the normalization regexes interpolate from the TD
    # constants (same pattern text is valid Java regex and RE2; DuckDB
    # needs the explicit 'g' flag)
    sql["dedup_normalized"] = f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 40000, '  ' || upper(text) || ' !!!'
  FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT doc_id + 50000, text || ' extra tail words'
  FROM documents WHERE doc_id < 20),
n AS (
  SELECT doc_id AS id,
         trim(regexp_replace(regexp_replace(lower(text),
              '{TD.NORM_STRIP_RE}', ' ', 'g'), '{TD.NORM_WS_RE}', ' ', 'g'))
           AS norm
  FROM src WHERE text IS NOT NULL)
SELECT md5(norm) AS digest, CAST(MIN(id) AS BIGINT) AS keeper,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM n WHERE length(norm) > 0
GROUP BY 1 HAVING COUNT(*) > 1
"""

    # host_backoff: thresholds/base interpolate from the SNAP constants
    _bk_shift = " + ".join(
        f"(CASE WHEN 1000 * n_errors // n_fetches >= {t} THEN 1 ELSE 0 END)"
        for t in SNAP.BACKOFF_THRESHOLDS
    )
    sql["host_backoff"] = f"""
WITH log AS (
  SELECT 'h' || CAST(doc_id % 8 AS STRING) || '.test' AS host,
         {_BACKOFF_STATUS_SQL} AS status
  FROM documents),
agg AS (
  SELECT host, COUNT(*) AS n_fetches,
         SUM(CASE WHEN status = 429 OR status >= 500 THEN 1 ELSE 0 END)
           AS n_errors
  FROM log GROUP BY 1),
sh AS (SELECT *, {_bk_shift} AS shift FROM agg)
SELECT host, CAST(n_fetches AS BIGINT) AS n_fetches,
       CAST(n_errors AS BIGINT) AS n_errors,
       CAST(1000 * n_errors // n_fetches AS BIGINT) AS err_permille,
       CAST(shift AS BIGINT) AS backoff_shift,
       CAST(GREATEST(1, {SNAP.BACKOFF_BASE_BUDGET} // (1 << shift))
            AS BIGINT) AS budget
FROM sh
"""

    # politeness_backoff_topk: the backoff budgets replayed inline, then
    # a plain per-host top-budget — the hash match proves the engine's
    # salted selection under PER-HOST Column budgets cross-engine
    sql["politeness_backoff_topk"] = f"""
WITH log AS (
  SELECT 'h' || CAST(doc_id % 8 AS STRING) || '.test' AS host,
         {_BACKOFF_STATUS_SQL} AS status
  FROM documents),
agg AS (
  SELECT host, COUNT(*) AS n_fetches,
         SUM(CASE WHEN status = 429 OR status >= 500 THEN 1 ELSE 0 END)
           AS n_errors
  FROM log GROUP BY 1),
sh AS (SELECT host, {_bk_shift} AS shift FROM agg),
b AS (SELECT host,
             GREATEST(1, {SNAP.BACKOFF_BASE_BUDGET} // (1 << shift))
               AS budget
      FROM sh),
fr AS (SELECT 'h' || CAST(o_custkey % 8 AS STRING) || '.test' AS host,
              o_orderdate AS priority, o_orderkey AS seq
       FROM orders),
r AS (SELECT fr.host, fr.seq, b.budget,
             ROW_NUMBER() OVER (PARTITION BY fr.host
                                ORDER BY fr.priority, fr.seq) AS rn
      FROM fr JOIN b ON b.host = fr.host)
SELECT host, CAST(seq AS BIGINT) AS seq, CAST(rn AS BIGINT) AS rn,
       CAST(budget AS BIGINT) AS budget
FROM r WHERE rn <= budget
"""

    # cdc_dedup: replay the whole content-defined chain (tokenize →
    # hash-boundary detection → segment slicing → digest → rollup) with
    # DuckDB list lambdas; mod/min interpolate from the TD constants
    _cdc_end = (
        "(CASE WHEN k < len(starts) THEN starts[CAST(k AS INT) + 1] - 1 "
        "ELSE len(w) END)"
    )
    sql["cdc_dedup"] = f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 60000,
         'breaking update ' || CAST(doc_id AS STRING) || ': ' || text
  FROM documents WHERE doc_id < 30),
tok AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> length(x) > 0) AS w
  FROM src WHERE text IS NOT NULL),
st AS (
  SELECT id, w,
         list_sort(list_distinct(list_concat([CAST(1 AS BIGINT)],
           list_filter(range(1, len(w) + 1),
             i -> CAST(('0x' || substr(md5(w[CAST(i AS INT)]), 1, 8))
                       AS BIGINT) % {TD.CDC_MOD} = 0)))) AS starts
  FROM tok WHERE len(w) > 0),
segs AS (
  SELECT id, unnest(list_transform(range(1, len(starts) + 1),
    k -> struct_pack(
      seg_idx := k,
      n_words := {_cdc_end} - starts[CAST(k AS INT)] + 1,
      seg_text := array_to_string(
        list_slice(w, CAST(starts[CAST(k AS INT)] AS INT),
                   CAST({_cdc_end} AS INT)), ' ')))) AS s
  FROM st),
f AS (
  SELECT id, CAST(s.seg_idx AS BIGINT) AS seg_idx,
         CAST(s.n_words AS BIGINT) AS n_words, md5(s.seg_text) AS seg_digest
  FROM segs WHERE s.n_words >= {TD.CDC_MIN_WORDS})
SELECT seg_digest, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MAX(n_words) AS BIGINT) AS n_words,
       CAST((MIN(struct_pack(i := id, s := seg_idx))).i AS BIGINT)
         AS keeper_id,
       CAST((MIN(struct_pack(i := id, s := seg_idx))).s AS BIGINT)
         AS keeper_seg
FROM f GROUP BY 1 HAVING COUNT(DISTINCT id) > 1
"""

    # mixture_weights: the dedup-survivor rule (min doc_id per md5) and the
    # integer permille weights replayed exactly; denominators are window
    # sums over the |sources|-row rollup
    sql["mixture_weights"] = """
WITH d AS (
  SELECT doc_id, source,
         CAST(length(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
           AS n_tokens,
         md5(text) AS dg
  FROM documents),
surv AS (SELECT dg, MIN(doc_id) AS doc_id FROM d GROUP BY dg),
kept AS (SELECT d.* FROM d JOIN surv ON surv.dg = d.dg
         AND surv.doc_id = d.doc_id),
raw AS (SELECT source, COUNT(*) AS n_docs, SUM(n_tokens) AS tokens_raw
        FROM d GROUP BY 1),
ded AS (SELECT source, COUNT(*) AS n_docs_dedup,
               SUM(n_tokens) AS tokens_dedup
        FROM kept GROUP BY 1),
j AS (
  SELECT raw.source, raw.n_docs, raw.tokens_raw,
         COALESCE(ded.n_docs_dedup, 0) AS n_docs_dedup,
         COALESCE(ded.tokens_dedup, 0) AS tokens_dedup
  FROM raw LEFT JOIN ded USING (source))
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs_dedup AS BIGINT) AS n_docs_dedup,
       CAST(tokens_raw AS BIGINT) AS tokens_raw,
       CAST(tokens_dedup AS BIGINT) AS tokens_dedup,
       CAST(tokens_raw * 1000 // SUM(tokens_raw) OVER () AS BIGINT)
         AS weight_raw_permille,
       CAST(tokens_dedup * 1000 // SUM(tokens_dedup) OVER () AS BIGINT)
         AS weight_dedup_permille
FROM j
"""

    # decontaminate_semantic: the bench side restated from the same
    # DECON_SEM_MOD filter; cosine is the proven index-ordered fold
    _sem_cos = _duck_cos64("e.embedding", "b.embedding")
    sql["decontaminate_semantic"] = f"""
WITH b AS (
  SELECT vec_id AS bid, embedding FROM embeddings
  WHERE vec_id % {DECON_SEM_MOD} = 0),
p AS (
  SELECT e.vec_id AS id, b.bid, {_sem_cos} AS cos
  FROM embeddings e, b)
SELECT id AS vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
       CAST(MIN(bid) AS BIGINT) AS bench_min,
       ROUND(MAX(cos), 4) AS max_cos
FROM p WHERE cos >= {SIM.DECON_SEM_TAU}
GROUP BY id
"""

    # edu_classifier: the literal md5-derived weight vector and the
    # bucket constants interpolate from the SAME Python constants the
    # engine uses (edu_weights / EDU_SHIFT / EDU_WIDTH / EDU_KEEP_MIN)
    _edu_w = "[" + ", ".join(str(x) for x in SIM.edu_weights()) + "]"
    _edu_score = (
        f"CAST(list_sum(list_transform(range(1, 65), i -> "
        f"CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)"
        f" * ({_edu_w})[i])) AS BIGINT)"
    )
    sql["edu_classifier"] = f"""
WITH s AS (SELECT vec_id, {_edu_score} AS score FROM embeddings),
b AS (
  SELECT vec_id, score,
         CAST(least(5, greatest(0, score + {SIM.EDU_SHIFT})
                       // {SIM.EDU_WIDTH}) AS BIGINT) AS edu_score
  FROM s)
SELECT vec_id, score, edu_score,
       (edu_score >= {SIM.EDU_KEEP_MIN}) AS keep
FROM b
"""

    # focused_crawl_ranks: the same classifier chain, shaped into the
    # (url, rank) table the priority fold consumes
    sql["focused_crawl_ranks"] = f"""
WITH s AS (SELECT vec_id, {_edu_score} AS score FROM embeddings),
b AS (
  SELECT vec_id,
         CAST(least(5, greatest(0, score + {SIM.EDU_SHIFT})
                       // {SIM.EDU_WIDTH}) AS BIGINT) AS edu_score
  FROM s)
SELECT {SW.url_sql('vec_id')} AS url,
       CAST(edu_score * {EDU_RANK_SCALE} AS BIGINT) AS rank
FROM b
"""

    return sql


_ERR_CODES = [200, 301, 401, 404, 410, 500, 503, 530, 999]


FRAME_EVERY_MS = 5000
FRAME_DOCS = 50


def q_multimodal_frame_patches(spark, sf_dir):
    """The full multimodal frame pipeline: video metadata (digest fake —
    the oracle replays it, so ``real_mp4=False`` structurally) →
    ``sample_frame_indices`` work list → ``extract_frame_patches``
    frame-content stage (deterministic byte-window digest + byte sum per
    sampled frame; a deployment swaps the window read for a codec call).
    Closes the loop VERDICT r4 flagged: the work list now has a consumer.
    Both engine and oracle filter to byte==char documents so the DuckDB
    VARCHAR windowing provably equals the engine's byte windowing."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < FRAME_DOCS)
            & (F.octet_length("text") == F.length("text"))
        )
        .select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    )
    meta = MM.extract_video_meta(d, "doc_id", "blob", real_mp4=False)
    work = MM.sample_frame_indices(meta, every_ms=FRAME_EVERY_MS)
    return MM.extract_frame_patches(d, work, id_col="doc_id", blob_col="blob")


WARC_N_FILES = 16


def q_warc_roundtrip(spark, sf_dir):
    """WARC writer + parser as mutual inverses, proven distributed: build
    per-group ``.warc.gz`` file blobs from the documents table
    (``sources/warc.warc_file_blobs`` — the real writer's serializer, one
    gzip member per record), parse them back with the real record parser
    (``records_from_blobs`` — the stage behind ``read_warc_records``), and
    emit each response's identifying fields. The oracle never sees WARC:
    it recomputes url/ts/byte-length/digest straight from ``documents``,
    so a hash match proves serializer∘parser = identity on every document.
    ADAPT note: the reference has no archive interchange at all (its fetch
    edge is live ``WebRequest``, Crawler.cs:1919-2056); WARC is how the
    same corpus arrives at 100-TB scale (Common Crawl layout)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter("text is not null")
        .select(
            F.concat(
                F.lit("http://w"), (F.col("doc_id") % 16).cast("string"),
                F.lit(".example/doc/"), F.col("doc_id").cast("string"),
            ).alias("url"),
            F.concat(
                F.lit("2026-01-02T03:04:"),
                F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
                F.lit("Z"),
            ).alias("ts"),
            F.encode("text", "UTF-8").alias("payload"),
        )
    )
    blobs = WARC.warc_file_blobs(docs, n_files=WARC_N_FILES)
    recs = WARC.records_from_blobs(blobs, "file_id", "content")
    return recs.filter("record_type = 'response'").select(
        "url",
        "warc_ts",
        "content_length",
        F.md5("payload").alias("payload_md5"),
    )


REVISIT_TS = "2026-08-01T00:00:00Z"
REVISIT_PREV_TS = "2026-07-01T00:00:00Z"


def q_warc_revisit(spark, sf_dir):
    """WARC revisit layer (sources/warc.revisit_file_blobs, ISO 28500
    §6.7.2 identical-payload-digest — Common Crawl's dedup'd refetch
    records): the snapshot-diff scenario written as an archive. The
    previous capture's digest table joins today's fetches; unchanged
    pages serialize as payload-free ``revisit`` records, changed and
    first-seen pages as full responses; the generic parser reads the
    mixed archive back. The oracle is WARC-blind: it restates type /
    byte length / payload digest per url straight from the perturbation
    formulas (changed = d%{chg}=0, vanished = d%{del}=3, fresh = d <
    {new}). A hash match proves the classification AND
    serializer∘parser identity on the mixed record stream."""
    d = _t(spark, sf_dir, "documents").filter("text is not null")
    url = F.concat(
        F.lit("http://w"), (F.col("doc_id") % 16).cast("string"),
        F.lit(".example/doc/"), F.col("doc_id").cast("string"),
    )
    fresh_id = F.col("doc_id") + SNAP_NEW_OFS
    url_fresh = F.concat(
        F.lit("http://w"), (fresh_id % 16).cast("string"),
        F.lit(".example/doc/"), fresh_id.cast("string"),
    )
    prev = d.select(
        url.alias("url"),
        F.md5("text").alias("prev_digest"),
        F.lit(REVISIT_PREV_TS).alias("prev_ts"),
    )
    body = F.when(
        (F.col("doc_id") % SNAP_CHG_MOD) == 0,
        F.concat(F.col("text"), F.lit("v2")),
    ).otherwise(F.col("text"))
    cur = d.filter(f"doc_id % {SNAP_DEL_MOD} <> 3").select(
        url.alias("url"),
        F.lit(REVISIT_TS).alias("ts"),
        F.encode(body, "UTF-8").alias("payload"),
    )
    fresh = d.filter(f"doc_id < {SNAP_NEW_N}").select(
        url_fresh.alias("url"),
        F.lit(REVISIT_TS).alias("ts"),
        F.encode(F.concat(F.lit("fresh"), F.col("text")), "UTF-8").alias(
            "payload"
        ),
    )
    docs2 = cur.unionByName(fresh).join(prev, "url", "left")
    blobs = WARC.revisit_file_blobs(docs2, n_files=WARC_N_FILES)
    recs = WARC.records_from_blobs(blobs, "file_id", "content")
    return recs.filter("record_type <> 'warcinfo'").select(
        "url", "record_type", "warc_ts", "content_length",
        F.md5("payload").alias("payload_md5"),
    )


def q_wet_extract(spark, sf_dir):
    """WET extraction round trip (sources/warc.wet_file_blobs): the
    extracted-text layer of the Common Crawl format family (WARC
    responses + WET conversions + CDX index — this entry completes the
    trio). Pages' text serializes into ``conversion`` records (one gzip
    member each, WARC-Refers-To + text/plain headers), the generic record
    parser reads them back, and the oracle — WET-blind, like the WARC
    one — recomputes url/ts/length/digest straight from ``documents``:
    a hash match proves wet-serializer∘parser = identity on every page's
    extracted text."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter("text is not null")
        .select(
            F.concat(
                F.lit("http://w"), (F.col("doc_id") % 16).cast("string"),
                F.lit(".example/doc/"), F.col("doc_id").cast("string"),
            ).alias("url"),
            F.concat(
                F.lit("2026-01-02T03:04:"),
                F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
                F.lit("Z"),
            ).alias("ts"),
            "text",
        )
    )
    blobs = WARC.wet_file_blobs(docs, n_files=WARC_N_FILES)
    recs = WARC.records_from_blobs(blobs, "file_id", "content")
    return recs.filter("record_type = 'conversion'").select(
        "url",
        "warc_ts",
        "content_length",
        F.md5("payload").alias("payload_md5"),
    )


_WAT_META_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]
)


def _wat_meta_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-page WAT metadata: the REAL link-extraction kernel's hrefs in
    document order (the same scan the crawler runs), passed through with
    the page's identity fields."""
    for pdf in batches:
        lists = extract_links_batch(
            pdf["text"], pd.Series("html", index=pdf.index)
        )
        yield pd.DataFrame(
            {
                "url": pdf["url"],
                "ts": pdf["ts"],
                "title": pdf["title"],
                "content_length": pdf["content_length"],
                "links": [[h for h, _lt, _de in found] for found in lists],
            }
        )


_WAT_JSON_SCHEMA = T.StructType([T.StructField("Envelope", T.StructType([
    T.StructField("Format", T.StringType()),
    T.StructField("WARC-Header-Metadata", T.StructType([
        T.StructField("WARC-Type", T.StringType()),
        T.StructField("WARC-Target-URI", T.StringType()),
        T.StructField("WARC-Date", T.StringType()),
    ])),
    T.StructField("Payload-Metadata", T.StructType([
        T.StructField("Actual-Content-Length", T.LongType()),
        T.StructField("HTTP-Response-Metadata", T.StructType([
            T.StructField("HTML-Metadata", T.StructType([
                T.StructField("Head", T.StructType(
                    [T.StructField("Title", T.StringType())]
                )),
                T.StructField("Links", T.ArrayType(T.StructType([
                    T.StructField("path", T.StringType()),
                    T.StructField("url", T.StringType()),
                ]))),
            ])),
        ])),
    ])),
]))])


def q_wat_extract(spark, sf_dir):
    """WAT metadata round trip (sources/warc.wat_file_blobs): the JSON
    metadata layer that completes the Common Crawl format family (WARC
    responses + WAT metadata + WET conversions + CDX index). Each synth
    page's Title and kernel-extracted link list serialize into a
    ``metadata`` record's WAT envelope; the generic record parser reads
    the blobs back and ``from_json`` re-extracts every field from the
    envelope. The oracle is WAT-blind AND kernel-blind: it restates url /
    ts / byte-length / title / link count / link digest in CLOSED FORM
    from the synthetic-web generator formulas (sources/synth_web), so a
    hash match proves kernel-extract ∘ wat-serialize ∘ parse ∘
    json-extract equals the generating edge function on every page.
    ADAPT note: the reference scans links for crawling only
    (Backend/Crawler.cs link regexes); WAT is how that scan's output is
    published as a standalone metadata corpus at Common Crawl scale."""
    pages = SW.synth_pages(spark, sf_dir, 200).select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts"),
        F.regexp_extract("text", "<title>([^<]*)</title>", 1).alias("title"),
        F.length("html").cast("long").alias("content_length"),
        "text",
    )
    meta = pages.mapInPandas(_wat_meta_stage, _WAT_META_SCHEMA)
    blobs = WARC.wat_file_blobs(meta, n_files=WARC_N_FILES)
    recs = WARC.records_from_blobs(blobs, "file_id", "content")
    env = F.from_json(F.decode("payload", "UTF-8"), _WAT_JSON_SCHEMA)
    hm = env["Envelope"]["WARC-Header-Metadata"]
    pm = env["Envelope"]["Payload-Metadata"]
    html_meta = pm["HTTP-Response-Metadata"]["HTML-Metadata"]
    return recs.filter("record_type = 'metadata'").select(
        hm["WARC-Target-URI"].alias("url"),
        hm["WARC-Date"].alias("wat_ts"),
        pm["Actual-Content-Length"].alias("content_length"),
        html_meta["Head"]["Title"].alias("title"),
        F.size(html_meta["Links"]).cast("long").alias("n_links"),
        F.md5(
            F.concat_ws(
                "|", F.transform(html_meta["Links"], lambda x: x["url"])
            )
        ).alias("links_md5"),
    )


def _cdx_url_sql(d: str = "doc_id") -> str:
    """Deterministically *messy* absolute URL from a doc id — upper-cased
    scheme/host/path, sporadic ``WWW.`` label, explicit default and
    non-default ports, unsorted upper-cased query, fragment. Valid in both
    Spark SQL and DuckDB (the shared fixture; the SURT *key* is derived
    independently on each side)."""
    hid = SW.host_id_expr(d)
    return (
        f"('HTTP://' || (CASE WHEN ({d}) % 7 = 0 THEN 'WWW.' ELSE '' END)"
        f" || 'Sub' || CAST(({d}) % 3 AS STRING) || '.Site' || CAST({hid} AS STRING) || '.TEST'"
        f" || (CASE WHEN ({d}) % 5 = 0 THEN ':8080'"
        f"          WHEN ({d}) % 5 = 1 THEN ':80' ELSE '' END)"
        f" || (CASE WHEN ({d}) % 11 = 0 THEN ''"
        f"          ELSE '/Dir' || CAST(({d}) % 10 AS STRING) || '/Doc'"
        f"               || CAST({d} AS STRING) || '.Html' END)"
        f" || (CASE WHEN ({d}) % 9 = 0 THEN ''"
        f"          ELSE '?Z=' || CAST(({d}) % 4 AS STRING)"
        f"               || '&A=' || CAST(({d}) % 3 AS STRING) END)"
        f" || (CASE WHEN ({d}) % 2 = 0 THEN '#Frag' ELSE '' END))"
    )


def q_cdx_index(spark, sf_dir):
    """SURT/CDX archive index (kernels/surt.py) over deterministically
    messy URLs: one codegen projection parses, case-folds, www-strips,
    default-port-drops, query-sorts and fragment-strips each URL into its
    sort-friendly key, then emits the CDX record (key, 14-digit ts, url,
    mime, status, payload digest, length) globally sorted. The oracle never
    parses a URL — it states the expected key in CLOSED FORM from the id
    formula, so every canonicalization rule is end-to-end checked. ADAPT:
    the reference keeps only an in-memory seen hashtable
    (Crawler.cs:2301-2320); CDX is the archive-index layer a Common-Crawl
    scale corpus needs on top of the WARC edge (sources/warc.py)."""
    recs = (
        _t(spark, sf_dir, "documents")
        .filter("text is not null")
        .select(
            F.expr(_cdx_url_sql("doc_id")).alias("url"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=F.col("doc_id").cast("double"))
            ).alias("warc_ts"),
            F.encode("text", "UTF-8").alias("payload"),
        )
    )
    return SURT.cdx_index(recs)


def q_crawl_host_stats(spark, sf_dir):
    """Per-host crawl report — the reference's console ``stats`` command
    (Crawler/main.cs:161-174; live byte counters Crawler.cs:423-435)
    generalized to a per-host rollup over the committed fetch log: page
    count, transferred bytes, depth ceiling, fetch-order span. The oracle
    joins the unrolled trace CTE (sources/synth_web.trace_sql) against a
    full DuckDB reconstruction of every page's html from the generator
    formula, so the engine's ``bytes`` metric (decode stage,
    functions/crawl_udfs.py) is checked end-to-end, not just row counts."""
    c = _crawl(spark, sf_dir, 300)
    return c.fetched().groupBy("host").agg(
        F.count("*").alias("pages"),
        F.sum("bytes").alias("total_bytes"),
        F.max(F.col("depth").cast("long")).alias("max_depth"),
        F.min("fetch_seq").alias("first_seq"),
        F.max("fetch_seq").alias("last_seq"),
    )


def q_fatal_error_routing(spark, sf_dir):
    """IsFatalError taxonomy (kernels/errors.py; Crawler.cs:2121-2164) over a
    deterministic status assignment: ok / fatal / retry routing per url."""
    from .kernels.errors import FATAL_CODES

    codes_arr = "array(" + ", ".join(str(c) for c in _ERR_CODES) + ")"
    fatal_list = ", ".join(str(c) for c in sorted(FATAL_CODES))
    return (
        _t(spark, sf_dir, "documents")
        .filter("doc_id < 1000")
        .selectExpr(
            "doc_id AS id",
            f"element_at({codes_arr}, cast(doc_id % {len(_ERR_CODES)} as int) + 1) AS code",
        )
        .selectExpr(
            "id",
            "cast(code as bigint) AS code",
            f"(code <> 200 AND code IN ({fatal_list})) AS fatal",
            f"""case when code = 200 then 'ok'
                     when code IN ({fatal_list}) then 'fatal'
                     else 'retry' end AS action""",
        )
    )


def q_ngram_jaccard_lsh(spark, sf_dir):
    """Jaccard verification over the LSH candidate-pair table — the scale
    path (per-candidate cost) replacing consecutive-id demo pairing."""
    docs = _aug_docs(spark, sf_dir)
    pairs = TD.lsh_candidate_pairs(
        docs, bands=4, rows_per_band=2, k=5, max_bucket_size=1000,
        cache_key=f"aug:{sf_dir}",
    )
    return TD.ngram_jaccard_pairs(docs, k=3, pairs=pairs)


def q_embed_neardup_ann(spark, sf_dir):
    """Whole-corpus embedding near-dup via the k-means bucket join (the
    scale path replacing the n-bounded crossJoin baseline); shares the
    quantizer fit with ann_ivf_topk. 2-probe assignment: measured recall
    0.47 → 0.91 on the exact-baseline subset (see `neardup_recall`) for
    ~4x the candidate volume — still Σ bucket², never n²."""
    emb, ranked = _shared_quantizer(spark, sf_dir)
    return SIM.neardup_pairs_bucketed(
        emb, threshold=0.3, k_clusters=4, iters=2, ranked=ranked, probes=2
    )


# delta split for the incremental embedding near-dup: every 5th vector is
# "today's delta", the rest are "yesterday's corpus" (same constant drives
# the oracle SQL)
EMB_DELTA_MOD = 5
# recall measurement restricts the corpus side to ids below this so the
# exact delta×corpus baseline stays affordable (the delta is small by
# definition; a 100-TB corpus side is not)
INCR_RECALL_CORPUS_CAP = 400


def q_embed_neardup_incremental(spark, sf_dir):
    """Incremental embedding near-dup — the ANN sibling of
    `dedup_lsh_incremental`: the delta is quantized against the PERSISTED
    corpus quantizer (broadcast centroid join, no Lloyd re-fit) and probes
    the persisted corpus bucket assignments; corpus vectors are touched
    only to score surviving candidate ids. The fit+assignments pair is a
    fit-once materialization (kmeans_model_cached — in a deployment, two
    parquet/Iceberg tables written at ingest)."""
    emb = _t(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % EMB_DELTA_MOD == EMB_DELTA_MOD - 1
    corpus = emb.filter(~is_delta)
    delta = emb.filter(is_delta)
    cent, ranked = SIM.kmeans_model_cached(
        corpus, k_clusters=4, iters=2, cache_key=("emb-corpus", sf_dir)
    )
    return SIM.neardup_incremental(
        delta, ranked, cent, corpus, threshold=0.3, probes=2
    )


def q_embed_neardup_incr_recall(spark, sf_dir):
    """Recall of the incremental (persisted-model) near-dup path against
    the exact delta×corpus baseline on the corpus-id<CAP subset where the
    baseline is affordable — the incremental sibling of `neardup_recall`:
    the cross-bucket-miss trade a delta probing yesterday's quantizer
    accepts is MEASURED, not assumed. One row per probe count. The exact
    side (`neardup_pairs_cross`) shares none of the candidate machinery it
    grades."""
    emb = _t(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % EMB_DELTA_MOD == EMB_DELTA_MOD - 1
    corpus = emb.filter(~is_delta)
    delta = emb.filter(is_delta)
    cent, ranked = SIM.kmeans_model_cached(
        corpus, k_clusters=4, iters=2, cache_key=("emb-corpus", sf_dir)
    )
    exact = SIM.neardup_pairs_cross(
        delta, corpus.filter(F.col("vec_id") < INCR_RECALL_CORPUS_CAP),
        threshold=0.3,
    ).select("a", "b")
    out = None
    for p in (1, 2):
        ann = (
            SIM.neardup_incremental(
                delta, ranked, cent, corpus, threshold=0.3, probes=p
            )
            .filter(F.col("b") < INCR_RECALL_CORPUS_CAP)
            .select("a", "b")
            .withColumn("hit", F.lit(1))
        )
        r = (
            exact.join(ann, ["a", "b"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("hit").alias("n_found"),
                F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("recall"),
            )
            .withColumn("probes", F.lit(p).cast("long"))
        )
        out = r if out is None else out.unionByName(r)
    return out.select("probes", "n_exact", "n_found", "recall")


def q_redirect_resolve(spark, sf_dir):
    """Bounded redirect-chain resolution (operators/redirect.py) over a
    deterministic synthetic edge set derived from documents: 1-2 hop
    chains (id%5<2), dead targets (id%35==0), and one 2-cycle (333⇄444)
    that exceeds max_redirects=3."""
    from .operators.redirect import resolve_redirects

    ids = _t(spark, sf_dir, "documents").select("doc_id").filter("doc_id < 500")
    mk = "concat('http://h', cast(id % 7 as string), '.test/d', cast(id as string))"
    mk1 = ("concat('http://h', cast((id + 1) % 7 as string), '.test/d', "
           "cast(id + 1 as string))")
    pages = ids.selectExpr("doc_id as id").selectExpr(
        f"{mk} as url",
        f"""case
              when id = 444 then 'http://h4.test/d333'
              when id = 333 then 'http://h3.test/d444'
              when id % 35 = 0 then concat('http://dead.test/x', cast(id as string))
              when id % 5 < 2 then {mk1}
              else null
            end as redirect_to""",
    )
    return resolve_redirects(pages, max_redirects=3).select(
        "url", "final_url", F.col("hops").cast("long").alias("hops"), "exceeded"
    )


def q_hash_classifier(spark, sf_dir):
    """fastText-style hashed linear quality classifier
    (functions/textstats.hash_classifier_score): the CCNet/LLaMA/RefinedWeb
    quality-filter shape — score = sum of W[hash32(term) mod CLS_BUCKETS]
    with a deterministic md5-derived integer weight vector, keep the
    positive class. All-integer; hashing/lookup is map-side, the one
    exchange is the per-doc aggregate."""
    return TS.hash_classifier_score(_t(spark, sf_dir, "documents"))


def q_dsir_weights(spark, sf_dir):
    """DSIR importance resampling (functions/textstats.dsir_weights, Xie
    et al. 2023): hashed-unigram target/raw LMs (target = the corpus's own
    Gopher-clean subset), per-doc log-likelihood-ratio weight in integer
    micro-nats, deterministic top-k selection via TakeOrdered."""
    return TS.dsir_weights(_t(spark, sf_dir, "documents"))


def q_semdedup(spark, sf_dir):
    """SemDeDup (operators/similarity.semdedup, Abbas et al. 2023):
    semantic dedup inside the shared k-means quantizer's clusters — pairs
    over tau keep the member with the LOWEST centroid cosine. Centroid
    similarity is exact-integer quantized math; candidates come from the
    salted bucketed self-join, never all-pairs."""
    out = SIM.semdedup(
        _t(spark, sf_dir, "embeddings"), cache_key=("semdedup", sf_dir)
    )
    return out.withColumn("cid", F.col("cid").cast("long"))


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.pq_topk, Jégou et
    al. 2011): M per-subspace integer codebooks fitted FUSED in two Lloyd
    jobs, the corpus compressed to M codes per vector (8 B vs 256 B raw —
    the index that fits in memory at 100 TB), queries scored by ADC
    against a broadcast lookup table — corpus vectors are never read at
    query time. The fitted model (codebooks + code table) comes from the
    shared fit-once cache all three PQ entries consume."""
    return SIM.pq_topk(
        _t(spark, sf_dir, "embeddings"), cache_key=("pq", sf_dir)
    )


def q_ann_pq_rerank(spark, sf_dir):
    """The production PQ pipeline (operators/similarity.pq_topk_rerank):
    the byte-scale code index prunes the corpus to a constant-size ADC
    shortlist per query, then exact cosine re-ranks from raw vectors —
    raw vector reads are shortlist-bounded, never corpus-bounded."""
    return SIM.pq_topk_rerank(
        _t(spark, sf_dir, "embeddings"), cache_key=("pq", sf_dir)
    )


def q_ann_pq_recall(spark, sf_dir):
    """Recall@5 of BOTH PQ paths against the brute-force exact ground
    truth — one row per (query, path): 'adc' (code-only scoring, recall
    bounded by the 2-bit code resolution) and 'rerank' (exact-cosine
    shortlist rerank, recall bounded by the shortlist). The
    compression/recall trade measured, not asserted."""
    emb = _t(spark, sf_dir, "embeddings")
    bf = SIM.brute_force_topk(emb, n_queries=8, k=5).select(
        "query_id", "neighbor_id"
    )

    def _recall(found, path):
        f = found.select("query_id", "neighbor_id").withColumn(
            "hit", F.lit(1)
        )
        return (
            bf.join(f, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("hit").alias("hits"))
            .select(
                "query_id",
                F.lit(path).alias("path"),
                "hits",
                F.round(F.col("hits") / 5.0, 4).alias("recall_at_5"),
            )
        )

    return _recall(
        SIM.pq_topk(emb, cache_key=("pq", sf_dir)), "adc"
    ).unionByName(
        _recall(SIM.pq_topk_rerank(emb, cache_key=("pq", sf_dir)), "rerank")
    )


CURATION_TOPK = 150


def q_curation_pipeline(spark, sf_dir):
    """The LLaMA/RefinedWeb-style data-selection chain COMPOSED as one
    declarative job over the duplicate-injected corpus: exact dedup (keep
    the lowest id per md5 digest — min-agg + semi-join, no window on a
    hot digest), the hashed-linear-classifier gate (keep the positive
    class), then DSIR importance selection fitted on the gated survivors.
    Every stage is an already-oracle-proven operator; the composition
    stays three uniform-key exchanges + the DSIR passes — nothing
    collects, nothing refits twice."""
    docs = _aug_docs(spark, sf_dir)
    nn = docs.filter(F.col("text").isNotNull())
    keepers = (
        nn.groupBy(F.md5("text").alias("__d"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    dd = nn.join(keepers, "doc_id", "left_semi").unionByName(
        docs.filter(F.col("text").isNull())
    )
    gate = TS.hash_classifier_score(dd).filter("label").select("doc_id")
    gated = dd.join(gate, "doc_id")
    return TS.dsir_weights(gated, k=CURATION_TOPK)


def q_ann_pq_incremental(spark, sf_dir):
    """Incremental PQ (operators/similarity.pq_delta_topk) — the SIXTH
    member of the delta-vs-corpus family: today's delta vectors are
    quantized and ADC-scored against YESTERDAY'S persisted codebooks +
    code table (pq_model_cached fit on the corpus split only); the
    corpus's raw vectors and codes are never recomputed. Plan-guarded:
    the consumer starts from the ExistingRDD model tables."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % EMB_DELTA_MOD != EMB_DELTA_MOD - 1)
    delta = emb.filter(F.col("vec_id") % EMB_DELTA_MOD == EMB_DELTA_MOD - 1)
    _, cent, codes = SIM.pq_model_cached(
        corpus, cache_key=("pq-incr", sf_dir)
    )
    return SIM.pq_delta_topk(delta, cent, codes)


def q_bpe_learn(spark, sf_dir):
    """BPE tokenizer TRAINING (operators/bpe.bpe_learn, Sennrich et al.
    2016): learn the 8 most frequent adjacent-symbol merges from the
    corpus word-frequency table. One corpus pass (the checkpointed vocab);
    each iteration is a vocabulary-bounded pair aggregate + TakeOrdered
    argmax (checkpointed: plan stays linear in k) + 1-row broadcast merge
    fold — no merge decision round-trips through the driver as data.
    The fitted model is the shared fit-once cache (bpe_model_cached)
    both BPE entries consume."""
    return BPE.bpe_learn(
        _t(spark, sf_dir, "documents"), cache_key=("bpe", sf_dir)
    )


def q_bpe_vocab(spark, sf_dir):
    """The fitted tokenizer's symbol vocabulary (operators/bpe.bpe_vocab)
    — merges + vocab are the two persisted tokenizer artifacts. One
    vocabulary-bounded explode+aggregate over the fit-once cached model;
    the corpus is never re-read."""
    return BPE.bpe_vocab(
        _t(spark, sf_dir, "documents"), cache_key=("bpe", sf_dir)
    )


def q_bpe_encode(spark, sf_dir):
    """Per-document subword counts under the corpus-fitted BPE
    (operators/bpe.bpe_encode_stats): documents encode by joining their
    words to the learn's final encoded VOCABULARY on the uniform word key
    — the text is never re-folded per merge; the model comes from the
    shared fit-once cache."""
    return BPE.bpe_encode_stats(
        _t(spark, sf_dir, "documents"), cache_key=("bpe", sf_dir)
    )


KNN_K = 3          # k-NN graph degree (engine AND oracle)
SEM_TAU = 0.35     # mutual-edge cosine threshold (engine AND oracle; the
                   # synthetic corpus' knn cos tops out at ~0.51 — 0.35
                   # keeps ~26% of edges, so real multi-node clusters form)
TFIDF_K = 3        # tf-idf keyword profile depth (engine AND oracle)
TFIDF_MIN_LEN = 4  # tf-idf minimum term length (engine AND oracle)


def q_knn_graph(spark, sf_dir):
    """Full k-NN graph over the embedding corpus (operators/similarity
    .kmeans_ivf_topk with n_queries=None): every vector is a query, IVF
    candidates from the SHARED 2-probe quantizer, exact cosine, salted
    exact per-node top-k. The graph is the substrate for semantic
    clustering, SemDeDup pruning, and graph-based diversity sampling —
    and it is built without any all-pairs stage: candidate volume is
    Σ probed-bucket sizes, tuned by k_clusters as the corpus grows."""
    emb, knn = _shared_knn(spark, sf_dir)
    return knn.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"),
        "cos",
    )


def q_semantic_clusters(spark, sf_dir):
    """Semantic clusters = connected components of the MUTUAL k-NN graph
    at cosine >= SEM_TAU (operators/similarity.semantic_clusters). Reuses
    the shared quantizer, the salted top-k, and the dedup CC operator —
    the composed pipeline a cluster-balanced sampler runs. The oracle
    replays the quantizer, the k-NN ranking, the mutuality intersection,
    and the reachability closure in one recursive-CTE chain."""
    return _shared_clusters(spark, sf_dir)


def _shared_clusters(spark, sf_dir):
    """Cluster-once semantic clustering shared by semantic_clusters and
    cluster_balanced_sample (memoized per application+input in
    similarity.py; rides the shared kNN edge list, which rides the shared
    quantizer — the full fit-once chain)."""
    emb, knn = _shared_knn(spark, sf_dir)
    return SIM.semantic_clusters_cached(
        emb, k=KNN_K, tau=SEM_TAU, k_clusters=4, iters=2, probes=2,
        knn=knn, cache_key=("semc", sf_dir),
    )


CBS_CAP = 2      # per-semantic-cluster document cap (engine AND oracle)
SRP_TAU = 0.3    # SRP near-dup verification threshold (engine AND oracle)


def q_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced corpus sample (operators/similarity
    .cluster_balanced_sample): at most CBS_CAP documents per semantic
    cluster, chosen by deterministic hash order — the diversity sampler
    the mutual-kNN clustering exists to feed. Composes the shared
    quantizer → kNN graph → mutual-CC clusters → capped window → document
    join; the oracle replays the whole chain in one recursive-CTE query."""
    clusters = _shared_clusters(spark, sf_dir)
    sel = SIM.cluster_balanced_sample(clusters, cap=CBS_CAP)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "lang"
    )
    return sel.join(docs, "id").select(
        F.col("id").alias("doc_id"), "cluster_id", "rk", "lang"
    )


def q_srp_pairs(spark, sf_dir):
    """Sign-random-projection LSH near-dup pairs (operators/similarity
    .srp_pairs): banded 16-bit hyperplane codes (exact int64 projections
    over the shared x1000 quantization) propose candidates; exact cosine
    > SRP_TAU verifies. The data-independent ANN family — no fit pass,
    so new shards code themselves with the same literal hyperplanes."""
    return SIM.srp_pairs(_t(spark, sf_dir, "embeddings"), tau=SRP_TAU)


def q_srp_recall(spark, sf_dir):
    """Recall of the SRP-banded candidate path against the exact all-pairs
    baseline on the id<200 subset ("measure, don't guess" — the same
    contract the IVF and PQ families carry): one row with exact-pair
    count, SRP-found count, and recall."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = SIM.neardup_pairs(emb, n=200, threshold=SRP_TAU).select("a", "b")
    srp = (
        SIM.srp_pairs(emb, tau=SRP_TAU)
        .filter((F.col("a") < 200) & (F.col("b") < 200))
        .select("a", "b")
        .withColumn("hit", F.lit(1))
    )
    return exact.join(srp, ["a", "b"], "left").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("hit").alias("n_found"),
        F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("recall"),
    )


def q_srp_incremental(spark, sf_dir):
    """Delta-vs-corpus SRP near-dup (operators/similarity
    .srp_pairs_incremental) — the SEVENTH delta-vs-corpus incremental
    family member, and the one where incrementality is FREE: codes are
    data-independent (literal hyperplanes), so the delta codes itself
    with no model fit and the result provably equals the full recompute
    restricted to delta×corpus pairs. The corpus side is the persisted
    one-BIGINT-per-vector code table (srp_codes_cached), banded by pure
    shift/mask; corpus vectors join in only to verify survivors."""
    emb = _t(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % EMB_DELTA_MOD == EMB_DELTA_MOD - 1
    corpus = emb.filter(~is_delta)
    delta = emb.filter(is_delta)
    codes = SIM.srp_codes_cached(corpus, cache_key=("srp-corpus", sf_dir))
    return SIM.srp_pairs_incremental(delta, codes, corpus, tau=SRP_TAU)


KMV_SHINGLE_K = 8  # char-shingle width for the KMV item domain

def _distinct_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-once materialization of the per-source DISTINCT shingle-hash
    domain: kmv_vocab_est and hll_vocab_est each consume it twice
    (estimate + exact grading side), so without it the corpus explode+md5
    pass runs 4× per bench session."""
    d = _t(spark, sf_dir, "documents")
    return memo.fit_once(
        d, sf_dir, ("distinct_shingles", KMV_SHINGLE_K),
        lambda: d.select(
            F.col("source").alias("grp"),
            F.explode(
                F.expr(TD.shingle_hashes_sql("text", k=KMV_SHINGLE_K))
            ).alias("h"),
        ).distinct().localCheckpoint(eager=True),
    )


CMS_TOP_N = 10     # heavy hitters probed against the count-min grid
QHIST_QS = [500, 900, 990]  # quantiles graded by doclen_quantiles (permille)
CCNET_W = 200_000  # ccnet_buckets: micro-nat histogram bucket width
CCNET_B = 64       # ccnet_buckets: histogram buckets (≥ W·B clamps into last)
CCNET_QS = (333, 667)  # ccnet_buckets: head/middle/tail split points (permille)
WS_K = 5           # weighted-sample size per source
WS_SCALE = 1 << 20  # priority fixed-point scale (u·SCALE div weight)
LPA_ITERS = 3      # label-propagation iterations (fixed, deterministic)


VOCAB_GROWTH_STEP = 100   # doc-count thresholds: 100, 200, ... 500
VOCAB_GROWTH_MAX = 500


def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth curve — the corpus-sizing statistic a
    tokenizer/corpus plan reads (how fast does |V| grow with tokens?):
    for each doc-count prefix threshold, the distinct-term count, total
    token count, and integer type-token ratio. ONE corpus pass: each
    term contributes its FIRST document (min aggregate, vocabulary-
    bounded keys), each doc its token count; both histogram into
    threshold buckets and a 5-row cumulative window finishes — no
    per-threshold corpus rescans, no corpus-sized window."""
    d = _t(spark, sf_dir, "documents").filter(
        f"doc_id < {VOCAB_GROWTH_MAX} and text is not null"
    )
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
    ).filter("term <> ''")
    step = VOCAB_GROWTH_STEP
    bucket = lambda c: (F.floor(F.col(c) / step) + 1) * step  # noqa: E731
    first = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    v_hist = first.groupBy(bucket("fd").cast("long").alias("n_docs")).agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    t_hist = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nt"))
        .groupBy(bucket("doc_id").cast("long").alias("n_docs"))
        .agg(F.sum("nt").alias("bucket_tokens"))
    )
    w = Window.orderBy("n_docs").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        v_hist.join(t_hist, "n_docs", "full")
        .select(
            "n_docs",
            F.sum(F.coalesce("new_terms", F.lit(0))).over(w)
            .cast("long").alias("vocab_size"),
            F.sum(F.coalesce("bucket_tokens", F.lit(0))).over(w)
            .cast("long").alias("n_tokens"),
        )
    )
    return curve.select(
        "n_docs", "vocab_size", "n_tokens",
        F.expr("(vocab_size * 1000000) div n_tokens").alias("ttr_micro"),
    )


def q_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency fit — least-squares slope of ln(tf) against
    ln(rank) over the corpus vocabulary, in EXACT integers: each log
    rounds ONCE to milli-nats (the unigram_lm_score recipe; milli not
    micro so every sum-of-products stays far inside BIGINT), all moments
    are integer sums, and the closed-form slope/intercept divisions
    truncate in a pinned order both engines share. The ranking window is
    vocabulary-bounded (a real deployment caps to top-K terms first —
    topk_terms is that operator); one corpus pass feeds the tf
    aggregate."""
    d = _t(spark, sf_dir, "documents").filter("text is not null")
    tf = (
        d.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
        )
        .filter("term <> ''")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ranked = tf.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("term")))
    ).select(
        F.expr("CAST(ROUND(ln(rk) * 1000) AS BIGINT)").alias("x"),
        F.expr("CAST(ROUND(ln(tf) * 1000) AS BIGINT)").alias("y"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_terms"),
        F.expr(
            "((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)"
        ).alias("slope_micro"),
        F.expr(
            "(sy - (((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx))"
            " * sx div 1000000) div n"
        ).alias("intercept_milli"),
    )


def q_kmv_vocab_est(spark, sf_dir):
    """KMV distinct-count sketch (operators/sketches.kmv_distinct,
    Bar-Yossef et al. 2002) over each source's distinct 8-char shingle
    hashes, with the EXACT distinct count and the error in permille in
    the same row — the sketch is graded against truth inside the battery
    entry itself. At 100 TB the exact column is the one you can't
    afford; the sketch is k rows per group, mergeable across shards
    (distinct-hash domain, so "exact" here means distinct hashes — the
    collision-conflation both sides share by construction). The distinct
    hash domain is the fit-once _distinct_shingle_hashes materialization
    shared with hll_vocab_est — the corpus explode+md5 pass runs once per
    application, not twice per query."""
    sh = _distinct_shingle_hashes(spark, sf_dir)
    est = SK.kmv_estimate(
        SK.kmv_bottomk(sh, k=SK.KMV_K, pre_distinct=True), k=SK.KMV_K
    )
    exact = sh.groupBy("grp").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    return est.join(exact, "grp").select(
        F.col("grp").alias("source"),
        "est_distinct",
        "exact_distinct",
        F.expr(
            "cast(abs(est_distinct - exact_distinct) * 1000"
            " div exact_distinct as bigint)"
        ).alias("err_permille"),
    )


def q_cms_freq_est(spark, sf_dir):
    """Count-min frequency estimation (operators/sketches.cms_counters +
    cms_lookup, Cormode & Muthukrishnan 2005): the corpus collapses to a
    d×w counter grid in one codegen pass; the true top-CMS_TOP_N terms
    are then probed against the grid and reported with their true count
    and the (always >= 0) overestimate — heavy-hitter frequencies
    without a vocabulary table."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    counters = SK.cms_counters(toks)
    top = (
        toks.groupBy("term").agg(F.count(F.lit(1)).alias("true_tf"))
        .orderBy(F.desc("true_tf"), F.asc("term"))
        .limit(CMS_TOP_N)
    )
    est = SK.cms_lookup(counters, top.select("term"))
    return top.join(est, "term").select(
        "term",
        "true_tf",
        F.col("est_tf").cast("long").alias("est_tf"),
        (F.col("est_tf") - F.col("true_tf")).cast("long").alias("overest"),
    )


def q_hll_vocab_est(spark, sf_dir):
    """HyperLogLog distinct-count sketch (operators/sketches.hll_distinct,
    Flajolet et al. 2007) over the same per-source distinct-shingle-hash
    domain as ``kmv_vocab_est``, graded against exact truth in the same
    row. Where KMV persists k=64 hashes per group, HLL persists m=64
    2-byte registers and merges by cellwise MAX — the cheaper sketch to
    ship per ingest batch at 100 TB. All-integer estimator (common
    power-of-two denominator for the harmonic sum; alpha and the
    linear-counting ln table are shared Python constants), so both
    engines compute bit-identical estimates. Consumes the same fit-once
    _distinct_shingle_hashes materialization as kmv_vocab_est (HLL is
    duplicate-insensitive — max is idempotent — so the pre-distincted
    domain changes nothing but the row count it scans)."""
    sh = _distinct_shingle_hashes(spark, sf_dir)
    est = SK.hll_distinct(sh)
    exact = sh.groupBy("grp").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    return est.join(exact, "grp").select(
        F.col("grp").alias("source"),
        "est_distinct",
        "exact_distinct",
        F.expr(
            "cast(abs(est_distinct - exact_distinct) * 1000"
            " div exact_distinct as bigint)"
        ).alias("err_permille"),
    )


def q_doclen_quantiles(spark, sf_dir):
    """Quantile sketch over document token counts (operators/sketches
    .hist_counts + hist_quantiles): the corpus collapses to a ≤ HIST_B-row
    additive histogram in one pass; p50/p90/p99 estimates come from
    integer interpolation inside the crossing bucket and are graded
    against the exact order statistics in the same row. At 100 TB the
    exact column is the one you can't afford (a global sort); the sketch
    is B rows per shard, merged by cellwise sum."""
    d = _t(spark, sf_dir, "documents")
    vals = d.select(
        F.expr(r"size(split(lower(trim(text)), '\\s+'))")
        .cast("long").alias("v")
    )
    est = SK.hist_quantiles(SK.hist_counts(vals), QHIST_QS)
    byv = vals.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    cum = byv.select(
        "v",
        F.sum("cnt").over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    qs = spark.createDataFrame([(q,) for q in QHIST_QS], "q_permille int")
    exact = (
        qs.crossJoin(cum)
        .filter(F.expr("cum >= (q_permille * n + 999) div 1000"))
        .groupBy("q_permille")
        .agg(F.min("v").alias("exact"))
    )
    return est.join(exact, "q_permille").select(
        F.col("q_permille").cast("long").alias("q_permille"),
        F.col("est").alias("est_tokens"),
        F.col("exact").alias("exact_tokens"),
        (F.col("est") - F.col("exact")).cast("long").alias("err"),
    )


def q_ccnet_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.
    2020): per predicted language, split the corpus at the 333‰/667‰
    LM-score percentiles — "head" is the most-fluent third that CCNet
    keeps by default. The per-doc score is the negated average token
    log-probability in micro-nats (the corpus-fit unigram LM of
    ``unigram_lm_score``, so lower = more fluent), the language is the
    stopword-argmax of ``lang_id``, and — the 100-TB divergence from a
    literal CCNet port — the percentile thresholds come from the
    additive histogram sketch (``hist_counts``/``hist_quantiles`` with
    ``by=("pred_lang",)``), NOT an exact per-language sort: the corpus
    collapses map-side to ≤ |langs|·CCNET_B rows, the threshold windows
    run over the sketch only, and the bucket assignment is a map-side
    comparison after a uniform-key join of the |langs|·2-row threshold
    table (AQE broadcasts it). All-integer thresholds/compares, so the
    rollup is engine-exact. Output: one row per (pred_lang, bucket) with
    doc/token counts and the thresholds used."""
    d = _t(spark, sf_dir, "documents")
    lm = TS.unigram_lm_score(d)
    lang = TS.lang_id(d)
    scored = (
        lm.select(
            F.col("doc_id").alias("id"),
            "n_tokens",
            (-F.col("avg_lp_micronat")).alias("v"),
        )
        .join(lang, "id")
    )
    hist = SK.hist_counts(
        scored.select("pred_lang", "v"), w=CCNET_W, b=CCNET_B, by=("pred_lang",)
    )
    thr = SK.hist_quantiles(hist, list(CCNET_QS), w=CCNET_W, by=("pred_lang",))
    tw = thr.groupBy("pred_lang").agg(
        F.min(F.when(F.col("q_permille") == CCNET_QS[0], F.col("est"))).alias("t_head"),
        F.min(F.when(F.col("q_permille") == CCNET_QS[1], F.col("est"))).alias("t_mid"),
    )
    assigned = scored.join(tw, "pred_lang").select(
        "pred_lang", "n_tokens", "t_head", "t_mid",
        F.when(F.col("v") <= F.col("t_head"), F.lit("head"))
        .when(F.col("v") <= F.col("t_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return (
        assigned.groupBy("pred_lang", "bucket", "t_head", "t_mid")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "pred_lang", "bucket",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("t_head").cast("long").alias("t_head"),
            F.col("t_mid").cast("long").alias("t_mid"),
        )
    )


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Duffield,
    Lund & Thorup 2007 priority sampling): each doc gets priority
    u · SCALE div weight with u its md5-derived 32-bit hash and weight
    its size in chars; the WS_K smallest priorities per source are the
    sample — heavier docs draw smaller priorities, so inclusion odds
    scale with weight, yet the draw is replayable bit-exactly on any
    engine. 100-TB shape: per-group bottom-k via a rank window whose
    ``rk <= k`` predicate pushes map-side (WindowGroupLimit), and the
    sample itself is closed under merge (bottom-k of unioned shard
    bottom-k sets — same closure as the KMV sketch, unit-proven there)."""
    d = _t(spark, sf_dir, "documents")
    u = TD.HASH32.format(col="concat('ws:', cast(doc_id as string))")
    pr = d.select(
        "source", "doc_id",
        F.col("n_chars").alias("weight"),
        F.expr(f"({u}) * {WS_SCALE} div n_chars").alias("priority"),
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        pr.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= WS_K)
    )


def q_link_communities(spark, sf_dir):
    """Label propagation communities (Raghavan et al. 2007) over the
    symmetrized synthetic link graph — the graph-partitioning signal a
    100-TB crawl uses to co-locate politeness state and shard the
    frontier by community rather than by raw host hash. Synchronous LPA,
    LPA_ITERS fixed iterations, fully deterministic: a node adopts its
    neighbors' most frequent label, ties broken by MIN label (the
    min-struct argmax — no float, no randomness). Per iteration the plan
    is one uniform-key shuffle (groupBy src, label) plus the argmax agg;
    labels join back on the node key. Degrees are bounded by the
    generator closed-form, so no skew."""
    from .sources.synth_web import LINK_MULT, LINK_STEP

    n = 300
    docs = _t(spark, sf_dir, "documents").filter(f"doc_id < {n}").select("doc_id")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.expr(
                f"transform(sequence(0, 1 + cast(doc_id % 4 as int)), "
                f"k -> (doc_id * {LINK_MULT} + {LINK_STEP} * k + 1) % {n})"
            )
        ).alias("dst"),
    )
    labels = GR.label_propagation(
        GR.symmetrize(edges),
        docs.select(F.col("doc_id").alias("id")),
        iters=LPA_ITERS,
    )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("community")
    )


def q_tfidf_topk(spark, sf_dir):
    """Per-document tf-idf keyword profile (functions/textstats
    .tfidf_topk): top TFIDF_K terms per doc, idf in integer micro-nats
    (single-round recipe), score = tf · idf_micro in exact BIGINT."""
    return TS.tfidf_topk(
        _t(spark, sf_dir, "documents"), k=TFIDF_K, min_term_len=TFIDF_MIN_LEN
    )


def q_snapshot_overlap_kmv(spark, sf_dir):
    """KMV set-operation estimates between two crawl snapshots
    (operators/sketches.kmv_set_ops, Beyer et al. 2007): union size,
    intersection size, and Jaccard similarity of the two URL sets from
    the crawl_snapshot_diff scenario, each estimated from the k-row
    persisted sketches and graded against exact truth in the same row.
    At 100 TB this answers "how much of this month's crawl is new" from
    two 64-row tables — the exact full-outer URL join (crawl_snapshot_diff)
    is the pass you run AFTER the sketch says the overlap is worth it.
    Like kmv_vocab_est, "exact" means distinct URL hashes — the
    hash-collision conflation both engines share by construction."""
    d = _t(spark, sf_dir, "documents")
    url = F.expr(SW.url_sql("doc_id"))
    a_urls = d.select(url.alias("url"))
    b_urls = (
        d.filter((F.col("doc_id") % SNAP_DEL_MOD) != 3)
        .select(url.alias("url"))
        .unionByName(
            d.filter(F.col("doc_id") < SNAP_NEW_N).select(
                F.expr(SW.url_sql(f"doc_id + {SNAP_NEW_OFS}")).alias("url")
            )
        )
    )
    h = F.expr(TD.HASH32.format(col="url"))

    def _hashes(urls):
        return urls.select(F.lit("all").alias("grp"), h.alias("h")).distinct()

    ha, hb = _hashes(a_urls), _hashes(b_urls)
    est = SK.kmv_set_ops(SK.kmv_bottomk(ha), SK.kmv_bottomk(hb))
    exact = (
        ha.select("h", F.lit(1).alias("__a"))
        .join(hb.select("h", F.lit(1).alias("__b")), "h", "full_outer")
        .agg(
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(
                F.coalesce("__a", F.lit(0)) * F.coalesce("__b", F.lit(0))
            ).alias("exact_inter"),
        )
        .select(
            F.lit("all").alias("grp"),
            F.col("exact_union").cast("long").alias("exact_union"),
            F.col("exact_inter").cast("long").alias("exact_inter"),
            F.expr(
                "cast(exact_inter * 1000 div exact_union as bigint)"
            ).alias("exact_jaccard_permille"),
        )
    )
    return est.join(exact, "grp").select(
        "est_union", "exact_union", "est_inter", "exact_inter",
        "est_jaccard_permille", "exact_jaccard_permille",
        F.expr(
            "cast(abs(est_union - exact_union) * 1000 div exact_union as bigint)"
        ).alias("union_err_permille"),
    )


def _tmpl_text_sql(d: str) -> str:
    """Deterministic per-host templated text — ONE SQL string valid in
    both Spark SQL and DuckDB: two always-present template lines (nav +
    copyright), a unique body line, a ~1/3 'subscribe' line, and a ~1/2
    cross-host 'login' line that straddles the template flag threshold."""
    s = f"CAST({d} AS STRING)"
    nl = "chr(10)"
    return (
        f"'home | about | contact | ' || source"
        f" || {nl} || 'body ' || {s} || ' ' || substr(text, 1, 40)"
        f" || CASE WHEN {d} % 3 = 0 THEN {nl} ||"
        f" 'subscribe to the ' || source || ' newsletter' ELSE '' END"
        f" || CASE WHEN {d} % 2 = 0 THEN {nl} ||"
        f" 'login or register to comment' ELSE '' END"
        f" || {nl} || 'copyright ' || source || ' all rights reserved'"
    )


def q_host_template_lines(spark, sf_dir):
    """Per-host boilerplate template detection (functions/textstats
    .template_lines): lines present in >= TMPL_MIN_PERMILLE of a host's
    documents, flagged as template at TMPL_FLAG_PERMILLE — the per-host
    counterpart of corpus-wide paragraph_dedup (one site's nav menu and
    footer never reach training text; a sentence two sites share does).
    ``source`` stands in for the host key. Integer permille fractions,
    so both engines agree bit-exactly."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_tmpl_text_sql("doc_id")).alias("text")
    )
    return TS.template_lines(d).withColumnRenamed("grp", "source")


def q_host_template_clean(spark, sf_dir):
    """The cleaning consumer of host_template_lines (functions/textstats
    .strip_template_lines): remove each host's flagged template lines from
    its documents, order-preserving, with kept/stripped accounting — the
    pass that keeps one site's nav menu and footer out of training text.
    The template table is detected from the same corpus in the same job
    (detect → broadcast-ish join → strip is ONE logical plan)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_tmpl_text_sql("doc_id")).alias("text")
    )
    tmpl = TS.template_lines(d)
    return TS.strip_template_lines(d, tmpl)


# URL blocklist rules — ONE Python constant; engine table and oracle
# VALUES both interpolate from it (the LSH_STATS_CAP lesson). Includes a
# nested pair (site3.bad.test under bad.test) so most-specific-wins is
# exercised, not just asserted.
BLOCK_RULES = ["cdn.site3.test", "site5.test", "bad.test", "site3.bad.test"]


def _blk_host_sql(d: str) -> str:
    """Deterministic multi-label host per doc — ONE SQL string valid in
    both Spark SQL and DuckDB: www./cdn./apex subdomain variants plus a
    parent-domain class (siteK.bad.test) for suffix-rule matching."""
    k = f"CAST({d} % 20 AS STRING)"
    return (
        f"CASE CAST({d} % 4 AS INT)"
        f" WHEN 0 THEN 'www.site' || {k} || '.test'"
        f" WHEN 1 THEN 'cdn.site' || {k} || '.test'"
        f" WHEN 2 THEN 'site' || {k} || '.test'"
        f" ELSE 'site' || {k} || '.bad.test' END"
    )


def q_url_blocklist_filter(spark, sf_dir):
    """Domain blocklist gating (operators/blocklist.blocklist_filter,
    RefinedWeb §3.1): every URL judged against a rules table with
    subdomain semantics — a rule blocks the host and all its subdomains;
    the most specific (longest) matching rule is reported. The host mix
    exercises exact-host rules, parent-domain rules, and the nested-rule
    most-specific-wins case."""
    d = _t(spark, sf_dir, "documents")
    urls = d.select(
        F.concat(
            F.lit("http://"),
            F.expr(_blk_host_sql("doc_id")),
            F.lit("/doc"),
            F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url")
    )
    rules = spark.createDataFrame([(r,) for r in BLOCK_RULES], "rule string")
    return BLK.blocklist_filter(urls, rules)


# Public-suffix rules — ONE Python constant; engine table and oracle VALUES
# both interpolate from it. Covers every grammar branch: plain TLD rule,
# multi-label rule (co.test nests under test — most-labels-wins), a
# wildcard rule, and its exception.
PSL_RULES = ["test", "co.test", "*.wild.test", "!free.wild.test"]


def _psl_host_sql(d: str) -> str:
    """Deterministic host mix per doc — ONE SQL string valid in both Spark
    SQL and DuckDB — hitting every PSL branch: plain rule, nested
    multi-label rule, wildcard, exception (directly and via a subdomain),
    the implicit ``*`` rule (unknown TLD), and a host that IS a public
    suffix (NULL registrable domain)."""
    k = f"CAST({d} % 20 AS STRING)"
    return (
        f"CASE CAST({d} % 8 AS INT)"
        f" WHEN 0 THEN 'www.site' || {k} || '.test'"
        f" WHEN 1 THEN 'a.site' || {k} || '.co.test'"
        f" WHEN 2 THEN 'x' || {k} || '.w' || {k} || '.wild.test'"
        f" WHEN 3 THEN 'free.wild.test'"
        f" WHEN 4 THEN 'sub' || {k} || '.free.wild.test'"
        f" WHEN 5 THEN 'site' || {k} || '.unknown'"
        f" WHEN 6 THEN 'co.test'"
        f" ELSE 'w' || {k} || '.wild.test' END"
    )


def q_registrable_domain(spark, sf_dir):
    """Registrable-domain (eTLD+1) extraction under full Public-Suffix-List
    semantics (operators/psl.registrable_domains): wildcard rules,
    exception rules, most-labels-wins nesting, the implicit ``*`` rule,
    and public-suffix hosts — the grouping key real crawlers use for
    per-site politeness and rollups. One row per distinct host."""
    d = _t(spark, sf_dir, "documents")
    hosts = d.select(F.expr(_psl_host_sql("doc_id")).alias("host"))
    rules = spark.createDataFrame([(r,) for r in PSL_RULES], "rule string")
    return PSL.registrable_domains(hosts, rules)


def q_domain_rollup(spark, sf_dir):
    """Per-site URL rollup (operators/psl.domain_rollup): URLs grouped by
    the registrable domain that owns them — subdomain spray (x{k}.w{k}
    hosts under one wildcard PS, sub{k} hosts under one exception site)
    collapses to the site-level budget rows a politeness scheduler keys
    on; public-suffix hosts budget under their own name."""
    d = _t(spark, sf_dir, "documents")
    urls = d.select(
        F.concat(
            F.lit("http://"), F.expr(_psl_host_sql("doc_id")), F.lit("/d"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    rules = spark.createDataFrame([(r,) for r in PSL_RULES], "rule string")
    return PSL.domain_rollup(urls, rules)


BLOOM_PROBE_MOD = 4  # doc_id % 4 == 0 → probe split, rest → corpus


def q_bloom_dedup_fpr(spark, sf_dir):
    """Bloom-membership dedup with MEASURED false-positive rate
    (operators/sketches.bloom_build/bloom_probe): the corpus split's text
    digests build a deliberately tight filter (m=1024, k=4 — sized to
    yield a non-zero FPR worth measuring), the probe split tests
    membership, and exact truth (a digest join) grades every probe in the
    same row: hits, false positives, false negatives (provably zero), and
    integer FPR ppm. The battery-visible counterpart of the crawl's
    seen-set Bloom sidecar — the approximation is measured, not assumed."""
    d = _t(spark, sf_dir, "documents")
    corpus = (
        d.filter(F.col("doc_id") % BLOOM_PROBE_MOD != 0)
        .filter(F.col("text").isNotNull())
        .select(F.md5("text").alias("item"))
    )
    probes = (
        d.filter(F.col("doc_id") % BLOOM_PROBE_MOD == 0)
        .filter(F.col("text").isNotNull())
        .select(F.md5("text").alias("item"))
        .distinct()
    )
    mem = SK.bloom_probe(SK.bloom_build(corpus), probes)
    truth = corpus.distinct().withColumn("in_set", F.lit(True))
    j = mem.join(truth, "item", "left").select(
        "item", "bloom_hit", F.coalesce("in_set", F.lit(False)).alias("in_set")
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.col("in_set").cast("long")).cast("long").alias("n_in_set"),
        F.sum(F.col("bloom_hit").cast("long")).cast("long").alias("n_hits"),
        F.sum((F.col("bloom_hit") & ~F.col("in_set")).cast("long"))
        .cast("long").alias("n_false_pos"),
        F.sum((~F.col("bloom_hit") & F.col("in_set")).cast("long"))
        .cast("long").alias("n_false_neg"),
    ).select(
        "*",
        F.expr(
            "cast(1000000 * n_false_pos div "
            "greatest(n_probes - n_in_set, 1) as bigint)"
        ).alias("fpr_ppm"),
    )


def _urlpat_url_sql(d: str) -> str:
    """Deterministic URL mix per doc — ONE SQL string valid in both Spark
    SQL and DuckDB: per-host article pages, a single-host calendar trap
    with session+ref params, query-id pages, a static page, and a
    single-host hex-id trap."""
    h = f"'http://h' || CAST({d} % 8 AS STRING) || '.test'"
    return (
        f"CASE CAST({d} % 5 AS INT)"
        f" WHEN 0 THEN {h} || '/a/p' || CAST({d} AS STRING) || '.html'"
        f" WHEN 1 THEN 'http://trap.test/cal/' || CAST(2000 + {d} % 30 AS STRING)"
        f"  || '/' || CAST(1 + {d} % 12 AS STRING) || '/idx.html?sid=s'"
        f"  || CAST({d} AS STRING) || '&ref=r' || CAST({d} % 7 AS STRING)"
        f" WHEN 2 THEN {h} || '/item?id=' || CAST({d} AS STRING)"
        f" WHEN 3 THEN {h} || '/static/about.html'"
        f" ELSE 'http://trap.test/u/' || substr(md5(CAST({d} AS STRING)), 1, 16)"
        f" END"
    )


def q_url_pattern_groups(spark, sf_dir):
    """URL template mining (operators/urlpatterns.url_pattern_groups):
    URLs grouped by structural shape — path digit/hex runs normalized,
    query strings reduced to sorted param names — surfacing the
    mega-groups a crawler's trap caps (query_string_cap, depth caps)
    should be tuned from. The mix plants two single-host traps (calendar
    with session params, hex ids) among ordinary article/query/static
    shapes."""
    d = _t(spark, sf_dir, "documents")
    urls = d.select(F.expr(_urlpat_url_sql("doc_id")).alias("url"))
    return UP.url_pattern_groups(urls)


def q_host_mirror_pairs(spark, sf_dir):
    """Site-mirror detection (operators/textdedup.host_mirror_pairs):
    host pairs sharing ≥ MIRROR_MIN_SHARED content digests, containment
    in integer permille, flagged at MIRROR_MIN_PERMILLE — the signal for
    collapsing politeness budgets across a known mirror. The fixture
    plants a full mirror of h0 and a half-mirror of h1 among the 8 base
    hosts, plus two boilerplate pages shared by EVERY base host — the 28
    cross-host pairs they create sit far below the containment threshold
    (shared=2 vs host sizes), exercising the non-mirror branch the way
    web-wide boilerplate does in production."""
    d = _t(spark, sf_dir, "documents")
    host = "'h' || CAST(doc_id % 8 AS STRING) || '.test'"
    docs = (
        d.select(F.expr(host).alias("host"), "text")
        .unionByName(
            d.where("doc_id % 8 = 0").select(
                F.lit("mirror.test").alias("host"), "text"
            )
        )
        .unionByName(
            d.where("doc_id % 16 = 1").select(
                F.lit("partial.test").alias("host"), "text"
            )
        )
        .unionByName(
            d.where("doc_id < 16").select(
                F.expr(host).alias("host"),
                F.expr(
                    "'boilerplate-' || (CASE WHEN doc_id % 16 < 8 THEN '0' ELSE '1' END)"
                ).alias("text"),
            )
        )
    )
    return TD.host_mirror_pairs(docs)


def q_dedup_normalized(spark, sf_dir):
    """Fuzzy-exact dedup on normalized text (operators/textdedup
    .normalized_duplicates, the Dolma/CCNet preprocessing convention):
    case, punctuation, and whitespace differences no longer defeat exact
    dedup. The fixture plants re-cased/re-punctuated/re-spaced copies
    (must merge into their originals' groups) and genuinely edited
    copies (must NOT merge)."""
    d = _t(spark, sf_dir, "documents")
    docs = (
        d.select("doc_id", "text")
        .unionByName(
            d.where("doc_id < 40").select(
                (F.col("doc_id") + 40000).alias("doc_id"),
                F.expr("'  ' || upper(text) || ' !!!'").alias("text"),
            )
        )
        .unionByName(
            d.where("doc_id < 20").select(
                (F.col("doc_id") + 50000).alias("doc_id"),
                F.expr("text || ' extra tail words'").alias("text"),
            )
        )
    )
    return TD.normalized_duplicates(docs)


_BACKOFF_STATUS_SQL = (
    "CASE WHEN doc_id % 8 = 0 AND doc_id % 9 = 0 THEN 503"
    " WHEN doc_id % 8 = 1 AND doc_id % 9 < 3 THEN 429"
    " WHEN doc_id % 8 = 2 AND doc_id % 9 < 6 THEN 500"
    " WHEN doc_id % 8 = 3 AND doc_id % 9 = 5 THEN 404"
    " ELSE 200 END"
)


def q_host_backoff(spark, sf_dir):
    """Adaptive politeness backoff (operators/snapshot.host_backoff):
    per-host pushback rate (429/5xx — plain 4xx is NOT pushback) folds
    into a budget halved once per crossed threshold. The host mix plants
    ~11%/33%/67% error hosts (shift 1/2/3), a 404-only host (no
    throttle), and healthy hosts at the full base budget."""
    d = _t(spark, sf_dir, "documents")
    log = d.select(
        F.expr("'h' || CAST(doc_id % 8 AS STRING) || '.test'").alias("host"),
        F.expr(_BACKOFF_STATUS_SQL).cast("int").alias("status"),
    )
    return SNAP.host_backoff(log)


def q_cdc_dedup(spark, sf_dir):
    """Content-defined-chunking span dedup (operators/textdedup
    .cdc_duplicate_segments): segment boundaries open at words whose
    hash32 ≡ 0 (mod CDC_MOD), so boundaries follow CONTENT and an
    insertion re-segments only its neighborhood — the shift-robust
    counterpart of fixed-gram duplicate_spans. The fixture plants
    syndicated copies with doc-specific prefix insertions ('breaking
    update N: ...'); their interior segments must still match the
    originals'."""
    d = _t(spark, sf_dir, "documents")
    docs = d.select("doc_id", "text").unionByName(
        d.where("doc_id < 30").select(
            (F.col("doc_id") + 60000).alias("doc_id"),
            F.expr(
                "'breaking update ' || CAST(doc_id AS STRING) || ': ' || text"
            ).alias("text"),
        )
    )
    return TD.cdc_duplicate_segments(docs)


def q_sp_unigram_encode(spark, sf_dir):
    """The unigram tokenizer APPLIED (operators/sptok
    .unigram_encode_stats): per-document fertility under the learned
    vocabulary — words, chars, pieces, and pieces-per-100-words, the
    tokenizer-quality number a pipeline tracks per corpus slice. The
    Viterbi cost is paid once per DISTINCT word; documents join the
    per-word results on the uniform word key (no backpointer walk —
    n_pieces unpacks from the DP's final packed cell)."""
    from .operators import sptok as SPT

    return SPT.unigram_encode_stats(
        _t(spark, sf_dir, "documents")
    ).withColumnRenamed("id", "doc_id")


def q_sp_unigram_learn(spark, sf_dir):
    """Unigram-LM subword tokenizer, one EM round (operators/sptok
    .unigram_learn; Kudo 2018 — the SentencePiece 'unigram' model, the
    second tokenizer-family member next to BPE): substring candidates →
    integer micro-nat piece log-probs → per-word Viterbi segmentation as
    a packed-cost JVM array fold (cost·2²⁰ + n_pieces·2¹⁰ + backpointer;
    array_min over the packing IS the total-order tie-break) → piece
    re-count. The DuckDB oracle replays BOTH folds with list_reduce over
    the identical packed representation — segmentations are bit-equal
    across engines by construction."""
    from .operators import sptok as SPT

    return SPT.unigram_learn(_t(spark, sf_dir, "documents"))


def q_politeness_backoff_topk(spark, sf_dir):
    """The AIMD loop CLOSED into the scheduler (the rank-priority
    pattern applied to budgets): host_backoff's per-host budgets join
    the frontier and drive the ENGINE's actual selection code path
    (`plans.round.select_polite` — `budget` is a Column, the same
    per-host form crawl-delay budgets use) with the mega-host salt
    pre-prune ON. Healthy hosts fetch the full base budget; the
    planted 11%/33%/67%-error hosts are throttled to 32/16/8 rows —
    observed pushback tunes the next round's politeness, end to end."""
    from .plans.round import select_polite

    budgets = q_host_backoff(spark, sf_dir).select("host", "budget")
    fr = _t(spark, sf_dir, "orders").select(
        F.expr("'h' || CAST(o_custkey % 8 AS STRING) || '.test'").alias(
            "host"
        ),
        F.col("o_orderdate").alias("priority"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderkey").cast("string").alias("url_key"),
    )
    sel = select_polite(
        fr.join(budgets, "host"), F.col("budget"), salt_buckets=4,
        rank_col="rn",
    )
    return sel.select(
        "host", F.col("seq").cast("long").alias("seq"),
        F.col("rn").cast("long").alias("rn"),
        F.col("budget").cast("long").alias("budget"),
    )


BIGRAM_HOLDOUT_MOD = 5  # doc_id % 5 == 0 → held-out scoring split


def q_bigram_lm_score(spark, sf_dir):
    """Held-out bigram LM scoring with stupid backoff (functions/textstats
    .bigram_lm_score, Brants et al. 2007): fit bigram/unigram count tables
    on 4/5 of the corpus, score the held-out fifth per bigram position —
    bigram hit, unigram backoff, or OOV floor, counted per document.
    Single-rounding integer micro-nats (the unigram_lm_score recipe), so
    the scores are engine-exact."""
    d = _t(spark, sf_dir, "documents")
    return TS.bigram_lm_score(
        d.filter(F.col("doc_id") % BIGRAM_HOLDOUT_MOD != 0),
        d.filter(F.col("doc_id") % BIGRAM_HOLDOUT_MOD == 0),
    )


def q_mixture_weights(spark, sf_dir):
    """Training-mixture accounting (the table every run config starts
    from): per-source document/token counts and integer-permille mixture
    weights, BOTH raw and after exact dedup — the dedup-adjusted column is
    the one that matters, because duplicate-heavy sources shrink once the
    global exact-dedup survivor pass (operators/textdedup
    .exact_duplicates semantics: min doc_id per md5 digest) has run.
    100-TB shape: one token-count projection (zero exchange), a digest
    min-aggregate on the uniform md5 key, a semi-join of survivors, and
    two |sources|-row rollups; the permille denominators are global sums
    over the |sources|-row table, never a second corpus pass."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.expr(r"size(split(lower(trim(text)), '\\s+'))")
        .cast("long").alias("n_tokens"),
        F.md5("text").alias("__dg"),
    )
    surv = d.groupBy("__dg").agg(F.min("doc_id").alias("doc_id"))
    kept = d.join(surv, ["__dg", "doc_id"])  # semi: survivors only
    raw = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_raw"),
    )
    ded = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_dedup"),
        F.sum("n_tokens").alias("tokens_dedup"),
    )
    j = raw.join(ded, "source", "left").select(
        "source", "n_docs", "tokens_raw",
        F.coalesce("n_docs_dedup", F.lit(0)).alias("n_docs_dedup"),
        F.coalesce("tokens_dedup", F.lit(0)).alias("tokens_dedup"),
    )
    return j.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_docs_dedup").cast("long").alias("n_docs_dedup"),
        F.col("tokens_raw").cast("long").alias("tokens_raw"),
        F.col("tokens_dedup").cast("long").alias("tokens_dedup"),
        F.expr(
            "cast(tokens_raw * 1000 div sum(tokens_raw) over () as bigint)"
        ).alias("weight_raw_permille"),
        F.expr(
            "cast(tokens_dedup * 1000 div sum(tokens_dedup) over () as bigint)"
        ).alias("weight_dedup_permille"),
    )


def q_mixture_temperature(spark, sf_dir):
    """Temperature-smoothed mixture weights (T5 / mT5 / XLM-R's
    alpha-sampling): per-source sampling permilles at alpha = 1 (raw
    token share), alpha = 0.5 (sqrt smoothing — the common multilingual
    choice), and alpha = 0 (uniform) — the knob that keeps low-resource
    sources from vanishing in the mix. Integer-exact: the alpha = 0.5
    column uses floor(sqrt(tokens)) — IEEE sqrt is correctly rounded in
    both engines and token counts sit far below 2^52, so the floor is
    engine-identical; permilles are BIGINT truncating division over the
    |sources|-row rollup. 100-TB shape: one zero-exchange token
    projection, one uniform-key rollup, window sums over |sources| rows."""
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.expr(r"size(split(lower(trim(text)), '\\s+'))")
        .cast("long").alias("n_tokens"),
    )
    r = d.groupBy("source").agg(F.sum("n_tokens").alias("tokens_raw"))
    return r.select(
        "source",
        F.col("tokens_raw").cast("long").alias("tokens_raw"),
        F.expr(
            "cast(tokens_raw * 1000 div sum(tokens_raw) over () as bigint)"
        ).alias("w_a100_permille"),
        F.expr(
            "cast(floor(sqrt(cast(tokens_raw as double))) as bigint) * 1000 "
            "div sum(cast(floor(sqrt(cast(tokens_raw as double))) as bigint))"
            " over ()"
        ).cast("long").alias("w_a50_permille"),
        F.expr(
            "cast(1000 div count(1) over () as bigint)"
        ).alias("w_a0_permille"),
    )


QUERIES: dict[str, Callable] = {
    "crawl_reach_seen": q_crawl_reach_seen,
    "crawl_frontier_round1": q_crawl_frontier_round1,
    "crawl_bfs_trace": q_crawl_bfs_trace,
    "link_pagerank": q_link_pagerank,
    "link_hits": q_link_hits,
    "host_rank": q_host_rank,
    "host_rank_urls": q_host_rank_urls,
    "trust_rank": q_trust_rank,
    "trust_demotion": q_trust_demotion,
    "url_canonicalize": q_url_canonicalize,
    "link_extract": q_link_extract,
    "mime_infer": q_mime_infer,
    "server_mime_retype": q_server_mime_retype,
    "robots_filter": q_robots_filter,
    "robots_wildcard": q_robots_wildcard,
    "robots_parse": q_robots_parse,
    "sitemap_parse": q_sitemap_parse,
    "feed_parse": q_feed_parse,
    "url_discovery": q_url_discovery,
    "politeness_topk": q_politeness_topk,
    "politeness_topk_ranked": q_politeness_topk_ranked,
    "seen_antijoin": q_seen_antijoin,
    "min_depth_merge": q_min_depth_merge,
    "global_budget_limit": q_global_budget_limit,
    "query_string_cap": q_query_string_cap,
    "retry_union": q_retry_union,
    "pricing_summary": q_pricing_summary,
    "join_agg_revenue": q_join_agg_revenue,
    "window_running_sum": q_window_running_sum,
    "sessionize": q_sessionize,
    "event_tumbling_counts": q_event_tumbling_counts,
    "dedup_exact": q_dedup_exact,
    "paragraph_dedup": q_paragraph_dedup,
    "pii_scrub": q_pii_scrub,
    "decontaminate": q_decontaminate,
    "repetition_stats": q_repetition_stats,
    "shard_by_tokens": q_shard_by_tokens,
    "seeded_shuffle": q_seeded_shuffle,
    "gopher_filter": q_gopher_filter,
    "topk_terms": q_topk_terms,
    "lang_balanced_sample": q_lang_balanced_sample,
    "crawl_snapshot_diff": q_crawl_snapshot_diff,
    "recrawl_ranks": q_recrawl_ranks,
    "change_rate": q_change_rate,
    "unigram_lm_score": q_unigram_lm_score,
    "c4_clean": q_c4_clean,
    "chunk_by_tokens": q_chunk_by_tokens,
    "bm25_search": q_bm25_search,
    "phrase_search": q_phrase_search,
    "hybrid_search_rrf": q_hybrid_search_rrf,
    "dedup_keep_best": q_dedup_keep_best,
    "duplicate_spans": q_duplicate_spans,
    "inverted_index": q_inverted_index,
    "anchor_text_stats": q_anchor_text_stats,
    "host_quality_rollup": q_host_quality_rollup,
    "training_set_build": q_training_set_build,
    "strip_boilerplate": q_strip_boilerplate,
    "anchor_stats_incremental": q_anchor_stats_incremental,
    "url_alias_groups": q_url_alias_groups,
    "paragraph_dedup_incremental": q_paragraph_dedup_incremental,
    "dedup_minhash_sig": q_dedup_minhash_sig,
    "dedup_lsh_pairs": q_dedup_lsh_pairs,
    "lsh_bucket_stats": q_lsh_bucket_stats,
    "dedup_lsh_incremental": q_dedup_lsh_incremental,
    "dedup_exact_incremental": q_dedup_exact_incremental,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash": q_dedup_simhash,
    "simhash_hamming": q_simhash_hamming,
    "dedup_simhash_incremental": q_dedup_simhash_incremental,
    "ngram_jaccard": q_ngram_jaccard,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "corpus_split_stats": q_corpus_split_stats,
    "fingerprint": q_fingerprint,
    "corpus_clean_pipeline": q_corpus_clean_pipeline,
    "cosine_topk": q_cosine_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_recall": q_ann_recall,
    "neardup_recall": q_neardup_recall,
    "embed_neardup": q_embed_neardup,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_audio_meta": q_multimodal_audio_meta,
    "multimodal_video_meta": q_multimodal_video_meta,
    "multimodal_frame_patches": q_multimodal_frame_patches,
    "warc_roundtrip": q_warc_roundtrip,
    "warc_revisit": q_warc_revisit,
    "cdx_index": q_cdx_index,
    "crawl_host_stats": q_crawl_host_stats,
    "redirect_resolve": q_redirect_resolve,
    "fatal_error_routing": q_fatal_error_routing,
    "embed_neardup_ann": q_embed_neardup_ann,
    "embed_neardup_incremental": q_embed_neardup_incremental,
    "embed_neardup_incr_recall": q_embed_neardup_incr_recall,
    "ngram_jaccard_lsh": q_ngram_jaccard_lsh,
    "hash_classifier": q_hash_classifier,
    "dsir_weights": q_dsir_weights,
    "semdedup": q_semdedup,
    "bpe_learn": q_bpe_learn,
    "bpe_vocab": q_bpe_vocab,
    "bpe_encode": q_bpe_encode,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_pq_rerank": q_ann_pq_rerank,
    "ann_pq_recall": q_ann_pq_recall,
    "ann_pq_incremental": q_ann_pq_incremental,
    "curation_pipeline": q_curation_pipeline,
    "knn_graph": q_knn_graph,
    "semantic_clusters": q_semantic_clusters,
    "tfidf_topk": q_tfidf_topk,
    "cluster_balanced_sample": q_cluster_balanced_sample,
    "srp_pairs": q_srp_pairs,
    "srp_recall": q_srp_recall,
    "kmv_vocab_est": q_kmv_vocab_est,
    "vocab_growth": q_vocab_growth,
    "zipf_fit": q_zipf_fit,
    "hll_vocab_est": q_hll_vocab_est,
    "doclen_quantiles": q_doclen_quantiles,
    "ccnet_buckets": q_ccnet_buckets,
    "weighted_sample": q_weighted_sample,
    "link_communities": q_link_communities,
    "cms_freq_est": q_cms_freq_est,
    "srp_incremental": q_srp_incremental,
    "snapshot_overlap_kmv": q_snapshot_overlap_kmv,
    "host_template_lines": q_host_template_lines,
    "host_template_clean": q_host_template_clean,
    "bigram_lm_score": q_bigram_lm_score,
    "url_blocklist_filter": q_url_blocklist_filter,
    "mixture_weights": q_mixture_weights,
    "decontaminate_semantic": q_decontaminate_semantic,
    "edu_classifier": q_edu_classifier,
    "duplicate_span_strip": q_duplicate_span_strip,
    "wet_extract": q_wet_extract,
    "mixture_temperature": q_mixture_temperature,
    "wat_extract": q_wat_extract,
    "pack_sequences": q_pack_sequences,
    "pmi_collocations": q_pmi_collocations,
    "nofollow_gate": q_nofollow_gate,
    "rel_canonical": q_rel_canonical,
    "meta_refresh": q_meta_refresh,
    "pmi_incremental": q_pmi_incremental,
    "registrable_domain": q_registrable_domain,
    "domain_rollup": q_domain_rollup,
    "bloom_dedup_fpr": q_bloom_dedup_fpr,
    "url_pattern_groups": q_url_pattern_groups,
    "bm25_incremental": q_bm25_incremental,
    "host_mirror_pairs": q_host_mirror_pairs,
    "link_opic": q_link_opic,
    "dedup_normalized": q_dedup_normalized,
    "host_backoff": q_host_backoff,
    "cdc_dedup": q_cdc_dedup,
    "focused_crawl_ranks": q_focused_crawl_ranks,
    "cocitation": q_cocitation,
    "anchor_search": q_anchor_search,
    "sitemap_recrawl": q_sitemap_recrawl,
    "sp_unigram_learn": q_sp_unigram_learn,
    "sp_unigram_encode": q_sp_unigram_encode,
    "politeness_backoff_topk": q_politeness_backoff_topk,
}

ORACLE_SQL: dict[str, str] = _oracle_sql()
