"""Deterministic Common-Crawl-style web synthesized from ``documents.parquet``.

Every page is a pure function of ``doc_id`` and the document count — the SAME
function is expressed twice: as Spark column expressions (:func:`synth_pages`)
and as DuckDB SQL snippets (:func:`edges_sql`, :func:`reach_seen_sql`), so
crawl results over the synthetic web have an exact ANSI-SQL oracle.

Graph shape:
- host(d)   = 0 if d % MEGA_MOD == 0 else d % N_HOSTS   (host 0 is a
  deliberate mega-host — ~23% of pages — exercising skew handling)
- url(d)    = http://site{host}.test/doc{d}.html
- nlinks(d) = 2 + d % 4
- target(d, k) = (d*31 + 7*k + 1) % n        for k in [0, nlinks)
- html(d)   = header + anchor tags for each target + the document text
- text      = the html string itself (utf-8 → decode is the identity)

The crawl's final seen-set over this web equals BFS reachability from the
seeds (politeness changes order, not membership), which a recursive CTE
computes exactly — the end-to-end crawl correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig

N_HOSTS = 32
MEGA_MOD = 5
LINK_MULT = 31
LINK_STEP = 7
MAX_LINKS = 6  # nlinks(d) in [2, 5]


def host_id_expr(d: str, n_hosts: int = N_HOSTS) -> str:
    return f"(CASE WHEN ({d}) % {MEGA_MOD} = 0 THEN 0 ELSE ({d}) % {n_hosts} END)"


def url_sql(d: str, n_hosts: int = N_HOSTS) -> str:
    """SQL building url(d) — valid in both Spark SQL and DuckDB."""
    return (
        f"('http://site' || CAST({host_id_expr(d, n_hosts)} AS STRING) || "
        f"'.test/doc' || CAST({d} AS STRING) || '.html')"
    )


def synth_pages(
    spark: SparkSession, sf_dir: str, n_docs: int | None = None, mult: int = 1,
    text_repeat: int = 1, n_hosts: int = N_HOSTS,
) -> DataFrame:
    """Pages table (url, warc_ts, html, text, lang) from documents.parquet.

    ``mult`` replicates the corpus deterministically (doc_id' = doc_id +
    r·n_base) so benchmarks can scale the web arbitrarily beyond the
    source table while links stay closed over the larger id space.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if n_docs is None:
        n_docs = docs.count()
    else:
        docs = docs.filter(F.col("doc_id") < n_docs)
    d = docs.select("doc_id", "text", "lang")
    if mult > 1:
        n_base = n_docs
        d = d.withColumn(
            "__r", F.explode(F.expr(f"sequence(0, {mult - 1})"))
        ).select(
            (F.col("doc_id") + F.col("__r") * n_base).alias("doc_id"),
            "text", "lang",
        )
        n_docs = n_base * mult
    url = F.expr(url_sql("doc_id", n_hosts))
    targets = F.expr(
        f"transform(sequence(0, cast(doc_id % 4 as int) + 1), "
        f"k -> (doc_id * {LINK_MULT} + {LINK_STEP} * k + 1) % {n_docs})"
    )
    links = F.expr(
        "concat_ws('', transform(__targets, t -> concat("
        f"'<a href=\"', {url_sql('t', n_hosts)}, '\">t</a>')))"
    )
    body_text = (
        F.col("text") if text_repeat <= 1
        else F.concat_ws(" ", *[F.col("text")] * text_repeat)
    )
    html_str = F.concat(
        F.lit("<html><head><title>doc"),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body>"),
        F.col("__links"),
        F.lit("<p>"),
        body_text,
        F.lit("</p></body></html>"),
    )
    return (
        d.withColumn("__targets", targets)
        .withColumn("__links", links)
        .withColumn("url", url)
        .withColumn("__html_str", html_str)
        .select(
            "url",
            (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
             + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
            F.encode("__html_str", "UTF-8").alias("html"),
            F.col("__html_str").alias("text"),
            "lang",
        )
    )


def seed_urls(n_seeds: int = 4, n_hosts: int = N_HOSTS) -> list:
    def host(d):
        return 0 if d % MEGA_MOD == 0 else d % n_hosts

    return [f"http://site{host(d)}.test/doc{d}.html" for d in range(n_seeds)]


def crawl_config(**overrides) -> CrawlConfig:
    """Config for the synthetic web: open scope, politeness per host."""
    base = dict(
        domain_navigation="Everywhere",
        directory_navigation="UpAndDown",
        max_connections=None,
        max_connections_per_server=8,
        depth_limit=50,
        salt_buckets=4,
        max_query_strings_per_file=None,  # synth web has no query strings
    )
    base.update(overrides)
    return CrawlConfig(**base)


# ---------------------------------------------------------------- SQL oracle

def edges_sql(n_docs: int) -> str:
    """CTE body: the link graph (src, dst) — DuckDB."""
    return f"""
docs AS (SELECT doc_id FROM documents WHERE doc_id < {n_docs}),
ks AS (SELECT unnest(range(0, {MAX_LINKS})) AS k),
edges AS (
  SELECT d.doc_id AS src,
         ((d.doc_id * {LINK_MULT} + {LINK_STEP} * ks.k + 1) % {n_docs}) AS dst
  FROM docs d CROSS JOIN ks
  WHERE ks.k < 2 + (d.doc_id % 4)
)"""


def trace_sql(n_docs: int, n_seeds: int = 4, budget: int = 8,
              rounds: int = 12, depth_limit: int = 50) -> str:
    """FULL crawl-trace oracle: (round, fetch_seq, url, depth, link_type).

    The synthetic-web crawl reduces to a politeness-scheduled BFS with a
    total order (uniform priority, no retries/redirects/caps, every URL
    present), so the whole engine loop — per-host top-``budget`` selection
    by seq (MaxConnectionsPerServer, Crawler.cs:533-548), in-order
    fetch_seq assignment, first-passing discovery ordering by (parent
    fetch position, link position) (EnqueueCore, Crawler.cs:2507-2512),
    seen-set dedup (Service.Enqueue, Crawler.cs:2301-2320) and min-depth
    merge into still-queued entries (Crawler.cs:2303-2307) — unrolls into
    ``rounds`` static per-round CTE blocks DuckDB evaluates exactly.
    Over-unrolling is safe (a drained frontier yields empty picks); CTEs
    are MATERIALIZED because each round references the previous twice,
    which would otherwise inline exponentially.
    """
    host = host_id_expr("id")

    def m(name, body):
        return f"{name} AS MATERIALIZED ({body})"

    parts = [
        m("docs", f"SELECT doc_id FROM documents WHERE doc_id < {n_docs}"),
        m("edges",
          f"SELECT d.doc_id AS src, ks.k AS k, "
          f"((d.doc_id * {LINK_MULT} + {LINK_STEP} * ks.k + 1) % {n_docs}) AS dst "
          f"FROM docs d CROSS JOIN (SELECT unnest(range(0, {MAX_LINKS})) AS k) ks "
          f"WHERE ks.k < 2 + (d.doc_id % 4)"),
        m("f0", f"SELECT doc_id AS id, 0 AS depth, doc_id AS seq "
                f"FROM docs WHERE doc_id < {n_seeds}"),
        m("seen0", "SELECT id FROM f0"),
    ]
    for r in range(rounds):
        parts += [
            m(f"pick{r}",
              f"SELECT id, depth, seq FROM ("
              f"SELECT id, depth, seq, "
              f"row_number() OVER (PARTITION BY {host} ORDER BY seq) AS rn "
              f"FROM f{r}) WHERE rn <= {budget}"),
            m(f"disc{r}",
              f"SELECT e.dst AS id, p.depth + 1 AS depth, p.seq AS pseq, e.k AS k "
              f"FROM pick{r} p JOIN edges e ON e.src = p.id "
              f"WHERE p.depth + 1 <= {depth_limit}"),
            # first-passing discovery per new key: position = (parent seq,
            # link index) — parent fetch order within a round IS seq order,
            # so this is the engine's (pos_f, pos_o); depth = min over the
            # round's discoveries of the key
            m(f"newseq{r}",
              f"SELECT id, depth, "
              f"(SELECT count(*) FROM seen{r}) "
              f"+ row_number() OVER (ORDER BY posk) - 1 AS seq FROM ("
              f"SELECT d.id, min(d.depth) AS depth, "
              f"min(d.pseq * 1000000 + d.k) AS posk "
              f"FROM disc{r} d ANTI JOIN seen{r} s ON s.id = d.id "
              f"GROUP BY d.id)"),
            m(f"f{r + 1}",
              f"SELECT c.id, least(c.depth, coalesce(m.md, c.depth)) AS depth, "
              f"c.seq FROM ("
              f"SELECT f.* FROM f{r} f ANTI JOIN pick{r} p ON p.seq = f.seq) c "
              f"LEFT JOIN (SELECT id, min(depth) AS md FROM disc{r} "
              f"GROUP BY id) m ON m.id = c.id "
              f"UNION ALL SELECT id, depth, seq FROM newseq{r}"),
            m(f"seen{r + 1}",
              f"SELECT id FROM seen{r} UNION ALL SELECT id FROM newseq{r}"),
        ]
    union = " UNION ALL ".join(
        f"SELECT {r} AS round, id, depth, seq FROM pick{r}" for r in range(rounds)
    )
    return f"""
WITH {",".join(parts)},
trace AS ({union})
SELECT CAST(round AS BIGINT) AS round,
       CAST(row_number() OVER (ORDER BY round, seq) - 1 AS BIGINT) AS fetch_seq,
       ('http://site' || CAST({host} AS VARCHAR) || '.test/doc'
        || CAST(id AS VARCHAR) || '.html') AS url,
       CAST(depth AS BIGINT) AS depth,
       'link' AS link_type
FROM trace ORDER BY fetch_seq
"""


def reach_seen_sql(n_docs: int, n_seeds: int = 4) -> str:
    """Seen-set membership oracle: BFS reachability from the seeds.

    Returns (host, url_key) for every reachable doc — must equal the
    engine's final seen set (politeness + rounds affect order only).
    """
    return f"""
WITH RECURSIVE {edges_sql(n_docs)},
reach(id) AS (
  SELECT doc_id FROM docs WHERE doc_id < {n_seeds}
  UNION
  SELECT e.dst FROM reach r JOIN edges e ON e.src = r.id
)
SELECT ('site' || CAST({host_id_expr('id')} AS VARCHAR) || '.test') AS host,
       ('/doc' || CAST(id AS VARCHAR) || '.html') AS url_key
FROM reach
ORDER BY host, url_key
"""
