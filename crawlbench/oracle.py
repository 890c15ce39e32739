"""DuckDB correctness gate for the benchmark's crawls.

``synth_web.trace_sql`` and ``synth_web.reach_seen_sql`` fix the seed set to
the first ``n_seeds`` doc ids and the web to 32 hosts. The builders here take
any host count and any seed list: the seeds come from a ``seeds(id, seq)``
table, where ``seq`` is the seed's position in the crawler's seed list. At
``n_hosts=32`` and seeds ``0..n_seeds-1`` they compute exactly what the
synth_web builders compute (pinned by the benchmark's tests).

A crawl passes when its trace equals the oracle trace row for row (compared
by digest) and its final seen set equals BFS reachability from the seeds.
"""

from __future__ import annotations

import hashlib

from webcrawl_spark.sources.synth_web import (
    LINK_MULT,
    LINK_STEP,
    MAX_LINKS,
    N_HOSTS,
    host_id_expr,
)

TRACE_COLS = ["round", "fetch_seq", "url", "depth", "link_type"]


def _edges(n_docs: int, with_k: bool) -> str:
    k = "ks.k AS k, " if with_k else ""
    return (
        f"SELECT d.doc_id AS src, {k}"
        f"((d.doc_id * {LINK_MULT} + {LINK_STEP} * ks.k + 1) % {n_docs}) AS dst "
        f"FROM docs d CROSS JOIN (SELECT unnest(range(0, {MAX_LINKS})) AS k) ks "
        f"WHERE ks.k < 2 + (d.doc_id % 4)"
    )


def trace_sql(n_docs: int, budget: int, rounds: int, n_hosts: int = N_HOSTS,
              depth_limit: int = 50) -> str:
    """Crawl-trace oracle (round, fetch_seq, url, depth, link_type).

    The same per-round unrolling as ``synth_web.trace_sql`` (politeness
    top-``budget`` per host by seq, first-passing discovery order, seen-set
    dedup, min-depth merge), with the host count and the seed table as
    parameters. ``rounds`` may exceed the crawl's: extra rounds pick nothing.
    """
    host = host_id_expr("id", n_hosts)

    def m(name, body):
        return f"{name} AS MATERIALIZED ({body})"

    parts = [
        m("docs", f"SELECT doc_id FROM documents WHERE doc_id < {n_docs}"),
        m("edges", _edges(n_docs, with_k=True)),
        m("f0", "SELECT id, 0 AS depth, seq FROM seeds"),
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


def reach_seen_sql(n_docs: int, n_hosts: int = N_HOSTS) -> str:
    """Seen-set oracle: (host, url_key) of every doc reachable from ``seeds``."""
    return f"""
WITH RECURSIVE docs AS (SELECT doc_id FROM documents WHERE doc_id < {n_docs}),
edges AS ({_edges(n_docs, with_k=False)}),
reach(id) AS (
  SELECT id FROM seeds
  UNION
  SELECT e.dst FROM reach r JOIN edges e ON e.src = r.id
)
SELECT ('site' || CAST({host_id_expr('id', n_hosts)} AS VARCHAR) || '.test') AS host,
       ('/doc' || CAST(id AS VARCHAR) || '.html') AS url_key
FROM reach
ORDER BY host, url_key
"""


def connect(n_docs: int, seed_ids: list):
    """DuckDB connection holding ``documents`` (ids only) and ``seeds``."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": range(n_docs)}, dtype="int64"))
    con.register("seeds", pd.DataFrame(
        {"id": list(seed_ids), "seq": range(len(seed_ids))}, dtype="int64"
    ))
    return con


def digest(df, cols) -> str:
    """Order-sensitive sha256 of ``df[cols]`` rendered row by row."""
    h = hashlib.sha256()
    for row in df[cols].itertuples(index=False):
        h.update(("\x1f".join(map(str, row)) + "\n").encode())
    return h.hexdigest()


def check(trace, seen, n_docs: int, seed_ids: list, n_hosts: int, budget: int,
          depth_limit: int) -> list[str]:
    """Compare a crawl's trace and seen set (pandas) with the oracle.

    ``trace`` holds TRACE_COLS ordered by fetch_seq; ``seen`` holds
    (host, url_key). Returns the mismatches found, empty when the crawl
    is correct.
    """
    rounds = int(trace["round"].max()) + 2 if len(trace) else 1
    con = connect(n_docs, seed_ids)
    try:
        want = con.execute(
            trace_sql(n_docs, budget, rounds, n_hosts, depth_limit)
        ).df()
        want_seen = con.execute(reach_seen_sql(n_docs, n_hosts)).df()
    finally:
        con.close()
    problems = []
    got, exp = digest(trace, TRACE_COLS), digest(want, TRACE_COLS)
    if got != exp:
        problems.append(
            f"trace digest {got[:12]} != oracle {exp[:12]} "
            f"({len(trace)} vs {len(want)} rows)"
        )
    seen = seen.sort_values(["host", "url_key"])
    if digest(seen, ["host", "url_key"]) != digest(want_seen, ["host", "url_key"]):
        problems.append(f"seen set ({len(seen)} keys) != BFS reach "
                        f"({len(want_seen)} keys)")
    return problems
