"""Inter-crawl snapshot diff — the Common-Crawl-style "what changed since
the last crawl" pass over two URL→content-digest snapshots.

Web archives dedupe recrawls by content digest (CDX ``revisit`` records):
a URL fetched again with an unchanged digest is stored as a pointer, not a
copy. This operator computes that classification set-at-once for two crawl
snapshots — the batch analog of the reference engine's per-URL seen/update
decision (the seen set says *visited*; the digest says *changed*). Output
feeds recrawl scheduling (prioritize ``changed`` hosts) and incremental
training-corpus refresh (only ``new``/``changed`` rows re-enter the dedup
and quality pipeline).

100-TB shape: one full-outer sort-merge join on the URL key. URLs are
unique within a snapshot, so the key space is uniform by construction — no
skew, no hot key, nothing to salt. In a real deployment both snapshots are
Iceberg tables bucketed by ``bucket(N, url)``, making this a
storage-partitioned join with ZERO shuffle (PLANS.md documents the
environment gap); un-bucketed, both sides exchange once on the join key
and every downstream per-status consumer reuses that partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

NEW, DELETED, CHANGED, UNCHANGED = "new", "deleted", "changed", "unchanged"


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str = "url", digest_col: str = "digest"
) -> DataFrame:
    """Classify every URL across two crawl snapshots:
    ``(key, status, old_digest, new_digest)`` with status ∈ {new, deleted,
    changed, unchanged}. ``key`` must be unique per snapshot (a crawl
    visits a URL once); duplicate keys would cross-join within the key.
    """
    o = old.select(F.col(key), F.col(digest_col).alias("old_digest"))
    n = new.select(F.col(key), F.col(digest_col).alias("new_digest"))
    j = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit(NEW))
        .when(F.col("new_digest").isNull(), F.lit(DELETED))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit(UNCHANGED))
        .otherwise(F.lit(CHANGED))
    )
    return j.select(key, status.alias("status"), "old_digest", "new_digest")


def snapshot_diff_stats(diff: DataFrame) -> DataFrame:
    """Per-status rollup ``(status, n_urls)`` — the crawl-freshness report
    line (4-row aggregate; partial map-side combine, trivially scalable)."""
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n_urls"))


# change-rate scale: host rates are integer thousandths (exact in any engine)
RECRAWL_SCALE = 1000


# λ̂ in integer micro-units (ONE rounding point; the unigram_lm_score
# recipe) — SHARED verbatim between the engine (F.expr) and the DuckDB
# oracle so the float multiply/divide order is bit-identical. Expects
# columns n_obs, n_changes, span in scope. The estimator is Cho &
# Garcia-Molina 2003 ("Estimating frequency of change", §4.2): the
# bias-corrected r̂ = -ln((n - X + 0.5) / (n + 0.5)) per access, rescaled
# by n/span to a per-snapshot-interval rate when observations have gaps.
LAMBDA_MICRO_SQL = (
    "CAST(round((-ln((n_obs - n_changes + 0.5) / (n_obs + 0.5)))"
    " * n_obs / span * 1000000.0) AS BIGINT)"
)

# revisit interval in whole snapshots from the ALREADY-ROUNDED micro rate:
# integer-in, correctly-rounded IEEE divide, ceil — exact in any engine.
REVISIT_SQL = (
    "CASE WHEN lambda_micro > 0"
    " THEN CAST(ceil(1000000.0 / lambda_micro) AS BIGINT) END"
)


def change_rate_estimate(history: DataFrame) -> DataFrame:
    """Poisson change-rate estimation over an N-snapshot crawl history —
    the generalization of the two-snapshot ``snapshot_diff`` that adaptive
    recrawl scheduling actually needs (Cho & Garcia-Molina 2003).

    ``history`` is ``(url, snap, digest)`` — one row per observation of a
    URL in snapshot ``snap`` (an integer index; equally spaced crawls).
    Per URL: ``n_obs`` consecutive-observation pairs, ``n_changes`` pairs
    whose digest differs, ``span`` = last−first snapshot, and the
    bias-corrected rate ``λ̂ = -ln((n−X+0.5)/(n+0.5)) · n/span`` in
    integer micro-changes-per-snapshot (well-defined even at X=n, where
    the naive MLE diverges). ``revisit_snaps = ⌈1/λ̂⌉`` is the suggested
    recrawl interval; NULL for never-observed-to-change URLs (λ̂=0 —
    schedule at the crawl's maximum interval). URLs observed once have no
    pair evidence and are dropped.

    100-TB shape: ONE exchange on the uniform ``url`` key — the lag
    window and the per-url aggregate share the partitioning; everything
    after is a scalar projection. History tables are append-only crawl
    logs, so at real scale this runs over an Iceberg-bucketed table with
    the same zero-extra-shuffle property as snapshot_diff (PLANS.md).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("snap")
    pairs = history.select(
        "url",
        F.col("snap").cast("long").alias("snap"),
        "digest",
        F.lag("digest").over(w).alias("__prev"),
    )
    agg = (
        pairs.groupBy("url")
        .agg(
            F.count("__prev").alias("n_obs"),
            F.sum(
                F.when(
                    F.col("__prev").isNotNull()
                    & (F.col("digest") != F.col("__prev")),
                    1,
                ).otherwise(0)
            ).alias("n_changes"),
            (F.max("snap") - F.min("snap")).alias("span"),
        )
        .where(F.col("n_obs") > 0)
    )
    return agg.select(
        "url",
        "n_obs",
        "n_changes",
        "span",
        F.expr(LAMBDA_MICRO_SQL).alias("lambda_micro"),
    ).withColumn("revisit_snaps", F.expr(REVISIT_SQL))


def change_rate_ranks(est: DataFrame) -> DataFrame:
    """Turn :func:`change_rate_estimate` output into the ``(url, rank)``
    table the crawler's rank-weighted priority consumes
    (``functions/rankprio.fold_rank_priority`` / the crawl's ``ranks``)
    — the ADAPTIVE-recrawl loop closure, next to the two-snapshot
    ``recrawl_ranks``: urls with a higher estimated change rate are
    revisited sooner. ``rank = λ̂ in milli-changes-per-snapshot`` (integer
    div of the already-rounded micro rate — exact in any engine); the
    priority fold clamps to its RANK_SPAN downstream. Zero exchanges —
    a scalar projection of the estimate table."""
    return est.select(
        "url",
        F.expr(f"CAST(lambda_micro div {RECRAWL_SCALE} AS BIGINT)").alias(
            "rank"
        ),
    )


def recrawl_ranks(diff: DataFrame, scale: int = RECRAWL_SCALE) -> DataFrame:
    """Turn a snapshot diff into the ``(url, rank)`` table the crawler's
    rank-weighted priority consumes (``functions/rankprio.py`` /
    the crawl's ``ranks``) — the recrawl-scheduling loop: hosts that
    churn get revisited sooner next crawl.

    ``rank = host_rate + scale·[status = changed]`` where ``host_rate`` is
    the host's change rate in integer ``scale``-ths over its revisited
    (changed + unchanged) URLs — integer division, so any engine agrees
    bit-exactly. A URL whose own content changed outranks every
    rate-only URL (the strongest recrawl signal is the URL itself);
    ``new`` URLs carry the host rate alone; ``deleted`` URLs are dropped
    (nothing to recrawl). Hosts with no revisited URL (all-new) rank 0.

    100-TB shape: one narrow host projection, one per-host aggregate
    (partial map-side combine collapses a mega-host's URLs before the
    exchange — the shuffled row count is |hosts|), and one join back on
    the host key; the rank table is corpus-sized so the downstream
    priority fold never assumes broadcast.
    """
    host = F.regexp_extract("url", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1)
    d = diff.filter(F.col("status") != DELETED).select(
        "url", "status", host.alias("__host")
    )
    rates = d.groupBy("__host").agg(
        F.sum(F.when(F.col("status") == CHANGED, 1).otherwise(0)).alias("__chg"),
        F.sum(
            F.when(F.col("status").isin(CHANGED, UNCHANGED), 1).otherwise(0)
        ).alias("__rev"),
    )
    rate = F.when(
        F.col("__rev") > 0, F.expr(f"div(__chg * {int(scale)}, __rev)")
    ).otherwise(F.lit(0))
    return (
        d.join(rates, "__host")
        .select(
            "url",
            (
                rate
                + F.when(F.col("status") == CHANGED, F.lit(int(scale))).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("rank"),
        )
    )


# AIMD-style politeness backoff: error-rate thresholds (permille) that
# each halve the per-host budget once crossed. Server pushback =
# HTTP 429 or any 5xx; other 4xx are CLIENT errors and do not throttle.
BACKOFF_THRESHOLDS = (50, 200, 500)
BACKOFF_BASE_BUDGET = 64


def host_backoff(
    fetch_log: DataFrame,
    base_budget: int = BACKOFF_BASE_BUDGET,
    host_col: str = "host",
    status_col: str = "status",
) -> DataFrame:
    """Adaptive politeness from observed pushback — ``(host, n_fetches,
    n_errors, err_permille, backoff_shift, budget)``: the per-host
    connection budget for the NEXT crawl round, halved once per crossed
    error-rate threshold (multiplicative decrease; the budget recovers
    to ``base_budget`` as soon as the error rate does — additive
    recovery is the next round's remeasurement). This closes the loop
    the reference leaves to its operator: its
    ``max_connections_per_server`` is a static setting
    (Backend/Crawler.cs connection budgets); here the fetch log TUNES it
    per host. Output composes with the politeness scheduler's budget
    parameter the same way rank tables compose with priority.

    100-TB shape: one partial-combining aggregate on the uniform host
    key — a mega-host's fetch rows collapse map-side; the
    threshold-to-shift fold and the halving are per-row integer
    expressions. Zero joins, zero Python.
    """
    # NULL status (a row logged before any response) is not pushback;
    # the explicit coalesce also keeps n_errors 0 (not NULL) for a host
    # whose every status is NULL
    err = F.coalesce(
        (F.col(status_col) == 429) | (F.col(status_col) >= 500),
        F.lit(False),
    )
    agg = fetch_log.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum(err.cast("long")).alias("n_errors"),
    )
    permille = F.expr("1000 * n_errors div n_fetches")
    shift = sum(
        (permille >= t).cast("int") for t in BACKOFF_THRESHOLDS
    ).cast("long")
    return agg.select(
        "host",
        F.col("n_fetches").cast("long").alias("n_fetches"),
        F.col("n_errors").cast("long").alias("n_errors"),
        permille.cast("long").alias("err_permille"),
        shift.alias("backoff_shift"),
    ).withColumn(
        "budget",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"{base_budget} div shiftleft(1, cast(backoff_shift as int))")
            .cast("long"),
        ),
    )
