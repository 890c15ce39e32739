"""Rank-weighted priority fold — the JVM expression the accept stage
(plans/round.py step 5c') applies, twin of the scalar
``config.rank_weighted_priority`` the oracle replays.

Reference semantics: EnqueueCore's HTML-first class ordering
(WebCrawl Backend/Crawler.cs:2507-2512) generalized to an
externally-computed signal (e.g. a ``link_pagerank`` output): the base
class still dominates (RANK_SPAN exceeds any clamped rank), rank orders
within a class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import RANK_SPAN


def fold_rank_priority(df: DataFrame, ranks: DataFrame) -> DataFrame:
    """Left-join ``ranks`` (url → rank) onto ``df`` and replace ``priority``
    with ``base * RANK_SPAN − clamp(rank, 0, RANK_SPAN−1)``; unranked urls
    fold rank 0. Uniform-key join on url — the ranks table is corpus-sized
    at scale so a broadcast is never assumed (AQE picks one when the table
    is actually small)."""
    return (
        df.join(
            ranks.select(
                F.col("url"), F.col("rank").cast("long").alias("__rank")
            ),
            "url", "left",
        )
        .withColumn(
            "priority",
            (
                F.col("priority").cast("long") * F.lit(RANK_SPAN)
                - F.least(
                    F.greatest(F.coalesce("__rank", F.lit(0)), F.lit(0)),
                    F.lit(RANK_SPAN - 1),
                )
            ).cast("int"),
        )
        .drop("__rank")
    )
