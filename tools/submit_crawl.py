"""spark-submit entry point for the frontier engine (north_rule deployment:
``spark-submit --py-files webcrawl_spark.zip tools/submit_crawl.py ...``).

Example:

    cd /root/repo && zip -qr /tmp/webcrawl_spark.zip webcrawl_spark
    spark-submit --master local[8] --py-files /tmp/webcrawl_spark.zip \\
        tools/submit_crawl.py \\
        --pages /path/to/pages_parquet --seeds-file seeds.txt \\
        --state /path/to/state --max-rounds 100

Resumable: re-running with the same ``--state`` continues from the last
committed round.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    ap = argparse.ArgumentParser(description="webcrawl_spark frontier crawl")
    ap.add_argument("--pages", required=True, help="pages table (parquet path)")
    ap.add_argument("--seeds", nargs="*", default=[], help="seed URLs")
    ap.add_argument("--seeds-file", help="file with one seed URL per line")
    ap.add_argument("--state", required=True, help="checkpoint/state directory")
    ap.add_argument("--robots", help="robots rules parquet/csv (host, path_prefix, allow, crawl_delay)")
    ap.add_argument("--robots-raw", help="raw robots.txt bodies parquet (host, body) — parsed distributed via operators/robotsparse")
    ap.add_argument("--sitemaps", help="sitemap XML bodies parquet (host, body) — <url> locs become extra seeds (operators/sitemap)")
    ap.add_argument("--feeds", help="RSS/Atom feed bodies parquet (host, body) — item/entry locs become extra seeds (operators/feeds)")
    ap.add_argument("--user-agent", default="amwc", help="product token for robots group matching (default amwc)")
    ap.add_argument("--max-rounds", type=int, default=None)
    ap.add_argument("--max-connections", type=int, default=None)
    ap.add_argument("--per-host", type=int, default=2)
    ap.add_argument("--depth-limit", type=int, default=50)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--domain-nav", default="SameHostName",
                    choices=["SameHostName", "SameDomain", "SameTLD", "Everywhere"])
    ap.add_argument("--dir-nav", default="Down",
                    choices=["Same", "Up", "Down", "UpAndDown"])
    ap.add_argument("--no-bloom", action="store_true")
    ap.add_argument("--max-redirects", type=int, default=20)
    ap.add_argument("--max-retries", type=int, default=1)
    ap.add_argument("--post", nargs=2, action="append", default=[],
                    metavar=("URL", "DATA"),
                    help="POST resource to force-enqueue (repeatable)")
    ap.add_argument("--mime-override", nargs=2, action="append", default=[],
                    metavar=("EXT", "MIME"),
                    help="extension→MIME override; empty MIME removes (repeatable)")
    ap.add_argument("--reliable-checkpoints", action="store_true",
                    help="lineage cuts via DataFrame.checkpoint into the "
                         "state dir (survives executor loss on a cluster)")
    ap.add_argument("--ranks", help="ranks table (parquet path, columns "
                    "url + rank — e.g. a link_pagerank output); enables "
                    "rank-weighted frontier priority within the html/binary "
                    "class")
    ap.add_argument("--compact", action="store_true",
                    help="after the run, merge the per-round seen and "
                         "fetch_log delta dirs into one compacted "
                         "generation (state.compact) — bounds resume cost "
                         "for long crawls; crash-safe marker protocol")
    args = ap.parse_args(argv)

    seeds = list(args.seeds)
    if args.seeds_file:
        with open(args.seeds_file) as f:
            seeds += [line.strip() for line in f if line.strip()]
    if not seeds and not args.sitemaps and not args.feeds:
        ap.error("no seeds given (--seeds, --seeds-file, --sitemaps, or --feeds)")

    from pyspark.sql import SparkSession

    from webcrawl_spark.config import CrawlConfig
    from webcrawl_spark.plans.crawl import SparkCrawler

    spark = SparkSession.builder.appName("webcrawl-spark").getOrCreate()

    robots = None
    if args.robots:
        robots = spark.read.parquet(args.robots).toPandas() \
            if args.robots.endswith(".parquet") \
            else __import__("pandas").read_csv(args.robots)
    elif args.robots_raw:
        from webcrawl_spark.operators.robotsparse import parse_robots

        robots = parse_robots(
            spark.read.parquet(args.robots_raw), user_agent=args.user_agent
        ).toPandas()

    if args.sitemaps:
        from webcrawl_spark.operators.sitemap import parse_sitemaps

        sm = parse_sitemaps(spark.read.parquet(args.sitemaps))
        seeds += [r.loc for r in sm.where(sm.kind == "url").select("loc").collect()]

    if args.feeds:
        from webcrawl_spark.operators.feeds import parse_feeds

        fd = parse_feeds(spark.read.parquet(args.feeds))
        seeds += [r.loc for r in fd.select("loc").collect()]

    cfg = CrawlConfig(
        max_connections=args.max_connections,
        max_connections_per_server=args.per_host,
        depth_limit=args.depth_limit,
        num_partitions=args.partitions,
        domain_navigation=args.domain_nav,
        directory_navigation=args.dir_nav,
        bloom_min_seen=None if args.no_bloom else CrawlConfig.bloom_min_seen,
        max_redirects=args.max_redirects,
        max_retries=args.max_retries,
        post_seeds=tuple((u, d) for u, d in args.post),
        mime_overrides=tuple((e, m) for e, m in args.mime_override),
        reliable_checkpoints=args.reliable_checkpoints,
    )
    ranks = spark.read.parquet(args.ranks) if args.ranks else None
    crawler = SparkCrawler(
        spark, spark.read.parquet(args.pages), seeds, args.state, cfg, robots,
        ranks=ranks,
    )
    m = crawler.run(max_rounds=args.max_rounds)
    if args.compact:
        crawler.state.compact("seen", m.next_round)
        if m.next_round > 0:
            crawler.state.compact("fetch_log", m.next_round - 1)
        crawler.state.vacuum_frontier(m.next_round)
    print(json.dumps({
        "rounds": m.next_round,
        "urls_fetched_or_errored": m.next_fetch_seq,
        "urls_discovered": m.next_seq,
        "frontier_remaining": m.frontier_rows,
        "done": m.done,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
