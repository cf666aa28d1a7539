"""spark-submit entry point for the crawl engine (north_rule deployment).

Cluster:

    spark-submit --py-files "$(python -c 'from \
xrpl_rich_list_py_crawler_spark.deploy import build_pyfiles_zip as b; \
print(b())')" scripts/run_crawl.py \
        --pages s3://bucket/pages --robots s3://bucket/robots \
        --seeds s3://bucket/seeds --catalog s3://bucket/run1 --rounds 10

Local smoke (no cluster needed):

    PYTHONPATH=. python scripts/run_crawl.py --fixtures sf0.001 \
        --catalog /tmp/run1 --rounds 3

``--http`` switches the fetch stage from the corpus equi join to the live
host-partitioned mapInPandas fetcher (sources/http_fetch.py, stdlib
urllib transport) — only meaningful when the frontier URLs are actually
reachable from the executors.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--fixtures", metavar="SF",
                     help="generate/use the synthetic corpus at this scale "
                          "(e.g. sf0.001) instead of --pages/--robots/--seeds")
    src.add_argument("--pages", help="pages parquet path (url, warc_ts, "
                                     "html, text, lang)")
    ap.add_argument("--robots", help="robots dimension parquet path")
    ap.add_argument("--seeds", help="seed list parquet path")
    ap.add_argument("--catalog", required=True,
                    help="snapshot-catalog root (resume-able)")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--master", default=None,
                    help="override master (default: whatever spark-submit "
                         "configured; local[*] when run directly)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--http", action="store_true",
                    help="fetch over live HTTP (urllib transport) instead "
                         "of the corpus join")
    ap.add_argument("--http-timeout", type=float, default=10.0)
    ap.add_argument("--bucketize", type=int, metavar="BUCKETS", default=None,
                    help="prepare the corpus as a url_hash-bucketed table "
                         "with this many buckets first (shuffle-free fetch "
                         "join; use when the corpus exceeds cluster memory)")
    ap.add_argument("--trap-gate", action="store_true",
                    help="drop crawl-trap URLs (deep/repeating/"
                         "param-exploded/calendar paths) at link "
                         "discovery, before they enter the frontier — "
                         "recommended for open-web crawls")
    ap.add_argument("--respect-nofollow", action="store_true",
                    help="honor rel=nofollow anchors and meta-robots "
                         "nofollow pages at link discovery (REP link/"
                         "page directives; default off — goldens pin "
                         "the directive-blind reference grammar)")
    ap.add_argument("--wildcard-robots", action="store_true",
                    help="full Google-REP robots matching (*/$ patterns, "
                         "Allow rules, longest-match precedence) instead "
                         "of the literal-prefix fast path")
    ap.add_argument("--compact-seen-every", type=int, metavar="K", default=8,
                    help="compact the append-only seen ledger every K "
                         "rounds (default 8; 0 disables). The ledger is "
                         "exempt from retention — without compaction a "
                         "long crawl accretes one file set per round and "
                         "every round's seen anti-join unions "
                         "thousands of tiny files. Row multiset is "
                         "preserved; crawl results are unchanged.")
    args = ap.parse_args()
    if not args.fixtures and not (args.robots and args.seeds):
        ap.error("--pages requires --robots and --seeds")

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("crawl")
    if args.master:
        b = b.master(args.master)
    b = b.config("spark.sql.session.timeZone", "UTC").config(
        "spark.sql.adaptive.enabled", "true"
    )
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions",
                     str(args.shuffle_partitions))
    spark = b.getOrCreate()

    from xrpl_rich_list_py_crawler_spark.deploy import ship_package
    from xrpl_rich_list_py_crawler_spark.plans.rounds import CrawlRun
    from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog

    ship_package(spark)  # no-op under --py-files; covers direct invocation

    if args.fixtures:
        from xrpl_rich_list_py_crawler_spark.sources.fixtures import (
            ensure_crawl_fixtures,
        )

        d = ensure_crawl_fixtures(args.fixtures)
        pages_p, robots_p, seeds_p = (
            os.path.join(d, f"{t}.parquet") for t in ("pages", "robots", "seeds")
        )
    else:
        pages_p, robots_p, seeds_p = args.pages, args.robots, args.seeds

    pages = spark.read.parquet(pages_p)
    robots = spark.read.parquet(robots_p)
    seeds = spark.read.parquet(seeds_p)

    if args.bucketize:
        from xrpl_rich_list_py_crawler_spark.plans.rounds import bucketize_pages

        pages = bucketize_pages(
            spark, pages, buckets=args.bucketize,
            path=os.path.join(args.catalog, "_pages_bucketed"),
        )

    transport = None
    if args.http:
        from xrpl_rich_list_py_crawler_spark.sources.http_fetch import (
            urllib_transport,
        )

        transport = urllib_transport(timeout_s=args.http_timeout)

    cat = SnapshotCatalog(args.catalog)
    run = CrawlRun(spark, cat, pages, robots, transport=transport,
                   trap_gate=args.trap_gate,
                   wildcard_robots=args.wildcard_robots,
                   respect_nofollow=args.respect_nofollow)
    last = run.run(args.rounds, seeds,
                   compact_seen_every=args.compact_seen_every or None)

    metrics = cat.read_appended(spark, "metrics")
    summary = {"last_round": last}
    if metrics is not None:
        agg = metrics.groupBy().sum().collect()[0].asDict()
        summary.update({
            name: v
            for k, v in agg.items()
            if (name := k.replace("sum(", "").rstrip(")")) != "round"
        })
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
