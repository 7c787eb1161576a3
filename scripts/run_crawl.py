"""spark-submit job entry for the crawl engine (SURVEY §7.6).

Cluster usage (north rule: multi-executor via --py-files)::

    cd /root/repo && zip -r /tmp/csspark.zip crawler_service_spark
    spark-submit --master <cluster> --py-files /tmp/csspark.zip \
        scripts/run_crawl.py --checkpoint-dir /data/crawl_ck \
        --n-docs 5000 --n-hosts 40 --n-seeds 8 --max-depth 3 --out /data/pages

Local smoke::

    python scripts/run_crawl.py --checkpoint-dir /tmp/ck_job --out /tmp/pages

``--resume`` restarts from the last committed round snapshot with
identical ordering (the checkpoint contract).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--out", required=True, help="output dir for ordered pages parquet")
    ap.add_argument("--n-docs", type=int, default=2000)
    ap.add_argument("--n-hosts", type=int, default=20)
    ap.add_argument("--n-seeds", type=int, default=5)
    ap.add_argument("--max-depth", type=int, default=2)
    ap.add_argument("--no-follow", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None, help="override only for local runs")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from crawler_service_spark.config import CrawlConfig
    from crawler_service_spark.engine import CrawlEngine, fetch_order, retry_stats
    from crawler_service_spark.sources.corpus import (
        build_policy_df,
        build_seeds_df,
        build_store_df,
    )

    builder = SparkSession.builder.appName("crawler-service-spark")
    if args.master:
        builder = builder.master(args.master)
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = CrawlConfig(max_depth=args.max_depth, follow_links=not args.no_follow)
    store = build_store_df(spark, args.n_docs, args.n_hosts)
    policy = build_policy_df(spark, args.n_hosts)
    engine = CrawlEngine(
        spark, cfg, store, checkpoint_dir=args.checkpoint_dir, policy=policy
    )

    if args.resume:
        tables = engine.crawl(resume=True)
    else:
        seeds = build_seeds_df(spark, args.n_docs, args.n_hosts, args.n_seeds)
        tables = engine.crawl(seeds)

    ordered = fetch_order(tables.pages)
    ordered.write.mode("overwrite").parquet(args.out)
    report = {
        "pages": ordered.count(),
        "seen": tables.seen.count(),
        "rounds": len(tables.round_counters),
        # each round's derived partition count
        "round_parts": [c["parts"] for c in tables.round_counters],
        "retry_stats": retry_stats(tables.pages),
        "out": args.out,
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
