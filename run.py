"""spark-submit entrypoint for the crawl engine.

Cluster usage (north rule: multi-executor via --py-files):

    python tools/package.py           # -> dist/podcast_crawler_spark.zip
    spark-submit --py-files dist/podcast_crawler_spark.zip \\
        --conf spark.sql.shuffle.partitions=<2 x total executor cores> \\
        --conf spark.executor.extraJavaOptions=-XX:+UseParallelGC \\
        run.py --state /data/crawl-state \\
        --pages s3://bucket/pages --seeds s3://bucket/seeds \\
        --robots s3://bucket/robots --epochs 24

Local smoke (sandbox):

    python run.py --n-feeds 500 --epochs 2 --state /tmp/crawlstate

``--state`` must be a local path (snapshot bookkeeping uses
``os.listdir``/``os.rename``); the inputs may be any path Spark reads.
The session takes ``engine_conf`` for this machine's cores; spark-submit's
``--master``/``--conf`` win, and ``spark.sql.shuffle.partitions`` is also
``CrawlConfig.num_partitions``.  stdout carries one JSON line per
committed epoch: the metrics it published in its frontier manifest.
"""

from __future__ import annotations

import argparse
import json
import os
from datetime import datetime, timezone

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

from podcast_crawler_spark.operators.frontier import CrawlConfig, engine_conf
from podcast_crawler_spark.plans.epoch import CrawlState, run_crawl


def main() -> None:
    ap = argparse.ArgumentParser(description="podcast_crawler_spark crawl run")
    ap.add_argument("--state", required=True, help="crawl state dir (local path)")
    ap.add_argument("--pages", help="pages table path (parquet)")
    ap.add_argument("--seeds", help="seeds table path (parquet)")
    ap.add_argument("--robots", help="robots table path (parquet)")
    ap.add_argument("--epochs", type=int, default=1)
    ap.add_argument("--epoch-interval-s", type=int, default=3600)
    ap.add_argument("--per-host-budget", type=int, default=5)
    ap.add_argument(
        "--n-feeds", type=int, default=0,
        help="synthesize a deterministic corpus of this size instead of "
             "reading --pages/--seeds/--robots (sandbox/CI smoke)",
    )
    args = ap.parse_args()
    if "://" in args.state:
        ap.error(f"--state must be a local path, got {args.state}")
    if not args.n_feeds and not (args.pages and args.seeds and args.robots):
        ap.error("--pages/--seeds/--robots required without --n-feeds")

    engine = engine_conf(len(os.sched_getaffinity(0)))
    # Launches a local JVM with the engine confs, or joins the JVM that
    # spark-submit started; either way the JVM's SparkConf then holds every
    # key set so far, and the builder adds only the missing ones.
    SparkContext._ensure_initialized(
        conf=SparkConf(loadDefaults=False).setAll(engine.items())
    )
    submitted = SparkConf()
    spark = (
        SparkSession.builder.appName("podcast_crawler_spark")
        .config(map={k: v for k, v in engine.items() if not submitted.contains(k)})
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    cfg = CrawlConfig(
        per_host_budget=args.per_host_budget,
        num_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        fetch_interval_s=args.epoch_interval_s,
    )
    epoch0 = datetime(2025, 1, 1, tzinfo=timezone.utc)

    if args.n_feeds:
        from podcast_crawler_spark.sources.pagesgen import (
            gen_pages,
            gen_robots,
            gen_seeds,
        )

        pages = gen_pages(spark, args.n_feeds, partitions=cfg.num_partitions)
        seeds = gen_seeds(spark, args.n_feeds, partitions=cfg.num_partitions)
        # run_crawl runs once per epoch below: generate the rules once
        robots = gen_robots(
            spark, args.n_feeds, partitions=cfg.num_partitions
        ).localCheckpoint()
    else:
        pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds)
        robots = spark.read.parquet(args.robots)

    # one run_crawl call per epoch, so each epoch prints as it commits
    done = CrawlState.open(args.state).completed_epochs()
    for n in range(done + 1, args.epochs + 1):
        state = run_crawl(
            spark, args.state, seeds, pages, robots,
            epochs=n, epoch0=epoch0,
            epoch_interval_s=args.epoch_interval_s, cfg=cfg,
        )
        print(json.dumps(state.frontier.manifest()["metrics"], default=str),
              flush=True)


if __name__ == "__main__":
    main()
