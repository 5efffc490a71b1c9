"""spark-submit entry point (north rule: launched via spark-submit --py-files).

Package and launch:

    python -m zipfile -c /tmp/wcm_spark.zip wcm_spark
    spark-submit --master local[32] \
        --py-files /tmp/wcm_spark.zip \
        submit_main.py --sites 64 --pages 100 --checkpoint /tmp/crawl-ckpt

On a cluster, swap --master for the cluster manager; the engine itself is
master-agnostic (no local-mode assumptions in the plan: partitioning,
politeness and seq assignment are all data-driven).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description="wcm_spark crawl job")
    ap.add_argument("--sites", type=int, default=16)
    ap.add_argument("--pages", type=int, default=40)
    ap.add_argument("--max-conn", type=int, default=None)
    ap.add_argument("--max-conn-per-host", type=int, default=None)
    ap.add_argument("--max-waves", type=int, default=None)
    ap.add_argument("--checkpoint", default=None,
                    help="filesystem root, or iceberg://catalog[/ns] with the Iceberg runtime")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--images", action="store_true")
    ap.add_argument("--output", default=None, help="parquet dir for the visit log")
    ap.add_argument("--fetch-mode", choices=("corpus", "http"), default="corpus",
                    help="http = live network fetch from --seeds")
    ap.add_argument("--seeds", nargs="*", default=None,
                    help="seed URLs (http mode; corpus mode defaults to site roots)")
    ap.add_argument("--respect-robots", action="store_true")
    ap.add_argument("--min-delay-sec", type=float, default=0.0,
                    help="wall-clock spacing between same-host requests (http mode)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from wcm_spark.corpus import corpus_df, seed_urls
    from wcm_spark.scheduler import CrawlConfig, Crawler

    spark = SparkSession.builder.appName("wcm-spark-crawl").getOrCreate()
    # Engine-recommended runtime SQL confs (single definition in
    # wcm_spark.session — AQE off for the UDF stages, Arrow on), applied
    # only where the user did not pass their own --conf.
    from wcm_spark.session import recommended_sql_confs

    submitted = spark.sparkContext.getConf()
    for key, val in recommended_sql_confs().items():
        if not submitted.contains(key):
            spark.conf.set(key, val)

    live = args.fetch_mode == "http"
    corpus = None if live else corpus_df(spark, args.sites, args.pages).cache()
    cfg = CrawlConfig(
        max_conn=args.max_conn,
        max_conn_per_host=args.max_conn_per_host,
        max_waves=args.max_waves,
        checkpoint_dir=args.checkpoint,
        collect_images=args.images,
        fetch_mode=args.fetch_mode,
        respect_robots=args.respect_robots,
        min_delay_sec=args.min_delay_sec,
    )
    if args.resume:
        result = Crawler.resume(spark, corpus, cfg)
    else:
        seeds = args.seeds if args.seeds else seed_urls(args.sites)
        if live and not args.seeds:
            raise SystemExit("http mode needs --seeds")
        result = Crawler(spark, corpus, cfg).run(seeds)

    if args.output:
        result.visits.write.mode("overwrite").parquet(args.output)
    print(
        json.dumps(
            dict(
                waves=result.waves,
                fetched=result.fetched,
                metrics_tail=result.metrics[-3:],
            )
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
