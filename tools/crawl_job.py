"""spark-submit entry point for the frontier crawl (north-rule shape).

Usage (see tools/scaling_bench.py for the full cluster harness)::

    spark-submit --master spark://127.0.0.1:7077 \
        --py-files newscrawler_spark.zip \
        tools/crawl_job.py --pages ... --seeds ... --store ... \
        [--rounds 4 --budget 10000 --warmup-pages ... --warmup-seeds ...]

Builds its SparkSession from the submit conf (master, executors, memory
all come from spark-submit), runs an optional warmup crawl, then the
measured crawl, and prints one JSON line with wall time + urls/sec.
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--budget", type=int, default=10000)
    ap.add_argument("--bloom-expected", type=int, default=1_000_000)
    ap.add_argument(
        "--bloom-buckets",
        type=int,
        default=1,
        help="buckets of the seen filter: one filter blob per "
        "pmod(url_hash, B) bucket, advanced/applied by executor tasks "
        "with no driver-assembled bitset; raise it for large seen sets",
    )
    ap.add_argument(
        "--seen-filter",
        choices=["bloom", "cuckoo"],
        default="bloom",
        help="approximate seen-set structure: 'cuckoo' runs the "
        "partitioned cuckoo-filter blobs (deletable; re-crawl policy) "
        "through the same bucket-store protocol as the blooms",
    )
    ap.add_argument("--warmup-pages")
    ap.add_argument("--warmup-seeds")
    ap.add_argument("--warmup-store")
    ap.add_argument(
        "--bucketed-pages",
        type=int,
        default=0,
        metavar="B",
        help="lay the pages table out as a B-bucket page_hash-bucketed "
        "parquet table before the measured crawl (the Iceberg "
        "bucket-transform layout; one-time per corpus snapshot at 100 TB) "
        "and run the fetch join bucket co-partitioned instead of "
        "broadcasting the admitted keys",
    )
    ap.add_argument(
        "--bulk",
        action="store_true",
        help="seed the ENTIRE url universe as round-0 frontier (the "
        "reference's CSV batch shape, batch_processor.py:65-93) — one "
        "big fetch+extract round; the shape real per-round work takes "
        "at 10^10-frontier scale",
    )
    args = ap.parse_args()
    # the warmup trio travels together: a partial set would crash later
    # with an opaque TypeError (rmtree(None)) / parquet(None)
    warm = (args.warmup_pages, args.warmup_seeds, args.warmup_store)
    if any(warm) and not all(warm):
        ap.error("--warmup-pages, --warmup-seeds and --warmup-store must be given together")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("frontier_crawl_job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from newscrawler_spark.crawler import CrawlConfig, FrontierCrawler
    from newscrawler_spark.plans.storage import RoundStore

    if args.warmup_pages:
        shutil.rmtree(args.warmup_store, ignore_errors=True)
        FrontierCrawler(
            spark,
            args.warmup_pages,
            args.warmup_seeds,
            RoundStore(args.warmup_store),
            CrawlConfig(max_rounds=2, round_budget=20, n_salts=4),
        ).run(resume=False)

    # liveness heartbeats for the harness watchdog (scaling_bench kills a
    # submit whose stdout AND store tree both go idle — the sporadic AQE
    # hang signature — instead of eating the full hard timeout)
    print("HEARTBEAT warmup_done", flush=True)
    shutil.rmtree(args.store, ignore_errors=True)
    store = RoundStore(args.store)
    bucketed_table = None
    if args.bucketed_pages:
        # one-time layout job (not part of the measured crawl): at 100 TB
        # this is the corpus snapshot's storage layout, amortized over
        # every crawl that reads it
        from newscrawler_spark.crawler import prepare_bucketed_pages

        bucketed_table = "pages_bucketed_job"
        prepare_bucketed_pages(
            spark,
            args.pages,
            bucketed_table,
            args.bucketed_pages,
            location=args.store + "_bucketed_pages",
        )
    cfg = CrawlConfig(
        max_rounds=1 if args.bulk else args.rounds,
        round_budget=1_000_000_000 if args.bulk else args.budget,
        n_salts=8,
        bloom_expected=args.bloom_expected,
        bloom_buckets=args.bloom_buckets,
        seen_filter=args.seen_filter,
        cache_pages=not args.bulk,          # bulk scans pages exactly once
        repartition_fetched=not args.bulk,  # bulk keeps the scan partitioning
        # Broadcasting the admitted KEYS (≈60 MB/10^6 urls) beats
        # shuffling the PAGES table even in bulk — the html bytes are
        # ~100× the key bytes, and the pages-side shuffle was measured
        # as the dominant non-scaling cost of the bulk round (a ~57 s
        # serial IO component at 600k pages).  Past ~5M admitted rows
        # you bucket/co-partition instead (see crawler.py fetch_join).
        broadcast_admitted_max=5_000_000,
        scalable_fetch_order=args.bulk,
        pages_bucketed_table=bucketed_table,
    )
    crawler = FrontierCrawler(spark, args.pages, args.seeds, store, cfg)
    print("HEARTBEAT crawl_start", flush=True)
    t0 = time.time()
    init_secs = 0.0
    if args.bulk:
        crawler.initialize(url_df=spark.read.parquet(args.pages).select("url"))
        init_secs = round(time.time() - t0, 2)
        print("HEARTBEAT init_done", flush=True)
        totals = crawler.run(resume=True)
    else:
        totals = crawler.run(resume=False)
    wall = time.time() - t0
    per_round = [
        store.manifest(r)["wall_secs"] for r in range(store.last_committed_round() + 1)
    ]
    print(
        "CRAWL_RESULT "
        + json.dumps(
            {
                "urls": totals["fetched"],
                "urls_admitted": totals["seq"],
                "secs": round(wall, 2),
                "urls_per_sec": round(totals["fetched"] / wall, 1),
                "round_secs": per_round,
                "init_secs": init_secs,
                "executors": spark.sparkContext.defaultParallelism,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
