"""One-off: seen-filter bucket-count cost parity on the 4-executor
cluster leg.

The crawler's seen filter is the bucket-aligned filter store
(`operators/seen.py` BucketStore, bloom by default, SURVEY §7.3):
per-bucket filters advanced and applied by executor tasks against
shared-storage blobs, no driver-assembled filter.  The recorded scaling legs run one bucket
(bloom_buckets = 1, the default); the 10^10-seen shape shards it.  This
probe runs the SAME 1M-page bulk leg at B=1 vs B=16 so the cost of
sharding is measured, not argued.

Usage: python tools/bloom_bucket_probe.py [--buckets 16] [--repeats 1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import scaling_bench as sb  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--repeats", type=int, default=1)
    args = ap.parse_args()

    from newscrawler_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(
        os.path.join(sb.BENCH, f"corpus_{args.pages}"),
        n_pages=args.pages, n_hosts=80, seed=42, paras_range=(12, 22),
    )
    warmup = generate_corpus(os.path.join(sb.BENCH, "warmup"), n_pages=300, n_hosts=6)

    zpath = sb.build_pyfiles_zip()
    procs = sb.start_cluster()
    runs: dict[int, list] = {1: [], args.buckets: []}
    try:
        for rep in range(args.repeats):
            for b in (1, args.buckets):
                r = sb.submit_crawl(
                    sb.FOURN_CORES, corpus, warmup, zpath, f"bloomb{b}_{rep}",
                    n_pages=args.pages,
                    extra_args=["--bloom-buckets", str(b)],
                )
                runs[b].append(r)
                print(f"bloom_buckets={b} rep={rep}: {r['urls_per_sec']} urls/s "
                      f"({r['secs']}s)", flush=True)
    finally:
        sb.stop_cluster(procs)

    best = {b: max(rs, key=lambda r: r["urls_per_sec"]) for b, rs in runs.items()}
    out = {
        "executors": 4,
        "pages": args.pages,
        "best": {str(b): best[b] for b in best},
        "raw_secs": {str(b): [r["secs"] for r in rs] for b, rs in runs.items()},
        "overhead_ratio": round(best[args.buckets]["secs"] / best[1]["secs"], 3),
    }
    print("BLOOM_BUCKET_PROBE " + json.dumps(out))


if __name__ == "__main__":
    main()
