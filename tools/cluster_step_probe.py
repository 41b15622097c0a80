"""One-off: step-timed cluster legs (2-core vs 8-core) on the cached
1M-page corpus.  Reuses scaling_bench's cluster harness; prints the
per-step manifest walls for both sizes so the non-scaling step is
named, not guessed.

Usage: python tools/cluster_step_probe.py [--sizes 2,8] [--pages 1000000]
"""

from __future__ import annotations

import argparse
import glob
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
    ap.add_argument("--sizes", default="2,8")
    ap.add_argument("--bucketed", type=int, default=0,
                    help="use an N-bucket pre-bucketed pages layout "
                    "(fetch_join_bucketed) instead of the broadcast join")
    ap.add_argument("--event-log", action="store_true",
                    help="write a Spark event log per leg to .bench/eventlogs")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    # always pass the flag: submit_crawl's base command hardcodes
    # --bucketed-pages 16, and argparse takes the LAST occurrence, so
    # --bucketed 0 must explicitly override it back to the broadcast join
    extra = ["--bucketed-pages", str(args.bucketed)]
    conf = None
    if args.event_log:
        evdir = os.path.join(sb.BENCH, "eventlogs")
        os.makedirs(evdir, exist_ok=True)
        conf = ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{evdir}"]

    from newscrawler_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(
        os.path.join(sb.BENCH, f"corpus_{args.pages}"),
        n_pages=args.pages, n_hosts=80, seed=42, paras_range=(12, 22),
    )
    warmup = generate_corpus(os.path.join(sb.BENCH, "warmup"), n_pages=300, n_hosts=6)

    zpath = sb.build_pyfiles_zip()
    procs = sb.start_cluster()
    out = {}
    try:
        for cores in sizes:
            tag = f"step{cores}_probe" + (f"_b{args.bucketed}" if args.bucketed else "")
            r = sb.submit_crawl(cores, corpus, warmup, zpath, tag,
                                n_pages=args.pages, extra_args=extra,
                                extra_conf=conf)
            store = os.path.join(sb.BENCH, f"cluster_store_{tag}")
            mans = {}
            for p in sorted(glob.glob(os.path.join(store, "_manifests", "round-*.json"))):
                m = json.load(open(p))
                if m.get("step_secs"):
                    mans[os.path.basename(p)] = {
                        "wall_secs": m["wall_secs"], "steps": m["step_secs"]}
            out[cores] = {"result": r, "manifests": mans}
            print(f"== cores={cores}: {r['urls_per_sec']} urls/s ({r['secs']}s)")
            print(json.dumps(mans, indent=1), flush=True)
    finally:
        sb.stop_cluster(procs)
    print("PROBE_RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
