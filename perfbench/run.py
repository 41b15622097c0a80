"""Crawl benchmark entry point.

Run from the repository root::

    python3 perfbench/run.py --workload frontier_crawl --seed 1 --seconds 10 --trace 0

Workloads are ``frontier_crawl`` and ``link_analytics`` (see
``perfbench/workloads.py``).  With ``--trace 0`` the run reports the
end-to-end metrics; with ``--trace 1`` it enables the Spark event log,
records spans around the layer boundaries, and reports per-layer
metrics and the tracing overhead instead.  Spans go to
``.perfbench/out/``.

Every metric is printed as ``metric <name> <value> <unit>`` lines; the
last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``attempted``
and ``failed`` count output checks, which run outside the timed region.
Everything the run writes stays under ``.perfbench/`` in the working
directory; scratch data is removed at exit and every process the run
started has ended by then.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "newscrawler_spark", "crawler.py")):
        print("perfbench: run from the repository root; newscrawler_spark/ is missing",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work")
    out_dir = os.path.join(base, "out")
    # everything Spark, its JVM and its Python workers write stays in
    # `work`; set before any import can cache the temporary directory
    os.environ.update(
        {
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        }
    )
    sys.path.insert(0, root)
    from perfbench import host, spans, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    bench = workloads.Bench(work, args.seed, args.seconds, bool(args.trace))
    try:
        try:
            raw = workloads.WORKLOADS[args.workload](bench)
            rss = host.peak_rss_mb(host.process_tree(host.jvm_pid()))
            facts = host.facts(bench.spark)
        finally:
            if bench.spark is not None:
                host.stop_session(bench.spark)
        failed = sum(not ok for _, ok in bench.checks)
        attempted = len(bench.checks)
        if args.trace:
            # the event log is complete once the session has stopped
            metrics = workloads.layer_metrics(bench, raw)
            metrics["check.fail_ratio"] = failed / attempted
            bench.tracer.write(
                os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"),
                {"summary": spans.summarize(bench.tracer.spans), "host": facts,
                 "worker_spans": spans.read_worker_spans(bench.worker_spans)},
            )
        else:
            metrics = {
                "urls_per_s": raw["urls_per_s"],
                "wall_s": raw["wall_s"],
                "setup_s": bench.setup_s(),
                "peak_rss_mb": rss,
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(units) ^ set(metrics)}")
    walls = " ".join(f"{w:.3f}" for w in raw.get("walls", []))
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"iteration_walls_s=[{walls}]")
    print("host " + " ".join(f"{k}={v}" for k, v in facts.items()))
    print("setup " + " ".join(f"{k}={v:.3f}s" for k, v in bench.setup.items()))
    for name, ok in bench.checks:
        print(f"check {name} {'ok' if ok else 'FAILED'}")
    for name, value in metrics.items():
        print(f"metric {name} {value} {units[name]}")
    if not args.trace:
        print(f"metric fail_ratio {failed / attempted} ratio")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
