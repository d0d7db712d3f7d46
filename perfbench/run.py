"""Engine benchmark: one workload, one seed.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Runs from the repository root (the directory holding the engine package
`newssearchengine_spark`). Generates its inputs from --seed, sets up the
index, measures the workload for --seconds (serve clients finish the
request in flight; ingest runs whole cycles, at least two), checks the
outputs against the engine's pure-Python oracle, and prints every
metric by name with its unit. The last stdout line is one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

--trace 0 reports the end-to-end metrics (tracing off); --trace 1 the
per-layer metrics, from spans recorded around the engine's public entry
points (written to .perfbench_out/). A run that cannot report every
metric of its mode exits non-zero without a result line.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve_mixed", "ingest_maintain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "newssearchengine_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import corpus, launch, stats
    from perfbench.trace import Tracer
    from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS, Ctx

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    try:
        spark = launch.start_spark(ROOT, work, trace=bool(args.trace))
        tracer = Tracer(spark) if args.trace else None
        try:
            if tracer is not None:
                tracer.install()
            ctx = Ctx(spark, os.path.join(work, args.workload), args.seed,
                      args.seconds, tracer, corpus.vocabulary(args.seed))
            t0 = time.perf_counter()
            res = WORKLOADS[args.workload](ctx)
            wall = time.perf_counter() - t0
        finally:
            if tracer is not None:
                tracer.uninstall()
                os.makedirs(out_dir, exist_ok=True)
                tracer.write(os.path.join(
                    out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            launch.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expect = dict(PER_LAYER if args.trace else END_TO_END)
    if {k: u for k, (_, u) in res.metrics.items()} != expect:
        raise RuntimeError(f"{args.workload} reported {sorted(res.metrics)}")
    print(f"{args.workload}: seed={args.seed} wall={wall:.1f}s "
          f"attempted={res.attempted} failed={res.failed}")
    for note in res.notes:
        print(f"  note: {note}")
    for k, (v, u) in res.metrics.items():
        print(f"  {k}: {v:.6g} {u}")
    print(stats.result_line(res.failed == 0, res.attempted, res.failed,
                            {k: stats.metric(v, u)
                             for k, (v, u) in res.metrics.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
