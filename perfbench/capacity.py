"""Read capacity of one workload's views: the closed-loop throughput the
serve rates are set against.

    python3 perfbench/capacity.py --workload serve --seed 1

Runs the workload's set-up, backfill and refresh phases, then the
warm-up reads, then 300 pool-state reads handed to the pool at once, so
that ``nproc`` run back to back. Prints reads per second from the first
hand-over to the last result. Run from the repository root.
"""

from __future__ import annotations

import argparse
import os
import random
import sys

sys.path.insert(0, os.getcwd())

from perfbench.run import OPERATIONAL_KINDS, WARMUP_READS, WORKLOADS, Run, build_requests  # noqa: E402

READS = 300


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args()
    run = Run(argparse.Namespace(workload=args.workload, seed=args.seed, seconds=0, trace=0))
    try:
        run.setup()
        run.backfill()
        run.refresh()
        run.register_views(["pool_states"])
        run.context = run.serve_context()
        rng = random.Random(args.seed)
        warmup = build_requests(rng, WARMUP_READS, OPERATIONAL_KINDS, run.context)
        reads = build_requests(rng, READS, OPERATIONAL_KINDS, run.context)
        results, _ = run.serve_loop("capacity", reads, float("inf"), warmup)
        failed = sum(r[0] != "ok" for r in results)
        elapsed = max(r[5] for r in results) - results[0][2]
    finally:
        run.close()
    print(f"{args.workload} seed {args.seed}: {READS / elapsed:.2f} reads/s, {failed} failed")


if __name__ == "__main__":
    main()
