#!/usr/bin/env python3
"""Record the curation per-op output digests of the current program for
seeds 0..N-1 into perfbench/digests.json.

    python3 perfbench/record_digests.py 16

Run from the root of a checkout, from one driver process.  A curation
run whose seed and size are recorded then also requires every op's
output to equal the recorded one.  Re-record only when an op's output
is meant to change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv=None) -> int:
    n_seeds = int((argv or sys.argv[1:] or ["16"])[0])
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    import run
    import workloads

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    run.isolate(work, root)
    args = run.parse_args(["--workload", "curation", "--seed", "0",
                           "--seconds", "0"])
    bench = run.Bench(args, root, work, spec)
    recorded = {}
    if os.path.exists(workloads.DIGESTS):
        with open(workloads.DIGESTS) as f:
            recorded = json.load(f)
    try:
        bench.start()
        for seed in range(n_seeds):
            ctx = run.Ctx(seed, 1.0, bench.nproc,
                          os.path.join(work, str(seed)), bench.tracer)
            wl = workloads.make("curation", ctx)
            wl.prepare()
            wl.oracle()
            wl.recorded = None
            wl.job(bench.spark)
            errs = wl.check(bench.spark, None)
            if errs:
                run.log(f"seed {seed}: " + "; ".join(errs))
                return 1
            recorded[f"{wl.n}:{wl.nodes}:{seed}"] = wl.digests(bench.spark)
            run.log(f"seed {seed} recorded")
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    with open(workloads.DIGESTS, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
