"""Record the warm-up curve that sets run.WARMUP.

Runs one workload's pipeline for ``--iterations`` back-to-back
iterations in one process, with no warm-up, and records each
iteration's wall time and process-tree CPU time. The committed curves
in perfbench/warmup_curve.json were made with::

    python3 perfbench/warmup_curve.py --workload market-sparse --seed 1 --iterations 25

once per workload; the script merges its curve into that file.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys

import run


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=run.WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--iterations", type=int, default=25)
    args = p.parse_args()
    work = run.prepare(f"curve-{args.workload}", trace=False)
    bench = run.Run(argparse.Namespace(workload=args.workload, seed=args.seed, trace=0), work)
    try:
        bench.start()
        for _ in range(args.iterations):
            bench.iteration("curve", False)
            r = bench.iters[-1]
            print(f"{r['it']:3d} wall {r['wall_s']:7.3f} s  cpu {r['cpu']['total']:7.2f} s"
                  f"  {'error' if r['error'] else ''}", flush=True)
    finally:
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    path = run.HERE / "warmup_curve.json"
    curves = json.loads(path.read_text()) if path.exists() else {}
    curves[args.workload] = {
        "seed": args.seed,
        "session_s": round(bench.session_s, 3),
        "wall_s": [round(r["wall_s"], 3) for r in bench.iters],
        "cpu_s": [round(r["cpu"]["total"], 2) for r in bench.iters],
        "warmup": run.WARMUP[args.workload],
    }
    path.write_text(json.dumps(curves, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
