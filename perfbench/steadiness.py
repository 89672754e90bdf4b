"""Steadiness evidence for the end-to-end metrics.

Runs two sets of untraced runs, A and B, of the same code, alternating
A B A B per seed and workload so host drift lands on both sets alike.
For each set, workload and metric it reports the median and the
spread, the distance between the first and third quartile of the
per-seed values as a share of their median, and the B/A median ratio,
and compares them with the bounds in BENCHMARK.json. Before each run
it times the host probe (``probes.host_probe_s``) and reads the load,
so a window where the host itself slowed shows in the evidence::

    python3 perfbench/steadiness.py --seeds 10 --first-seed 401 --out perfbench/steadiness.json
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

import probes
import run


def one(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    """One run of perfbench/run.py in its own process, with the host
    controls read just before it (probe, load) and across it (steal)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    host = {"probe_s": probes.host_probe_s(), "load1": probes.load1()}
    steal = probes.steal_s()
    t = time.monotonic()
    proc = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True, timeout=180)
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["elapsed_s"] = time.monotonic() - t
    out["host"] = {**host, "steal_s": probes.steal_s() - steal}
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out")
    args = p.parse_args()
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs: list[dict] = []
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        for w in workloads:
            for s in "AB":
                r = one(w, seed, bench["run_seconds"])
                runs.append({"set": s, "workload": w, "seed": seed, **r})
                print(f"{s} {w:17s} seed {seed:3d} {r['elapsed_s']:6.1f} s "
                      f"probe {r['host']['probe_s']:.3f} s load1 {r['host']['load1']:.2f} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
    summary = {}
    for w in workloads:
        for metric, bound in bounds.items():
            row = {"bound": bound}
            for s in "AB":
                vals = [r["metrics"][metric]["value"] for r in runs if r["set"] == s and r["workload"] == w]
                row[s] = {"median": statistics.median(vals), "spread": spread(vals)}
            row["ratio"] = row["B"]["median"] / row["A"]["median"]
            row["fits_bound"] = max(row["A"]["spread"], row["B"]["spread"]) <= bound
            summary[f"{w}/{metric}"] = row
            print(f"{w:17s} {metric:12s} bound {bound:.2f} "
                  + " ".join(f"{s}: med {row[s]['median']:.4g} spread {row[s]['spread']:.3f}" for s in "AB")
                  + f" ratio {row['ratio']:.3f}")
    probe = {s: [r["host"]["probe_s"] for r in runs if r["set"] == s] for s in "AB"}
    summary["host"] = {
        s: {"probe_s_median": statistics.median(probe[s]), "probe_s_spread": spread(probe[s]),
            "probe_s_max": max(probe[s]),
            "load1_max": max(r["host"]["load1"] for r in runs if r["set"] == s)}
        for s in "AB"
    }
    print("host", json.dumps(summary["host"]))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
