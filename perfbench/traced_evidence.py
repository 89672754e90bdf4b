"""Per-layer evidence from one traced run per workload.

Runs ``perfbench/run.py --trace 1`` once per workload and reads its
JSON line and its span dump. Over the labelled timed iterations it
takes the median share of iteration wall time spent in each top-level
span and in each layer (a sink counts for the layer whose metric times
it, see ``run.SPAN_METRICS``), and the median share of process-tree CPU
spent in the JVM and in Python workers. It shows which layer does the
work on each workload at the sizes the benchmark runs. It also makes an
untraced run of the same seed and length and gives the whole tracing
overhead, event log included: the traced run's median timed iteration
against the untraced ``run_s.p50``. The committed
perfbench/traced_evidence.json was made with::

    python3 perfbench/traced_evidence.py --seed 1 --seconds 24 --out perfbench/traced_evidence.json
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

import run
import steadiness


def layer_of(span: str) -> str:
    for metric, names in run.SPAN_METRICS.items():
        if span in names:
            return metric.split(".")[0]
    return span.split(".")[0]


def shares(dump: dict) -> dict:
    iters = [r for r in dump["iterations"] if r["phase"] == "timed" and r["labelled"]]
    top: dict[str, list[float]] = {}
    layer: dict[str, list[float]] = {}
    for r in iters:
        by_span: dict[str, float] = {}
        by_layer: dict[str, float] = {}
        for s in dump["spans"]:
            if s["iteration"] == r["it"] and s["parent"] is None:
                d = (s["end"] - s["start"]) / r["wall_s"]
                by_span[s["name"]] = by_span.get(s["name"], 0.0) + d
                by_layer[layer_of(s["name"])] = by_layer.get(layer_of(s["name"]), 0.0) + d
        for name, d in by_span.items():
            top.setdefault(name, []).append(d)
        for name, d in by_layer.items():
            layer.setdefault(name, []).append(d)
    cpu = {
        role: statistics.median(r["cpu"][role] / r["cpu"]["total"] for r in iters)
        for role in ("driver", "jvm", "python")
    }
    return {
        "iterations": len(iters),
        "wall_s.p50": statistics.median(r["wall_s"] for r in iters),
        "cpu_s.p50": statistics.median(r["cpu"]["total"] for r in iters),
        "wall_share_by_layer": {k: statistics.median(v) for k, v in sorted(layer.items())},
        "wall_share_by_top_level_span": {k: statistics.median(v) for k, v in top.items()},
        "cpu_share_by_process": cpu,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    # Longer than run_seconds, for more labelled iterations.
    p.add_argument("--seconds", type=int, default=24)
    p.add_argument("--out")
    args = p.parse_args()
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    evidence = {}
    for w in (w["name"] for w in bench["workloads"]):
        out = steadiness.one(w, args.seed, args.seconds, trace=1)
        plain = steadiness.one(w, args.seed, args.seconds, trace=0)
        dump = json.loads(
            (run.ROOT / ".perfbench_out" / f"{w}-seed{args.seed}-trace1.spans.json").read_text()
        )
        traced_p50 = statistics.median(
            r["wall_s"] for r in dump["iterations"] if r["phase"] == "timed"
        )
        evidence[w] = {
            "seed": args.seed,
            "seconds": args.seconds,
            "host": out["host"],
            "untraced_run_s.p50": plain["metrics"]["run_s.p50"]["value"],
            "traced_run_s.p50": traced_p50,
            "tracing_overhead_frac": traced_p50 / plain["metrics"]["run_s.p50"]["value"] - 1.0,
            **shares(dump),
            "per_layer": {k: v["value"] for k, v in out["metrics"].items()},
        }
        print(w, json.dumps({k: v for k, v in evidence[w].items() if k != "per_layer"}, indent=1),
              flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(evidence, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
