"""Pipeline benchmark for the frequent-pattern engine.

One run generates a workload's inputs from ``--seed``, builds a local
session through ``session.get_session`` from this single driver
process, runs the workload's pipeline as a closed loop of one caller
(the next iteration starts when the previous one has returned), checks
every iteration's output against an independent reference, and prints
its metrics, the last line being one JSON object.

Untraced run, end-to-end metrics (setup_s, run_s.p50, rows_per_s and
cpu_s.p50 in the JSON line; peak_rss_mb and fail_frac are printed
above it, fail_frac also carried by its ``attempted``/``failed``
counts)::

    python3 perfbench/run.py --workload market-sparse --seed 1 --seconds 8 --trace 0

Traced run, per-layer metrics (Spark event log on, every span labels
its jobs with a job group, iterations interleave labelled and plain so
the labelling overhead is measured in the same process)::

    python3 perfbench/run.py --workload corpus-dedup --seed 1 --seconds 8 --trace 1

Workloads: market-sparse, corpus-dedup, event-recurrence (see
perfbench/WORKLOADS.md). Run from the repository root. Scratch files go
under ``.perfbench_out/`` there and are removed at exit, except the
span dump ``.perfbench_out/<workload>-seed<n>-trace<t>.spans.json``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("market-sparse", "corpus-dedup", "event-recurrence")

# Untimed iterations before the clock starts, read off the curves in
# perfbench/warmup_curve.json (25 iterations in one process). Wall and
# CPU time per iteration keep falling for about ten iterations while the
# JIT finishes. A run cannot afford ten: the benchmark's time budget
# (4 + 22 runs per workload in 57 minutes) leaves about 45 s per run, of
# which session start and the cold first iteration take 20-30 s. So the
# timed iterations lie on the warm-up slope, at the same point in every
# run. Against the curves' plateau (iterations 15-25) they sit, in wall
# time, about 25 % above it on market-sparse (iterations 3-5), 30 % on
# corpus-dedup (iterations 3-4) and 5 % on event-recurrence (iterations
# 4-6); in CPU time 55 %, 80 % and 25 %.
WARMUP = {"market-sparse": 2, "corpus-dedup": 2, "event-recurrence": 3}
MAX_CPUS = 4

# Per-layer wall times: the spans whose durations each metric sums.
SPAN_METRICS = {
    "sources.write_s": ("sources.write_parquet",),
    "mining.fit_s": ("mining.fit_fpgrowth",),
    "mining.itemsets_s": ("mining.freq_itemsets", "sink.collect_itemsets"),
    "mining.rules_s": ("mining.association_rules", "sink.collect_rules"),
    "dedup.pairs_s": ("dedup.ngram_jaccard_pairs",),
    "dedup.cc_s": ("dedup.connected_components",),
    "timeseries.ewma_s": ("timeseries.ewma", "sink.noop_ewma"),
    "timeseries.ttl_s": ("timeseries.ttl_dedup", "sink.noop_ttl"),
}
JOB_METRICS = {
    "mining.jobs": SPAN_METRICS["mining.fit_s"]
    + SPAN_METRICS["mining.itemsets_s"]
    + SPAN_METRICS["mining.rules_s"],
    "dedup.cc_jobs": SPAN_METRICS["dedup.cc_s"],
}


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE_AT_T0 = _process_age_s()


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args: argparse.Namespace, work: Path):
        self.args = args
        self.work = work
        self.iters: list[dict] = []
        self.first_result: dict[str, dict] = {}

    def start(self) -> None:
        import probes
        import tracing

        self.probes = probes
        self.probe_before = probes.host_probe_s()
        self.steal_before = probes.steal_s()
        from miningfrequentpattern_spark.session import get_session

        t = time.perf_counter()
        self.spark = get_session(f"perfbench-{self.args.workload}")
        self.session_s = time.perf_counter() - t
        import pipelines

        (self.work / "in").mkdir(parents=True)
        self.wl = pipelines.WORKLOADS[self.args.workload](self.args.seed, str(self.work / "in"))
        self.tracer = tracing.Tracer()
        self.tree = probes.ProcessTree()

    def iteration(self, phase: str, labelled: bool) -> None:
        import checks

        it = len(self.iters)
        self.tracer.iteration = it
        self.tracer.label_jobs(self.spark.sparkContext, labelled)
        rec = {"it": it, "phase": phase, "labelled": labelled, "error": None, "digest": None}
        c0 = self.tree.sample()
        a = time.perf_counter()
        try:
            out = self.wl.iterate(self.spark, self.tracer)
        except Exception:
            out, rec["error"] = None, traceback.format_exc()
        b = time.perf_counter()
        c1 = self.tree.sample()
        self.tracer.label_jobs(self.spark.sparkContext, False)
        rec.update(start=a, end=b, wall_s=b - a, cpu={k: c1[k] - c0[k] for k in c1})
        if out is not None:
            try:
                res = self.wl.result(out)
                rec["digest"] = checks.digest(res)
                self.first_result.setdefault(rec["digest"], res)
                self.last_out, self.last_result = out, res
            except Exception:
                rec["error"] = traceback.format_exc()
        if rec["error"]:
            print(rec["error"], file=sys.stderr)
        self.iters.append(rec)

    def loop(self) -> None:
        for _ in range(WARMUP[self.args.workload]):
            self.iteration("warmup", False)
        self.timed_start = time.perf_counter()
        self.setup_s = _AGE_AT_T0 + (self.timed_start - _T0)
        k = 0
        # A traced run interleaves labelled and plain iterations in
        # ABBA order, so any warm-up left in the timed iterations falls
        # on both alike, and needs one of each; an untraced run needs
        # one iteration.
        while time.perf_counter() - self.timed_start < self.args.seconds or k < 1 + self.args.trace:
            self.iteration("timed", bool(self.args.trace) and k % 4 in (0, 3))
            k += 1
        self.tree.sample()
        self.probe_after = self.probes.host_probe_s()
        self.steal = self.probes.steal_s() - self.steal_before
        self.load1 = self.probes.load1()

    def verify(self) -> None:
        ref = self.wl.reference()
        verdicts = {d: ref.check(res) for d, res in self.first_result.items()}
        for rec in self.iters:
            problems = verdicts.get(rec["digest"], [])
            rec["problems"] = problems
            rec["failed"] = bool(rec["error"]) or bool(problems)
            for p in problems[:5]:
                print(f"check failed, iteration {rec['it']}: {p}", file=sys.stderr)

    def timed(self, labelled: bool | None = None) -> list[dict]:
        return [
            r for r in self.iters
            if r["phase"] == "timed" and (labelled is None or r["labelled"] == labelled)
        ]

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        recs = self.timed(False)
        run_p50 = _p50([r["wall_s"] for r in recs])
        return {
            "setup_s": (self.setup_s, "s"),
            "run_s.p50": (run_p50, "s"),
            "rows_per_s": (self.wl.rows / run_p50, "1/s"),
            "cpu_s.p50": (_p50([r["cpu"]["total"] for r in recs]), "s"),
        }

    def per_layer(self, log: dict) -> dict[str, tuple[float, str]]:
        import tracing

        lab = [r for r in self.timed(True) if not r["failed"]] or self.timed(True)
        plain = self.timed(False)
        spans = {r["it"]: self.tracer.of_iteration(r["it"]) for r in lab}

        def span_s(names) -> float:
            return _p50([
                sum(s["end"] - s["start"] for s in spans[r["it"]] if s["name"] in names)
                for r in lab
            ])

        def groups(it: int, names=None) -> set[str]:
            return {
                f"{s['name']}#{s['id']}" for s in spans[it]
                if names is None or s["name"] in names
            }

        def roll(key: str, names=None) -> float:
            return _p50([tracing.rollup(log, groups(r["it"], names))[key] for r in lab])

        res = getattr(self, "last_result", {})
        m: dict[str, tuple[float, str]] = {
            "peak_rss_mb": (self.tree.peak_rss_mb(), "MB"),
            "session.start_s": (self.session_s, "s"),
            "sources.input_records": (self.wl.records, "count"),
            "sources.input_bytes": (self.wl.input_bytes, "B"),
            "sources.output_bytes": (
                self.wl.output_bytes() if hasattr(self.wl, "output_bytes") else 0, "B"
            ),
        }
        for name, names in SPAN_METRICS.items():
            m[name] = (span_s(names), "s")
        m = dict(sorted(m.items()))
        m["mining.itemsets"] = (len(res.get("itemsets", ())), "count")
        m["mining.rules"] = (len(res.get("rules", ())), "count")
        m["dedup.pairs"] = (self.pairs, "count")
        m["dedup.kept"] = (len(res.get("kept", ())), "count")
        for name, names in JOB_METRICS.items():
            m[name] = (roll("jobs", names), "count")
        m["ckpt.pin_jobs"] = (roll("pin_jobs"), "count")
        m["ckpt.pin_s"] = (roll("pin_s"), "s")
        m["python.worker_cpu_s"] = (_p50([r["cpu"]["python"] for r in lab]), "s")
        m["python.wait_s"] = (roll("python_wait_s"), "s")
        m["python.rss_peak_mb"] = (self.tree.peak_rss_mb("python"), "MB")
        for key, unit in (
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
            ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
        ):
            m[f"spark.{key}"] = (roll(key), unit)
        slots = int(os.environ["SPARK_GRAFT_CPUS"])
        m["spark.slot_idle_frac"] = (
            _p50([
                1.0 - tracing.rollup(log, groups(r["it"]))["task_wall_s"] / (r["wall_s"] * slots)
                for r in lab
            ]),
            "1",
        )
        m["jvm.cpu_s"] = (_p50([r["cpu"]["jvm"] for r in lab]), "s")
        m["jvm.rss_peak_mb"] = (self.tree.peak_rss_mb("jvm"), "MB")
        m["jvm.heap_max_mb"] = (self.heap_max_mb, "MB")
        m["host.mem_total_mb"] = (self.probes.mem_total_mb(), "MB")
        m["host.probe_s"] = ((self.probe_before + self.probe_after) / 2, "s")
        m["host.steal_s"] = (self.steal, "s")
        m["host.load1"] = (self.load1, "1")
        lab_p50 = _p50([r["wall_s"] for r in lab])
        plain_p50 = _p50([r["wall_s"] for r in plain])
        m["trace.overhead_frac"] = (lab_p50 / plain_p50 - 1.0 if plain_p50 else 0.0, "1")
        m["trace.coverage_frac"] = (
            _p50([
                sum(s["end"] - s["start"] for s in spans[r["it"]] if s["parent"] is None)
                / r["wall_s"]
                for r in lab
            ]),
            "1",
        )
        return m

    def finish(self) -> dict:
        sc = self.spark.sparkContext
        self.heap_max_mb = sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        self.pairs = 0
        if self.args.trace and hasattr(self, "last_out") and "pairs" in self.last_out:
            self.pairs = self.last_out["pairs"].count()
        self.spark.stop()
        self.verify()
        e2e = self.end_to_end()
        layers = {}
        if self.args.trace:
            import tracing

            (path,) = (self.work / "events").iterdir()
            layers = self.per_layer(tracing.read_event_log(str(path)))
        attempted = len(self.iters)
        failed = sum(r["failed"] for r in self.iters)
        n_timed = len(self.timed(False))
        print(f"workload {self.args.workload}  seed {self.args.seed}  trace {self.args.trace}")
        print(f"iterations: {WARMUP[self.args.workload]} warm-up, {len(self.timed())} timed"
              f" ({n_timed} in run_s.p50), closed loop of 1 caller")
        printed = {**e2e, "peak_rss_mb": (self.tree.peak_rss_mb(), "MB"),
                   "fail_frac": (failed / attempted, "1"), **layers}
        for name, (v, unit) in printed.items():
            print(f"  {name:24s} {v:16.6f} {unit}")
        self.dump_spans()
        shown = layers if self.args.trace else e2e
        return {
            "correct": failed == 0 and n_timed > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
        }

    def dump_spans(self) -> None:
        out = ROOT / ".perfbench_out" / (
            f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}.spans.json"
        )
        iters = [{k: v for k, v in r.items() if k != "error"} for r in self.iters]
        out.write_text(json.dumps({"iterations": iters, "spans": self.tracer.spans}, indent=1))


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until every one of them has exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    import probes

    children = [p for p in probes.descendants(os.getpid()) if p != os.getpid()]
    proc = gateway.proc
    gateway.shutdown()
    # The JVM exits when its stdin closes.
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    while children and time.monotonic() < deadline:
        children = [p for p in children if probes.alive(p)]
        time.sleep(0.05)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare(name: str, trace: bool) -> Path:
    """Make this run's scratch directory under .perfbench_out and point
    temporary files, Spark's local dirs and, when tracing, the event
    log into it, as one uncompressed file (Spark 4 rolls it into a
    directory by default); cap the session at MAX_CPUS cores."""
    work = ROOT / ".perfbench_out" / f"{name}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(MAX_CPUS, len(os.sched_getaffinity(0))))
    if trace:
        (work / "events").mkdir()
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false"
            " --conf spark.eventLog.rolling.enabled=false"
            f" --conf spark.eventLog.dir=file://{work}/events pyspark-shell"
        )
    sys.path[:0] = [str(ROOT), str(HERE)]
    return work


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not (ROOT / "miningfrequentpattern_spark" / "session.py").is_file():
        print(f"package miningfrequentpattern_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = prepare(f"run-{args.workload}", bool(args.trace))
    run = Run(args, work)
    try:
        run.start()
        run.loop()
        result = run.finish()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
