"""In-flight pipeline telemetry via Dataset.observe (Spark's
Observation API): named aggregate metrics that ride an EXISTING
action — row counts, null counts, domain violations — collected as
the data streams past, costing zero extra jobs and zero extra scans.

This is the mechanism a production pipeline uses for data-quality
counters: r42's constraint REPORT is the standalone audit (its own
query, its own scan); `observed` is the always-on form you attach to
a job you were already running. Metrics are computed as accumulator-
style partial aggregates inside the existing stages — the observed
expressions must therefore be commutative/associative aggregates
(sum/count/min/max and their FILTER'd forms), which Spark enforces.

Batch: `df, obs = observed(df, "gate", ...); df.write...; obs.get`.
The iterative operators use it through `operators/ckpt.Scope.pin`: a
loop that stops on a count (both phases of connected components —
label propagation and star contraction — k-core, k-truss, BFS,
Bellman-Ford) observes that count on the round's own eager pin
instead of running a second action.
Streaming: the same `observe` call surfaces per-micro-batch metrics
on StreamingQueryProgress.observedMetrics (same expressions, same
zero-cost property) — the streaming twin is exercised in
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observed(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, Observation | None]:
    """Attach named in-flight metrics to `df`'s next action.

    Batch: returns (instrumented_df, observation); `observation.get`
    blocks until the FIRST action on the instrumented DataFrame
    completes, then yields the metrics dict. Streaming: Spark
    rejects the Observation-object form (one observation, many
    micro-batches), so the STRING form is used and the returned
    observation is None — read per-batch values under `name` in
    `query.recentProgress[i]["observedMetrics"]` (or a
    StreamingQueryListener). Either way the metrics are computed
    inside the action's own stages — `.explain` shows a
    CollectMetrics node and no extra exchange; tests assert both the
    plan shape and value-equality against a standalone aggregate.
    """
    if df.isStreaming:
        return df.observe(name, *metrics), None
    obs = Observation(name)
    return df.observe(obs, *metrics), obs
