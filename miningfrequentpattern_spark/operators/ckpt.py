"""Storage for the iterative operators (connected components, k-core,
k-truss, PageRank, BFS, Bellman-Ford, label propagation, Apriori, BPE).
Connected components holds both its phases, label propagation and
star contraction, in one scope.

An iterative operator holds its storage in a `Scope`:

    with ckpt.Scope(durable) as s:
        e = s.cache(edges)           # read every round
        cur = s.pin(first_round)     # one generation
        for ...:
            nxt = s.pin(step(cur))
            s.release(cur)           # the loop retires a generation
            cur = nxt
        return s.keep(cur)           # the one handle the caller gets

Leaving the block frees every cache and pin the scope still holds,
whether the block returned or raised, except the handle passed to
`keep`. Each loop still decides when a generation retires; the scope
only owns how long storage lives.

A loop that stops on a count reads it from its own pin: `s.pin(df,
name=aggregate)` computes the named aggregates inside the pin's own
job (`functions/telemetry.observed`) and returns them with the
handle, so deciding to stop costs no second action:

    cur, seen = s.pin(step(cur), n=F.count(F.lit(1)))
    if seen["n"] == 0:
        ...

Count with `count(when(cond, 1))`, never `sum`: an empty round then
reads 0, not NULL. The loops that stop this way: both phases of
connected components, k-core, k-truss, BFS and Bellman-Ford. Observe
the pinned rows themselves, not a relation nested inside their plan:
a nested observation counts only the rows its consumer pulls (a
sort-merge join stops reading one side when the other runs out).

Every loop must truncate lineage per round: a cache-only loop doubles
the ANALYZED plan every round and Catalyst planning itself goes
exponential (measured, see dedup.connected_components). HOW it
truncates is a fault-tolerance choice the caller owns:

- durable=False (default): `localCheckpoint` — executor-storage pin,
  zero extra infrastructure, NOT recoverable on executor loss. The
  right default for interactive/derived results.
- durable=True: reliable `checkpoint` to the SparkContext's
  checkpoint directory — survives executor loss, costs a write+read
  of the state per round. Long multi-hour jobs should pass
  durable=True and point `spark.sparkContext.setCheckpointDir` at
  job-scoped durable storage (HDFS/S3). If no directory is set, a
  local temp dir is used so the mode works out of the box on
  local[*] — that default is durability against executor loss, not
  against machine loss; set a real directory on a cluster.
  Checkpoint FILES are reclaimed by
  `spark.cleaner.referenceTracking.cleanCheckpoints=true` (set in
  session.get_session) once the RDD is GC'd, or with the directory.
"""

from __future__ import annotations

import tempfile
from typing import Any, Callable

from pyspark.sql import Column, DataFrame

from ..functions.telemetry import observed


def pin(df: DataFrame, durable: bool = False) -> DataFrame:
    """Truncate lineage eagerly; see module docstring for the trade."""
    if not durable:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            tempfile.mkdtemp(prefix="mfp_reliable_ckpt_")
        )
    return df.checkpoint(eager=True)


def release(df: DataFrame, durable: bool = False) -> None:
    """Free a pinned generation the loop no longer needs.

    Local pins unpersist their executor blocks NOW instead of waiting
    for GC + ContextCleaner: the analyzed plan of a checkpointed
    DataFrame is a LogicalRDD whose rdd() IS the persistent
    checkpoint RDD, so unpersisting it is exact — no
    persistent-RDD-map diffing, no cross-query race. Best-effort via
    the py4j seam (Spark classic); a failure means blocks linger
    until GC, never a wrong result. Without this an iterative loop
    accumulates O(rounds × |state|) MEMORY_AND_DISK blocks that can
    evict live caches (measured, self-review r5). Reliable
    checkpoints live as FILES — nothing to unpersist; reclamation is
    the cleaner's (cleanCheckpoints) or the directory's job."""
    if durable:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


class Scope:
    """The caches and pins one operator call holds; see the module
    docstring. Handles are tracked by identity: `release` and `keep`
    of a handle the scope does not hold do nothing."""

    def __init__(self, durable: bool = False) -> None:
        self.durable = durable
        # id -> (handle, its free); holding the handle keeps its id
        # from being reused while it is in the map
        self._held: dict[int, tuple[DataFrame, Callable[[], None]]] = {}

    def __enter__(self) -> Scope:
        return self

    def __exit__(self, *exc: object) -> None:
        self.release(*[df for df, _ in self._held.values()])

    def _hold(self, df: DataFrame, free: Callable[[], None]) -> DataFrame:
        self._held[id(df)] = (df, free)
        return df

    def cache(self, df: DataFrame) -> DataFrame:
        """Cache a relation the operator reads more than once."""
        df = df.cache()
        return self._hold(df, df.unpersist)

    def pin(
        self, df: DataFrame, **metrics: Column
    ) -> DataFrame | tuple[DataFrame, dict[str, Any]]:
        """Pin one generation (module `pin`, in this scope's mode).

        With `metrics` (name=aggregate Column over `df`'s rows), return
        (handle, {name: value}) instead, the values observed on the
        pin's own job; see the module docstring."""
        if metrics:
            df, obs = observed(
                df, "ckpt_pin", *(c.alias(n) for n, c in metrics.items())
            )
        df = pin(df, self.durable)
        self._hold(df, lambda: release(df, self.durable))
        return (df, obs.get) if metrics else df

    def release(self, *dfs: DataFrame) -> None:
        """Free these handles now."""
        for df in dfs:
            held = self._held.pop(id(df), None)
            if held is not None:
                held[1]()

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand `df` to the caller: leaving the scope will not free it."""
        self._held.pop(id(df), None)
        return df
