"""Query registry: the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a named
query `(spark, sf_dir) -> DataFrame`, optionally paired with a DuckDB
oracle SQL string. `__spark_entry__.queries()` / `oracle_sql()` are
thin views over this registry.

Registration is via the @query decorator:

    @query("r9_agg", oracle="SELECT ... AS sum_qty FROM lineitem ...")
    def r9_agg(spark, sf_dir): ...

Contract rules enforced by convention here and asserted in
tests/test_registry.py:
- every computed column is aliased IDENTICALLY in the Spark plan and
  the oracle SQL (driver hashes columns sorted by name);
- float aggregates rounded to 4dp on BOTH sides;
- array columns sorted on both sides (value-hash is row-order
  insensitive, not element-order insensitive);
- nondeterministic ops (approx_*, LSH, xxhash64) never get an oracle.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str, **kw: Any) -> DataFrame:
            # Harden runtime conf on whatever session the driver hands us
            # (UTC tz, Arrow, AQE) — oracle parity depends on it.
            from ..session import harden

            harden(spark)
            return fn(spark, sf_dir, **kw)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


# The driver verifies only the FIRST 50 registry entries each round,
# so PRIORITY is that window: the 3 canaries, then promotions (new or
# changed-code queries, which must re-prove in the driver), then the
# oldest-proven queries. `python scripts/plan_rotation.py [--promote
# NAME ...]` prints the next window from the recorded
# CORRECTNESS_r*.json, and tests/test_rotation.py enforces it. A
# rows-only query takes a slot only as a deliberate re-run listed in
# ROWS_ONLY_REFRESH. Queries outside the window stay covered by the
# local oracle mirror (tests/test_oracle_parity.py). Each rotation's
# reasons go in CHANGES.md, not here.
ROWS_ONLY_REFRESH: frozenset[str] = frozenset(
    {
        "l45_ivfpq_topk",
    }
)
PRIORITY: tuple[str, ...] = (
    # canaries - proven every round
    "m01_basketize_orders",
    "r01_filter_project",
    "l01_exact_dedup",
    "u09_iter_quantize",  # promote
    "s09_zorder_key",  # promote
    "l03b_ann_lsh_topk",  # promote
    "r52_ewma_daily_revenue",  # last proof r6
    "r53_skew_advisor",  # last proof r6
    "r55_activity_spans",  # last proof r6
    "r56_time_weighted_value",  # last proof r6
    "r57_daily_revenue_trend",  # last proof r6
    "r58_value_drift",  # last proof r6
    "r59_fk_audit",  # last proof r6
    "r61_cdc_snapshot",  # last proof r6
    "r65_ops_monitor",  # last proof r6
    "r66_volume_acf",  # last proof r6
    "r67_value_outliers",  # last proof r6
    "r68_join_fanout_audit",  # last proof r6
    "r70_price_benford",  # last proof r6
    "r72_custkey_encoding",  # last proof r6
    "r73_deseasonal_outliers",  # last proof r6
    "r76_robust_trend",  # last proof r6
    "r78_click_vs_view_ranksum",  # last proof r6
    "r79_cuped_user_value",  # last proof r6
    "r80_concurrent_activity",  # last proof r6
    "r81_orders_contract",  # last proof r6
    "r69_weekly_seasonality",  # last proof r6
    "l38b_fuzzy_join_capped",  # last proof r6
    "l42_containment_pairs",  # last proof r6
    "l46_quantized_recall",  # last proof r6
    "l47_calibrated_gate",  # last proof r6
    "l50_zipf_fit",  # last proof r6
    "l51_label_centroids",  # last proof r6
    "l52_bigram_backoff",  # last proof r6
    "l45_ivfpq_topk",  # last proof r6
    "m27_emerging_pairs",  # last proof r7
    "r05b_parts_with_bulk_orders",  # last proof r7
    "r09_distinct_aggregates",  # last proof r7
    "r11_rollup_status_priority",  # last proof r7
    "r11b_cube_flag_status",  # last proof r7
    "r12_top3_parts_per_brand",  # last proof r7
    "r13_order_gaps",  # last proof r7
    "r14_running_customer_spend",  # last proof r7
    "r15_top25_orders",  # last proof r7
    "r16_repeat_customers_y2k",  # last proof r7
    "r16b_one_year_only_customers",  # last proof r7
    "r17_string_functions",  # last proof r7
    "r18_monthly_order_stats",  # last proof r7
    "r19_math_functions",  # last proof r7
    "r20_array_functions",  # last proof r7
)


def _reorder() -> None:
    """Rebuild QUERIES/ORACLES so PRIORITY names occupy the first slots.

    Python dicts preserve insertion order, which is the order
    ``__spark_entry__.queries()`` exposes to the driver. Non-priority
    queries keep their relative registration order after the window.
    """
    missing = [n for n in PRIORITY if n not in QUERIES]
    if missing:
        raise RuntimeError(f"PRIORITY names not registered: {missing}")
    ordered = list(PRIORITY) + [n for n in QUERIES if n not in set(PRIORITY)]
    for store in (QUERIES, ORACLES):
        snapshot = dict(store)
        store.clear()
        store.update({n: snapshot[n] for n in ordered if n in snapshot})


def load_all_packs() -> None:
    """Import every query pack so registration side effects run."""
    from . import mining_pack  # noqa: F401
    from . import relational_pack  # noqa: F401
    from . import llm_pack  # noqa: F401
    from . import streaming_pack  # noqa: F401
    from . import sources_pack  # noqa: F401

    _reorder()
