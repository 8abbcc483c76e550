"""Full query catalog: importing this module registers the relational
surface (queries.py) and the table-lifecycle rows (lifecycle_queries.py).

Registration order matters: the driver certifies the first 50 names returned
by ``queries()``. The window rotates per round so no row's driver signal
goes stale. ``_ROTATION`` lists the current window explicitly; everything
else keeps its original registration order after it.
"""

from . import lifecycle_queries as _lifecycle_queries  # noqa: F401  (registers)
from .queries import QUERIES, oracle_sql, queries

# Stalest-first by last exact-green round, ties in registration order.
_ROTATION = [
    "cdf_changes_window",
    "clone_lifecycle",
    "q_zorder_pruned_scan",
    "features_lifecycle",
    "stream_events_hourly",
    "stream_user_totals",
    "widening_uniform_lifecycle",
    "stream_hourly_watermark",
    "stream_delta_sink_pipeline",
    "stream_dedup_events",
    "stream_stream_join",
    "concurrent_lifecycle",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_minmax_agg",
    "q_filter_sort_project",
    "q_semi_join",
    "q_anti_join",
    "q_outer_join_nulls",
    "q_self_join_parts",
    "q_window_topk_orders",
    "q_window_running_revenue",
    "q_window_lag_events",
    "q_rollup_status",
    "q_set_ops",
    "q_scalar_subquery",
    "q4_order_priority",
    "q7_nation_volume",
    "q12_priority_class",
    "q14_promo_revenue",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q22_idle_customers",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q20_promo_volume_suppliers",
    "q21_returned_not_accepted",
    "q_events_hourly",
    "q_events_json_props",
    "q_events_sessions",
    "q_string_functions",
    "q_date_functions",
    "q_percentiles",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
]

# the driver certifies exactly this many names off the front of queries()
WINDOW = 50


def _apply_rotation() -> None:
    # A typo or a renamed query in _ROTATION would silently shrink the
    # certification window and promote an arbitrary registration-order row
    # into it, defeating the rotation promise test_rotation_freshness.py
    # enforces — fail loudly at import instead. Real exceptions,
    # not asserts: `python -O` strips asserts, and a stripped guard is the
    # exact silent-shrink failure mode it exists to prevent.
    unknown = [n for n in _ROTATION if n not in QUERIES]
    if unknown:
        raise RuntimeError(
            f"_ROTATION names not registered in QUERIES: {unknown}"
        )
    if len(_ROTATION) != len(set(_ROTATION)):
        raise RuntimeError("_ROTATION has duplicates")
    if len(_ROTATION) != WINDOW:
        raise RuntimeError(
            f"_ROTATION must list exactly the {WINDOW}-row window,"
            f" got {len(_ROTATION)}"
        )
    ordered = list(_ROTATION)
    rest = [n for n in QUERIES if n not in set(ordered)]
    snapshot = dict(QUERIES)
    QUERIES.clear()
    for n in ordered + rest:
        QUERIES[n] = snapshot[n]


_apply_rotation()

__all__ = ["QUERIES", "queries", "oracle_sql"]
