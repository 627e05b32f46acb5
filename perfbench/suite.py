"""What the ``operator_suite`` workload runs: a fixed subset of
bench.py's 41 HEADLINE queries, and the tables they read.

The list is copied here so that edits to bench.py do not change the
workload. It takes one query per operator family that runs on the
generated customer, orders, lineitem and events tables: a TPC-H aggregation and a
join with top-k, and the study-shaped operators (latest-record window,
first-wins dedup, sub-record explode, link wiring, pivot, time rollup).
"""

SUITE_QUERIES = (
    "q1_pricing_summary",
    "q3_top_orders",
    "survival_latest_window",
    "fingerprint_dedup_first_wins",
    "explode_subrecords",
    "link_wiring_collect",
    "pivot_long_to_wide",
    "rollup_hypertable",
)

SUITE_TABLES = ("customer", "orders", "lineitem", "events")
