"""The benchmark's workloads: which registry entries one pass runs.

Both run on the same seeded sf0.1 tables (``gen.base_tables``).  Every
entry listed here is a headline entry of ``bench.py`` with a DuckDB
oracle, so each run can check its outputs.  ``nominal_pass_s`` is a warm
pass on a 4-core host; ``run.schedule`` turns ``--seconds`` into a pass
count with it.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "iterative_sf0.1": {
        "why": ("loop-heavy graph entries: tiny state, ~60 Spark jobs per "
                "pass, builder time dominates, so driver-gap and "
                "jobs-per-superstep changes show and scan changes do not"),
        "queries": ["g1_pagerank", "hier_subtree_rollup"],
        "nominal_pass_s": 6.0,
    },
    "mixed_sf0.1": {
        "why": ("short non-graph entries across the relational, dedup, "
                "similarity, text, streaming and time-series layers, where "
                "per-query overhead (planning, reads, hygiene) is a large "
                "share"),
        "queries": ["q3_shipping_priority", "a1_latest_per_key",
                    "o1_top50_orders", "llm_exact_dedup", "llm_ann_brute",
                    "st_tumbling", "ts_ewma"],
        "nominal_pass_s": 3.3,
    },
}

#: scale factor of the generated tables both workloads read
SF = 0.1
