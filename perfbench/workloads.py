"""Workload definitions shared by the launcher and the measured process."""

from __future__ import annotations

#: Relational queries, where plan construction and per-job fixed costs are
#: most of each query, plus q33 (MinHash signatures through a Python kernel),
#: which brings the Python worker layer into the same pass.
CATALOG_QUERIES = [
    "q01_pricing_summary",
    "q03_top_customer_per_nation",
    "q04_region_rollup",
    "q05_customer_order_stats",
    "q27_events_hourly",
    "q28_sessionize",
    "q32_exact_dedupe",
    "q33_minhash_signature",
    "q51_sequence_packing",
    "q59_shipping_priority",
    "q60_local_supplier_volume",
]

#: Input sizes: TPC-H-shaped tables at sf=0.01 (60k lineitem rows), and the
#: document/embedding/event tables at the sizes of the sf0.01 test data.
CATALOG_SIZES = {"sf": 0.01, "n_docs": 500, "n_vecs": 500, "n_events": 10_000}

#: Passes run before timing starts.  Probed on 4 cores in one process of 22
#: passes, with q37 and q46 also in the pass: 18.2 s cold, then 5.0, 4.8,
#: 4.2, 4.3, 4.5 s, and within ±8% of 4.1 s from pass 5 on, drifting slowly
#: lower.
CATALOG_WARMUP_PASSES = 5

#: Rows in each release fixture's primary input.  Chosen by measurement
#: (DESIGN.md, "Release input size"): traced passes took 15.2, 17.2, 20.0
#: and 26.4 s at 1000, 4000, 8000 and 16000 rows, so at 1000 rows the
#: per-row work was ~5% of a pass and at 4000 ~17%.  4000 is the largest
#: size whose runs fit the run budget (~63 s a run; ~76 s at 8000).
RELEASE_ROWS = 4000

#: Fewest timed passes per run, whatever ``--seconds`` says.
MIN_TIMED_PASSES = {"catalog": 4, "release": 1}

WORKLOADS = ("catalog", "release")
