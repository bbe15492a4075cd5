"""The benchmark's workloads: fixed query lists issued one after another.

Each list is a subset of the registry sized so that one run (the
set-up, a cold pass, two warm-up passes and the counted warm passes) fits
the benchmark's time budget on a 4-core host. README.md gives each
workload's reason and the queries its family leaves out.
"""

from __future__ import annotations

# Ends every set-up: cheap, oracle-backed and in no workload's asset path.
WARMUP_QUERY = "q1_count_shipped"

WORKLOADS: dict[str, tuple[str, ...]] = {
    # execution-bound: scans, Catalyst, shuffles and the Arrow Python worker
    "reference": ("wordcount", "q7_top_revenue_orders", "spam_train"),
    # standing assets built cold and probed warm, and an availableNow stream
    "curation": ("bpe_token_counts", "dsir_topk", "stream_dedup"),
}
