"""The benchmark's workloads: fixture recipe and query mix of each.

Sizes are chosen so that one run, set-up included, stays within 30 to 60 s
on a 4-core machine: at these sizes Spark's fixed per-job and per-batch costs
dominate, which is what the job-count and batch-floor layer metrics expose.

``BENCHMARK.json`` gates ``llm_curation`` and ``stream_replay`` only: its
time budget does not hold more workloads at a run length that keeps their
medians steady. ``flink_core`` (the uniform-key control) and ``hot_key``
run with ``--workload <name>`` or ``--workload all``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Batch:
    sf: float                    # scale of the gen_sf-style recipe
    queries: tuple[str, ...]     # registry.QUERIES names, run in this order
    hot_user_share: float = 0.0  # share of events owned by user 0
    hot_cust_share: float = 0.0  # share of orders owned by customer 0
    pass_s: float = 2.0          # nominal seconds of one pass on 4 cores


@dataclass(frozen=True)
class Stream:
    events: int       # rows in the backlog
    users: int
    files: int        # backlog files; one micro-batch each
    warm_files: int   # files in the short backlog drained during set-up
    pass_s: float     # nominal seconds of one drain through both streams


WORKLOADS: dict[str, Batch | Stream] = {
    "flink_core": Batch(sf=0.02, pass_s=4.0, queries=(
        "w1_tumbling_hourly", "w3_session_30m_user", "j2_window_join_1h",
        "j3_interval_join_10m", "j5_asof_join_1h", "events_daily_rollup",
        "events_cep_error_triple", "ts_ewma_anomaly", "q1_pricing_summary",
        "q3_shipping_priority",
    )),
    "hot_key": Batch(sf=0.02, hot_user_share=0.15, hot_cust_share=0.3, pass_s=2.0, queries=(
        "w3_session_30m_user", "j3_interval_join_10m", "ts_ewma_anomaly",
        "events_top2_per_user", "skew_replicated_join",
    )),
    "llm_curation": Batch(sf=0.01, pass_s=4.0, queries=(
        "graph_triangle_stats", "dedup_cc_canonical", "dedup_minhash_lsh",
        "text_gopher_quality",
    )),
    "stream_replay": Stream(events=6_000, users=100, files=2, warm_files=1,
                            pass_s=7.0),
}
