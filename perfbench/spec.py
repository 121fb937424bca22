"""Fixed parameters of every workload: traffic, sizes and the query list.

Changing any value here changes the benchmark; a performance change must
leave this file alone.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.events import Traffic

BACKLOG_SALT = 1
OPEN_LOOP_SALT = 2
SETUP_ROUNDS = 3
BACKLOG_START_US = 1_700_000_000_000_000  # event-time origin of every backlog


@dataclass(frozen=True)
class StreamSpec:
    traffic: Traffic
    file_events: int  # events per backlog file; the drain reads one file per micro-batch
    warmup_batches: int  # first batches of the drain, untimed (JIT and caches warm up)
    timed_batches: int  # the batches whose CPU (and wall) time gives the throughput


STREAMING: dict[str, StreamSpec] = {
    # Keyed_Windows core: JVM aggregation + built-in state store; Python idle.
    "window_zipf": StreamSpec(
        traffic=Traffic(rate=2000, n_keys=10_000, zipf_s=1.0, disorder_us=50_000, value_type="long"),
        file_events=5_000,
        warmup_batches=3,
        timed_batches=8,
    ),
    # Per-key rolling reduce through applyInPandasWithState: the Python
    # worker / Arrow layer does the work; every input emits one row. Run by
    # hand: it is not in BENCHMARK.json (see README.md).
    "pystate_reduce": StreamSpec(
        traffic=Traffic(rate=200, n_keys=10_000, zipf_s=1.0, disorder_us=0, value_type="double"),
        file_events=500,
        warmup_batches=2,
        timed_batches=6,
    ),
}

# sliding window of window_zipf
WINDOW_US = 10_000_000
SLIDE_US = 2_000_000
LATENESS_US = 100_000

# batch_registry: each pass runs every name below, in this order: TPC-H q1
# and q6 and one name per module group (the windows, join, time-series and
# graph operators, and the dedup, similarity, text and pipeline functions).
# The value is the group the per-group batch.<group>.* metrics report it
# under; "relational" holds TPC-H.
BATCH_QUERIES: dict[str, str] = {
    "q1_pricing_summary": "relational",
    "q6_revenue_filter": "relational",
    "win_ffat_tumbling_1h": "operators.windows",  # also core.graph's PipeGraph
    "interval_join_kp": "operators.interval_join",
    "ts_ewma_daily": "operators.timeseries",
    "graph_triangle_count": "operators.graph",
    "dedup_exact_documents": "functions.dedup",
    "dedup_embedding_cosine": "functions.similarity",
    "text_quality_scores": "functions.text",
    "doc_chunk_tokens": "functions.pipeline",
}
BATCH_GROUPS = (
    "operators.windows",
    "operators.interval_join",
    "operators.timeseries",
    "operators.graph",
    "functions.dedup",
    "functions.similarity",
    "functions.text",
    "functions.pipeline",
    "relational",
)
STAR_SF = 0.005  # 30 000 lineitem rows
