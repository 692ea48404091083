"""Structured Streaming layer: incremental versions of the event
workload — tumbling/sliding windows with watermarks, session windows,
and custom stateful operators via applyInPandasWithState.

The batch queries in ``workload.events`` are the oracle-checkable
equivalents; the streaming forms here run the same logic incrementally
and are driven to completion over the file source in tests and in the
two oracle-checked streaming workload queries (``workload.streaming``).
"""

from dataclass_array_spark.streaming.core import (
    dedup_within_watermark,
    kn3_stream_score,
    ngram_counts_stream,
    events_stream,
    run_stream_to_memory,
    tumbling_counts,
    session_window_stats,
    sliding_counts,
    running_user_totals_stateful,
)

__all__ = [
    "dedup_within_watermark",
    "kn3_stream_score",
    "ngram_counts_stream",
    "events_stream",
    "run_stream_to_memory",
    "tumbling_counts",
    "session_window_stats",
    "sliding_counts",
    "running_user_totals_stateful",
]

from dataclass_array_spark.streaming.core import purchases_with_recent_clicks  # noqa: E402,F401

__all__.append("purchases_with_recent_clicks")

from dataclass_array_spark.streaming.core import (  # noqa: E402,F401
    bloom_stream,
    countmin_stream,
    hist_stream,
    hll_stream,
    decontaminate_stream,
    documents_stream,
    incremental_dedup_stream,
)
__all__ += [
    "bloom_stream", "countmin_stream", "decontaminate_stream",
    "documents_stream", "hist_stream", "hll_stream",
    "incremental_dedup_stream",
]
