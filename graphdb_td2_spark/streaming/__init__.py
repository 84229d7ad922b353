from .ivm import (
    apply_cooccurrence_delta,
    maintained_counts,
    run_incremental_cooccurrence,
)
from .core import (
    events_stream,
    first_seen_stream,
    incremental_event_edges,
    stream_burst_pairs,
    stream_dedup_first_events,
    stream_event_type_windows,
    stream_session_windows,
    streaming_burst_pairs,
    streaming_dedup_counts,
    streaming_enriched_windows,
    streaming_event_windows,
    streaming_session_windows,
    streaming_sliding_windows,
)

__all__ = [
    "apply_cooccurrence_delta",
    "maintained_counts",
    "run_incremental_cooccurrence",
    "events_stream",
    "first_seen_stream",
    "incremental_event_edges",
    "stream_burst_pairs",
    "stream_dedup_first_events",
    "stream_event_type_windows",
    "stream_session_windows",
    "streaming_burst_pairs",
    "streaming_dedup_counts",
    "streaming_enriched_windows",
    "streaming_event_windows",
    "streaming_session_windows",
    "streaming_sliding_windows",
]
