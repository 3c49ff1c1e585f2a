"""Structured Streaming operators.

The reference is batch-only (one blocking ``sortFile`` RPC,
``ServerHandler.java:23-80``); streaming is a north-star extension.
Everything here is the *same* DataFrame algebra as the batch operators —
``windowed_event_aggregate`` runs unchanged in both modes — plus
custom stateful logic via ``applyInPandasWithState`` where the built-in
operators can't express the semantics (gap sessionization).
"""

from mapreduce_framework_for_mergesort_spark.streaming.sources import (  # noqa: F401
    run_to_memory,
    run_to_parquet,
    stream_events,
)
from mapreduce_framework_for_mergesort_spark.streaming.windows import (  # noqa: F401
    windowed_event_aggregate,
)
from mapreduce_framework_for_mergesort_spark.streaming.stateful import (  # noqa: F401
    sessionize_stream,
    sessionize_stream_watermarked,
)
from mapreduce_framework_for_mergesort_spark.streaming.dedup import (  # noqa: F401
    dedup_stream,
    enrich_stream_with_dim,
)
from mapreduce_framework_for_mergesort_spark.streaming.joins import (  # noqa: F401
    interval_join_events,
)
