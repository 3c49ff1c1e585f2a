"""Watermarked windowed aggregation — batch/stream-unified.

One definition serves both modes: in batch, ``withWatermark`` is a
no-op and this is a plain tumbling-window aggregate; in streaming, the
watermark bounds state (windows older than ``watermark`` behind the max
observed event time are finalized and their state dropped).  That bound
is what makes the operator runnable forever on an unbounded source —
without it, window state grows with the key×window product.

Scale notes: the aggregation is a hash-partial + final on
(window, event_type) — one shuffle, map-side combined.  State store
partitioning follows ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_aggregate(events: DataFrame) -> DataFrame:
    """Tumbling one-hour-window counts/sums per event_type, under a
    2-hour watermark.

    Columns are aliased to match the batch oracle shape
    (``q_events_sessionize``): window_start, event_type, n_events,
    total_value.
    """
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL partial sums are order-independent (exact); a raw
            # DOUBLE sum can flip the 2nd decimal at a rounding boundary
            # depending on partial-aggregation order.
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
