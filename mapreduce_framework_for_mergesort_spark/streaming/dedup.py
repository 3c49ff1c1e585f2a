"""Streaming deduplication and stream-static enrichment.

Streaming twins of batch operators the engine already has (exact dedup in
``operators/dedup.py``; join enrichment in ``operators/relational.py``).
The reference has neither mode — these are north-star surface.

Dedup state discipline: ``dedup_stream`` (plain ``dropDuplicates``)
keeps one state row per distinct key **forever** — correct and exact,
but only viable when the key space is bounded (entity ids, (user, type)
pairs), not for ever-growing ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream(events: DataFrame, keys: list[str]) -> DataFrame:
    """Exact streaming dedup on ``keys`` (state: one row per distinct
    key, kept for the lifetime of the query)."""
    return events.select(*keys).dropDuplicates(keys)


def enrich_stream_with_dim(
    events: DataFrame,
    dim: DataFrame,
    on: tuple[str, str],
    dim_cols: list[str],
) -> DataFrame:
    """Stream-static inner join: each microbatch joins against the static
    dimension, planned as a broadcast hash join (stateless — no streaming
    state at all).  This is the canonical enrichment shape: the 100 TB/day
    stream never shuffles; the dimension ships to every task."""
    left_key, right_key = on
    return events.join(
        F.broadcast(dim.select(right_key, *dim_cols)),
        events[left_key] == dim[right_key],
        "inner",
    )
