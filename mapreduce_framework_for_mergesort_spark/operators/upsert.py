"""CDC merge (upsert/delete application) — the incremental-maintenance
operator every warehouse pipeline runs.

Vanilla Spark has no ``MERGE INTO`` (that's a table-format feature —
Delta/Iceberg layer it over this exact algebra); the operator form is
two relational steps:

1. anti-join base against the changed keys (drops updated + deleted
   rows) — shuffles only the key column of the change set against the
   base;
2. union the insert/update payload rows back in.

Scale posture: the change set is normally ≪ base (a day's CDC against
years of history), so step 1 plans as a broadcast anti-join and the
base never shuffles at all.  With a bucketed base (``bucketing.py``)
even a large change set merges co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Apply a change set with an op column (I=insert, U=update/replace,
    D=delete) to ``base``.  Change rows carry the full payload for I/U.

    Last-writer-wins *within* the change set is the caller's contract
    (dedupe a multi-batch feed by sequence number first — see
    ``streaming/dedup.py`` for the streaming form).

    The anti-join strategy is left to Catalyst/AQE — an unconditional
    broadcast hint would driver-collect an arbitrarily large change set
    and OOM instead of degrading to a shuffle (or co-located, if
    bucketed) anti-join.
    """
    touched = (
        changes.where(F.col(op_col).isin("U", "D")).select(*keys).distinct()
    )
    survivors = base.join(touched, keys, "left_anti")
    upserts = changes.where(F.col(op_col).isin("I", "U")).drop(op_col)
    return survivors.unionByName(upserts)
