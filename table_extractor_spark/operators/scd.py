"""Type-2 slowly-changing-dimension build from a change-event log.

Turns an append-only stream of (entity, ts, state...) change events into
the classic SCD2 validity-interval table: one row per state EPISODE with
``valid_from``/``valid_to`` timestamps and an ``is_current`` flag —
consecutive events that repeat the same state collapse into one episode.
This is the dimension shape every warehouse join-at-time query consumes.

Scale shape: two window passes, both partitioned by the entity key — one
shuffle total (the second window reuses the first's partitioning since
the partition key is unchanged).  No self-joins, no driver traffic;
per-entity history is assumed to fit a task (entities with 10^9 events
each are a data-model bug, not a partitioning problem).  At 10^12 events
the one shuffle is the floor for any per-entity ordering semantics.

Determinism: ties on ``ts`` are broken by the caller-named unique
``tiebreak`` column, so retries and repartitioning cannot reorder
same-timestamp events differently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def scd2_build(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    state_col: str,
    tiebreak: str,
) -> DataFrame:
    """(entity, state, valid_from, valid_to, is_current): SCD2 episodes.

    ``valid_from`` is the first event timestamp of the episode,
    ``valid_to`` the start of the NEXT episode (half-open intervals, so
    intervals tile each entity's timeline with no gaps or overlaps), null
    for the current episode; ``is_current`` marks it."""
    order = [F.col(ts_col).asc(), F.col(tiebreak).asc()]
    w_ev = Window.partitionBy(entity_col).orderBy(*order)
    # an event opens a new episode iff it's the entity's first event or
    # changes the state
    changes = (
        events.select(entity_col, ts_col, state_col, tiebreak)
        .withColumn("__prev", F.lag(state_col).over(w_ev))
        .filter(
            F.col("__prev").isNull() | (F.col("__prev") != F.col(state_col))
        )
    )
    w_ep = Window.partitionBy(entity_col).orderBy(*order)
    return changes.withColumn("valid_to", F.lead(ts_col).over(w_ep)).select(
        F.col(entity_col),
        F.col(state_col).alias("state"),
        F.col(ts_col).alias("valid_from"),
        F.col("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    )
