"""Session-window aggregation over the stream-shaped events table.

:func:`session_window_stats` runs Spark's ``session_window`` (the
Structured-Streaming operator) on batch frames, backing the
``events_session_window`` query in ``__spark_entry__``.  Boundary
semantics: Spark's ``session_window`` is end-exclusive, so a gap of
exactly 30 minutes starts a NEW session — the ``events_sessions``
query uses the same ``gap >= threshold`` rule, so the two are exact twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def session_window_stats(events: DataFrame) -> DataFrame:
    """Per-user session-window aggregation (30-minute gap) over (ts,
    user_id, value[, event_id]).

    ``value`` is summed in exact integer ten-thousandths so the result is
    partition-order independent (the repo's integer-cents rule).  When an
    ``event_id`` column exists, ``first_event`` = min(event_id) identifies
    each session without emitting raw timestamps.
    """
    val_units = F.round(F.col("value") * 10000).cast("long")
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(val_units) / 10000.0).alias("total_value"),
    ]
    if "event_id" in events.columns:
        aggs.insert(0, F.min("event_id").alias("first_event"))
    return events.groupBy(
        F.session_window(F.col("ts"), "30 minutes"),
        F.col("user_id"),
    ).agg(*aggs)
