"""Windowed event statistics: the events_hourly gate as one batch
aggregation.

Hourly (or any tumbling-window) count/sum per event_type over a static
events relation. Streaming lives in the sibling modules (sessions,
kg_ingest, incremental); this aggregation has no streaming runner, so it
takes no watermark.

Scale notes: the aggregation shuffles once on (window, event_type) with
map-side partial aggregation, so a hot event type costs map work, not a
hot reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_stats(
    events: DataFrame,
    *,
    window: str = "1 hour",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling event-time window stats over a batch events relation:
    (window_start, window_end, event_type, n, sum_value_centi) — the
    Spark side of the events_hourly gate."""
    return (
        events.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(type_col))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col(value_col) * 100).cast("long")).alias(
                "sum_value_centi"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col(type_col),
            "n",
            "sum_value_centi",
        )
    )
