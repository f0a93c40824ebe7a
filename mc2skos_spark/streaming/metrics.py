"""Watermarked windowed stream metrics over transcript turns.

Event-time analytics for the ingestion stream: turns/records per
tumbling event-time window with a watermark bounding how late a turn
may arrive before its window is finalized and dropped from state —
the standard Structured Streaming late-data contract.  (Reassembly
itself deliberately does NOT use watermarks: conversation completeness
is a correctness gate, handled by the foreachBatch pending-carry in
:mod:`.incremental` instead.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def turn_rate_metrics(transcripts_stream: DataFrame,
                      window_duration: str = "1 minute",
                      watermark_delay: str = "5 minutes",
                      exact: bool = False) -> DataFrame:
    """Streaming DF → per-window ingestion metrics.

    Output: (window_start, window_end, turns, payload_turns,
    conversations, payload_chars).  Append-output compatible: each
    window finalizes once the watermark passes window_end +
    watermark_delay.

    ``conversations`` uses ``approx_count_distinct`` by default — an
    exact distinct inside streaming state is unbounded memory per
    window.  ``exact=True`` switches to ``count_distinct`` for the
    batch path (the transformation is batch/stream agnostic; the
    driver-gate entry runs it exact so DuckDB can oracle it).
    """
    distinct_convs = (F.count_distinct("conv_id") if exact
                      else F.approx_count_distinct("conv_id"))
    return (transcripts_stream
            .withWatermark("ts", watermark_delay)
            .groupBy(F.window("ts", window_duration).alias("w"))
            .agg(F.count(F.lit(1)).alias("turns"),
                 F.count(F.when(F.col("tool") == "marc_export", 1))
                  .alias("payload_turns"),
                 distinct_convs.alias("conversations"),
                 F.sum(F.when(F.col("tool") == "marc_export",
                              F.length("text")).otherwise(F.lit(0)))
                  .alias("payload_chars"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "turns", "payload_turns", "conversations",
                    "payload_chars"))
