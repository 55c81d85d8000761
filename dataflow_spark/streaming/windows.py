"""Watermarked window aggregations keyed by conv_id.

The streaming generalization of the reference's whole-table per-step
aggregation (SURVEY.md §2.4): per-window turn counts / aggregates with
late-data tolerance via watermark. All expressions are native Catalyst;
partial aggregation happens map-side before the keyed shuffle.

Skew: conv_id is Zipf-distributed. Tumbling/sliding aggregation is keyed
by (window, conv_id) so hot conversations spread across windows; for
degenerate single-window hot keys, ``salted_turn_counts`` pre-aggregates
on a salted key then merges — two small shuffles instead of one skewed one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _agg_cols() -> list[Column]:
    return [
        F.count("*").alias("n_turns"),
        F.sum((F.col("role") == "user").cast("long")).alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("long")).alias("n_assistant"),
        F.sum((F.col("role") == "tool").cast("long")).alias("n_tool"),
        F.sum(F.length(F.coalesce("text", F.lit("")))).alias("total_chars"),
        F.max("turn_idx").alias("max_turn_idx"),
    ]


def tumbling_turn_counts(
    stream: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "conv_id")
        .agg(*_agg_cols())
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "conv_id", "n_turns", "n_user", "n_assistant", "n_tool",
            "total_chars", "max_turn_idx",
        )
    )


def sliding_turn_counts(
    stream: DataFrame,
    window: str = "1 minute",
    slide: str = "30 seconds",
    watermark: str = "2 minutes",
) -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "conv_id")
        .agg(*_agg_cols())
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "conv_id", "n_turns", "n_user", "n_assistant", "n_tool",
            "total_chars", "max_turn_idx",
        )
    )


def salted_turn_counts(
    stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-proof tumbling aggregate: partial agg on
    (window, conv_id, salt) then merge on (window, conv_id).

    NB: only associative aggregates participate (counts/sums/max)."""
    salted = stream.withWatermark("ts", watermark).withColumn(
        "__salt", F.pmod(F.xxhash64("turn_idx"), F.lit(salt_buckets))
    )
    partial = salted.groupBy(
        F.window("ts", window).alias("w"), "conv_id", "__salt"
    ).agg(
        F.count("*").alias("pn"),
        F.sum(F.length(F.coalesce("text", F.lit("")))).alias("pchars"),
        F.max("turn_idx").alias("pmax"),
    )
    return partial.groupBy("w", "conv_id").agg(
        F.sum("pn").alias("n_turns"),
        F.sum("pchars").alias("total_chars"),
        F.max("pmax").alias("max_turn_idx"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "conv_id", "n_turns", "total_chars", "max_turn_idx",
    )
