"""Stateful stream-stream join: pair user turns with assistant/tool
responses.

Re-expresses the reference's User/Assistant/Tool turn-pairing protocol
(/root/reference/dataflow/operators/conversations/func_call_operators.py:517-567)
as a watermarked stream-stream inner join: a response joins a user turn in
the same conversation if it arrives within ``max_response`` event time.
Both sides carry watermarks so Spark can evict join state.

Streaming emits ALL (user, response) pairs inside the bound; the app's
exactly-once MERGE sink keys them by (conv_id, user_turn_idx,
resp_turn_idx), so a replayed batch merges instead of duplicating.
``join_user_responses_batch`` is the batch twin with the identical
predicate, the oracle for the stream's pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_user_responses(
    stream: DataFrame,
    max_response_seconds: int = 300,
    watermark_user: str = "2 minutes",
    watermark_resp: str = "2 minutes",
) -> DataFrame:
    users = (
        stream.filter(F.col("role") == "user")
        .select(
            "conv_id",
            F.col("turn_idx").alias("user_turn_idx"),
            F.col("ts").alias("user_ts"),
            F.col("text").alias("user_text"),
        )
        .withWatermark("user_ts", watermark_user)
    )
    resps = (
        stream.filter(F.col("role").isin("assistant", "tool"))
        .select(
            "conv_id",
            F.col("turn_idx").alias("resp_turn_idx"),
            F.col("role").alias("resp_role"),
            F.col("ts").alias("resp_ts"),
            F.col("text").alias("resp_text"),
        )
        .withWatermark("resp_ts", watermark_resp)
    )
    cond = (
        (users.conv_id == resps.conv_id)
        & (resps.resp_ts > users.user_ts)
        & (resps.resp_ts <= users.user_ts + F.expr(f"INTERVAL {max_response_seconds} SECONDS"))
        & (resps.resp_turn_idx > users.user_turn_idx)
    )
    return users.join(resps, cond, "inner").select(
        users.conv_id,
        "user_turn_idx",
        "user_ts",
        "resp_turn_idx",
        "resp_role",
        "resp_ts",
        (F.unix_micros(F.col("resp_ts").cast("timestamp"))
         - F.unix_micros(F.col("user_ts").cast("timestamp"))).alias("latency_us"),
    )


def join_user_responses_batch(df: DataFrame, max_response_seconds: int = 300) -> DataFrame:
    """Batch all-pairs twin of join_user_responses (identical predicate)."""
    users = df.filter(F.col("role") == "user").select(
        "conv_id",
        F.col("turn_idx").alias("user_turn_idx"),
        F.col("ts").alias("user_ts"),
    )
    resps = df.filter(F.col("role").isin("assistant", "tool")).select(
        F.col("conv_id").alias("r_conv_id"),
        F.col("turn_idx").alias("resp_turn_idx"),
        F.col("role").alias("resp_role"),
        F.col("ts").alias("resp_ts"),
    )
    cond = (
        (users.conv_id == resps.r_conv_id)
        & (resps.resp_ts > users.user_ts)
        & (resps.resp_ts <= users.user_ts + F.expr(f"INTERVAL {max_response_seconds} SECONDS"))
        & (resps.resp_turn_idx > users.user_turn_idx)
    )
    return users.join(resps, cond, "inner").select(
        "conv_id", "user_turn_idx", "user_ts", "resp_turn_idx", "resp_role", "resp_ts",
        (F.unix_micros(F.col("resp_ts").cast("timestamp"))
         - F.unix_micros(F.col("user_ts").cast("timestamp"))).alias("latency_us"),
    )
