"""Stateful conversation assembly — session windows with ordered text.

Re-expresses the reference's conversation assembly
(/root/reference/dataflow/operators/conversations/consistent_chat.py:116-132:
ordered role/value list, never ending on a user turn) as a custom stateful
streaming operator: ``applyInPandasWithState`` keyed by conv_id with
event-time timeout.

Semantics (pinned, tested against a pandas oracle in tests/):
* turns buffer in state; sessions split where the gap between consecutive
  turn timestamps (sorted by ts, then turn_idx) exceeds ``gap``;
* a session is emitted once the watermark passes ``session_end + gap``
  (no more late turns can join it);
* emitted conversation = turns sorted by turn_idx, with a trailing 'user'
  turn dropped (reference rule); sessions that become empty after the trim
  are suppressed.

State size is bounded by the watermark: closed sessions leave state at
emission, so state holds only the open tail of each conversation.
"""

from __future__ import annotations

import math
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("session_start", T.TimestampType(), False),
        T.StructField("session_end", T.TimestampType(), False),
        T.StructField("n_turns", T.IntegerType(), False),
        T.StructField("transcript", T.StringType(), False),
    ]
)

# state: parallel lists of buffered turns (Spark state rows must be a
# struct of simple/array types)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("turn_idxs", T.ArrayType(T.IntegerType()), True),
        T.StructField("roles", T.ArrayType(T.StringType()), True),
        T.StructField("texts", T.ArrayType(T.StringType()), True),
        T.StructField("ts_us", T.ArrayType(T.LongType()), True),
    ]
)


def _turns(pdf: pd.DataFrame) -> list[tuple]:
    """(ts_us, turn_idx, role, text) tuples of a pandas batch of turns;
    a null text assembles as the empty string."""
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
    texts = ["" if x is None or x != x else x for x in pdf["text"]]
    return list(zip(ts_us, pdf["turn_idx"].astype("int64").tolist(), pdf["role"].tolist(), texts))


def _assemble_turns(turns: list[tuple]) -> Tuple[int, str]:
    """turns: (ts_us, turn_idx, role, text) tuples of ONE session.
    Reference assembly: order by turn_idx, drop trailing user turn."""
    ordered = sorted(turns, key=lambda t: t[1])
    if ordered and ordered[-1][2] == "user":
        ordered = ordered[:-1]
    return len(ordered), "\n".join(f"{t[2]}|{t[3]}" for t in ordered)


def make_assembler(gap_seconds: int = 600):
    """Per-group handler in plain Python: with ~10-turn conversations the
    per-group cost is dominated by object overhead, so pandas frames are
    avoided everywhere except the Arrow input/output boundary (5-10x
    higher group throughput than a pandas-based handler)."""
    gap_us = gap_seconds * 1_000_000

    def assemble_fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        turns: list[tuple] = []
        if state.exists:
            ti, ro, te, tu = state.get
            turns.extend(zip(tu, ti, ro, te))  # (ts_us, turn_idx, role, text)

        if not state.hasTimedOut:
            for p in pdfs:
                turns.extend(_turns(p))

        wm_us = state.getCurrentWatermarkMs() * 1000
        out_rows, remaining = _flush(turns, gap_us, wm_us, conv_id)

        if remaining:
            state.update(
                (
                    [t[1] for t in remaining],
                    [t[2] for t in remaining],
                    [t[3] for t in remaining],
                    [t[0] for t in remaining],
                )
            )
            # wake up when the earliest open session could close
            next_close = remaining[0][0] + gap_us
            state.setTimeoutTimestamp(max(next_close // 1000, wm_us // 1000 + 1))
        else:
            state.remove()

        if out_rows:
            yield pd.DataFrame(out_rows)

    return assemble_fn


def assemble_conversations(
    stream: DataFrame,
    gap_seconds: int = 600,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming conversation assembly (append mode)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            make_assembler(gap_seconds),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _flush(
    turns: list[tuple], gap_us: int, wm_us: float, conv_id: str
) -> Tuple[list[dict[str, Any]], list[tuple]]:
    """Shared session-close logic: sort, split on gap, emit sessions whose
    end + gap is behind the watermark (``math.inf`` closes them all).
    Returns (emitted rows, open tail). turns are (ts_us, turn_idx, role,
    text)."""
    turns.sort(key=lambda t: (t[0], t[1]))
    sessions: list[list[tuple]] = []
    cur: list[tuple] = []
    prev_ts = None
    for t in turns:
        if prev_ts is not None and t[0] - prev_ts > gap_us:
            sessions.append(cur)
            cur = []
        cur.append(t)
        prev_ts = t[0]
    if cur:
        sessions.append(cur)

    out_rows: list[dict[str, Any]] = []
    remaining: list[tuple] = []
    for sess in sessions:
        sess_end = sess[-1][0]
        if sess_end + gap_us < wm_us:
            n, transcript = _assemble_turns(sess)
            if n > 0:
                out_rows.append(
                    {
                        "conv_id": conv_id,
                        "session_start": pd.Timestamp(sess[0][0], unit="us"),
                        "session_end": pd.Timestamp(sess_end, unit="us"),
                        "n_turns": n,
                        "transcript": transcript,
                    }
                )
        else:
            remaining.extend(sess)
    return out_rows, remaining


def assemble_conversations_batch(df: DataFrame, gap_seconds: int = 600) -> DataFrame:
    """Batch twin of the streaming assembly — used for oracle comparison
    and for backfills. The stream's session close under an unbounded
    watermark: with the whole input present, every session is closed."""
    import pyspark.sql.functions as F

    gap_us = gap_seconds * 1_000_000

    def per_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        rows, _ = _flush(_turns(pdf), gap_us, math.inf, pdf["conv_id"].iloc[0])
        return pd.DataFrame(rows, columns=OUTPUT_SCHEMA.fieldNames())

    return df.select(
        "conv_id", "turn_idx", "role", "text", F.col("ts").cast("timestamp").alias("ts")
    ).groupBy("conv_id").applyInPandas(per_conv, schema=OUTPUT_SCHEMA)
