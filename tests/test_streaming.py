"""Streaming runtime: windows / assembly / stream-stream join checked
against batch twins and the pinned pandas assembly oracle on the same
input stream + watermark."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataflow_spark.datagen import write_transcripts_parquet
from dataflow_spark.streaming.assembly import (
    assemble_conversations,
    assemble_conversations_batch,
)
from dataflow_spark.streaming.join import join_user_responses, join_user_responses_batch
from dataflow_spark.streaming.source import file_stream
from dataflow_spark.streaming.windows import tumbling_turn_counts
from tests import reference_kernels as RK


@pytest.fixture(scope="module")
def src_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    return write_transcripts_parquet(str(d / "src"), n_turns=4000, seed=3)


def _run_stream(spark, df, name, ck_root):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(ck_root, name))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def test_tumbling_matches_batch_on_closed_windows(spark, src_dir, tmp_path):
    stream = file_stream(spark, src_dir)
    got = _run_stream(
        spark, tumbling_turn_counts(stream, "1 minute", "2 minutes"), "t_tumbling", str(tmp_path)
    ).toPandas()
    batch = (
        spark.read.parquet(src_dir)
        .groupBy(F.window("ts", "1 minute").alias("w"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .select(F.col("w.start").alias("window_start"), "conv_id", "n_turns")
        .toPandas()
    )
    m = batch.merge(
        got[["window_start", "conv_id", "n_turns"]],
        on=["window_start", "conv_id"],
        how="left",
        suffixes=("_b", "_s"),
    )
    closed = m.dropna(subset=["n_turns_s"])
    # availableNow drains the source; only windows past the final watermark
    # may be withheld — everything emitted must agree exactly
    assert len(closed) >= 0.95 * len(batch)
    assert (closed.n_turns_b == closed.n_turns_s).all()


def test_streaming_assembly_matches_pandas_oracle(spark, src_dir, tmp_path):
    stream = file_stream(spark, src_dir)
    got = _run_stream(
        spark,
        assemble_conversations(stream, gap_seconds=600, watermark="2 minutes"),
        "t_assembly",
        str(tmp_path),
    ).toPandas()
    pdf = pd.read_parquet(os.path.join(src_dir, "transcripts.parquet"))
    oracle = RK.assemble_sessions(pdf, gap_seconds=600)
    m = oracle.merge(got, on=["conv_id", "session_start"], how="inner", suffixes=("_o", "_s"))
    # every emitted session is byte-identical to the reference assembly
    assert len(m) == len(got)
    assert (m.transcript_o == m.transcript_s).all()
    assert (m.n_turns_o == m.n_turns_s).all()
    # and the stream emitted (nearly) all sessions
    assert len(got) >= len(oracle) - 25


def test_streaming_assembly_batch_twin_equals_oracle(spark, src_dir):
    df = spark.read.parquet(src_dir)
    got = (
        assemble_conversations_batch(df, gap_seconds=600)
        .toPandas()
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    pdf = pd.read_parquet(os.path.join(src_dir, "transcripts.parquet"))
    oracle = (
        RK.assemble_sessions(pdf, gap_seconds=600)
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    assert got["transcript"].tolist() == oracle["transcript"].tolist()
    assert got["n_turns"].tolist() == oracle["n_turns"].tolist()


def test_stream_stream_join_matches_batch(spark, src_dir, tmp_path):
    stream = file_stream(spark, src_dir)
    got = _run_stream(
        spark, join_user_responses(stream, 300), "t_ssjoin", str(tmp_path)
    ).toPandas()
    batch = join_user_responses_batch(spark.read.parquet(src_dir), 300).toPandas()
    key = ["conv_id", "user_turn_idx", "resp_turn_idx"]
    assert set(map(tuple, got[key].values)) == set(map(tuple, batch[key].values))
    # latency must be identical per pair
    m = batch.merge(got, on=key, suffixes=("_b", "_s"))
    assert (m.latency_us_b == m.latency_us_s).all()


def test_late_data_within_watermark_included(spark, tmp_path):
    """Rows arriving out of order but within the watermark join their
    window; availableNow + file source delivers them in one batch."""
    rows = [
        ("c1", 0, "user", "a", "", "2024-01-01 00:00:10"),
        ("c1", 2, "user", "c", "", "2024-01-01 00:00:50"),
        ("c1", 1, "assistant", "b", "", "2024-01-01 00:00:30"),  # late
        ("c2", 0, "user", "x", "", "2024-01-01 01:00:00"),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    src = tmp_path / "late_src"
    src.mkdir()
    pdf.to_parquet(str(src / "p.parquet"), index=False)
    stream = file_stream(spark, str(src))
    got = _run_stream(
        spark, tumbling_turn_counts(stream, "1 minute", "2 minutes"), "t_late", str(tmp_path)
    ).toPandas()
    c1 = got[got.conv_id == "c1"]
    assert len(c1) == 1 and int(c1.n_turns.iloc[0]) == 3


def test_assembly_restart_from_checkpoint(spark, tmp_path):
    """North rule: kill the stateful assembly mid-stream, restart from the
    checkpoint — the state store replays from the last committed epoch and
    the final output is exactly-once and byte-identical to the oracle."""
    import time

    from dataflow_spark.datagen import make_transcripts

    pdf = make_transcripts(3000, seed=9).sort_values("ts").reset_index(drop=True)
    pdf = pdf.assign(ts=pdf.ts.astype("datetime64[us]"))
    src = tmp_path / "rsrc"
    src.mkdir()
    for i in range(4):  # arrival order == event-time order, 4 micro-batches
        pdf.iloc[i * 750 : (i + 1) * 750].to_parquet(
            str(src / f"p{i:02d}.parquet"), index=False
        )
    out, ck = str(tmp_path / "rout"), str(tmp_path / "rck")

    def run(stop_early=False):
        q = (
            assemble_conversations(
                file_stream(spark, str(src), max_files_per_trigger=1),
                gap_seconds=600,
                watermark="2 minutes",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        if stop_early:
            while q.isActive and (
                q.lastProgress is None or q.lastProgress["batchId"] < 2
            ):
                time.sleep(0.2)
            q.stop()
            try:
                q.awaitTermination(60)
            except Exception:  # noqa: BLE001 — interrupted mid-batch is the point
                pass
        else:
            q.awaitTermination(300)

    run(stop_early=True)  # simulated failure
    run()  # recovery

    got = spark.read.parquet(out).toPandas()
    # exactly-once across the restart: no duplicated sessions
    assert got.duplicated(["conv_id", "session_start"]).sum() == 0
    oracle = RK.assemble_sessions(pdf, gap_seconds=600)
    m = oracle.merge(
        got, on=["conv_id", "session_start"], how="inner", suffixes=("_o", "_s")
    )
    assert len(m) == len(got)  # every emitted session exists in the oracle
    assert (m.transcript_o == m.transcript_s).all()  # byte-identical text
    assert (m.n_turns_o == m.n_turns_s).all()
    assert len(got) >= len(oracle) - 50  # tail within watermark may be held
