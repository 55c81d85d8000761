"""Seeded, event-time-ordered inputs for the benchmark workloads.

One ``make_transcripts`` table per input, sorted by ``ts`` and sliced into
consecutive shards, so each shard covers one slice of event time. (The
engine's own ``write_transcripts_parquet`` shards by conversation: every
shard then spans the whole week and a streaming watermark drops the late
half of each conversation.) The same seed gives the same files.
"""

from __future__ import annotations

import os

import numpy as np

# Sizes are fixed per workload; only the seed varies between runs.
CURATE_TURNS = 40_000
CURATE_SHARDS = 8
# the production app's backlog, drained once in stream_live's traced run:
# two micro-batches per query (the app reads 4 files per trigger), so the
# second batch probes the state the first one wrote
BACKLOG_TURNS = 800
BACKLOG_SHARDS = 8
LIVE_SHARD_TURNS = 16
LIVE_INTERVAL_S = 0.2  # offered rate: 5 shards/s = 80 turns/s
# 100 latency samples leave 10 beyond the 90th percentile
LIVE_MIN_SHARDS = 100
LIVE_WARM_SHARDS = 1
WARM_TURNS = 400
WARM_SEED_OFFSET = 7919  # warm-up inputs never equal the measured ones

CURATE_REFINERS = ["remove_extra_spaces", "remove_emoji", "remove_html_url"]
CURATE_FILTERS = [
    "content_null", "word_number", "mean_word_length", "alpha_words",
    "unique_words", "lorem_ipsum", "curly_bracket", "watermark",
]


def ts_ordered(n_turns: int, seed: int):
    from dataflow_spark.datagen import make_transcripts

    pdf = make_transcripts(n_turns=n_turns, seed=seed)
    # Spark cannot read TIMESTAMP(NANOS) parquet
    pdf = pdf.assign(ts=pdf["ts"].astype("datetime64[us]"))
    return pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="stable").reset_index(drop=True)


def write_shards(pdf, out_dir: str, n_shards: int, prefix: str = "shard") -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(pdf), n_shards + 1).astype(int)
    paths = []
    for i in range(n_shards):
        path = os.path.join(out_dir, f"{prefix}_{i:05d}.parquet")
        pdf.iloc[bounds[i] : bounds[i + 1]].to_parquet(path, index=False, row_group_size=2048)
        paths.append(path)
    return paths


def build(workload: str, seed: int, seconds: float, work: str, trace: bool) -> dict:
    """Write the inputs of one run under ``work``; returns their spec."""
    warm = os.path.join(work, "warm")
    if workload == "batch_curate":
        import reference

        pdf = ts_ordered(CURATE_TURNS, seed)
        write_shards(pdf, os.path.join(work, "src"), CURATE_SHARDS)
        write_shards(ts_ordered(WARM_TURNS * 5, seed + WARM_SEED_OFFSET), warm, 2)
        ref = os.path.join(work, "reference.parquet")
        reference.curate(pdf, CURATE_REFINERS, CURATE_FILTERS).to_parquet(ref, index=False)
        return {"src": os.path.join(work, "src"), "warm": warm, "turns": CURATE_TURNS,
                "reference": ref}
    if workload == "stream_live":
        n_shards = max(LIVE_MIN_SHARDS, int(round(seconds / LIVE_INTERVAL_S)))
        staging = os.path.join(work, "staging")
        # every shard exists before the schedule starts: the generator
        # only renames, so its lateness does not include building shards
        write_shards(ts_ordered(n_shards * LIVE_SHARD_TURNS, seed), staging, n_shards)
        write_shards(ts_ordered(LIVE_WARM_SHARDS * LIVE_SHARD_TURNS, seed + WARM_SEED_OFFSET),
                     warm, LIVE_WARM_SHARDS)
        spec = {
            "staging": staging, "live": os.path.join(work, "live"), "warm": warm,
            "shards": n_shards, "interval_s": LIVE_INTERVAL_S,
            "turns": n_shards * LIVE_SHARD_TURNS,
        }
        if trace:
            backlog = os.path.join(work, "backlog")
            write_shards(ts_ordered(BACKLOG_TURNS, seed), backlog, BACKLOG_SHARDS)
            spec.update(backlog=backlog, backlog_turns=BACKLOG_TURNS)
        return spec
    raise ValueError(f"unknown workload {workload!r}")
