"""The spark-submit scaling job: identical work at two parallelism levels.

Ships via ``spark-submit --py-files dataflow_spark.zip tools/scaling_job.py
--turns N`` (see tools/bench_scaling.py, which runs it at local[8] and
local[32] and computes scaling efficiency → BENCH/BASELINE.md). The job:

1. batch PT pipeline (refine×3 → exact dedup → 8 heuristic filters →
   quality score) over the deterministic transcripts table;
2. streaming pipeline: file-source stream of the same table →
   stateless refine/filter → exactly-once keyed MERGE sink (foreachBatch),
   availableNow trigger, multi-file source so several micro-batches run.

Prints one JSON line with wall times and turns/sec for both modes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=600_000)
    ap.add_argument("--files", type=int, default=64)
    ap.add_argument("--data-dir", default=None)
    ap.add_argument(
        "--modes",
        default="batch,stream,assembly",
        help="comma-set of legs to run (assembly-only probes skip the rest)",
    )
    ap.add_argument(
        "--dedup-fpt",
        type=int,
        default=16,
        help="maxFilesPerTrigger for the dedup leg: micro-batch count = "
        "files / dedup-fpt (the per-batch-tail amortization knob)",
    )
    args = ap.parse_args()
    modes = set(args.modes.split(","))

    from pyspark.sql import functions as F

    from dataflow_spark.datagen import make_transcripts
    from dataflow_spark.functions.filters import apply_filters
    from dataflow_spark.functions.refiners import apply_refiners
    from dataflow_spark.functions.scorers import quality_score_native
    from dataflow_spark.operators.dedup import dedup_exact
    from dataflow_spark.session import get_spark
    from dataflow_spark.streaming.sink import KeyedMergeSink
    from dataflow_spark.streaming.source import file_stream

    spark = get_spark("dfs-scaling-job")
    spark.sparkContext.setLogLevel("ERROR")
    # report the actual executor-thread count (master local[N]), not
    # defaultParallelism — the latter is pinned per-job, not per-cluster
    master = spark.sparkContext.master
    cores = (
        int(master.split("[")[1].rstrip("]"))
        if "[" in master and master.split("[")[1].rstrip("]").isdigit()
        else spark.sparkContext.defaultParallelism
    )

    # deterministic input, written once per (turns, files) signature
    data_dir = args.data_dir or os.path.join(
        tempfile.gettempdir(), f"dfs_scaling_{args.turns}_{args.files}"
    )
    marker = os.path.join(data_dir, "_DONE")
    if not os.path.exists(marker):
        os.makedirs(data_dir, exist_ok=True)
        pdf = make_transcripts(args.turns, seed=42)
        pdf = pdf.assign(ts=pdf.ts.astype("datetime64[us]"))
        step = len(pdf) // args.files
        for i in range(args.files):
            lo = i * step
            hi = len(pdf) if i == args.files - 1 else (i + 1) * step
            pdf.iloc[lo:hi].to_parquet(os.path.join(data_dir, f"part{i}.parquet"), index=False)
        open(marker, "w").write("ok")

    filters = [
        "content_null", "word_number", "mean_word_length", "alpha_words",
        "unique_words", "lorem_ipsum", "curly_bracket", "watermark",
    ]
    refiners = ["remove_extra_spaces", "remove_emoji", "remove_html_url"]

    # warm-up (JVM/codegen), small slice
    spark.read.parquet(data_dir).limit(10_000).count()

    # warm the Python workers too (imports of pandas/pyarrow dominate the
    # first stateful micro-batch otherwise — a per-process one-time cost
    # that would be amortized over days on a real cluster, exactly like
    # the JVM codegen warmup above): run the stateful assembly operator
    # over a tiny slice so every worker process exists and has imported
    from dataflow_spark.streaming.assembly import assemble_conversations

    warm_dir = tempfile.mkdtemp(prefix="dfs_scale_warm_")
    spark.read.parquet(data_dir).limit(5_000).write.mode("overwrite").parquet(
        os.path.join(warm_dir, "data")
    )
    wck = tempfile.mkdtemp(prefix="dfs_scale_wck_")
    wq = (
        assemble_conversations(
            file_stream(spark, os.path.join(warm_dir, "data")),
            gap_seconds=600,
            watermark="2 minutes",
        )
        .writeStream.format("noop")
        .option("checkpointLocation", wck)
        .trigger(availableNow=True)
        .start()
    )
    wq.awaitTermination()
    shutil.rmtree(warm_dir, ignore_errors=True)
    shutil.rmtree(wck, ignore_errors=True)

    result: dict = {"cores": cores, "turns": args.turns}

    # ---- batch mode
    if "batch" in modes:
        t0 = time.time()
        df = spark.read.parquet(data_dir)
        out = apply_filters(
            dedup_exact(
                apply_refiners(df, refiners).withColumn(
                    "__ord", F.struct("conv_id", "turn_idx")
                ),
                ["text"], "__ord",
            ).drop("__ord"),
            filters,
        ).withColumn("quality", quality_score_native(F.col("text")))
        out.write.format("noop").mode("overwrite").save()
        batch_s = time.time() - t0
        result["batch_s"] = round(batch_s, 2)
        result["batch_turns_per_sec"] = round(args.turns / batch_s, 1)

    # ---- streaming mode (exactly-once sink)
    if "stream" in modes:
        sink_dir = tempfile.mkdtemp(prefix="dfs_scale_sink_")
        ck = tempfile.mkdtemp(prefix="dfs_scale_ck_")
        sink = KeyedMergeSink(os.path.join(sink_dir, "table"))
        t0 = time.time()
        stream = file_stream(spark, data_dir, max_files_per_trigger=16)
        sout = apply_filters(apply_refiners(stream, refiners), filters)
        q = (
            sout.writeStream.foreachBatch(sink.foreach_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        stream_s = time.time() - t0
        lineage = sink.lineage()
        result["stream_s"] = round(stream_s, 2)
        result["stream_turns_per_sec"] = round(args.turns / stream_s, 1)
        result["stream_rows_sunk"] = sum(r["rows"] for r in lineage)
        result["n_batches"] = len(lineage)
        shutil.rmtree(sink_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)

    # ---- scored mode (r6): train-once BPE+LM models, per-batch
    # perplexity/token-count band filter through the exactly-once sink —
    # the composed app's stage 5 as its own scaling leg. Training time is
    # reported separately (a fixed per-run cost that does not scale with
    # the stream) so the scaling ratio is computed on the streaming part.
    if "scored" in modes:
        from dataflow_spark.streaming.app import TranscriptsApp

        sdir = tempfile.mkdtemp(prefix="dfs_scale_scored_")
        ck5 = tempfile.mkdtemp(prefix="dfs_scale_ck5_")
        app = TranscriptsApp(src_dir=data_dir, out_dir=sdir)
        t0 = time.time()
        app.train_models(spark)
        train_s = time.time() - t0
        t0 = time.time()
        sq = (
            apply_refiners(
                file_stream(spark, data_dir, max_files_per_trigger=16),
                app.refiners,
            )
            .writeStream.foreachBatch(
                lambda bdf, bid: app.scored_sink.foreach_batch(
                    app.score_df(bdf), bid
                )
            )
            .option("checkpointLocation", ck5)
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        scored_s = time.time() - t0
        app.release_models()
        result["scored_train_s"] = round(train_s, 2)
        result["scored_s"] = round(scored_s, 2)
        result["scored_turns_per_sec"] = round(args.turns / scored_s, 1)
        result["scored_rows_kept"] = sum(
            r["rows"] for r in app.scored_sink.lineage()
        )
        shutil.rmtree(sdir, ignore_errors=True)
        shutil.rmtree(ck5, ignore_errors=True)

    # ---- stateful mode: session-window conversation assembly
    if "assembly" in modes:
        ck2 = tempfile.mkdtemp(prefix="dfs_scale_ck2_")
        t0 = time.time()
        aq = (
            assemble_conversations(
                file_stream(spark, data_dir, max_files_per_trigger=16),
                gap_seconds=600,
                watermark="2 minutes",
            )
            .writeStream.format("noop")
            .option("checkpointLocation", ck2)
            .trigger(availableNow=True)
            .start()
        )
        aq.awaitTermination()
        assembly_s = time.time() - t0
        result["assembly_s"] = round(assembly_s, 2)
        result["assembly_turns_per_sec"] = round(args.turns / assembly_s, 1)
        shutil.rmtree(ck2, ignore_errors=True)

    # ---- streaming near-dedup mode: incremental MinHash first-wins with
    # Bloom-pruned bucketed band state (the 10^12-turn-safe read path)
    if "dedup" in modes:
        from dataflow_spark.operators.dedup import with_order_rank
        from dataflow_spark.streaming.dedup import StreamingFirstWinsDedup

        ddir = tempfile.mkdtemp(prefix="dfs_scale_dst_")
        ck4 = tempfile.mkdtemp(prefix="dfs_scale_ck4_")
        kept: list[int] = []
        dd = StreamingFirstWinsDedup(
            os.path.join(ddir, "state"),
            order_col="__ord",
            ts_col="ts",
            downstream=lambda s, b: kept.append(s.count()),
            compact_every=8,
        )

        phase_timings: list[dict] = []

        def _dedup_batch(bdf, bid):
            dd.process_batch(
                with_order_rank(bdf, ["ts", "turn_idx", "conv_id"], "__ord"), bid
            )
            if getattr(dd, "last_timings", None):
                phase_timings.append(dict(dd.last_timings))

        t0 = time.time()
        dq = (
            file_stream(spark, data_dir, max_files_per_trigger=args.dedup_fpt)
            .writeStream.foreachBatch(_dedup_batch)
            .option("checkpointLocation", ck4)
            .trigger(availableNow=True)
            .start()
        )
        dq.awaitTermination()
        dedup_s = time.time() - t0
        result["dedup_s"] = round(dedup_s, 2)
        result["dedup_turns_per_sec"] = round(args.turns / dedup_s, 1)
        result["dedup_rows_kept"] = int(sum(kept))
        result["dedup_n_batches"] = len(kept)
        result["dedup_phase_timings"] = phase_timings
        shutil.rmtree(ddir, ignore_errors=True)
        shutil.rmtree(ck4, ignore_errors=True)

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
