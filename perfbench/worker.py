"""One benchmark workload in a fresh process: start Spark, warm up, run
the timed loop, check the outputs and write a result JSON.

Started by ``run.py``; not meant to be run by hand:

    python3 perfbench/worker.py --workload NAME --spec SPEC.json \
        --seconds S --trace 0|1 --cores N --out RESULT.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from layers import (  # noqa: E402
    batch_intervals,
    commit_times,
    latency_growth,
    percentile,
    progress_records,
    query_layer_metrics,
    shard_batches,
    shard_latencies,
    state_metrics,
    supported_tail,
)
from inputs import CURATE_FILTERS, CURATE_REFINERS  # noqa: E402
from spans import Tracer, union_length  # noqa: E402

APP_QUERIES = ["clean", "assembly", "pairs", "dedup", "scored", "signals"]
# a live shard not committed by every query within this many seconds of
# its scheduled publish counts as a failed operation (median latency on a
# 4-core host is 3-4 s: each query's micro-batch takes about 2 s)
LIVE_LATENCY_LIMIT_S = 10.0
LIVE_DRAIN_TIMEOUT_S = 30.0
# a published shard later than this counts as a failed operation
GENERATOR_LATE_LIMIT_S = 0.25
# latency may grow by this much over the schedule (least-squares fit of
# latency on due time); more means the backlog grows and fails the run.
# Above one micro-batch (about 2 s), which is how far latency moves with
# the phase of the batch a shard lands in.
LIVE_TREND_LIMIT_S = 2.0
# passes of the curate chain over the measured input before timing
CURATE_WARM_PASSES = 2
# each prefix of the curate chain is materialized this many times (once
# keeps the traced run under three minutes on a slow host)
PREFIX_REPEATS = 1


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one workload run; ``result`` becomes the result JSON."""

    def __init__(self, args):
        self.args = args
        with open(args.spec) as f:
            self.spec = json.load(f)
        self.work = os.path.dirname(os.path.abspath(args.spec))
        self.tracer = Tracer(f"{args.workload}-{os.getpid()}") if args.trace else None
        self.tracing = False
        self.result: dict = {"layers": {}, "checks": {}}
        self.spark = None

    # ------------------------------------------------------------ tracing

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.active

    @tracing.setter
    def tracing(self, on: bool) -> None:
        """Spans are recorded only while on (and only in a traced run)."""
        if self.tracer is not None:
            self.tracer.active = on

    def wrap(self, owner, attr: str, name: str) -> None:
        if self.tracer is not None:
            self.tracer.wrap(owner, attr, name)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    # ------------------------------------------------------------ session

    def start_spark(self) -> None:
        from dataflow_spark import session

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.wrap(session, "get_spark", "get_spark")
        self.tracing = True
        with self.span("session.start"):
            self.spark = session.get_spark(
                "perfbench",
                cores=self.args.cores,
                extra_conf={
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()
        self.tracing = False

    def timed_loop(self, op) -> list[float]:
        """Closed loop, one client: ``op`` back to back until the run's
        seconds are up (at least once; twice in a traced run, which
        alternates untraced and traced ops). ``op`` returns the wall time of
        its timed part, which excludes the output check that follows it."""
        walls = []
        least = 2 if self.tracer is not None else 1
        t_end = time.time() + self.args.seconds
        self.result["window"] = [time.time(), None]
        while len(walls) < least or time.time() < t_end:
            walls.append(op(len(walls)))
        self.result["window"][1] = time.time()
        return walls


# =============================================================== batch_curate


def curate_chain(df):
    """refine ×3 → exact dedup → filter ×8 → quality score. Every layer is
    called through its module so a traced run can time it."""
    from pyspark.sql import functions as F

    from dataflow_spark.functions import filters, refiners, scorers
    from dataflow_spark.operators import dedup

    refined = refiners.apply_refiners(df, CURATE_REFINERS)
    deduped = dedup.dedup_exact(
        refined.withColumn("__ord", F.struct("conv_id", "turn_idx")), ["text"], "__ord"
    ).drop("__ord")
    filtered = filters.apply_filters(deduped, CURATE_FILTERS)
    return refined, deduped, filtered, filtered.withColumn(
        "quality", scorers.quality_score_native(F.col("text"))
    )


def batch_curate(run: Run) -> None:
    import pandas as pd

    from dataflow_spark.functions import filters, refiners, scorers
    from dataflow_spark.operators import dedup
    from dataflow_spark.schemas import TRANSCRIPTS

    import reference

    spark, spec = run.spark, run.spec
    out = os.path.join(run.work, "curated")
    for mod, attr in ((refiners, "apply_refiners"), (dedup, "dedup_exact"),
                      (filters, "apply_filters"), (scorers, "quality_score_native")):
        run.wrap(mod, attr, f"{mod.__name__.rsplit('.', 1)[-1]}.{attr}")

    def once(src: str) -> None:
        with run.span("curate.iteration"):
            final = curate_chain(spark.read.schema(TRANSCRIPTS).parquet(src))[-1]
            with run.span("sink.write"):
                final.write.mode("overwrite").parquet(out)

    # the JVM keeps getting faster over the first few passes of the chain
    t0 = time.time()
    once(spec["warm"])
    for _ in range(CURATE_WARM_PASSES):
        once(spec["src"])
    run.result["warmup_s"] = time.time() - t0
    run.result["ready"] = time.time()

    want = pd.read_parquet(spec["reference"])
    failed = []

    def op(i: int) -> float:
        # a traced run alternates untraced and traced iterations so the
        # difference between them is the tracing overhead
        run.tracing = run.tracer is not None and i % 2 == 1
        t = time.time()
        once(spec["src"])
        wall = time.time() - t
        run.tracing = False
        (traced if i % 2 == 1 else plain).append(wall)
        got = reference.canonical(pd.read_parquet(out), list(want.columns))
        bad = reference.mismatch(got, want, float_cols=("quality",))
        if bad:
            failed.append(f"iteration {i}: {bad}")
        return wall

    plain: list[float] = []
    traced: list[float] = []
    walls = run.timed_loop(op)
    run.result.update(
        op_walls=walls,
        attempted=len(walls),
        failed=len(failed),
        latency_p50_s=statistics.median(walls),
        turns_per_s=spec["turns"] / statistics.median(walls),
    )
    run.result["checks"]["curate_vs_pandas_reference"] = failed[0] if failed else "ok"
    if run.tracer is not None:
        curate_layers(run, plain, traced)


def single_thread_wall(run: Run) -> float:
    """One more chain iteration with every stage in a single task: the
    single-thread baseline, in this process (a second JVM on one core
    would take the traced run past three minutes on a slow host)."""
    from dataflow_spark.schemas import TRANSCRIPTS

    conf = run.spark.conf
    one_task = {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.files.minPartitionNum": "1",
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.files.maxPartitionBytes": str(1 << 40),
    }
    saved = {k: conf.get(k, None) for k in one_task}
    for k, v in one_task.items():
        conf.set(k, v)
    try:
        src = run.spark.read.schema(TRANSCRIPTS).parquet(run.spec["src"])
        if src.rdd.getNumPartitions() != 1:
            raise RuntimeError("the single-thread baseline did not get one input partition")
        t = time.time()
        curate_chain(src)[-1].write.mode("overwrite").parquet(os.path.join(run.work, "single"))
        return time.time() - t
    finally:
        for k, v in saved.items():
            conf.unset(k) if v is None else conf.set(k, v)


def curate_layers(run: Run, plain: list[float], traced: list[float]) -> None:
    """Per-layer busy time by materializing each prefix of the chain
    (plans are lazy, so a layer's cost only shows as the difference
    between consecutive prefixes), plus plan-build spans."""
    from dataflow_spark.schemas import TRANSCRIPTS

    spark, L, tr = run.spark, run.result["layers"], run.tracer
    prefixes = curate_chain(spark.read.schema(TRANSCRIPTS).parquet(run.spec["src"]))
    reps: list[list[float]] = [[] for _ in prefixes]
    for _ in range(PREFIX_REPEATS):
        for i, df in enumerate(prefixes):
            t = time.time()
            df.write.format("noop").mode("overwrite").save()
            reps[i].append(time.time() - t)
    times = [statistics.median(r) for r in reps]
    # refiners rewrite text and keep every row
    counts = [run.spec["turns"], prefixes[1].count(), prefixes[2].count()]
    L["refiners.busy_s"] = times[0]
    L["dedup_exact.busy_s"] = times[1] - times[0]
    L["filters.busy_s"] = times[2] - times[1]
    L["scorers.busy_s"] = times[3] - times[2]
    L["curate.prefix_full_s"] = times[3]
    L["curate.single_core_turns_per_s"] = run.spec["turns"] / single_thread_wall(run)
    L["dedup_exact.keep_frac"] = counts[1] / counts[0]
    L["filters.keep_frac"] = counts[2] / counts[1]

    def med_span(name: str) -> float:
        d = [s["end"] - s["start"] for s in tr.named(name)]
        return statistics.median(d) if d else 0.0

    L["refiners.plan_s"] = med_span("refiners.apply_refiners")
    L["filters.plan_s"] = med_span("filters.apply_filters")
    L["curate.chain_wall_s"] = statistics.median(traced or plain)
    writes = [s["end"] - s["start"] for s in tr.named("sink.write")]
    L["sink.write_s"] = statistics.median(writes) if writes else 0.0
    L["sink.commits"] = float(len(plain) + len(traced))
    L["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(plain) if traced and plain else 0.0
    )
    # blocking path of one iteration: plan building, then the sink write
    self_t = tr.self_times()
    cover = []
    for it in tr.named("curate.iteration"):
        kids = [s for s in tr.spans if s["parent"] == it["id"]]
        cover.append(sum(self_t[k["id"]] for k in kids) / (it["end"] - it["start"]))
    L["trace.coverage_frac"] = statistics.median(cover) if cover else 0.0


# ====================================================== production app drain


def backlog_drain(run: Run) -> None:
    """One availableNow drain of the production app (``TranscriptsApp``,
    six queries) over a seeded, event-time-ordered backlog, traced, for
    the layers only the app uses. Runs in stream_live's traced run, once
    per process: ``TranscriptsApp.start`` registers a metrics listener it
    never removes, and a second app in the same process fails on it."""
    from dataflow_spark.streaming import app as app_mod
    from dataflow_spark.streaming.dedup import StreamingFirstWinsDedup

    spark, spec, tr = run.spark, run.spec, run.tracer
    dedup_batches: list[dict] = []
    run.wrap(app_mod.TranscriptsApp, "start", "app.start")
    run.wrap(app_mod.TranscriptsApp, "train_models", "app.train_models")
    run.wrap(app_mod.TranscriptsApp, "score_df", "app.score_df")
    orig = StreamingFirstWinsDedup.process_batch

    def process_batch(self, df, batch_id):
        r = orig(self, df, batch_id)
        dedup_batches.append({"timings": dict(getattr(self, "last_timings", {}) or {}),
                              "read": dict(self.last_state_read or {})})
        return r

    tr._patched.append((StreamingFirstWinsDedup, "process_batch", orig))
    StreamingFirstWinsDedup.process_batch = process_batch
    run.wrap(StreamingFirstWinsDedup, "process_batch", "dedup.process_batch")

    app = app_mod.TranscriptsApp(src_dir=spec["backlog"], out_dir=os.path.join(run.work, "app"))
    run.tracing = True
    t0 = time.time()
    with run.span("drain"):
        queries = app.start(spark, available_now=True)
        for q in queries:
            q.awaitTermination()
    wall = time.time() - t0
    run.tracing = False
    for q in queries:
        if q.exception() is not None:
            raise RuntimeError(f"query {q.name} failed: {q.exception()}")
    prog = {q.name: progress_records(q) for q in queries}

    t_check = time.time()
    checks = backlog_checks(run, app, prog, spec["backlog_turns"])
    app.release_models()
    run.result["checks_s"] = time.time() - t_check
    run.result["checks"].update({f"app_{k}": v for k, v in checks.items()})
    run.result["attempted"] += 1
    run.result["failed"] += any(v != "ok" for v in checks.values())

    L = run.result["layers"]
    L["backlog.turns_per_s"] = spec["backlog_turns"] / wall
    for name in APP_QUERIES:
        L.update(query_layer_metrics("app_clean" if name == "clean" else name, prog[name]))
    for name in ("assembly", "pairs"):
        for k, v in state_metrics(prog[name]).items():
            L[f"{name}.{k}"] = v
    tm = lambda key: sum(b["timings"].get(key, 0.0) for b in dedup_batches)  # noqa: E731
    rd = lambda key: sum(b["read"].get(key, 0) or 0 for b in dedup_batches)  # noqa: E731
    L["dedup.probe_s"] = tm("probe")
    L["dedup.claim_write_s"] = tm("claim_write")
    L["dedup.bloom_build_s"] = tm("bloom_build")
    L["dedup.downstream_s"] = tm("downstream")
    L["dedup.units_read_frac"] = rd("units_read") / rd("units_total") if rd("units_total") else 0.0
    L["dedup.bytes_read"] = float(rd("bytes_read"))
    L["dedup.candidates"] = float(rd("candidates"))

    def rows_in(q: str) -> int:
        return sum(r.get("numInputRows", 0) for r in prog[q])

    def rows_out(sink) -> int:
        return sum(r["rows"] for r in sink.lineage())

    L["dedup.keep_frac"] = rows_out(app.dedup_sink) / max(rows_in("dedup"), 1)
    L["scored.keep_frac"] = rows_out(app.scored_sink) / max(rows_in("scored"), 1)
    L["train.models_s"] = sum(s["end"] - s["start"] for s in tr.named("app.train_models"))
    # blocking path: start() (incl. model training), then the batches of
    # whichever query finished last
    last = max(APP_QUERIES, key=lambda q: max((e for _, _, e in batch_intervals(prog[q])),
                                                default=0.0))
    start_span = tr.named("app.start")[-1]
    ivs = [(start_span["start"], start_span["end"])] + [
        (s, e) for _, s, e in batch_intervals(prog[last])
    ]
    L["backlog.coverage_frac"] = union_length(ivs) / wall


def backlog_checks(run: Run, app, prog: dict, src_turns: int) -> dict[str, str]:
    """Each sink of the drain against its batch twin over the same static
    input; with event-time-ordered input the watermark drops no row."""
    import pandas as pd

    from dataflow_spark.functions.filters import apply_filters
    from dataflow_spark.functions.refiners import apply_refiners
    from dataflow_spark.operators.dedup import dedup_minhash, with_order_rank
    from dataflow_spark.schemas import TRANSCRIPTS
    from dataflow_spark.streaming.assembly import assemble_conversations_batch
    from dataflow_spark.streaming.join import join_user_responses_batch

    import reference

    from pyspark.sql import functions as F

    from layers import epoch

    spark = run.spark
    static = spark.read.schema(TRANSCRIPTS).parquet(app.src_dir)
    # a session is emitted once its end + gap falls behind the watermark;
    # the ones still open when the drain ends stay in state
    final_wm = epoch(prog["assembly"][-1]["eventTime"]["watermark"])
    closed = F.col("session_end") < F.lit(final_wm - app.gap_seconds).cast("timestamp")
    refined = apply_refiners(static, app.refiners)

    def compare(got_df, want_df, keys):
        got = got_df.toPandas()
        want = want_df.toPandas()
        cols = [c for c in want.columns if c in got.columns]
        bad = reference.mismatch(
            reference.canonical(got, cols), reference.canonical(want, cols),
            float_cols=[c for c in cols if pd.api.types.is_float_dtype(want[c])],
        )
        dup = int(got.duplicated(list(keys)).sum())
        return bad or (f"{dup} duplicate keys" if dup else "ok")

    checks = {
        "clean_vs_batch": compare(
            app.clean_sink.read_table(spark), apply_filters(refined, app.filters),
            app.clean_sink.keys),
        "scored_vs_batch_twin": compare(
            app.scored_sink.read_table(spark), app.scored_batch_twin(spark),
            app.scored_sink.keys),
        "conversations_vs_batch": compare(
            app.assembly_sink.read_table(spark),
            assemble_conversations_batch(refined, gap_seconds=app.gap_seconds).where(closed),
            app.assembly_sink.keys),
        "pairs_vs_batch": compare(
            app.pairs_sink.read_table(spark),
            join_user_responses_batch(static, max_response_seconds=300),
            app.pairs_sink.keys),
    }
    n_stream = sum(r["rows"] for r in app.dedup_sink.lineage())
    n_table = app.dedup_sink.read_table(spark).count()
    n_batch = dedup_minhash(
        with_order_rank(refined, ["ts", "turn_idx", "conv_id"], "__ord"), "__ord"
    ).count()
    checks["dedup_row_count"] = (
        "ok" if n_stream == n_table == n_batch and 0 < n_stream <= src_turns
        else f"stream {n_stream}, table {n_table}, batch first-wins {n_batch}"
    )
    for name in ("assembly", "pairs"):
        dropped = state_metrics(prog[name])["dropped_by_watermark"]
        checks[f"{name}_dropped_by_watermark"] = "ok" if dropped == 0 else f"{dropped:.0f} rows"
    return checks


# =============================================================== stream_live


def live_queries(run: Run, src: str, out: str) -> list:
    """clean (refine + filter) and a 10 min / 1 min sliding window count,
    each into a KeyedMergeSink, default (as-fast-as-possible) trigger."""
    from dataflow_spark.functions.filters import apply_filters
    from dataflow_spark.functions.refiners import apply_refiners
    from dataflow_spark.streaming.app import DEFAULT_FILTERS, DEFAULT_REFINERS
    from dataflow_spark.streaming.sink import KeyedMergeSink
    from dataflow_spark.streaming.source import file_stream
    from dataflow_spark.streaming.windows import sliding_turn_counts

    spark = run.spark
    clean_sink = KeyedMergeSink(os.path.join(out, "clean"), keys=("conv_id", "turn_idx"))
    window_sink = KeyedMergeSink(
        os.path.join(out, "window"), keys=("window_start", "window_end", "conv_id")
    )
    clean = apply_filters(apply_refiners(file_stream(spark, src), DEFAULT_REFINERS), DEFAULT_FILTERS)
    window = sliding_turn_counts(file_stream(spark, src), window="10 minutes", slide="1 minute")
    qs = []
    for name, df, sink in (("clean", clean, clean_sink), ("window", window, window_sink)):
        qs.append(
            df.writeStream.queryName(name)
            .foreachBatch(sink.foreach_batch)
            .option("checkpointLocation", os.path.join(out, f"ck_{name}"))
            .start()
        )
    run.live_sinks = {"clean": clean_sink, "window": window_sink}
    return qs


def stream_live(run: Run) -> None:
    import pandas as pd

    from dataflow_spark.streaming.sink import KeyedMergeSink

    import reference

    spark, spec = run.spark, run.spec
    run.wrap(KeyedMergeSink, "foreach_batch", "sink.foreach_batch")

    # warm-up: the same two queries over a short live feed, one shard per
    # micro-batch, so the batches' plans are compiled before timing
    t0 = time.time()
    warm_live = os.path.join(run.work, "warm_live")
    os.makedirs(warm_live)
    qs = live_queries(run, warm_live, os.path.join(run.work, "warm_out"))
    for name in sorted(os.listdir(spec["warm"])):
        os.replace(os.path.join(spec["warm"], name), os.path.join(warm_live, name))
        for q in qs:
            q.processAllAvailable()
    for q in qs:
        q.stop()
    run.result["warmup_s"] = time.time() - t0
    run.result["ready"] = time.time()

    out = os.path.join(run.work, "live_out")
    os.makedirs(spec["live"], exist_ok=True)
    qs = live_queries(run, spec["live"], out)
    cks = [os.path.join(out, f"ck_{q.name}") for q in qs]
    pub_log = os.path.join(run.work, "published.jsonl")
    n, interval = spec["shards"], spec["interval_s"]
    start = time.time() + 1.0
    run.result["window"] = [start, None]
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "publisher.py"), "--staging", spec["staging"],
         "--live", spec["live"], "--interval", str(interval), "--t0", repr(start),
         "--log", pub_log],
    )
    half = start + n * interval / 2
    if run.tracer is not None:  # first half untraced, second half traced
        time.sleep(max(0.0, half - time.time()))
        run.tracing = True
    gen.wait()
    with open(pub_log) as f:
        pubs = [json.loads(line) for line in f if line.strip()]
    schedule = {p["shard"]: p["due"] for p in pubs}
    deadline = time.time() + LIVE_DRAIN_TIMEOUT_S
    while time.time() < deadline:
        lat, missing = shard_latencies(schedule, cks)
        if not missing:
            break
        time.sleep(0.2)
    run.tracing = False
    progress = {q.name: progress_records(q) for q in qs}
    for q in qs:
        q.stop()
    run.result["window"][1] = time.time()
    if gen.returncode != 0 or len(pubs) != n:
        raise RuntimeError(f"publisher exited {gen.returncode} after {len(pubs)}/{n} shards")

    lat, missing = shard_latencies(schedule, cks)
    if not supported_tail(len(lat), 90):
        raise RuntimeError(f"{len(lat)} latency samples leave fewer than 10 beyond p90")
    late = {p["shard"]: p["published"] - p["due"] for p in pubs}
    over = {s for s, v in lat.items() if v > LIVE_LATENCY_LIMIT_S}
    over |= {s for s, v in late.items() if v > GENERATOR_LATE_LIMIT_S}
    got = reference.canonical(run.live_sinks["clean"].read_table(spark).toPandas(),
                              ["conv_id", "turn_idx", "text"])
    published = pd.concat(
        [pd.read_parquet(os.path.join(spec["live"], s)) for s in sorted(schedule)],
        ignore_index=True,
    )
    from dataflow_spark.streaming.app import DEFAULT_FILTERS, DEFAULT_REFINERS

    bad = reference.mismatch(got, reference.clean(published, DEFAULT_REFINERS, DEFAULT_FILTERS))
    trend = latency_growth(schedule, lat)
    run.result["checks"] = {
        "clean_vs_pandas_reference": bad or "ok",
        "latency_trend": "ok" if trend <= LIVE_TREND_LIMIT_S else f"{trend:.3f} s",
        "uncommitted_shards": len(missing),
        "shards_late_or_over_latency_limit": len(over),
    }
    values = sorted(lat.values())
    run.result.update(
        attempted=n,
        failed=n if bad or trend > LIVE_TREND_LIMIT_S else len(over | set(missing)),
        latency_p50_s=percentile(values, 50),
        latency_p90_s=percentile(values, 90),
        generator_late_max_s=max(late.values()),
    )
    if run.tracer is not None:
        live_layers(run, progress, schedule, lat, cks, half)
        backlog_drain(run)


def live_layers(run, progress, schedule, lat, cks, half) -> None:
    L = run.result["layers"]
    for name, recs in progress.items():
        L.update(query_layer_metrics(name, recs))
    for k, v in state_metrics(progress["window"]).items():
        L[f"window.{k}"] = v
    lineage = [r for s in run.live_sinks.values() for r in s.lineage()]
    L["sink.write_s"] = sum(r["wall_s"] for r in lineage)
    L["sink.commits"] = float(len(lineage))
    per_batch: dict[int, int] = {}
    for b in shard_batches(cks[0]).values():
        per_batch[b] = per_batch.get(b, 0) + 1
    L["source.lag_shards_max"] = float(max(per_batch.values(), default=0))
    L["generator.late_max_s"] = run.result["generator_late_max_s"]
    L["live.latency_p90_s"] = run.result["latency_p90_s"]
    plain = [v for s, v in lat.items() if schedule[s] < half]
    traced = [v for s, v in lat.items() if schedule[s] >= half]
    L["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(plain) if plain and traced else 0.0
    )
    # blocking path per shard: waiting for the batch that picks it up,
    # then that batch, in whichever query committed it last
    spans = {}
    for ck, name in zip(cks, progress):
        iv = {b: (s, e) for b, s, e in batch_intervals(progress[name])}
        spans[ck] = (shard_batches(ck), commit_times(ck), iv)
    acc, tot = 0.0, 0.0
    for shard, v in lat.items():
        due = schedule[shard]
        ck = max(cks, key=lambda c: spans[c][1].get(spans[c][0].get(shard), 0.0))
        b = spans[ck][0][shard]
        if b in spans[ck][2]:
            acc += spans[ck][2][b][1] - due
            tot += v
    L["trace.coverage_frac"] = acc / tot if tot else 0.0


# ===================================================================== main

WORKLOADS = {"batch_curate": batch_curate, "stream_live": stream_live}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--spec", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)
    try:
        run.start_spark()
        WORKLOADS[args.workload](run)
        if run.tracer is not None:
            run.tracer.restore()
            run.tracer.dump(os.path.join(run.work, "spans.jsonl"))
        with open(args.out, "w") as f:
            json.dump(run.result, f)
    finally:
        if run.spark is not None:
            run.spark.stop()


if __name__ == "__main__":
    main()
