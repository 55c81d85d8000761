"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The parser and statistics tests take milliseconds; the smoke tests run
each workload end to end at its smallest size (about a minute each).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
from spans import Tracer, union_length  # noqa: E402


def _write_log(path: str, entries: list[tuple[str, int]]) -> None:
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///live/{name}", "timestamp": 0,
                                "batchId": batch}) + "\n")


def _checkpoint(tmp_path, batches: dict[int, list[str]], compact_at: int,
                commit_mtimes: dict[int, float]) -> str:
    """A file-source checkpoint as Spark lays it out: plain batch files,
    one ``N.compact`` holding every entry up to N (the plain files it
    replaced deleted), checksum and temp files to be ignored, and commit
    markers with the given mtimes."""
    ck = tmp_path / "ck"
    src = ck / "sources" / "0"
    src.mkdir(parents=True)
    (ck / "commits").mkdir()
    folded = [(f, b) for b in sorted(batches) if b <= compact_at for f in batches[b]]
    _write_log(str(src / f"{compact_at}.compact"), folded)
    for b, files in batches.items():
        if b > compact_at:
            _write_log(str(src / str(b)), [(f, b) for f in files])
    (src / f".{compact_at}.compact.crc").write_text("junk")
    (src / "99.tmp").write_text("junk")
    for b, t in commit_mtimes.items():
        p = ck / "commits" / str(b)
        p.write_text("v1\n{}\n")
        os.utime(p, (t, t))
    return str(ck)


def test_shard_batches_reads_compact_files(tmp_path):
    batches = {b: [f"s{b}_{i}.parquet" for i in range(2)] for b in range(12)}
    ck = _checkpoint(tmp_path, batches, compact_at=9, commit_mtimes={})
    got = layers.shard_batches(ck)
    assert got == {f: b for b, files in batches.items() for f in files}
    assert len(got) == 24  # nothing lost to the compaction


def test_shard_latencies_take_the_latest_query_commit(tmp_path):
    batches = {0: ["a.parquet", "b.parquet"], 1: ["c.parquet"]}
    q1 = _checkpoint(tmp_path / "q1", batches, compact_at=0, commit_mtimes={0: 103.0, 1: 105.0})
    q2 = _checkpoint(tmp_path / "q2", batches, compact_at=0, commit_mtimes={0: 104.0})
    schedule = {"a.parquet": 100.0, "b.parquet": 101.0, "c.parquet": 102.0, "d.parquet": 103.0}
    lat, missing = layers.shard_latencies(schedule, [q1, q2])
    assert lat == {"a.parquet": 4.0, "b.parquet": 3.0}
    # c: committed by q1 only; d: never read
    assert sorted(missing) == ["c.parquet", "d.parquet"]


def test_latency_growth_separates_steady_from_growing_backlog():
    schedule = {f"s{i}": 100.0 + 0.2 * i for i in range(100)}
    # steady: latency swings with the phase of a 2 s micro-batch
    steady = {s: 3.0 + (due % 2.0) for s, due in schedule.items()}
    growing = {s: 3.0 + 0.25 * (due - 100.0) for s, due in schedule.items()}
    assert abs(layers.latency_growth(schedule, steady)) < 0.5
    assert layers.latency_growth(schedule, growing) == pytest.approx(0.25 * 19.8)


def test_percentile_matches_statistics():
    vals = [float(v) for v in range(1, 201)]
    assert layers.percentile(vals, 50) == statistics.median(vals)
    assert layers.percentile(vals, 95) == pytest.approx(190.05)
    assert layers.percentile([7.0], 95) == 7.0
    assert layers.supported_tail(200, 95) and not layers.supported_tail(199, 95)


def test_progress_metrics_and_intervals():
    recs = [
        {"batchId": 0, "timestamp": "2026-01-01T00:00:00.000Z", "numInputRows": 10,
         "durationMs": {"triggerExecution": 1000, "addBatch": 600, "queryPlanning": 100,
                        "walCommit": 50},
         "stateOperators": [{"numRowsTotal": 5, "memoryUsedBytes": 100,
                             "numRowsDroppedByWatermark": 2}]},
        {"batchId": 1, "timestamp": "2026-01-01T00:00:02.000Z", "numInputRows": 0,
         "durationMs": {"triggerExecution": 500},
         "stateOperators": [{"numRowsTotal": 3, "memoryUsedBytes": 80,
                             "numRowsDroppedByWatermark": 1}]},
    ]
    m = layers.query_layer_metrics("q", recs)
    assert m["q.batches"] == 1 and m["q.trigger_s"] == 1.5 and m["q.batch_p50_s"] == 1.0
    assert m["q.add_batch_s"] == 0.6 and m["q.wal_commit_s"] == 0.05
    st = layers.state_metrics(recs)
    assert st == {"state_rows": 3.0, "state_bytes": 80.0, "dropped_by_watermark": 3.0}
    (b0, s0, e0), (b1, s1, e1) = layers.batch_intervals(recs)
    assert (b0, b1) == (0, 1) and e0 - s0 == 1.0 and s1 - s0 == 2.0


def test_self_times_subtract_children():
    tr = Tracer("t")
    tr.spans = [
        {"id": 1, "parent": None, "name": "root", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "a", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "b", "start": 3.0, "end": 6.0},
        {"id": 4, "parent": 2, "name": "c", "start": 2.0, "end": 3.0},
    ]
    assert tr.self_times() == {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0}
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_tracer_wrap_records_nesting():
    class Layer:
        @staticmethod
        def inner():
            return 1

        @staticmethod
        def outer():
            return Layer.inner() + 1

    tr = Tracer("t")
    tr.wrap(Layer, "inner")
    tr.wrap(Layer, "outer")
    assert Layer.outer() == 2
    tr.restore()
    outer, = tr.named("outer")
    inner, = tr.named("inner")
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    Layer.outer()
    assert len(tr.spans) == 2  # restored: no more spans


def test_exits_nonzero_without_the_engine(tmp_path):
    bare = tmp_path / "bare"
    (bare / "perfbench").mkdir(parents=True)
    for name in os.listdir(BENCH):
        if name.endswith(".py"):
            (bare / "perfbench" / name).write_text(open(os.path.join(BENCH, name)).read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_curate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""


@pytest.mark.parametrize("workload", ["batch_curate", "stream_live"])
def test_smoke(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {"setup_s", "latency_p50_s"}
    assert all(m["value"] > 0 for m in res["metrics"].values())
