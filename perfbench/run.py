"""The engine's benchmark of record: two workloads, each in a fresh
process on local[<all cores>], from inputs generated from ``--seed``.

    python3 perfbench/run.py --workload batch_curate --seed 1 --seconds 20 --trace 0

Prints one summary line per metric on stderr and, as the last line of
stdout, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Exits non-zero without a result when the
engine is missing or a run fails. See perfbench/README.md for the
workloads, the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402

WORKLOADS = ("batch_curate", "stream_live")
# measured on both workloads; what latency means on each is in README.md
END_TO_END = {"setup_s": "s", "latency_p50_s": "s"}
# With --trace 1 every per-layer metric is reported; a layer the workload
# does not run reads 0. The production app's layers come from one drain of
# the app in stream_live's traced run.
QUERY_METRICS = ("batches", "trigger_s", "batch_p50_s", "add_batch_s", "planning_s",
                 "wal_commit_s")
PER_LAYER = [
    "session.start_s", "session.warmup_s", "peak_rss_mb",
    "sink.write_s", "sink.commits", "source.lag_shards_max",
    "cpu.jvm_s", "cpu.py_driver_s", "cpu.py_workers_s", "cpu.busy_frac", "cpu.steal_frac",
    "trace.overhead_s", "trace.coverage_frac",
    # batch_curate
    "refiners.busy_s", "refiners.plan_s",
    "dedup_exact.busy_s", "dedup_exact.keep_frac",
    "filters.busy_s", "filters.keep_frac", "filters.plan_s",
    "scorers.busy_s", "curate.chain_wall_s", "curate.prefix_full_s",
    "curate.single_core_turns_per_s",
    # stream_live
    "live.latency_p90_s", "generator.late_max_s",
    "window.state_rows", "window.state_bytes",
    # the production app's drain (stream_live, traced run only)
    "backlog.turns_per_s", "backlog.coverage_frac",
    "dedup.probe_s", "dedup.claim_write_s", "dedup.bloom_build_s", "dedup.downstream_s",
    "dedup.units_read_frac", "dedup.bytes_read", "dedup.candidates", "dedup.keep_frac",
    "assembly.state_rows", "assembly.state_bytes", "assembly.dropped_by_watermark",
    "pairs.state_rows", "pairs.state_bytes", "pairs.dropped_by_watermark",
    "train.models_s", "scored.keep_frac",
] + [f"{q}.{m}" for q in ("clean", "window", "app_clean", "assembly", "pairs", "dedup",
                          "scored", "signals") for m in QUERY_METRICS]
WORKER_TIMEOUT_S = 170.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Sampler(threading.Thread):
    """Samples RSS and CPU of every process in the worker's process group
    (the Python driver, the JVM it launches, the JVM's Python workers)
    every 0.1 s from /proc."""

    def __init__(self, pgrp: int, driver_pid: int):
        super().__init__(daemon=True)
        self.pgrp, self.driver_pid = pgrp, driver_pid
        self.stop_evt = threading.Event()
        self.peak_rss = 0
        self.kind: dict[int, str] = {}
        self.series: list[tuple[float, dict[str, float], tuple[int, int]]] = []
        self._cpu: dict[int, float] = {}

    def run(self) -> None:
        while not self.stop_evt.is_set():
            self.sample()
            self.stop_evt.wait(0.1)
        self.sample()

    def sample(self) -> None:
        procs = layers.group_processes(self.pgrp)
        rss = 0
        for pid, st in procs.items():
            kind = self.kind.get(pid, "other")
            if kind == "other":  # spark-submit's shell scripts exec into the JVM
                kind = self.kind[pid] = layers.classify(pid, self.driver_pid)
            if kind == "generator":
                continue  # the load generator is not the system under test
            rss += st["rss"]
            self._cpu[pid] = max(self._cpu.get(pid, 0.0), st["cpu_s"])
        self.peak_rss = max(self.peak_rss, rss)
        groups = {"jvm": 0.0, "py_driver": 0.0, "py_workers": 0.0}
        for pid, cpu in self._cpu.items():
            if self.kind[pid] in groups:
                groups[self.kind[pid]] += cpu
        self.series.append((time.time(), groups, layers.cpu_jiffies()))

    def window(self, t0: float, t1: float) -> dict[str, float]:
        """CPU per process group over [t0, t1] (nearest samples)."""
        inside = [s for s in self.series if t0 <= s[0] <= t1] or self.series[-1:]
        before = [s for s in self.series if s[0] <= t0] or self.series[:1]
        a, b = before[-1], inside[-1]
        wall = max(b[0] - a[0], 1e-9)
        out = {f"cpu.{k}_s": b[1][k] - a[1][k] for k in b[1]}
        busy = sum(out.values())
        out["cpu.busy_frac"] = busy / (wall * (os.cpu_count() or 1))
        steal, total = b[2][0] - a[2][0], b[2][1] - a[2][1]
        out["cpu.steal_frac"] = steal / total if total else 0.0
        return out


def stop_group(pgrp: int) -> None:
    """Terminate every process left in the worker's group and wait until
    none remains."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgrp, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while time.time() < deadline:
            if not layers.group_processes(pgrp):
                return
            time.sleep(0.1)


def run_worker(workload: str, spec_path: str, seconds: float, trace: int, cores: int,
               work: str) -> tuple[dict, float, Sampler]:
    """Run worker.py in its own process group; returns its result, when it
    was spawned, and the /proc sampler that watched it."""
    out = os.path.join(work, f"result_{cores}.json")
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
    )
    # driver heap: session.py defaults DFS_DRIVER_MEM to 16g, more than
    # a small host has; the benchmark pins it unless the caller set it
    env.setdefault("DFS_DRIVER_MEM", "2g")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--spec", spec_path, "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores), "--out", out]
    with open(os.path.join(work, f"worker_{cores}.log"), "w") as wlog:
        spawned = time.time()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=wlog, stderr=wlog,
                                start_new_session=True)
        sampler = Sampler(proc.pid, proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop_evt.set()
            sampler.join()
            stop_group(proc.pid)
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, f"worker_{cores}.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(out) as f:
        return json.load(f), spawned, sampler


def main() -> int:
    ap = argparse.ArgumentParser(description="dataflow_spark benchmark of record")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "dataflow_spark")):
        log(f"dataflow_spark not found under {ROOT}: run from a checkout of the engine")
        return 2
    sys.path.insert(0, ROOT)
    import inputs  # needs the engine's datagen

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spec = inputs.build(args.workload, args.seed, args.seconds, work, bool(args.trace))
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        cores = os.cpu_count() or 1
        res, spawned, sampler = run_worker(args.workload, spec_path, args.seconds, args.trace,
                                           cores, work)
        setup_s = res["ready"] - spawned
        if args.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(ROOT, ".perfbench_work",
                                     f"spans_{args.workload}_{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, verdict in res["checks"].items():
        log(f"{args.workload} check {name}: {verdict}")
    correct = res["failed"] == 0
    if args.trace:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update({k: v for k, v in res["layers"].items() if k in layer})
        layer.update(sampler.window(*res["window"]))
        layer["session.start_s"] = setup_s - res["warmup_s"]
        layer["session.warmup_s"] = res["warmup_s"]
        layer["peak_rss_mb"] = sampler.peak_rss / 2**20
        metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in layer.items()}
    else:
        values = {
            "setup_s": setup_s,
            "latency_p50_s": res["latency_p50_s"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    for k, m in metrics.items():
        log(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    # the figures the workload's definition names beside the bounded ones
    if "turns_per_s" in res:
        log(f"{args.workload} curate_turns_per_s = {res['turns_per_s']:.6g} turns/s "
            f"(iterations: {' '.join(f'{w:.2f}' for w in res['op_walls'])} s)")
    if "latency_p90_s" in res:
        log(f"{args.workload} live_latency_p90_s = {res['latency_p90_s']:.6g} s "
            f"(generator late max {res['generator_late_max_s']:.3g} s)")
    log(f"{args.workload} attempted {res['attempted']} failed {res['failed']} "
        f"(run {time.time() - started:.1f} s, checks {res.get('checks_s', 0):.1f} s)")
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    tail = name.rsplit(".", 1)[-1]
    if tail.endswith("turns_per_s"):
        return "turns/s"
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if tail.endswith("_frac"):
        return "fraction"
    if tail.endswith("bytes") or tail == "bytes_read":
        return "bytes"
    return "count"

if __name__ == "__main__":
    sys.exit(main())
