"""Outside-in layer accounting: everything here reads what the engine and
Spark already publish (query progress, sink lineage, checkpoint logs,
``/proc``) and never reaches into the engine's internals.

Pure standard library, so the parent process (which never starts Spark)
and the self-tests can import it.
"""

from __future__ import annotations

import json
import os
import statistics
from datetime import datetime

# ---------------------------------------------------------------- statistics


def percentile(values, q: float) -> float:
    """``q``-th percentile (0 < q < 100) by linear interpolation between
    closest ranks (``statistics.quantiles(..., method="inclusive")``)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of an empty sample")
    if len(vals) == 1:
        return float(vals[0])
    return statistics.quantiles(vals, n=100, method="inclusive")[int(q) - 1]


def supported_tail(n: int, q: float, beyond: int = 10) -> bool:
    """True when ``n`` samples leave at least ``beyond`` above the q-th
    percentile — the rule for reporting a tail percentile at all."""
    return n * (100 - q) / 100 >= beyond


# ------------------------------------------------------ streaming progress


def progress_records(query) -> list[dict]:
    """``StreamingQuery.recentProgress`` as plain dicts."""
    out = []
    for p in query.recentProgress:
        raw = p.json if hasattr(p, "json") else p
        out.append(json.loads(raw) if isinstance(raw, str) else dict(raw))
    return out


def epoch(ts: str) -> float:
    # Spark stamps progress as e.g. 2026-01-01T00:00:00.123Z (UTC)
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_intervals(records: list[dict]) -> list[tuple[int, float, float]]:
    """(batchId, trigger start, trigger end) per progress record."""
    out = []
    for r in records:
        start = epoch(r["timestamp"])
        dur = (r.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0
        out.append((int(r["batchId"]), start, start + dur))
    return out


def query_layer_metrics(name: str, records: list[dict]) -> dict[str, float]:
    """Per-query micro-batch driver metrics from progress records."""
    data = [r for r in records if (r.get("numInputRows") or 0) > 0]

    def total(key: str) -> float:
        return sum((r.get("durationMs") or {}).get(key, 0) for r in records) / 1000.0

    trig = [(r.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0 for r in data]
    return {
        f"{name}.batches": float(len(data)),
        f"{name}.trigger_s": total("triggerExecution"),
        f"{name}.batch_p50_s": statistics.median(trig) if trig else 0.0,
        f"{name}.add_batch_s": total("addBatch"),
        f"{name}.planning_s": total("queryPlanning"),
        f"{name}.wal_commit_s": total("walCommit"),
    }


def state_metrics(records: list[dict]) -> dict[str, float]:
    """Final state size and rows dropped by the watermark, summed over the
    query's stateful operators."""
    dropped = 0
    for r in records:
        for so in r.get("stateOperators") or []:
            dropped += so.get("numRowsDroppedByWatermark", 0) or 0
    last = records[-1].get("stateOperators") or [] if records else []
    return {
        "state_rows": float(sum(so.get("numRowsTotal", 0) or 0 for so in last)),
        "state_bytes": float(sum(so.get("memoryUsedBytes", 0) or 0 for so in last)),
        "dropped_by_watermark": float(dropped),
    }


# -------------------------------------------------- checkpoint file logs


def _log_files(log_dir: str) -> list[str]:
    """Batch files (``N``) and compaction files (``N.compact``) of a Spark
    metadata log, skipping temp and checksum files."""
    if not os.path.isdir(log_dir):
        return []
    out = []
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if stem.isdigit():
            out.append(os.path.join(log_dir, name))
    return out


def shard_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """File basename → the micro-batch that read it, from the file-source
    log ``<checkpoint>/sources/<n>/``. Spark folds every
    ``compactInterval``-th batch file into ``N.compact`` (which holds the
    entries of all batches up to N, each with its own ``batchId``) and may
    delete the plain files it replaced, so both kinds are read."""
    out: dict[str, int] = {}
    for path in _log_files(os.path.join(checkpoint_dir, "sources", str(source))):
        with open(path) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version ("v1")
            if not line.strip():
                continue
            entry = json.loads(line)
            base = os.path.basename(entry["path"])
            bid = int(entry["batchId"])
            out[base] = min(bid, out.get(base, bid))
    return out


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """Micro-batch id → when its ``commits/<id>`` marker was written."""
    cdir = os.path.join(checkpoint_dir, "commits")
    return {
        int(os.path.basename(p)): os.stat(p).st_mtime
        for p in _log_files(cdir)
        if os.path.basename(p).isdigit()
    }


def shard_latencies(
    schedule: dict[str, float], checkpoints: list[str]
) -> tuple[dict[str, float], list[str]]:
    """Per shard: scheduled publish time → the latest commit, over all
    ``checkpoints`` (queries), of the batch that read it. Returns
    (latencies, shards not committed by every query)."""
    maps = [(shard_batches(ck), commit_times(ck)) for ck in checkpoints]
    lat: dict[str, float] = {}
    missing: list[str] = []
    for shard, due in schedule.items():
        done = []
        for batches, commits in maps:
            b = batches.get(shard)
            if b is None or b not in commits:
                break
            done.append(commits[b])
        if len(done) == len(maps):
            lat[shard] = max(done) - due
        else:
            missing.append(shard)
    return lat, missing


def latency_growth(schedule: dict[str, float], lat: dict[str, float]) -> float:
    """How much latency grew over the schedule: the least-squares slope of
    each shard's latency on its due time, times the schedule's length. A
    backlog that grows shows as later shards waiting longer."""
    due = [schedule[s] for s in lat]
    slope = statistics.linear_regression(due, [lat[s] for s in lat]).slope
    return slope * (max(due) - min(due))


# ------------------------------------------------------------------- /proc

CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def read_stat(pid: int) -> dict | None:
    """pgrp, cpu seconds (user+system) and RSS bytes of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    return {
        "ppid": int(rest[1]),
        "pgrp": int(rest[2]),
        "cpu_s": (int(rest[11]) + int(rest[12])) / CLK_TCK,
        "rss": int(rest[21]) * PAGE,
    }


def cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
    except OSError:
        return []


def group_processes(pgrp: int) -> dict[int, dict]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = read_stat(int(name))
            if st is not None and st["pgrp"] == pgrp:
                out[int(name)] = st
    return out


def classify(pid: int, driver_pid: int) -> str:
    """jvm | py_driver | py_workers | generator | other."""
    if pid == driver_pid:
        return "py_driver"
    argv = cmdline(pid)
    exe = os.path.basename(argv[0]) if argv else ""
    if exe == "java":
        return "jvm"
    if any(a.endswith("publisher.py") for a in argv):
        return "generator"
    if exe.startswith("python"):
        return "py_workers"
    return "other"


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])
