"""Open-loop shard publisher for the ``stream_live`` workload.

Runs as its own process so the schedule never waits for the system under
test: shard ``i`` is due at ``t0 + i * interval`` and is moved from the
staging directory into the live source directory with an atomic rename.
Each publish is logged as one JSON line with its scheduled and actual
time, so the benchmark can time latency from when a shard was due and
report how late the generator itself ran.

    python3 perfbench/publisher.py --staging DIR --live DIR \
        --interval 0.05 --t0 EPOCH --log FILE
"""

from __future__ import annotations

import argparse
import json
import os
import time


def publish(staging: str, live: str, interval: float, t0: float, log: str) -> int:
    shards = sorted(n for n in os.listdir(staging) if n.endswith(".parquet"))
    os.makedirs(live, exist_ok=True)
    with open(log, "w") as out:
        for i, name in enumerate(shards):
            due = t0 + i * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.replace(os.path.join(staging, name), os.path.join(live, name))
            out.write(json.dumps({"shard": name, "due": due, "published": time.time()}) + "\n")
            out.flush()
    return len(shards)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--staging", required=True)
    ap.add_argument("--live", required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    publish(a.staging, a.live, a.interval, a.t0, a.log)


if __name__ == "__main__":
    main()
