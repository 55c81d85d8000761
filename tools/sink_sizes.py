"""Time one ``KeyedMergeSink.foreach_batch`` commit at three batch sizes.

Each size is a cached ``make_transcripts`` batch in 8 partitions: 400,
40,000 and 400,000 turns. Every run commits batch 0 into a fresh table
directory, so no run is a replay. After 2 warm runs per size, the median
of 6 timed runs is printed, with the parquet bytes the commit wrote.

Usage: python tools/sink_sizes.py [--sizes 400 40000 400000]
Prints a markdown table, then one JSON line per size.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WARM, TIMED, PARTITIONS = 2, 6, 8


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sizes", type=int, nargs="+", default=[400, 40_000, 400_000])
    args = ap.parse_args()
    # the session's default heap is sized for a large host
    os.environ.setdefault("DFS_DRIVER_MEM", "2g")

    from dataflow_spark import get_spark
    from dataflow_spark.datagen import make_transcripts
    from dataflow_spark.streaming.sink import KeyedMergeSink

    spark = get_spark("sink-sizes")
    spark.sparkContext.setLogLevel("ERROR")
    pdf = make_transcripts(max(args.sizes), seed=1)
    work = tempfile.mkdtemp(prefix="sink_sizes_")
    rows = []
    try:
        for n in args.sizes:
            df = spark.createDataFrame(pdf.iloc[:n]).repartition(PARTITIONS).cache()
            df.count()
            times, written = [], 0
            for i in range(WARM + TIMED):
                sink = KeyedMergeSink(os.path.join(work, f"t{n}_{i}"))
                t0 = time.perf_counter()
                sink.foreach_batch(df, 0)
                dt = time.perf_counter() - t0
                written = dir_bytes(os.path.join(sink.table_dir, "data"))
                shutil.rmtree(sink.table_dir)
                if i >= WARM:
                    times.append(dt)
            df.unpersist()
            rows.append(
                {
                    "rows": n,
                    "median_s": round(statistics.median(times), 4),
                    "min_s": round(min(times), 4),
                    "max_s": round(max(times), 4),
                    "written_bytes": written,
                }
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    print(f"| rows | median s ({TIMED} runs) | min s | max s | written MB |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['rows']:,} | {r['median_s']:.3f} | {r['min_s']:.3f} "
            f"| {r['max_s']:.3f} | {r['written_bytes'] / 1e6:.1f} |"
        )
    for r in rows:
        print(json.dumps(r))


if __name__ == "__main__":
    main()
