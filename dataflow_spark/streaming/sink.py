"""Exactly-once keyed MERGE sink with per-batch, per-partition lineage.

Production target is Iceberg ``MERGE INTO ... ON t.conv_id = s.conv_id AND
t.turn_idx = s.turn_idx`` inside ``foreachBatch`` (the reference's
FileStorage.write step files, storage.py:212-277, generalized to an ACID
table). ``merge_sink_for`` returns that path when the session has an
Iceberg runtime; there the executors write the data files, which is what a
cluster needs. Without a runtime the same contract is implemented on plain
parquet by :class:`KeyedMergeSink`:

* data layout: ``<dir>/data/batch=<id>/part-<n>.parquet``, each row
  carrying ``__batch_id`` and ``__part_id`` (its Spark partition). The
  files are written into ``batch=<id>.tmp/`` and the directory is renamed
  into place, so a batch directory is complete when it is visible;
* commit log: ``<dir>/_commits.jsonl``, one JSON line per batch appended
  AFTER the rename. A replayed micro-batch (same batchId after a restart)
  finds its line and is a no-op; a crash between the rename and the append
  leaves the batch uncommitted, and its replay replaces the directory. A
  line torn by a crash mid-append is ignored and cut off before the next
  append;
* lineage: the commit line is the lineage record — batchId, row count,
  per-Spark-partition row counts (``partition_rows``), wall time and a
  timestamp — so only committed batches have lineage, once each;
* read side: ``read_table`` resolves the key (conv_id, turn_idx) by
  last-writer-wins (max batchId) over committed batches — MERGE semantics.

Write path and its memory bound: each micro-batch is collected to the
driver once with ``toArrow()`` (one Spark job, the batch's own plan) and
written by pyarrow, split into up to one file per core. Spark's file
writer cost more than the rows on small batches: each file or directory it
creates forks a ``chmod`` on a host without native Hadoop, and every write
task deserializes the job's Hadoop configuration. The trade is that a
batch passes through driver memory; ``spark.driver.maxResultSize`` fails
an oversized batch with an error rather than an out-of-memory crash. Size
micro-batches with the trigger (``maxFilesPerTrigger``), or use the Iceberg
path, for batches the driver should not hold.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Below about 1 MiB per file a second file costs more than its thread saves.
_FILE_BYTES = 1 << 20


def read_commit_log(path: str) -> list[dict]:
    """Records of a JSON-lines commit log, oldest first. An unterminated
    last line is the tail of an append that a crash cut short; it is not a
    commit and is ignored."""
    try:
        with open(path, "rb") as f:
            data = f.read()
    except FileNotFoundError:
        return []
    complete = data[: data.rfind(b"\n") + 1]
    return [json.loads(line) for line in complete.splitlines() if line.strip()]


def append_commit(path: str, record: dict) -> None:
    """Append one record to a commit log, first cutting off a torn last
    line (see :func:`read_commit_log`) so the new record starts a line."""
    with open(path, "a+b") as f:
        size = f.seek(0, os.SEEK_END)
        if size:
            f.seek(size - 1)
            if f.read(1) != b"\n":
                f.seek(0)
                f.truncate(f.read().rfind(b"\n") + 1)
        f.write((json.dumps(record) + "\n").encode())


def _write_parquet_dir(table: pa.Table, out_dir: str) -> None:
    """Write ``table`` as parquet files in a new ``out_dir``, one file per
    ~1 MiB up to one per core, written on parallel threads (pyarrow's
    writer releases the GIL). A zero-row table still gets one file, which
    carries the schema."""
    os.makedirs(out_dir)
    files = max(1, min(pa.cpu_count(), table.nbytes // _FILE_BYTES))
    step = max(1, -(-table.num_rows // files))
    parts = [table.slice(i, step) for i in range(0, table.num_rows, step)] or [table]

    def write(i: int) -> None:
        pq.write_table(parts[i], os.path.join(out_dir, f"part-{i:05d}.parquet"))

    with ThreadPoolExecutor(len(parts)) as pool:
        list(pool.map(write, range(len(parts))))


@dataclass
class KeyedMergeSink:
    table_dir: str
    keys: tuple[str, ...] = ("conv_id", "turn_idx")

    @property
    def _commits_path(self) -> str:
        return os.path.join(self.table_dir, "_commits.jsonl")

    def committed_batches(self) -> set[int]:
        return {r["batch_id"] for r in read_commit_log(self._commits_path)}

    def foreach_batch(self, df: DataFrame, batch_id: int) -> None:
        if batch_id in self.committed_batches():
            # replay after restart — already durable, exactly-once no-op
            return
        t0 = time.time()
        table = (
            df.withColumn("__batch_id", F.lit(batch_id))
            .withColumn("__part_id", F.spark_partition_id())
            .toArrow()
        )
        final = os.path.join(self.table_dir, "data", f"batch={batch_id}")
        tmp = final + ".tmp"
        # a leftover tmp is a write that a crash cut short
        shutil.rmtree(tmp, ignore_errors=True)
        _write_parquet_dir(table, tmp)
        if os.path.exists(final):
            # crashed between rename and commit append on a previous run
            shutil.rmtree(final)
        os.rename(tmp, final)
        counts = pc.value_counts(table["__part_id"]).to_pylist()
        append_commit(
            self._commits_path,
            {
                "batch_id": batch_id,
                "rows": table.num_rows,
                "partition_rows": {str(c["values"]): c["counts"] for c in counts},
                "wall_s": round(time.time() - t0, 3),
                "ts": time.time(),
            },
        )

    def read_table(self, spark: SparkSession, as_of_batch: int | None = None) -> DataFrame:
        """Merged view: last-writer-wins per key over committed batches.

        ``as_of_batch`` gives snapshot time travel (the Iceberg
        snapshot-id read, storage.py step-file restart analogue): the
        table exactly as it stood after that batch committed."""
        committed = self.committed_batches()
        if as_of_batch is not None:
            committed = {b for b in committed if b <= as_of_batch}
        if not committed:
            raise FileNotFoundError(f"no committed batches in {self.table_dir}")
        # only committed directories: an uncommitted batch=<id>.tmp may
        # hold a file that a crash cut short
        df = spark.read.parquet(
            *[os.path.join(self.table_dir, "data", f"batch={b}") for b in sorted(committed)]
        )
        value_cols = [c for c in df.columns if c not in ("__part_id",)]
        winners = df.groupBy(*[F.col(k) for k in self.keys]).agg(
            F.max_by(
                F.struct(*[F.col(c) for c in value_cols]), F.col("__batch_id")
            ).alias("row")
        )
        return winners.select("row.*").drop("__batch_id", "__part_id")

    def lineage(self) -> list[dict]:
        """One record per committed batch: ``batch_id``, ``rows``,
        ``partition_rows`` (Spark partition id → rows), ``wall_s``, ``ts``."""
        return read_commit_log(self._commits_path)


def merge_sink_for(
    spark,
    path: str,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    iceberg_table: str | None = None,
):
    """Sink factory behind the Iceberg feature probe: when the session's
    JVM actually has the Iceberg runtime (``session.iceberg_available`` —
    activated by ``DFS_ICEBERG_JAR`` at session build), return the real
    MERGE INTO foreachBatch against ``iceberg_table`` (default: a
    ``local.db.<basename>`` hadoop-catalog table, created on first use);
    otherwise fall back to the parquet :class:`KeyedMergeSink` at
    ``path``. Returns ``(foreach_batch_fn, sink_or_None)`` — the sink
    object is None on the Iceberg path (lineage lives in table history)."""
    from dataflow_spark.session import iceberg_available

    if iceberg_available(spark):
        table = iceberg_table or (
            "local.db." + os.path.basename(path.rstrip("/")).replace("-", "_")
        )

        def fn(df: DataFrame, batch_id: int) -> None:
            s = df.sparkSession
            s.sql(
                f"CREATE TABLE IF NOT EXISTS {table} "
                f"({', '.join(f'{f.name} {f.dataType.simpleString()}' for f in df.schema.fields)}) "
                "USING iceberg"
            )
            iceberg_merge_sink(table, keys)(df, batch_id)

        return fn, None
    sink = KeyedMergeSink(path, keys=keys)
    return sink.foreach_batch, sink


def iceberg_merge_sink(table: str, keys: tuple[str, ...] = ("conv_id", "turn_idx")):
    """foreachBatch function doing a real Iceberg MERGE INTO (requires an
    Iceberg catalog on the session; activated via the DFS_ICEBERG_JAR
    probe in session.get_spark — not available in this container)."""

    def fn(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        view = f"__merge_src_{batch_id}"
        df.createOrReplaceTempView(view)
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        spark.sql(
            f"MERGE INTO {table} t USING {view} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )

    return fn
