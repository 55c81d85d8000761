"""The local session's layout: checkpoint files go through the FileSystem
manager, stateful operators run one state partition per core, and batch
plans keep the twice-the-cores shuffle width."""

import os
import re

from pyspark.sql import functions as F

from dataflow_spark.datagen import write_transcripts_parquet
from dataflow_spark.streaming.source import file_stream
from dataflow_spark.streaming.windows import tumbling_turn_counts


def _cores(spark) -> int:
    return int(re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master).group(1))


def test_checkpoint_file_manager_is_filesystem_based(spark, tmp_path):
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ck"))
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(path, hadoop_conf)
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_stateful_operator_runs_one_state_partition_per_core(spark, tmp_path):
    src = write_transcripts_parquet(str(tmp_path / "src"), n_turns=200, seed=3)
    ck = tmp_path / "ck"
    q = (
        tumbling_turn_counts(file_stream(spark, src))
        .writeStream.format("noop")
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(p["numInputRows"] for p in q.recentProgress) == 200
    parts = [d for d in os.listdir(ck / "state" / "0") if d.isdigit()]
    assert len(parts) == _cores(spark)


def test_batch_shuffle_keeps_twice_the_cores(spark):
    width = 2 * _cores(spark)
    grouped = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    persisted = grouped.persist()
    try:
        for df in (grouped, persisted):
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert re.search(rf"hashpartitioning\([^()]*, {width}\)", plan), plan
    finally:
        persisted.unpersist()
