"""SparkSession factory tuned for this engine.

Scale stance: these configs are what we would ship to a 1000-executor
cluster — AQE (runtime coalesce + skew-join splitting), Arrow for every
Python<->JVM hop, and a shuffle-partition count sized to the parallelism
actually available instead of the static 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "dataflow-spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    ``cores=None`` → ``$SPARK_GRAFT_CPUS`` or all cores. On a real cluster
    the master/cores come from spark-submit and everything else here still
    applies unchanged (the job is shipped via ``spark-submit --py-files``).
    """
    n = cores or default_parallelism()
    under_submit = os.environ.get("DFS_UNDER_SPARK_SUBMIT") == "1"
    builder = SparkSession.builder.appName(app_name)
    if not under_submit:
        # under spark-submit the master AND the parallelism confs come from
        # the launcher; standalone python runs get a sized local master
        builder = builder.master(f"local[{n}]")
        # Two shuffle widths. Stateful streaming operators are fixed at
        # spark.sql.shuffle.partitions for the checkpoint's life (AQE is
        # off in streaming), so that width is one state partition per
        # core: at 2n a 4-core window query ran two waves of ~150-200 ms
        # tasks with ~19 ms of CPU each. Batch plans run with AQE, which
        # takes its initial width from initialPartitionNum, so they keep
        # the 2n width they were tuned at.
        builder = (
            builder.config("spark.sql.shuffle.partitions", str(n))
            .config(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(2 * n),
            )
            .config("spark.default.parallelism", str(2 * n))
            # Checkpoint files through FileSystem.rename. Without the
            # native Hadoop library the local filesystem forks a readlink
            # or chmod process for most file operations, and Spark's
            # default FileContext manager pays them on every offsets/N,
            # commits/N, sources/0/N and state-delta file. Measured on a
            # 4-core sliding-window query, one shard per micro-batch:
            # 153 readlink + 40 chmod forks per batch before, 23 chmod
            # with this manager and one state partition per core (40
            # chmod with this manager alone). CRC files are still written
            # and verified. Local runs only: this manager's
            # create-if-absent checks for the file and then renames,
            # where FileContext's rename is atomic, so a cluster under
            # spark-submit keeps Spark's default.
            .config(
                "spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing"
                ".FileSystemBasedCheckpointFileManager",
            )
        )
        # NOT set (r8, measured): spark.sql.files.openCostInBytes below
        # its 4 MB default would let byte-range splits subdivide the
        # ~1 MB generated files to a 64-way scan, but an interleaved A/B
        # showed the flagship chain SLOWER with it (pt min 4.35 s at
        # 128 KB vs 3.68 s at the default; scored stream 2x worse —
        # per-task Arrow scorer init × 4 and 4x the shuffle blocks beat
        # the extra parallelism at this data size). Queries that need
        # compute parallelism on a small scan use an explicit
        # widen_for_compute instead.
    builder = (
        builder
        # AQE: runtime partition coalescing + skew-join splitting. The
        # transcripts table has Zipf-skewed conv_id (FIXTURES.md §1); AQE
        # plus explicit salting (operators/dedup.py, streaming/) is the
        # two-layer skew defense.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # text pipelines are CPU-bound per byte — ~100x a parquet scan's
        # cost per byte once interpreted higher-order expressions (token
        # filters, quality scores) run post-shuffle — so post-shuffle
        # partitions must be sized for COMPUTE balance, not shuffle-block
        # economics. r8 (measured, interleaved A/B at sf0.1/local[32]):
        # the former 8m advisory let AQE coalesce the post-dedup stages
        # of the flagship chain to 1-3 tasks (pt 4.32 s, window_session
        # 0.62 s); 1m keeps them wide (pt 3.51 s, window_session 0.35 s)
        # with every other query flat-or-faster. On a real cluster the
        # guide's 100 MB-1 GB shuffle sizing applies — override via
        # DFS_AQE_ADVISORY (and at 100 TB the per-partition byte counts
        # put AQE far above the advisory floor anyway).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("DFS_AQE_ADVISORY", "1m"),
        )
        # Arrow on every pandas_udf / toPandas hop — the engine mandate is
        # "vectorized pandas/Arrow UDFs, no per-row Python".
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # split files finely enough that scan-stage parallelism is not
        # capped by file count on small-file local datasets (at real scale
        # the default 128m is right — override via extra_conf)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # Streaming state: RocksDB would be the cluster choice; the HDFS
        # store is fine for local state sizes and has no native dependency.
        .config("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("DFS_DRIVER_MEM", "16g"))
    )
    # Iceberg feature probe (activates the real MERGE INTO sink path the
    # moment the environment provides a runtime jar — no code change):
    # DFS_ICEBERG_JAR=/path/to/iceberg-spark-runtime-*.jar configures the
    # jar, the SQL extensions, and a hadoop-type catalog named `local`
    # (warehouse from DFS_ICEBERG_WAREHOUSE, default /tmp). Absent or
    # missing jar → plain session, parquet KeyedMergeSink stays the sink.
    ice_jar = os.environ.get("DFS_ICEBERG_JAR")
    if ice_jar and os.path.exists(ice_jar):
        builder = (
            builder.config("spark.jars", ice_jar)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions",
            )
            .config(
                "spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog"
            )
            .config("spark.sql.catalog.local.type", "hadoop")
            .config(
                "spark.sql.catalog.local.warehouse",
                os.environ.get(
                    "DFS_ICEBERG_WAREHOUSE", "/tmp/dfs_iceberg_warehouse"
                ),
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime is actually loadable on this session's
    JVM (the jar probe above succeeded AND the class resolves) — the
    gate the sink factory and the skip-marked test use."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 - classic-mode probe
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 - any resolution failure = unavailable
        return False
