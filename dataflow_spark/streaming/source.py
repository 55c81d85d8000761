"""Streaming sources for the transcripts table.

Production path is an Iceberg table stream; this container has no Iceberg
runtime jars, so the equivalent file-based stream (parquet directory with
``maxFilesPerTrigger``) carries the same semantics: replayable, offset-
tracked, schema-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataflow_spark.schemas import TRANSCRIPTS


def file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPTS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)
