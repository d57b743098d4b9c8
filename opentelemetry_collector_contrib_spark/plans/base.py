"""Shared query-registry types/helpers (import-order-safe base)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def omap(*entries) -> Column:
    """map from (cond, key, value) triples, absent when cond false."""
    arr = F.filter(
        F.array(*[
            F.when(cond, F.struct(F.lit(k).alias("key"),
                                  v.alias("value")))
            for cond, k, v in entries]),
        lambda x: x.isNotNull())
    return F.map_from_entries(arr)


def with_file_metadata(df):
    """filelog's include_file_name / include_file_path attributes
    (pkg/stanza/fileconsumer attrs.LogFileName/LogFilePath): stamp the
    source file onto every record from the scan's hidden _metadata
    struct — no extra I/O, resolved at scan time."""
    return df.withColumn(
        "log_file_path", F.col("_metadata.file_path")
    ).withColumn(
        "log_file_name", F.col("_metadata.file_name")
    )
