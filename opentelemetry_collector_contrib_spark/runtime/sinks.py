"""Sink writers: the fileexporter / per-pipeline-exporter analog.

Reference semantics: fileexporter writes JSON-lines/proto with
rotation and ``group_by`` resource-attribute path templating
(``exporter/fileexporter/config.go:53-88``, grouping_file_exporter.go)
— i.e. per-group files. The Spark-native form is a partitioned
columnar write: ``df.write.partitionBy(group_cols)``.

On a real cluster these are Iceberg tables (atomic snapshot commits =
exactly-once, replacing the reference's sync-vs-async emitter
data-loss tradeoff, adapter/factory.go:21-27). The sandbox has no
Iceberg jars, so the writer targets partitioned parquet with dynamic
partition overwrite — the same idempotent per-partition commit
contract, minus the catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_sink(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Idempotent partitioned write (dynamic overwrite: re-running a
    stage replaces exactly the partitions it produced — resume-safe)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        writer = df.write.mode("overwrite").format(fmt)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def sink_path(root: str, sink: str) -> str:
    return os.path.join(root, f"sink={sink}")


def iceberg_available(spark) -> bool:
    """Capability probe: are Iceberg runtime jars on the JVM classpath?
    (Class.forName, not a config check — config without jars fails at
    write time.)"""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_table_sink(
    df: DataFrame,
    table: str,
    path: str,
    partition_by: list[str] | None = None,
    fmt: str = "auto",
) -> str:
    """Format-pluggable sink: the Iceberg path the north star names,
    with a documented parquet fallback so the same call works in
    jar-less environments (this sandbox).

    - ``fmt="iceberg"`` (or "auto" with jars present): V2
      ``writeTo(table).overwritePartitions()`` — atomic snapshot
      commit, partition-level idempotence, exactly the resume
      contract write_sink() emulates on parquet. Cluster recipe:
      add ``--packages org.apache.iceberg:iceberg-spark-runtime-
      <spark_ver>`` + a ``spark.sql.catalog.<name>`` config
      (README §sinks).
    - fallback: partitioned parquet with dynamic partition overwrite
      (same idempotent per-partition semantics, minus the catalog).

    Returns the format actually used ("iceberg" | "parquet").
    """
    spark = df.sparkSession
    want_iceberg = fmt == "iceberg" or (fmt == "auto" and iceberg_available(spark))
    if want_iceberg:
        if not iceberg_available(spark):
            raise RuntimeError(
                "fmt='iceberg' requested but Iceberg runtime jars are absent; "
                "use fmt='auto' for graceful fallback"
            )
        # overwritePartitions is the contract (partition-level
        # idempotent overwrite; createOrReplace would DROP every
        # partition a previous incremental run wrote). First-ever run
        # creates the table, after which overwritePartitions applies.
        try:
            df.writeTo(table).overwritePartitions()
        except Exception as exc:  # table does not exist yet
            if "TABLE_OR_VIEW_NOT_FOUND" not in str(exc) and "NoSuchTable" not in str(exc):
                raise
            writer = df.writeTo(table)
            if partition_by:
                from pyspark.sql import functions as F

                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.create()
        return "iceberg"
    write_sink(df, path, partition_by=partition_by, fmt="parquet")
    return "parquet"


def failover_write(
    df: DataFrame,
    paths: list[str],
) -> str:
    """failoverconnector semantics (connector/failoverconnector/logs.go:
    21-25): priority-ordered sinks; on write failure fall through to
    the next. Driver-side control flow — Spark task retries already
    handle transient task failures, this covers sink-level outages
    (bad path/credentials/quota). Returns the path that succeeded."""
    last_err: Exception | None = None
    for path in paths:
        try:
            write_sink(df, path)
            return path
        except Exception as e:  # noqa: BLE001 - any sink failure fails over
            last_err = e
    raise RuntimeError(f"all {len(paths)} failover sinks failed") from last_err


def write_file_exporter(
    df: DataFrame,
    path: str,
    fmt: str = "json",
    compression: str | None = None,
    max_records_per_file: int | None = None,
    group_by: list[str] | None = None,
) -> None:
    """The fileexporter's own knobs, Spark-native
    (``exporter/fileexporter/config.go:53-88``):

    - ``format: json`` → JSON-lines files (one record per line, the
      exporter's line protocol); ``proto`` has no splittable Spark
      writer — parquet is the columnar stand-in (documented, not
      silently remapped: passing fmt="proto" raises).
    - ``compression: zstd`` (and gzip) → the matching output codec.
    - ``rotation.max_*`` → ``maxRecordsPerFile`` (Spark rotates by
      record count at the writer level; size-based rotation has no
      deterministic distributed analog).
    - ``group_by: resource attribute`` → ``partitionBy`` (per-group
      files, exactly grouping_file_exporter's layout).
    """
    if fmt == "proto":
        raise ValueError(
            "proto framing has no splittable distributed writer; "
            "use parquet (columnar) or json (line protocol)"
        )
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    if group_by:
        writer = writer.partitionBy(*group_by)
    if fmt == "json":
        writer.json(path)
    else:
        writer.format(fmt).save(path)
