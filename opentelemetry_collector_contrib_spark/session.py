"""SparkSession builder tuned for the log pipeline.

Scale posture: these configs are chosen so the same code runs on a
1000-executor cluster against ~100 TB. On the sandbox we run
``local[N]`` (single JVM); the knobs that matter at both scales:

- AQE on (runtime coalescing, skew-join splitting, the rebalance
  before the sink write) — the reference has per-file worker
  parallelism and never sees shuffle skew; we do. The conv_id-keyed
  window/aggregate stages run unsalted (ARCHITECTURE.md §4).
- shuffle partitions ~ 2-4x total cores (AQE coalesces down).
- Arrow enabled: every Python-side op is a vectorized pandas UDF.
- UTC session timezone so results compare bit-exactly vs the DuckDB
  oracle and vs the Go reference (which is ns-UTC throughout).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "otel-contrib-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else *).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    # cores of the master: local[N] runs N task threads, anything else
    # (local[*], a cluster master's driver) counts this box's cores
    n = os.cpu_count() or 8
    if master.startswith("local["):
        body = master[len("local[") : -1]
        if body.isdigit():
            n = int(body)
    if shuffle_partitions is None:
        # 4x cores: fine-grained reduce tasks pack the cores through
        # stage tails; AQE coalesces the small ones back. A real
        # cluster submit overrides this.
        shuffle_partitions = max(8, 4 * n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # filelog-encoding semantics: decode() substitutes U+FFFD on
        # malformed bytes (the x/text decoder behavior the reference
        # relies on) instead of Spark 4's new fail-fast default
        .config("spark.sql.legacy.codingErrorAction", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # cap GC threads at min(8, cores): with local[32] on a shared
        # box, G1's cores-scaled GC workers contend with task threads
        # and *reduce* throughput (measured 2x slowdown); 8 GC threads
        # restores scaling. Below 8 cores, more GC threads than cores
        # made 4-core jobs bimodal (~2x CPU per job on the slow mode).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", f"-XX:ParallelGCThreads={min(8, n)}"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # zstd over snappy: measured -29% sink bytes for +15% write CPU
        # on transcript data — at 100 TB the byte reduction wins every
        # downstream scan and the object-store egress (PLANS.md)
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # env passthrough: SPARK_EXTRA_CONF="k=v;k2=v2" (bench/submit knobs)
    env_conf = os.environ.get("SPARK_EXTRA_CONF", "")
    for pair in filter(None, env_conf.split(";")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
