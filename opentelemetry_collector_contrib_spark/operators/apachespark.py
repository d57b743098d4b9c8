"""apachespark receiver → metric rows (an engine measuring its kin).

Re-expresses ``receiver/apachesparkreceiver/scraper.go:54-350`` over
kind-fanned rows of the Spark REST API instead of HTTP polls:

- ``app`` rows (one per application per scrape) drive the
  allowed-apps gate (:60-80): when ``application_names`` is given,
  apps whose name is not in the list contribute nothing — their
  cluster lookups are never made and their per-app endpoints are
  never fetched.
- ``cluster`` rows carry the /metrics blob (gauges / counters /
  histograms / timers keyed by the FULL dotted metric name including
  the app-id prefix). recordCluster (:128-253) is a 32-entry
  presence-gated lookup fan per allowed app: driver BlockManager
  disk/memory (on/off-heap × used/free), HiveExternalCatalog
  counters, CodeGenerator histogram count+mean pairs, DAGScheduler
  gauges (running/waiting stage split), LiveListenerBus, JVMCPU,
  ExecutorMetrics memory/pool/GC. Absent key = no row.
- ``stage`` rows (:254-304): the status switch maps
  ACTIVE/COMPLETE/PENDING/FAILED to a status row (value 0) and any
  other status SKIPS the stage entirely (the ``continue``); then the
  25-metric fan (tasks, run/cpu time, spills, io size/records by
  direction, shuffle block/bytes by source, write time).
- ``executor`` rows (:305-332): memory/disk/tasks/times plus the
  storage-memory quad where free = total − used per heap location.
- ``job`` rows (:333-350): active tasks/stages + completed/skipped/
  failed result fans.

Plan: apps ⋈ cluster is a per-scrape equi-join (broadcast the app
side — bounded by apps-per-cluster); every fan is an inline explode;
no shuffle beyond the broadcast and no Python.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CLUSTER_SCHEMA = ("struct<gauges: map<string,double>, "
                   "counters: map<string,bigint>, "
                   "histograms: map<string,struct<count:bigint,"
                   "mean:double>>, "
                   "timers: map<string,struct<mean:double>>>")

_STAGE_SCHEMA = """struct<
  stage_id: bigint, attempt_id: bigint, status: string,
  num_active_tasks: bigint, num_complete_tasks: bigint,
  num_failed_tasks: bigint, num_killed_tasks: bigint,
  executor_run_time: bigint, executor_cpu_time: bigint,
  result_size: bigint, jvm_gc_time: bigint,
  memory_bytes_spilled: bigint, disk_bytes_spilled: bigint,
  peak_execution_memory: bigint, input_bytes: bigint,
  output_bytes: bigint, input_records: bigint,
  output_records: bigint, shuffle_remote_blocks_fetched: bigint,
  shuffle_local_blocks_fetched: bigint,
  shuffle_fetch_wait_time: bigint,
  shuffle_remote_bytes_read_to_disk: bigint,
  shuffle_local_bytes_read: bigint, shuffle_remote_bytes_read: bigint,
  shuffle_write_bytes: bigint, shuffle_read_records: bigint,
  shuffle_write_records: bigint, shuffle_write_time: bigint
>"""

_EXEC_SCHEMA = """struct<
  executor_id: string, memory_used: bigint, disk_used: bigint,
  max_tasks: bigint, active_tasks: bigint, failed_tasks: bigint,
  completed_tasks: bigint, total_duration: bigint,
  total_gc_time: bigint, total_input_bytes: bigint,
  total_shuffle_read: bigint, total_shuffle_write: bigint,
  used_on_heap_storage_memory: bigint,
  total_on_heap_storage_memory: bigint,
  used_off_heap_storage_memory: bigint,
  total_off_heap_storage_memory: bigint
>"""

_JOB_SCHEMA = """struct<
  job_id: bigint, num_active_tasks: bigint,
  num_completed_tasks: bigint, num_skipped_tasks: bigint,
  num_failed_tasks: bigint, num_active_stages: bigint,
  num_completed_stages: bigint, num_skipped_stages: bigint,
  num_failed_stages: bigint
>"""

# recordCluster's lookup fan: (collection, key suffix, metric,
# attr1, attr2, is histogram-count / histogram-mean)
_CLUSTER_FAN = [
    ("gauges", ".driver.BlockManager.disk.diskSpaceUsed_MB",
     "spark.driver.block_manager.disk.usage", None, None),
    ("gauges", ".driver.BlockManager.memory.offHeapMemUsed_MB",
     "spark.driver.block_manager.memory.usage", "off_heap", "used"),
    ("gauges", ".driver.BlockManager.memory.onHeapMemUsed_MB",
     "spark.driver.block_manager.memory.usage", "on_heap", "used"),
    ("gauges", ".driver.BlockManager.memory.remainingOffHeapMem_MB",
     "spark.driver.block_manager.memory.usage", "off_heap", "free"),
    ("gauges", ".driver.BlockManager.memory.remainingOnHeapMem_MB",
     "spark.driver.block_manager.memory.usage", "on_heap", "free"),
    ("counters", ".driver.HiveExternalCatalog.fileCacheHits",
     "spark.driver.hive_external_catalog.file_cache_hits", None, None),
    ("counters", ".driver.HiveExternalCatalog.filesDiscovered",
     "spark.driver.hive_external_catalog.files_discovered", None,
     None),
    ("counters", ".driver.HiveExternalCatalog.hiveClientCalls",
     "spark.driver.hive_external_catalog.hive_client_calls", None,
     None),
    ("counters", ".driver.HiveExternalCatalog.parallelListingJobCount",
     "spark.driver.hive_external_catalog.parallel_listing_jobs", None,
     None),
    ("counters", ".driver.HiveExternalCatalog.partitionsFetched",
     "spark.driver.hive_external_catalog.partitions_fetched", None,
     None),
    ("hist_count", ".driver.CodeGenerator.compilationTime",
     "spark.driver.code_generator.compilation.count", None, None),
    ("hist_mean", ".driver.CodeGenerator.compilationTime",
     "spark.driver.code_generator.compilation.average_time", None,
     None),
    ("hist_count", ".driver.CodeGenerator.generatedClassSize",
     "spark.driver.code_generator.generated_class.count", None, None),
    ("hist_mean", ".driver.CodeGenerator.generatedClassSize",
     "spark.driver.code_generator.generated_class.average_size", None,
     None),
    ("hist_count", ".driver.CodeGenerator.generatedMethodSize",
     "spark.driver.code_generator.generated_method.count", None, None),
    ("hist_mean", ".driver.CodeGenerator.generatedMethodSize",
     "spark.driver.code_generator.generated_method.average_size",
     None, None),
    ("hist_count", ".driver.CodeGenerator.sourceCodeSize",
     "spark.driver.code_generator.source_code.operations", None, None),
    ("hist_mean", ".driver.CodeGenerator.sourceCodeSize",
     "spark.driver.code_generator.source_code.average_size", None,
     None),
    ("gauges", ".driver.DAGScheduler.job.activeJobs",
     "spark.driver.dag_scheduler.job.active", None, None),
    ("gauges", ".driver.DAGScheduler.job.allJobs",
     "spark.driver.dag_scheduler.job.count", None, None),
    ("gauges", ".driver.DAGScheduler.stage.failedStages",
     "spark.driver.dag_scheduler.stage.failed", None, None),
    ("gauges", ".driver.DAGScheduler.stage.runningStages",
     "spark.driver.dag_scheduler.stage.count", "running", None),
    ("gauges", ".driver.DAGScheduler.stage.waitingStages",
     "spark.driver.dag_scheduler.stage.count", "waiting", None),
    ("counters", ".driver.LiveListenerBus.numEventsPosted",
     "spark.driver.live_listener_bus.posted", None, None),
    ("timer_mean",
     ".driver.LiveListenerBus.queue.appStatus.listenerProcessingTime",
     "spark.driver.live_listener_bus.processing_time.average", None,
     None),
    ("counters", ".driver.LiveListenerBus.queue.appStatus."
     "numDroppedEvents",
     "spark.driver.live_listener_bus.dropped", None, None),
    ("gauges", ".driver.LiveListenerBus.queue.appStatus.size",
     "spark.driver.live_listener_bus.queue_size", None, None),
    ("gauges", ".driver.JVMCPU.jvmCpuTime",
     "spark.driver.jvm_cpu_time", None, None),
    ("gauges", ".driver.ExecutorMetrics.JVMOffHeapMemory",
     "spark.driver.executor.memory.jvm", "off_heap", None),
    ("gauges", ".driver.ExecutorMetrics.JVMHeapMemory",
     "spark.driver.executor.memory.jvm", "on_heap", None),
    ("gauges", ".driver.ExecutorMetrics.OffHeapExecutionMemory",
     "spark.driver.executor.memory.execution", "off_heap", None),
    ("gauges", ".driver.ExecutorMetrics.OnHeapExecutionMemory",
     "spark.driver.executor.memory.execution", "on_heap", None),
    ("gauges", ".driver.ExecutorMetrics.OffHeapStorageMemory",
     "spark.driver.executor.memory.storage", "off_heap", None),
    ("gauges", ".driver.ExecutorMetrics.OnHeapStorageMemory",
     "spark.driver.executor.memory.storage", "on_heap", None),
    ("gauges", ".driver.ExecutorMetrics.DirectPoolMemory",
     "spark.driver.executor.memory.pool", "direct", None),
    ("gauges", ".driver.ExecutorMetrics.MappedPoolMemory",
     "spark.driver.executor.memory.pool", "mapped", None),
    ("gauges", ".driver.ExecutorMetrics.MinorGCCount",
     "spark.driver.executor.gc_operations", "minor", None),
    ("gauges", ".driver.ExecutorMetrics.MajorGCCount",
     "spark.driver.executor.gc_operations", "major", None),
    ("gauges", ".driver.ExecutorMetrics.MinorGCTime",
     "spark.driver.executor.gc_time", "minor", None),
    ("gauges", ".driver.ExecutorMetrics.MajorGCTime",
     "spark.driver.executor.gc_time", "major", None),
]

_STAGE_FAN = [  # (metric, attr1, field)
    ("spark.stage.task.active", None, "num_active_tasks"),
    ("spark.stage.task.result", "completed", "num_complete_tasks"),
    ("spark.stage.task.result", "failed", "num_failed_tasks"),
    ("spark.stage.task.result", "killed", "num_killed_tasks"),
    ("spark.stage.executor.run_time", None, "executor_run_time"),
    ("spark.stage.executor.cpu_time", None, "executor_cpu_time"),
    ("spark.stage.task.result_size", None, "result_size"),
    ("spark.stage.jvm_gc_time", None, "jvm_gc_time"),
    ("spark.stage.memory.spilled", None, "memory_bytes_spilled"),
    ("spark.stage.disk.spilled", None, "disk_bytes_spilled"),
    ("spark.stage.memory.peak", None, "peak_execution_memory"),
    ("spark.stage.io.size", "in", "input_bytes"),
    ("spark.stage.io.size", "out", "output_bytes"),
    ("spark.stage.io.records", "in", "input_records"),
    ("spark.stage.io.records", "out", "output_records"),
    ("spark.stage.shuffle.blocks_fetched", "remote",
     "shuffle_remote_blocks_fetched"),
    ("spark.stage.shuffle.blocks_fetched", "local",
     "shuffle_local_blocks_fetched"),
    ("spark.stage.shuffle.fetch_wait_time", None,
     "shuffle_fetch_wait_time"),
    ("spark.stage.shuffle.io.disk", None,
     "shuffle_remote_bytes_read_to_disk"),
    ("spark.stage.shuffle.io.read.size", "local",
     "shuffle_local_bytes_read"),
    ("spark.stage.shuffle.io.read.size", "remote",
     "shuffle_remote_bytes_read"),
    ("spark.stage.shuffle.io.write.size", None, "shuffle_write_bytes"),
    ("spark.stage.shuffle.io.records", "in", "shuffle_read_records"),
    ("spark.stage.shuffle.io.records", "out", "shuffle_write_records"),
    ("spark.stage.shuffle.write_time", None, "shuffle_write_time"),
]

_EXEC_FAN = [
    ("spark.executor.memory.usage", None, None, "memory_used"),
    ("spark.executor.disk.usage", None, None, "disk_used"),
    ("spark.executor.task.limit", None, None, "max_tasks"),
    ("spark.executor.task.active", None, None, "active_tasks"),
    ("spark.executor.task.result", "failed", None, "failed_tasks"),
    ("spark.executor.task.result", "completed", None,
     "completed_tasks"),
    ("spark.executor.time", None, None, "total_duration"),
    ("spark.executor.gc_time", None, None, "total_gc_time"),
    ("spark.executor.input_size", None, None, "total_input_bytes"),
    ("spark.executor.shuffle.io.size", "in", None,
     "total_shuffle_read"),
    ("spark.executor.shuffle.io.size", "out", None,
     "total_shuffle_write"),
]

_JOB_FAN = [
    ("spark.job.task.active", None, "num_active_tasks"),
    ("spark.job.task.result", "completed", "num_completed_tasks"),
    ("spark.job.task.result", "skipped", "num_skipped_tasks"),
    ("spark.job.task.result", "failed", "num_failed_tasks"),
    ("spark.job.stage.active", None, "num_active_stages"),
    ("spark.job.stage.result", "completed", "num_completed_stages"),
    ("spark.job.stage.result", "skipped", "num_skipped_stages"),
    ("spark.job.stage.result", "failed", "num_failed_stages"),
]



def _sel(df, scope, sid, entries):
    out = df.select(
        "ts", "app_id", "app_name", F.lit(scope).alias("as_scope"),
        (sid if sid is not None else F.lit(None).cast("string"))
        .alias("as_id"),
        F.explode(F.filter(F.array(*entries), lambda x: x.isNotNull()))
        .alias("_m"))
    m = F.col("_m")
    return out.select("ts", "app_id", "app_name", "as_scope", "as_id",
                      m["metric"].alias("as_metric"),
                      m["attr1"].alias("as_attr1"),
                      m["attr2"].alias("as_attr2"),
                      m["value"].alias("as_value"),
                      m["value_d"].alias("as_value_d"))


def _ent(metric, a1, a2, vi, vd, present=None):
    ns = F.lit(None).cast("string")
    st = F.struct(
        F.lit(metric).alias("metric"),
        (F.lit(a1) if a1 else ns).alias("attr1"),
        (F.lit(a2) if a2 else ns).alias("attr2"),
        (vi.cast("bigint") if vi is not None
         else F.lit(None).cast("bigint")).alias("value"),
        (vd.cast("double") if vd is not None
         else F.lit(None).cast("double")).alias("value_d"),
    )
    return st if present is None else F.when(present, st)


def spark_rest_metrics(
    df: DataFrame,
    application_names: list | None = None,
) -> DataFrame:
    kind = F.col("kind")
    base = df.select(kind.alias("_kind"), F.col("ts").alias("ts"),
                     F.col("app_id"), F.col("app_name"),
                     F.col("body"))

    apps = base.where(F.col("_kind") == "app") \
               .select("ts", "app_id", "app_name")
    if application_names is not None:
        apps = apps.where(F.col("app_name").isin(*application_names))

    # ---- cluster: per-app lookups into the /metrics blob -------------
    cluster = base.where(F.col("_kind") == "cluster").select(
        "ts", F.from_json(F.col("body"), _CLUSTER_SCHEMA).alias("_o"))
    joined = cluster.join(F.broadcast(apps), "ts", "inner")
    o = F.col("_o")
    entries = []
    for coll, suffix, metric, a1, a2 in _CLUSTER_FAN:
        key = F.concat(F.col("app_id"), F.lit(suffix))
        if coll == "gauges":
            v = F.element_at(o["gauges"], key)
            entries.append(_ent(metric, a1, a2, v, None,
                                present=v.isNotNull()))
        elif coll == "counters":
            v = F.element_at(o["counters"], key)
            entries.append(_ent(metric, a1, a2, v, None,
                                present=v.isNotNull()))
        elif coll == "hist_count":
            h = F.element_at(o["histograms"], key)
            entries.append(_ent(metric, a1, a2, h["count"], None,
                                present=h.isNotNull()))
        elif coll == "hist_mean":
            h = F.element_at(o["histograms"], key)
            entries.append(_ent(metric, a1, a2, None, h["mean"],
                                present=h.isNotNull()))
        else:  # timer_mean
            t = F.element_at(o["timers"], key)
            entries.append(_ent(metric, a1, a2, None, t["mean"],
                                present=t.isNotNull()))
    cluster_rows = _sel(joined, "cluster", None, entries)

    def per_app(kind_name, schema, scope, sid_field, fan,
                extra=None, gate=None):
        rows = base.where(F.col("_kind") == kind_name).select(
            "ts", "app_id",
            F.from_json(F.col("body"), schema).alias("_o"))
        # the resource app_name comes from the applications listing
        # (scraper.go:60-80), not from the per-object endpoint
        rows = rows.join(F.broadcast(apps), ["ts", "app_id"], "inner")
        oo = F.col("_o")
        if gate is not None:
            rows = rows.where(gate(oo))
        ents = [_ent(m, a1, None, oo[f], None) for m, a1, f in fan]
        if extra is not None:
            ents = extra(oo) + ents
        return _sel(rows, scope, sid_field(oo), ents)

    # ---- stages: status switch drops unknown, fans 25 metrics --------
    def stage_extra(oo):
        status = oo["status"]
        return [F.struct(
            F.lit("spark.stage.status").alias("metric"),
            F.lower(status).alias("attr1"),
            F.lit(None).cast("string").alias("attr2"),
            F.lit(0).cast("bigint").alias("value"),
            F.lit(None).cast("double").alias("value_d"))]

    known = ["ACTIVE", "COMPLETE", "PENDING", "FAILED"]
    stage_rows = per_app(
        "stage", _STAGE_SCHEMA, "stage",
        lambda oo: F.concat_ws("-", oo["stage_id"], oo["attempt_id"]),
        _STAGE_FAN, extra=stage_extra,
        gate=lambda oo: oo["status"].isin(known))

    # ---- executors: storage quad with free = total − used -------------
    def exec_extra(oo):
        quad = []
        for loc, used, total in [
            ("on_heap", "used_on_heap_storage_memory",
             "total_on_heap_storage_memory"),
            ("off_heap", "used_off_heap_storage_memory",
             "total_off_heap_storage_memory"),
        ]:
            quad.append(F.struct(
                F.lit("spark.executor.storage_memory.usage")
                .alias("metric"), F.lit(loc).alias("attr1"),
                F.lit("used").alias("attr2"),
                oo[used].cast("bigint").alias("value"),
                F.lit(None).cast("double").alias("value_d")))
            quad.append(F.struct(
                F.lit("spark.executor.storage_memory.usage")
                .alias("metric"), F.lit(loc).alias("attr1"),
                F.lit("free").alias("attr2"),
                (oo[total] - oo[used]).cast("bigint").alias("value"),
                F.lit(None).cast("double").alias("value_d")))
        return quad

    exec_rows = per_app(
        "executor", _EXEC_SCHEMA, "executor",
        lambda oo: oo["executor_id"],
        [(m, a1, f) for m, a1, _, f in _EXEC_FAN], extra=exec_extra)

    job_rows = per_app(
        "job", _JOB_SCHEMA, "job",
        lambda oo: oo["job_id"].cast("string"), _JOB_FAN)

    out = cluster_rows
    for piece in [stage_rows, exec_rows, job_rows]:
        out = out.unionByName(piece)
    return out
