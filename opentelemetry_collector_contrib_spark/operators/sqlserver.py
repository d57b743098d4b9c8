"""sqlserver receiver → metric rows (the four metric query families).

Re-expresses ``receiver/sqlserverreceiver/scraper.go`` over rows of
the receiver's own SQL queries (queries.go) instead of a live mssql
connection. All values arrive as STRINGS (the sqlquery StringMap
row model) and every Record call parses int-or-float with a parse
failure meaning "no datapoint, error appended" — here a try_cast
dead letter:

- database io (:162-227): per (physical_filename, logical_filename,
  file_type) read/write latency ÷1e3 (float seconds), operation
  counts, io bytes;
- perf counters (:228-533): the 33-case counter-name switch becomes
  a broadcast equi-join against the case table (the mysql 107-case
  lesson from PLANS.md — one hash probe per row, not O(cases) string
  compares); int vs float parse per case carried; ``Page life
  expectancy`` keeps its ``object`` attribute; unknown counters emit
  nothing;
- database status (:534-582): six status counts + cpu count +
  computer uptime;
- waits (:583-626): os.wait.duration = wait_time_ms ÷ 1e3 keyed by
  (wait_category, wait_type).

The query-text/plan and sample-query LOG scrapers (:627-1059) are
top-query Δ-ranking over an LRU cache + plan obfuscation — driver
state and SQL parsing, declared out of scope with the other vendor
log exporters (SURVEY §2.10); the metric surface is complete.

Output: one row per datapoint with ss_metric / ss_a1 / ss_a2 /
ss_value / ss_value_d plus the resource columns (computer, instance,
db, file attrs). Plan: from_json + inline explode per family, one
broadcast join for the counter table; no Python, no wide shuffles.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# counter name → (metric, attr1, attr2, is_float)
PERF_COUNTER_TABLE = [
    ("Active Temp Tables", "sqlserver.table.count", "active",
     "temporary", False),
    ("Backup/Restore Throughput/sec",
     "sqlserver.database.backup_or_restore.rate", None, None, True),
    ("Batch Requests/sec", "sqlserver.batch.request.rate", None, None,
     True),
    ("Buffer cache hit ratio", "sqlserver.page.buffer_cache.hit_ratio",
     None, None, True),
    ("Bytes Received from Replica/sec", "sqlserver.replica.data.rate",
     "receive", None, True),
    ("Bytes Sent to Replica/sec", "sqlserver.replica.data.rate",
     "transmit", None, True),
    ("Disk Read IO/sec", "sqlserver.resource_pool.disk.operations",
     "read", None, True),
    ("Disk Read IO Throttled/sec",
     "sqlserver.resource_pool.disk.throttled.read.rate", None, None,
     False),
    ("Disk Write IO/sec", "sqlserver.resource_pool.disk.operations",
     "write", None, True),
    ("Disk Write IO Throttled/sec",
     "sqlserver.resource_pool.disk.throttled.write.rate", None, None,
     False),
    ("Execution Errors", "sqlserver.database.execution.errors", None,
     None, False),
    ("Free list stalls/sec",
     "sqlserver.page.buffer_cache.free_list.stalls.rate", None, None,
     False),
    ("Free Space in tempdb (KB)", "sqlserver.database.tempdb.space",
     "free", None, False),
    ("Full Scans/sec", "sqlserver.database.full_scan.rate", None,
     None, True),
    ("Index Searches/sec", "sqlserver.index.search.rate", None, None,
     True),
    ("Lock Timeouts/sec", "sqlserver.lock.timeout.rate", None, None,
     True),
    ("Lock Wait Count", "sqlserver.lock.wait.count", None, None,
     False),
    ("Lock Waits/sec", "sqlserver.lock.wait.rate", None, None, True),
    ("Logins/sec", "sqlserver.login.rate", None, None, True),
    ("Logouts/sec", "sqlserver.logout.rate", None, None, True),
    ("Memory Grants Pending",
     "sqlserver.memory.grants.pending.count", None, None, False),
    ("Mirrored Write Transactions/sec",
     "sqlserver.transaction.mirror_write.rate", None, None, True),
    ("Number of Deadlocks/sec", "sqlserver.deadlock.rate", None, None,
     True),
    ("Page life expectancy", "sqlserver.page.life_expectancy",
     "@object", None, False),
    ("Page lookups/sec", "sqlserver.page.lookup.rate", None, None,
     True),
    ("Processes blocked", "sqlserver.processes.blocked", None, None,
     False),
    ("SQL Compilations/sec", "sqlserver.batch.sql_compilation.rate",
     None, None, True),
    ("SQL Re-Compilations/sec",
     "sqlserver.batch.sql_recompilation.rate", None, None, True),
    ("Transaction Delay", "sqlserver.transaction.delay", None, None,
     True),
    ("User Connections", "sqlserver.user.connection.count", None,
     None, False),
    ("Used memory (KB)", "sqlserver.memory.usage", None, None, True),
    ("Version Store Size (KB)",
     "sqlserver.database.tempdb.version_store.size", None, None,
     True),
]

_IO_SCHEMA = ("struct<physical_filename: string, logical_filename: "
              "string, file_type: string, read_latency_ms: string, "
              "write_latency_ms: string, read_count: string, "
              "write_count: string, read_bytes: string, "
              "write_bytes: string>")

_PERF_SCHEMA = "struct<counter: string, value: string, object: string>"

_STATUS_SCHEMA = ("struct<db_online: string, db_restoring: string, "
                  "db_recovering: string, db_recoveryPending: string,"
                  " db_suspect: string, db_offline: string, "
                  "cpu_count: string, computer_uptime: string>")

_WAIT_SCHEMA = ("struct<wait_category: string, wait_type: string, "
                "wait_time_ms: string>")



def _ent(metric, a1, a2, vi, vd, present):
    ns = F.lit(None).cast("string")
    return F.when(present, F.struct(
        F.lit(metric).alias("metric") if isinstance(metric, str)
        else metric.alias("metric"),
        (a1 if a1 is not None else ns).alias("a1"),
        (a2 if a2 is not None else ns).alias("a2"),
        (vi if vi is not None else F.lit(None).cast("bigint"))
        .cast("bigint").alias("value"),
        (vd if vd is not None else F.lit(None).cast("double"))
        .cast("double").alias("value_d"),
    ))


def sqlserver_metrics(df: DataFrame) -> DataFrame:
    """Kind-fanned (io | perf | status | wait) rows → datapoints.

    Expected passthrough columns: ``computer``, ``instance``, ``db``
    (nullable per family) plus any scrape keys; ``body`` is the
    family JSON.
    """
    spark = df.sparkSession
    kind = F.col("kind")
    base = [c for c in df.columns if c not in ("kind", "body")]
    ns = F.lit(None).cast("string")

    def fan(kname, schema, builder):
        rows = df.where(kind == kname).select(
            *base, F.from_json(F.col("body"), schema).alias("_o"))
        o = F.col("_o")
        entries, extra = builder(o)
        out = rows.select(
            *base, *[x.alias(n) for n, x in extra],
            F.explode(F.filter(F.array(*entries),
                               lambda x: x.isNotNull())).alias("_m"))
        m = F.col("_m")
        return out.select(
            *base, *[F.col(n) for n, _ in extra],
            m["metric"].alias("ss_metric"), m["a1"].alias("ss_a1"),
            m["a2"].alias("ss_a2"), m["value"].alias("ss_value"),
            m["value_d"].alias("ss_value_d"))

    def io_builder(o):
        fl = lambda f: o[f].try_cast("double")  # noqa: E731
        iv = lambda f: o[f].try_cast("bigint")  # noqa: E731
        ents = []
        for d, lat, cnt, byt in [
            ("read", "read_latency_ms", "read_count", "read_bytes"),
            ("write", "write_latency_ms", "write_count",
             "write_bytes"),
        ]:
            ents.append(_ent("sqlserver.database.latency", F.lit(d),
                             None, None, fl(lat) / 1e3,
                             fl(lat).isNotNull()))
            ents.append(_ent("sqlserver.database.operations",
                             F.lit(d), None, iv(cnt), None,
                             iv(cnt).isNotNull()))
            ents.append(_ent("sqlserver.database.io", F.lit(d), None,
                             iv(byt), None, iv(byt).isNotNull()))
        extra = [("file_physical", o["physical_filename"]),
                 ("file_logical", o["logical_filename"]),
                 ("file_type", o["file_type"])]
        return ents, extra

    io_rows = fan("io", _IO_SCHEMA, io_builder)

    # perf counters: broadcast the case table, one probe per row
    dim = spark.createDataFrame(
        PERF_COUNTER_TABLE,
        "counter string, metric string, a1 string, a2 string, "
        "is_float boolean")
    perf = df.where(kind == "perf").select(
        *base, F.from_json(F.col("body"), _PERF_SCHEMA).alias("_o"))
    o = F.col("_o")
    perf = perf.join(F.broadcast(dim),
                     o["counter"] == dim["counter"], "inner")
    iv = o["value"].try_cast("bigint")
    fv = o["value"].try_cast("double")
    parsed_ok = F.when(F.col("is_float"), fv.isNotNull()) \
                 .otherwise(iv.isNotNull())
    a1 = F.when(F.col("a1") == "@object", o["object"]) \
          .otherwise(F.col("a1"))
    perf_rows = perf.where(parsed_ok).select(
        *base, ns.alias("file_physical"), ns.alias("file_logical"),
        ns.alias("file_type"),
        F.col("metric").alias("ss_metric"), a1.alias("ss_a1"),
        F.col("a2").alias("ss_a2"),
        F.when(~F.col("is_float"), iv).alias("ss_value"),
        F.when(F.col("is_float"), fv).alias("ss_value_d"))

    def status_builder(o):
        iv = lambda f: o[f].try_cast("bigint")  # noqa: E731
        ents = [
            _ent("sqlserver.database.count", F.lit(st), None, iv(f),
                 None, iv(f).isNotNull())
            for f, st in [("db_online", "online"),
                          ("db_restoring", "restoring"),
                          ("db_recovering", "recovering"),
                          ("db_recoveryPending", "pending_recovery"),
                          ("db_suspect", "suspect"),
                          ("db_offline", "offline")]
        ]
        ents.append(_ent("sqlserver.cpu.count", None, None,
                         iv("cpu_count"), None,
                         iv("cpu_count").isNotNull()))
        up = o["computer_uptime"].try_cast("double")
        ents.append(_ent("sqlserver.computer.uptime", None, None,
                         None, up, up.isNotNull()))
        return ents, []

    status_rows = fan("status", _STATUS_SCHEMA, status_builder)

    def wait_builder(o):
        w = o["wait_time_ms"].try_cast("double")
        return [_ent("sqlserver.os.wait.duration", o["wait_category"],
                     o["wait_type"], None, w / 1e3, w.isNotNull())], []

    wait_rows = fan("wait", _WAIT_SCHEMA, wait_builder)

    pads = [ns.alias(c) for c in
            ("file_physical", "file_logical", "file_type")]
    out = io_rows
    for piece in [perf_rows,
                  status_rows.select(*base, *pads, "ss_metric",
                                     "ss_a1", "ss_a2", "ss_value",
                                     "ss_value_d"),
                  wait_rows.select(*base, *pads, "ss_metric", "ss_a1",
                                   "ss_a2", "ss_value", "ss_value_d")]:
        out = out.unionByName(piece)
    return out
