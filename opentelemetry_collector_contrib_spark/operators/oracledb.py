"""oracledb receiver → metric rows.

Re-expresses ``receiver/oracledbreceiver/scraper.go:186-490`` over
rows of the receiver's own queries (v$sysstat, v$session,
v$resource_limit, DBA_TABLESPACE_USAGE_METRICS) instead of a live
Oracle connection. All values are strings (the sqlquery row model);
parse failures drop the datapoint (scrapeErrors.append + no record):

- stat rows (:208-405): the 27-name v$sysstat switch as a broadcast
  equi-join; every stat is an int64 parse EXCEPT ``CPU used by this
  session`` which is a float64 divided by 100 (the value is tens of
  milliseconds, :357-365). Unknown names emit nothing.
- session rows: the reference groups in SQL (``sessionCountSQL``,
  :64) — here the same count(*) by (status, type) runs as a Spark
  groupBy over raw v$session rows.
- resource-limit rows (:390-447): per-resource fan — processes →
  usage+limit, sessions → limit only, enqueue_locks / dml_locks /
  enqueue_resources / transactions → usage+limit; the
  ``UNLIMITED → -1`` normalization from the SQL CASE (:65) is
  applied to LIMIT_VALUE before parsing.
- tablespace rows (:448-490): usage = used_space × block_size and
  limit = tablespace_size × block_size, with the backward-compat
  branch where an EMPTY tablespace_size records limit −1 (NOT
  multiplied); ANY parse failure (used/size/block) drops the whole
  row's metrics (the ``continue``).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORACLE_STAT_TABLE = [
    ("enqueue deadlocks", "oracledb.enqueue_deadlocks"),
    ("exchange deadlocks", "oracledb.exchange_deadlocks"),
    ("execute count", "oracledb.executions"),
    ("parse count (total)", "oracledb.parse_calls"),
    ("parse count (hard)", "oracledb.hard_parses"),
    ("logons cumulative", "oracledb.logons"),
    ("user commits", "oracledb.user_commits"),
    ("user rollbacks", "oracledb.user_rollbacks"),
    ("physical reads", "oracledb.physical_reads"),
    ("physical reads direct", "oracledb.physical_reads_direct"),
    ("physical read IO requests",
     "oracledb.physical_read_io_requests"),
    ("physical writes", "oracledb.physical_writes"),
    ("physical writes direct", "oracledb.physical_writes_direct"),
    ("physical write IO requests",
     "oracledb.physical_write_io_requests"),
    ("queries parallelized", "oracledb.queries_parallelized"),
    ("DDL statements parallelized",
     "oracledb.ddl_statements_parallelized"),
    ("DML statements parallelized",
     "oracledb.dml_statements_parallelized"),
    ("Parallel operations not downgraded",
     "oracledb.parallel_operations_not_downgraded"),
    ("Parallel operations downgraded to serial",
     "oracledb.parallel_operations_downgraded_to_serial"),
    ("Parallel operations downgraded 1 to 25 pct",
     "oracledb.parallel_operations_downgraded_1_to_25_pct"),
    ("Parallel operations downgraded 25 to 50 pct",
     "oracledb.parallel_operations_downgraded_25_to_50_pct"),
    ("Parallel operations downgraded 50 to 75 pct",
     "oracledb.parallel_operations_downgraded_50_to_75_pct"),
    ("Parallel operations downgraded 75 to 99 pct",
     "oracledb.parallel_operations_downgraded_75_to_99_pct"),
    ("session logical reads", "oracledb.logical_reads"),
    ("session pga memory", "oracledb.pga_memory"),
    ("db block gets", "oracledb.db_block_gets"),
    ("consistent gets", "oracledb.consistent_gets"),
]

# resource_name → (usage metric or None, limit metric or None)
ORACLE_RESOURCE_TABLE = [
    ("processes", "oracledb.processes.usage",
     "oracledb.processes.limit"),
    ("sessions", None, "oracledb.sessions.limit"),
    ("enqueue_locks", "oracledb.enqueue_locks.usage",
     "oracledb.enqueue_locks.limit"),
    ("dml_locks", "oracledb.dml_locks.usage",
     "oracledb.dml_locks.limit"),
    ("enqueue_resources", "oracledb.enqueue_resources.usage",
     "oracledb.enqueue_resources.limit"),
    ("transactions", "oracledb.transactions.usage",
     "oracledb.transactions.limit"),
]


def oracledb_metrics(df: DataFrame) -> DataFrame:
    """Kind-fanned (stat | session | reslimit | tablespace) rows.

    Columns per kind: stat → name, value; session → status, type;
    reslimit → resource_name, current_utilization, limit_value;
    tablespace → tablespace_name, used_space, tablespace_size,
    block_size. Passthrough keys: instance, ts.
    """
    spark = df.sparkSession
    kind = F.col("kind")
    base = ["instance", "ts"]
    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def out(rows, metric, typ=None, status=None, tbs=None, vi=None,
            vd=None):
        return rows.select(
            *base, metric.alias("odb_metric"),
            (typ if typ is not None else ns).alias("odb_type"),
            (status if status is not None else ns).alias("odb_status"),
            (tbs if tbs is not None else ns).alias("odb_tablespace"),
            (vi.cast("bigint") if vi is not None else nl)
            .alias("odb_value"),
            (vd.cast("double") if vd is not None else nd)
            .alias("odb_value_d"))

    # -- v$sysstat switch ------------------------------------------------
    stat_dim = spark.createDataFrame(ORACLE_STAT_TABLE,
                                     "name string, metric string")
    stats = df.where(kind == "stat")
    iv = F.col("value").try_cast("bigint")
    joined = stats.join(F.broadcast(stat_dim), "name", "inner")
    int_rows = out(joined.where(iv.isNotNull()), F.col("metric"),
                   vi=iv)
    cpu = stats.where(F.col("name") == "CPU used by this session")
    fv = F.col("value").try_cast("double")
    cpu_rows = out(cpu.where(fv.isNotNull()),
                   F.lit("oracledb.cpu_time"), vd=fv / 100)

    # -- v$session groupBy ----------------------------------------------
    sess = (df.where(kind == "session")
            .groupBy(*base, "status", "type")
            .agg(F.count("*").alias("_n")))
    sess_rows = out(sess, F.lit("oracledb.sessions.usage"),
                    typ=F.col("type"), status=F.col("status"),
                    vi=F.col("_n"))

    # -- v$resource_limit fan ---------------------------------------------
    res = df.where(kind == "reslimit")
    lim_norm = F.when(F.trim(F.col("limit_value")) == "UNLIMITED",
                      F.lit("-1")).otherwise(F.trim(F.col("limit_value")))
    cur = F.col("current_utilization").try_cast("bigint")
    lim = lim_norm.try_cast("bigint")
    entries = []
    for name, usage_m, limit_m in ORACLE_RESOURCE_TABLE:
        is_res = F.col("resource_name") == name
        if usage_m:
            entries.append(F.when(is_res & cur.isNotNull(), F.struct(
                F.lit(usage_m).alias("metric"),
                cur.alias("value"))))
        entries.append(F.when(is_res & lim.isNotNull(), F.struct(
            F.lit(limit_m).alias("metric"), lim.alias("value"))))
    res_fan = res.select(
        *base, F.explode(F.filter(F.array(*entries),
                                  lambda x: x.isNotNull())).alias("_m"))
    res_rows = out(res_fan, F.col("_m.metric"), vi=F.col("_m.value"))

    # -- tablespace usage ---------------------------------------------------
    tbs = df.where(kind == "tablespace")
    used = F.col("used_space").try_cast("bigint")
    size_raw = F.col("tablespace_size")
    size = size_raw.try_cast("bigint")
    block = F.col("block_size").try_cast("bigint")
    ok = (used.isNotNull() & block.isNotNull()
          & ((size_raw == "") | size.isNotNull()))
    tbs = tbs.where(ok)
    limit_val = F.when(size_raw == "", F.lit(-1)) \
                 .otherwise(size * block)
    tname = F.col("tablespace_name")
    tbs_rows = out(tbs, F.lit("oracledb.tablespace_size.usage"),
                   tbs=tname, vi=used * block).unionByName(
        out(tbs, F.lit("oracledb.tablespace_size.limit"), tbs=tname,
            vi=limit_val))

    result = int_rows
    for piece in [cpu_rows, sess_rows, res_rows, tbs_rows]:
        result = result.unionByName(piece)
    return result
