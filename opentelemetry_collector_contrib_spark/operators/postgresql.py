"""postgresql receiver → metric rows.

Re-expresses ``receiver/postgresqlreceiver/scraper.go`` over rows of
one collected object each (``kind`` ∈ database | table | index |
function | bgwriter | replication | connection_max | wal_age | lock,
the queried stats as JSON), instead of issuing pg_stat_* queries:

- database (:342-367 ``recordDatabase`` + the retrieve* maps): always
  a table_count row; backends / db_size / the 12 pg_stat_database
  counters only when the respective map produced the db (presence
  gates carried as nullable JSON fields);
- table (:368-410 ``collectTables``): live/dead rows, ins/del/upd/
  hot_upd operations, size, vacuum count, sequential scans, plus the
  8 blocks_read sources only when the pg_statio row existed; the
  table resource attribute is ``schema.table`` (the
  separateSchemaAttr feature gate is alpha-default-off, :83-90);
- index (:411-440): scans + size keyed by (db, table, index);
- function (:441-466): calls keyed by function name;
- bgwriter (:467-499 ``collectBGWriterStats``): buffers allocated,
  buffer writes per source where backend and backend_fsync are
  emitted only when >= 0 (the pg<17 sentinel), requested/scheduled
  checkpoints, sync/write durations (float ms), maxwritten;
- replication (:513-562): data_delay only when pending_bytes >= 0,
  wal_lag per operation only when the integer lag >= 0 — the
  coalesce(-1) sentinels from client.go:687-691; the non-precise
  (integer-seconds) branch is implemented, matching the
  preciseLagMetricsFg default;
- connection_max (:500-512), wal_age (:563-580, absent row = the
  errNoLastArchive early return), lock (:480-499: locks by
  relation/mode/lock_type);
- postgresql.database.count (:147): the number of non-excluded
  database rows per (instance, ts), re-derived with one bounded
  groupBy instead of driver state.

``exclude_databases`` mirrors config.ExcludeDatabases (:70-73):
excluded databases drop their database/table/index/function rows.

Plan: one schema-pruned from_json + inline explode per row (zero
shuffle) plus one map-side-combined count for database.count.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCHEMA = """struct<
  backends: bigint, db_size: bigint, table_count: bigint,
  commits: bigint, rollbacks: bigint, deadlocks: bigint,
  temp_files: bigint, temp_io: bigint, tup_updated: bigint,
  tup_returned: bigint, tup_fetched: bigint, tup_inserted: bigint,
  tup_deleted: bigint, blks_hit: bigint, blks_read: bigint,
  has_stats: boolean,
  schema: string, table: string, live: bigint, dead: bigint,
  ins: bigint, del: bigint, upd: bigint, hot_upd: bigint,
  size: bigint, vacuum_count: bigint, seq_scans: bigint,
  heap_read: bigint, heap_hit: bigint, idx_read: bigint,
  idx_hit: bigint, toast_read: bigint, toast_hit: bigint,
  tidx_read: bigint, tidx_hit: bigint, has_blockreads: boolean,
  index: string, scans: bigint,
  function: string, calls: bigint,
  buffers_allocated: bigint, bg_writes: bigint,
  backend_writes: bigint, buffer_checkpoints: bigint,
  fsync_writes: bigint, checkpoints_req: bigint,
  checkpoints_scheduled: bigint, checkpoint_sync_time: double,
  checkpoint_write_time: double, max_written: bigint,
  client_addr: string, pending_bytes: bigint, write_lag: bigint,
  flush_lag: bigint, replay_lag: bigint,
  max_connections: bigint, wal_age_sec: bigint,
  relation: string, mode: string, lock_type: string, locks: bigint
>"""

_ENTRY = ("metric string, attr string, table string, index string, "
          "value bigint, value_d double, present boolean")


def postgresql_stats(
    df: DataFrame,
    exclude_databases: list | None = None,
) -> DataFrame:
    kind, db = F.col("kind"), F.col("db")
    o = F.from_json(F.col("body"), _SCHEMA)
    base = [c for c in df.columns
            if c not in ("kind", "db", "body")]
    if exclude_databases:
        per_db = kind.isin("database", "table", "index", "function")
        df = df.where(~(per_db & db.isin(*exclude_databases)))
    staged = df.select(*base, kind.alias("_kind"), db.alias("_db"),
                       o.alias("_o"))
    kind, db, o = F.col("_kind"), F.col("_db"), F.col("_o")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    t = F.lit(True)
    entries: dict[str, list] = {}

    def mk(k, metric, vi, vd=None, attr=None, table=None, index=None,
           present=None):
        entries.setdefault(k, []).append(F.struct(
            F.lit(metric).alias("metric"),
            (F.lit(attr) if isinstance(attr, str) else
             (attr if attr is not None else ns)).alias("attr"),
            (table if table is not None else ns).alias("table"),
            (index if index is not None else ns).alias("index"),
            (vi.cast("bigint") if vi is not None else nl)
            .alias("value"),
            (vd.cast("double") if vd is not None else nd)
            .alias("value_d"),
            (present if present is not None else t).alias("present"),
        ))

    # -- database ----------------------------------------------------
    mk("database", "postgresql.table.count", o["table_count"])
    mk("database", "postgresql.backends", o["backends"],
       present=o["backends"].isNotNull())
    mk("database", "postgresql.db_size", o["db_size"],
       present=o["db_size"].isNotNull())
    for metric, fld in [
        ("postgresql.commits", "commits"),
        ("postgresql.rollbacks", "rollbacks"),
        ("postgresql.deadlocks", "deadlocks"),
        ("postgresql.temp_files", "temp_files"),
        ("postgresql.temp.io", "temp_io"),
        ("postgresql.tup_updated", "tup_updated"),
        ("postgresql.tup_returned", "tup_returned"),
        ("postgresql.tup_fetched", "tup_fetched"),
        ("postgresql.tup_inserted", "tup_inserted"),
        ("postgresql.tup_deleted", "tup_deleted"),
        ("postgresql.blks_hit", "blks_hit"),
        ("postgresql.blks_read", "blks_read"),
    ]:
        mk("database", metric, o[fld], present=o["has_stats"])

    # -- table -------------------------------------------------------
    tbl = F.concat(o["schema"], F.lit("."), o["table"])
    for metric, fld, attr in [
        ("postgresql.rows", "dead", "dead"),
        ("postgresql.rows", "live", "live"),
        ("postgresql.operations", "ins", "ins"),
        ("postgresql.operations", "del", "del"),
        ("postgresql.operations", "upd", "upd"),
        ("postgresql.operations", "hot_upd", "hot_upd"),
    ]:
        mk("table", metric, o[fld], attr=attr, table=tbl)
    mk("table", "postgresql.table.size", o["size"], table=tbl)
    mk("table", "postgresql.table.vacuum.count", o["vacuum_count"],
       table=tbl)
    mk("table", "postgresql.sequential_scans", o["seq_scans"],
       table=tbl)
    for src in ["heap_read", "heap_hit", "idx_read", "idx_hit",
                "toast_hit", "toast_read", "tidx_read", "tidx_hit"]:
        mk("table", "postgresql.blocks_read", o[src], attr=src,
           table=tbl, present=o["has_blockreads"])

    # -- index / function ---------------------------------------------
    mk("index", "postgresql.index.scans", o["scans"],
       table=o["table"], index=o["index"])
    mk("index", "postgresql.index.size", o["size"],
       table=o["table"], index=o["index"])
    mk("function", "postgresql.function.calls", o["calls"],
       attr=o["function"])

    # -- bgwriter ------------------------------------------------------
    mk("bgwriter", "postgresql.bgwriter.buffers.allocated",
       o["buffers_allocated"])
    mk("bgwriter", "postgresql.bgwriter.buffers.writes",
       o["bg_writes"], attr="bgwriter")
    mk("bgwriter", "postgresql.bgwriter.buffers.writes",
       o["backend_writes"], attr="backend",
       present=o["backend_writes"] >= 0)
    mk("bgwriter", "postgresql.bgwriter.buffers.writes",
       o["buffer_checkpoints"], attr="checkpoints")
    mk("bgwriter", "postgresql.bgwriter.buffers.writes",
       o["fsync_writes"], attr="backend_fsync",
       present=o["fsync_writes"] >= 0)
    mk("bgwriter", "postgresql.bgwriter.checkpoint.count",
       o["checkpoints_req"], attr="requested")
    mk("bgwriter", "postgresql.bgwriter.checkpoint.count",
       o["checkpoints_scheduled"], attr="scheduled")
    mk("bgwriter", "postgresql.bgwriter.duration", None,
       vd=o["checkpoint_sync_time"], attr="sync")
    mk("bgwriter", "postgresql.bgwriter.duration", None,
       vd=o["checkpoint_write_time"], attr="write")
    mk("bgwriter", "postgresql.bgwriter.maxwritten", o["max_written"])

    # -- replication / scalars / locks --------------------------------
    mk("replication", "postgresql.replication.data_delay",
       o["pending_bytes"], attr=o["client_addr"],
       present=o["pending_bytes"] >= 0)
    for op, fld in [("write", "write_lag"), ("replay", "replay_lag"),
                    ("flush", "flush_lag")]:
        mk("replication", "postgresql.wal.lag", o[fld],
           attr=F.concat_ws("|", F.lit(op), o["client_addr"]),
           present=o[fld] >= 0)
    mk("connection_max", "postgresql.connection.max",
       o["max_connections"])
    mk("wal_age", "postgresql.wal.age", o["wal_age_sec"],
       present=o["wal_age_sec"].isNotNull())
    mk("lock", "postgresql.database.locks", o["locks"],
       attr=F.concat_ws("|", o["relation"], o["mode"],
                        o["lock_type"]))

    arr = F.when(kind == "database", F.array(*entries["database"]))
    for k in ["table", "index", "function", "bgwriter", "replication",
              "connection_max", "wal_age", "lock"]:
        arr = arr.when(kind == k, F.array(*entries[k]))
    arr = arr.otherwise(F.array().cast(f"array<struct<{_ENTRY}>>"))

    fanned = staged.select(
        *base, kind.alias("kind"), db.alias("db"),
        F.explode(arr).alias("_m"),
    ).where(F.col("_m.present"))
    m = F.col("_m")
    rows = fanned.select(
        *base, F.col("kind"), F.col("db"),
        m["metric"].alias("pg_metric"), m["attr"].alias("pg_attr"),
        m["table"].alias("pg_table"), m["index"].alias("pg_index"),
        m["value"].alias("pg_value"), m["value_d"].alias("pg_value_d"),
    )

    # postgresql.database.count per (base..., scrape): one bounded agg
    counts = (staged.where(kind == "database")
              .groupBy(*base)
              .agg(F.count("*").alias("_n"))
              .select(*base, F.lit("database_count").alias("kind"),
                      F.lit(None).cast("string").alias("db"),
                      F.lit("postgresql.database.count")
                      .alias("pg_metric"),
                      F.lit(None).cast("string").alias("pg_attr"),
                      F.lit(None).cast("string").alias("pg_table"),
                      F.lit(None).cast("string").alias("pg_index"),
                      F.col("_n").cast("bigint").alias("pg_value"),
                      F.lit(None).cast("double").alias("pg_value_d")))
    return rows.unionByName(counts)
