"""MongoDB Atlas host/audit log parsing.

Re-expresses ``receiver/mongodbatlasreceiver``'s log path over
DataFrames of raw log lines (the reference downloads gzipped log
files per host; here each row is one decompressed line):

- 4.4+ clusters log JSON (log_decoder.go:29-55): schema-pruned
  ``from_json`` of {t.$date, s, c, id, ctx, msg, attr}; unparseable
  lines are skipped (``continue``);
- 4.2 clusters log a console format (log_decoder.go:57-96): the
  anchored regex ``^(\\S+)\\s+(\\w+)\\s+([\\w-]+)\\s+\\[(\\S+)\\]\\s+(.*)$``
  — non-matching lines are skipped;
- severity ladder F/E/W/I/D/D1..D5 → FATAL/ERROR/WARN/INFO/DEBUG..4
  (mongodb_event_to_logdata.go:34-45); unknown severities leave the
  record unset (0, null) rather than dropping it;
- timestamp layouts (:28-31): ``2006-01-02T15:04:05.000-07:00``
  (JSON) and ``...-0700`` (console); a parse failure nulls the
  timestamp (the reference stamps Go's zero time and warns);
- body = the raw line; attributes message/component/context/
  log_name, ``id`` only for non-4.2 (:198-201), plus the entry's own
  ``attr`` map rendered as sorted-key JSON (pcommon FromRaw);
- audit logs (mongodbAuditEventToLogData :48-148): severity fixed at
  INFO, optional local/remote address fields mapped only when
  present, uuid.binary/type, result, param map, users/roles arrays
  in pcommon insertion order ({user,db} / {role,db}).

All parsing is vectorized Column logic (one from_json / one
regexp_extract per line, variant for the free-form maps); no
shuffles, no Python row path.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CONSOLE_RE = r"^(\S+)\s+(\w+)\s+([\w-]+)\s+\[(\S+)\]\s+(.*)$"

_JSON_SCHEMA = (
    "struct<t struct<`$date`:string>, s string, c string, id bigint,"
    "ctx string, msg string>"
)

_AUDIT_SCHEMA = (
    "struct<atype string, ts struct<`$date`:string>,"
    "uuid struct<`$binary`:string,`$type`:string>,"
    "local struct<ip:string,port:int,isSystemUser:boolean,unix:string>,"
    "remote struct<ip:string,port:int,isSystemUser:boolean,unix:string>,"
    "users array<struct<user:string,db:string>>,"
    "roles array<struct<role:string,db:string>>,"
    "result int>"
)


def _severity(s: Column) -> tuple[Column, Column]:
    num = (
        F.when(s == "F", 21).when(s == "E", 17).when(s == "W", 13)
        .when(s == "I", 9).when(s.isin("D", "D1"), 5).when(s == "D2", 6)
        .when(s == "D3", 7).when(s.isin("D4", "D5"), 8)
    )
    return F.coalesce(num, F.lit(0)), F.when(num.isNotNull(), s)


def _ts_json(s: Column) -> Column:
    return F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))


def _ts_console(s: Column) -> Column:
    return F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSxx"))


def mongodb_atlas_logs(
    df: DataFrame,
    version: str = "4.4",
    log_name: str = "mongodb.gz",
) -> DataFrame:
    """mongod/mongos log lines → log rows (JSON or 4.2 console)."""
    passthrough = [c for c in df.columns if c != "line"]
    raw = F.col("line")
    if version == "4.2":
        m = F.regexp_extract(raw, _CONSOLE_RE, 0)
        p = df.where(m != "")  # skip non-matching lines (:74-78)
        g = lambda i: F.regexp_extract(raw, _CONSOLE_RE, i)  # noqa: E731
        ts, sev_s = _ts_console(g(1)), g(2)
        comp, ctx, msg = g(3), g(4), g(5)
        id_col = F.lit(None).cast("bigint")
        attr_json = F.lit(None).cast("string")
    else:
        e = F.from_json(raw, _JSON_SCHEMA)
        # skip unparseable lines (:45-48); from_json is PERMISSIVE so
        # validity comes from the variant parse + object-shape check
        p = df.where(F.schema_of_variant(F.try_parse_json(raw))
                     .startswith("OBJECT"))
        ts, sev_s = _ts_json(e["t"]["$date"]), F.coalesce(
            e["s"], F.lit(""))
        comp = F.coalesce(e["c"], F.lit(""))
        ctx = F.coalesce(e["ctx"], F.lit(""))
        msg = F.coalesce(e["msg"], F.lit(""))
        id_col = F.coalesce(e["id"], F.lit(0)).cast("bigint")
        attr_json = F.to_json(
            F.try_variant_get(F.try_parse_json(raw), "$.attr", "variant"))
    sev_n, sev_t = _severity(sev_s)
    return p.select(
        *passthrough,
        (F.unix_micros(ts) * 1000).alias("ma_ts_ns"),
        raw.alias("ma_body"),
        sev_n.alias("ma_sev_num"),
        sev_t.alias("ma_sev_text"),
        msg.alias("ma_message"),
        comp.alias("ma_component"),
        ctx.alias("ma_context"),
        id_col.alias("ma_id"),
        attr_json.alias("ma_attr"),
        F.lit(log_name).alias("ma_log_name"),
    )


def mongodb_atlas_audit_logs(
    df: DataFrame, log_name: str = "audit.gz"
) -> DataFrame:
    """Audit-log JSON lines → log rows (severity fixed at INFO)."""
    passthrough = [c for c in df.columns if c != "line"]
    raw = F.col("line")
    e = F.from_json(raw, _AUDIT_SCHEMA)
    p = df.where(F.schema_of_variant(F.try_parse_json(raw))
                 .startswith("OBJECT"))
    loc, rem = e["local"], e["remote"]
    users = F.when(
        e["users"].isNotNull(),
        F.to_json(F.transform(
            e["users"],
            lambda x: F.struct(x["user"].alias("user"),
                               x["db"].alias("db")))),
    ).otherwise(F.lit("[]"))
    roles = F.when(
        e["roles"].isNotNull(),
        F.to_json(F.transform(
            e["roles"],
            lambda x: F.struct(x["role"].alias("role"),
                               x["db"].alias("db")))),
    ).otherwise(F.lit("[]"))
    return p.select(
        *passthrough,
        (F.unix_micros(_ts_json(e["ts"]["$date"])) * 1000)
        .alias("ma_ts_ns"),
        raw.alias("ma_body"),
        F.lit(9).alias("ma_sev_num"),
        F.lit("INFO").alias("ma_sev_text"),
        F.coalesce(e["atype"], F.lit("")).alias("ma_atype"),
        loc["ip"].alias("ma_local_ip"),
        loc["port"].cast("bigint").alias("ma_local_port"),
        loc["isSystemUser"].alias("ma_local_is_system_user"),
        loc["unix"].alias("ma_local_unix"),
        rem["ip"].alias("ma_remote_ip"),
        rem["port"].cast("bigint").alias("ma_remote_port"),
        rem["isSystemUser"].alias("ma_remote_is_system_user"),
        rem["unix"].alias("ma_remote_unix"),
        e["uuid"]["$binary"].alias("ma_uuid_binary"),
        e["uuid"]["$type"].alias("ma_uuid_type"),
        F.coalesce(e["result"], F.lit(0)).cast("bigint")
        .alias("ma_result"),
        F.to_json(F.try_variant_get(F.try_parse_json(raw), "$.param", "variant"))
        .alias("ma_param"),
        users.alias("ma_users"),
        roles.alias("ma_roles"),
        F.lit(log_name).alias("ma_log_name"),
    )
