"""Windows Event Log XML → log-record translation.

Re-expresses the rendered-XML half of the stanza windows input
(``pkg/stanza/operator/input/windows/xml.go`` :15-261 — the struct
layout, ``formattedBody``, ``parseSeverity``, ``parseTimestamp``,
``parseEventData`` — and ``security.go`` :10-196, the tab-indented
Security-channel message grammar) over a DataFrame of event XML
strings, one event per row (``Render``-ed events at rest; the
reference's subscription loop wraps the same per-event translation,
``input.go`` :343-344 assigns timestamp + severity exactly as here).

Design notes (Spark-first):

- ONE ``from_xml`` parse per row into a typed struct — the xpath_*
  family would re-run a DOM parse per extracted field (20+ parses
  per row) and hard-fails the task on malformed XML; ``from_xml`` is
  PERMISSIVE (null struct → ``we_ok`` false dead-letter row), which
  is the per-row twin of the reference's per-event unmarshal error
  (xml.go:254-260).
- rendered-vs-raw fold (level/task/opcode/keywords prefer
  RenderingInfo, xml.go:79-96) is a codegen ``coalesce``.
- severity ladder is ``parseSeverity`` 1:1 (xml.go:46-71): rendered
  Critical/Error/Warning/Information else raw "1"-"4", default
  DEFAULT.
- SystemTime keeps full nanosecond precision: seconds via
  ``try_to_timestamp`` + fractional digits right-padded to 9
  (RFC3339Nano). A failed parse yields null ``we_ts_ns`` and
  ``we_ts_valid`` false where the reference substitutes ``time.Now()``
  (xml.go:38-43) — substituted here by the caller's ingest time so
  results stay deterministic.
- the Security-channel message parser (security.go) is inherently
  recursive over a line stack → one Arrow-batched pandas UDF applied
  ONLY to Security rows (non-Security rows pass null into the UDF
  and short-circuit). Details render as canonical sorted-key JSON —
  Go map iteration order is unspecified, so no ordering contract is
  lost.

Output: flattened ``we_*`` columns (ids, provider, channel, folded
level/task/opcode/keywords, parsed message subject + details JSON,
security/execution info, event_data as ordered
``[{"name":"value"},...]`` JSON per parseEventData xml.go:148-173).
"""
from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# from_xml schema for EventXML (xml.go:15-35); attributes carry the
# "_" prefix, chardata is _VALUE.
_EVENT_SCHEMA = """struct<
  System: struct<
    Provider: struct<_Name: string, _Guid: string,
                     _EventSourceName: string>,
    EventID: struct<_Qualifiers: int, _VALUE: bigint>,
    TimeCreated: struct<_SystemTime: string>,
    EventRecordID: bigint,
    Channel: string,
    Computer: string,
    Security: struct<_UserID: string>,
    Execution: struct<_ProcessID: bigint, _ThreadID: bigint,
                      _ProcessorID: bigint, _SessionID: bigint,
                      _KernelTime: bigint, _UserTime: bigint,
                      _ProcessorTime: bigint>,
    Level: string,
    Task: string,
    Opcode: string,
    Keywords: array<string>
  >,
  RenderingInfo: struct<Message: string, Level: string, Task: string,
                        Opcode: string,
                        Keywords: struct<Keyword: array<string>>>,
  EventData: struct<_Name: string,
                    Data: array<struct<_Name: string, _VALUE: string>>,
                    Binary: string>
>"""


def _count_indent(line: str) -> int:
    n = 0
    while line.startswith("\t" * (n + 1)):
        n += 1
    return n


def _parse_line(line: str) -> tuple[int, int, str, str]:
    """(type, indent, key, value); types: 0 empty, 1 key, 2 value, 3 pair."""
    ind = _count_indent(line)
    stripped = line.strip()
    if stripped == "":
        return 0, ind, "", ""
    if ":\t" in stripped:
        k, v = stripped.split(":\t", 1)
        return 3, ind, k.strip(), v.strip()
    if stripped.endswith(":"):
        return 1, ind, stripped[:-1], ""
    return 2, ind, "", stripped


def parse_security_message(message: str) -> tuple[str, dict]:
    """Python mirror of parseSecurity (security.go:10-58).

    Returns (subject, details). Non-conforming messages return
    (message, {}) exactly like the reference's pairType/emptyType
    first-line bail-out.
    """
    lines = [_parse_line(ln) for ln in message.strip().split("\n")]
    ptr = 0
    n = len(lines)

    def has_next_indented(min_depth: int) -> bool:
        if ptr >= n or ptr == 0:
            return False
        t, ind, _, _ = lines[ptr]
        return t != 0 and ind >= min_depth

    t, _, k, v = lines[0]
    if t == 2:
        subject = v
    elif t == 1:
        subject = k
    else:  # pair or empty first line: bail (security.go:23-24)
        return message, {}
    ptr = 1

    details: dict = {}
    more_info: list[str] = []

    def consume_sublist(depth: int) -> list[str]:
        nonlocal ptr
        out: list[str] = []
        while ptr < n:
            if not has_next_indented(depth):
                return out
            t, _, k, v = lines[ptr]
            ptr += 1
            if t == 2:
                out.append(v)
            elif t == 1:
                out.append(k)
        return out

    def consume_subsection(depth: int):
        nonlocal ptr
        sub: dict = {}
        while ptr < n:
            t, _, k, v = lines[ptr]
            ptr += 1
            if t == 0:
                return sub
            if t == 3:
                sub[k] = v
            elif t == 1:
                if not has_next_indented(depth + 1):
                    sub[k] = "-"
                else:
                    sub[k] = consume_sublist(depth + 1)
            # valueType: skipped inside subsections (security.go:82-83)
        return sub

    while ptr < n:
        t, ind, k, v = lines[ptr]
        ptr += 1
        if t == 2:
            more_info.append(v)
        elif t == 1:
            if not has_next_indented(ind + 1):
                details[k] = "-"
            else:
                details[k] = consume_subsection(ind + 1)
        elif t == 3:
            if not has_next_indented(ind + 1):
                details[k] = v
            else:
                details[k] = [v] + consume_sublist(ind + 1)
        # emptyType: continue

    if more_info:
        details["Additional Context"] = more_info
    return subject, details


def _make_security_message_udf():
    @pandas_udf("struct<subject: string, details: string>")
    def _security_message_udf(msg: pd.Series) -> pd.DataFrame:
        subjects: list = []
        details: list = []
        for m in msg:
            if m is None:
                subjects.append(None)
                details.append(None)
                continue
            subj, det = parse_security_message(m)
            subjects.append(subj)
            details.append(
                json.dumps(det, sort_keys=True, separators=(",", ":"))
                if det else None
            )
        return pd.DataFrame({"subject": subjects, "details": details})

    return _security_message_udf


def _severity(rendered: Column, raw: Column) -> Column:
    """parseSeverity (xml.go:46-71) as a codegen CASE ladder."""
    r = F.coalesce(rendered, F.lit(""))
    from_raw = (
        F.when(raw == "1", "FATAL")
        .when(raw == "2", "ERROR")
        .when(raw == "3", "WARN")
        .when(raw == "4", "INFO")
        .otherwise("DEFAULT")
    )
    return (
        F.when(r == "", from_raw)
        .when(r == "Critical", "FATAL")
        .when(r == "Error", "ERROR")
        .when(r == "Warning", "WARN")
        .when(r == "Information", "INFO")
        .otherwise("DEFAULT")
    )


def _ts_ns(system_time: Column) -> Column:
    """RFC3339Nano → epoch ns keeping all 9 fractional digits."""
    base = F.regexp_replace(system_time, r"\.\d+", "")
    frac = F.regexp_extract(system_time, r"\.(\d+)", 1)
    sec_ts = F.try_to_timestamp(base)
    nanos = F.when(frac == "", F.lit(0)).otherwise(
        F.rpad(frac, 9, "0").substr(1, 9).cast("bigint")
    )
    return (F.unix_micros(sec_ts) * 1000 + nanos).alias("we_ts_ns")


def windows_event_parse(df: DataFrame) -> DataFrame:
    """Parse rendered Windows Event XML rows into flattened we_* columns.

    Mirrors formattedBody (xml.go:75-135): rendered-info fold,
    severity ladder, Security message split, ordered event_data.
    """
    e = F.from_xml(F.col("body"), _EVENT_SCHEMA)
    df = df.withColumn("_e", e)
    s = F.col("_e.System")
    r = F.col("_e.RenderingInfo")

    level = F.coalesce(
        F.nullif(F.coalesce(r["Level"], F.lit("")), F.lit("")), s["Level"]
    )
    task = F.coalesce(
        F.nullif(F.coalesce(r["Task"], F.lit("")), F.lit("")), s["Task"]
    )
    opcode = F.coalesce(
        F.nullif(F.coalesce(r["Opcode"], F.lit("")), F.lit("")), s["Opcode"]
    )
    # keywords: nil-vs-empty follows Go (xml.go:93-96): rendered
    # keywords win only when the element parsed (non-null array).
    keywords = F.coalesce(r["Keywords"]["Keyword"], s["Keywords"])

    channel = s["Channel"]
    # Go's zero-value contract: an absent Message unmarshals to "" and
    # parseSecurity("") returns ("", nil) — mirror with a coalesce.
    raw_msg = F.coalesce(r["Message"], F.lit(""))
    sec = _make_security_message_udf()(
        F.when(channel == "Security", raw_msg)
    )
    message = F.when(channel == "Security", sec["subject"]).otherwise(raw_msg)
    details = F.when(channel == "Security", sec["details"])

    # parseEventData (xml.go:148-173): ordered single-key maps.
    ed = F.col("_e.EventData")
    event_data = F.when(
        F.size(F.coalesce(ed["Data"], F.array())) > 0,
        F.to_json(F.transform(
            ed["Data"],
            lambda d: F.create_map(
                F.coalesce(d["_Name"], F.lit("")),
                F.coalesce(d["_VALUE"], F.lit("")),
            ),
        )),
    )

    ts = _ts_ns(s["TimeCreated"]["_SystemTime"])

    out = df.select(
        *[c for c in df.columns if c not in ("_e", "body")],
        F.coalesce(s["EventID"]["_VALUE"], F.lit(0)).alias("we_event_id"),
        F.coalesce(s["EventID"]["_Qualifiers"], F.lit(0))
            .cast("int").alias("we_qualifiers"),
        F.coalesce(s["Provider"]["_Name"], F.lit(""))
            .alias("we_provider_name"),
        F.coalesce(s["Provider"]["_Guid"], F.lit(""))
            .alias("we_provider_guid"),
        F.coalesce(s["Provider"]["_EventSourceName"], F.lit(""))
            .alias("we_event_source"),
        F.coalesce(s["Computer"], F.lit("")).alias("we_computer"),
        F.coalesce(channel, F.lit("")).alias("we_channel"),
        F.coalesce(s["EventRecordID"], F.lit(0)).alias("we_record_id"),
        F.coalesce(s["TimeCreated"]["_SystemTime"], F.lit(""))
            .alias("we_system_time"),
        ts,
        ts.isNotNull().alias("we_ts_valid"),
        _severity(r["Level"], F.coalesce(s["Level"], F.lit("")))
            .alias("we_severity"),
        F.coalesce(level, F.lit("")).alias("we_level"),
        F.coalesce(task, F.lit("")).alias("we_task"),
        F.coalesce(opcode, F.lit("")).alias("we_opcode"),
        F.array_join(F.coalesce(keywords, F.array()), ",")
            .alias("we_keywords"),
        message.alias("we_message"),
        details.alias("we_details"),
        s["Security"]["_UserID"].alias("we_security_user_id"),
        F.col("_e.System.Execution._ProcessID").alias("we_exec_pid"),
        F.col("_e.System.Execution._ThreadID").alias("we_exec_tid"),
        F.col("_e.System.Execution._SessionID").alias("we_exec_session"),
        F.coalesce(ed["_Name"], F.lit("")).alias("we_event_data_name"),
        F.coalesce(ed["Binary"], F.lit("")).alias("we_event_data_binary"),
        event_data.alias("we_event_data"),
        F.col("_e.System").isNotNull().alias("we_ok"),
    )
    return out
