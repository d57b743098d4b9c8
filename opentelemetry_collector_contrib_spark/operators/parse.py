"""Parsers: the stanza operator set, vectorized.

Reference semantics (shared parser shell,
``pkg/stanza/operator/helper/parser.go:26-35,84-94,172-232``): read a
``parse_from`` field, write a map of results, then optionally post-set
timestamp / severity / trace from parsed fields; an ``if`` expression
gates the operator; ``on_error`` decides whether failed rows are
dropped or sent on unmodified.

Spark re-expression: every parser is a pure function
``DataFrame -> DataFrame`` built from Column expressions, so Catalyst
fuses the whole parse stage into one codegen'd projection. Parse
failure is a *predicate*, not an exception: each parser can emit a
boolean ``<prefix>_ok`` column and ``split_on_error`` divides the
frame into (parsed, dead-letter) — the on_error={drop,send} routing
(``parser.go:119-123``) as two filtered DataFrames.

Registered stanza parser set covered here (register.go list): regex,
json, jsonarray, csv, keyvalue, syslog (3164/5424), uri, container,
time, severity.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.grok import grok_columns
from ..model import severity_band_text, severity_number


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# regex_parser (pkg/stanza/operator/parser/regex/parser.go:29-67)
# ---------------------------------------------------------------------------

def regex_named_groups(pattern: str) -> dict[str, int]:
    """Named capture groups -> group index (the parser requires >=1,
    config.go:70-75). Accepts Go/Java ``(?<name>...)`` and Python
    ``(?P<name>...)`` syntax."""
    py_pattern = _re.sub(r"\(\?<([A-Za-z][A-Za-z0-9_]*)>", r"(?P<\1>", pattern)
    groups = _re.compile(py_pattern).groupindex
    if not groups:
        raise ValueError("regex_parser requires at least one named capture group")
    return dict(groups)


def regex_parser(
    df: DataFrame,
    pattern: str,
    parse_from: str = "body",
    mark_ok: str | None = None,
) -> DataFrame:
    """Extract every named group as a typed string column.

    The reference's per-operator LRU result cache (regex
    config.go:82-89) is unnecessary here — the regex runs inside
    whole-stage codegen. Rows not matching get NULL fields (and
    ``mark_ok=False`` if requested).
    """
    src = _col(parse_from)
    java_pattern = pattern.replace("(?P<", "(?<")
    matched = src.rlike(java_pattern)
    out = df
    for name, idx in regex_named_groups(pattern).items():
        val = F.when(matched, F.regexp_extract(src, java_pattern, idx))
        out = out.withColumn(name, val)
    if mark_ok:
        out = out.withColumn(mark_ok, matched)
    return out


def split_on_error(df: DataFrame, ok: Column | str) -> tuple[DataFrame, DataFrame]:
    """on_error routing: (ok rows, dead-letter rows). ``send`` = union
    them back; ``drop`` = ignore the second frame."""
    c = _col(ok)
    return df.filter(c), df.filter(~c | c.isNull())


# ---------------------------------------------------------------------------
# json / jsonarray (parser/json, parser/jsonarray)
# ---------------------------------------------------------------------------

def json_parser(
    df: DataFrame,
    schema: T.StructType | str,
    parse_from: str = "body",
    parse_to: str = "parsed",
) -> DataFrame:
    """``from_json`` with explicit schema. Unparseable rows -> NULL
    struct (the PERMISSIVE analog of on_error=send)."""
    return df.withColumn(parse_to, F.from_json(_col(parse_from), schema))


def jsonarray_parser(df: DataFrame, element_schema: str, parse_from: str = "body") -> DataFrame:
    return df.withColumn(
        "parsed", F.from_json(_col(parse_from), f"array<{element_schema}>")
    )


# ---------------------------------------------------------------------------
# csv (parser/csv/parser.go:17-34)
# ---------------------------------------------------------------------------

def csv_parser(
    df: DataFrame,
    header: list[str],
    parse_from: str = "body",
) -> DataFrame:
    """Header config -> one column per field via ``from_csv`` (proper
    quote handling, unlike naive split)."""
    schema = ", ".join(f"`{h}` string" for h in header)
    parsed = F.from_csv(_col(parse_from), schema, {"sep": ","})
    out = df.withColumn("_csv", parsed)
    for h in header:
        out = out.withColumn(h, F.col(f"_csv.{h}"))
    return out.drop("_csv")


# ---------------------------------------------------------------------------
# keyvalue (parser/keyvalue/parser.go:15-26)
# ---------------------------------------------------------------------------

def keyvalue_parser(
    df: DataFrame,
    parse_from: str = "body",
    parse_to: str = "attributes",
) -> DataFrame:
    return df.withColumn(
        parse_to,
        F.str_to_map(F.trim(_col(parse_from)), F.lit(" "), F.lit("=")),
    )


# ---------------------------------------------------------------------------
# uri (parser/uri/parser.go:30-39)
# ---------------------------------------------------------------------------

def uri_columns(source: Column) -> dict[str, Column]:
    """scheme/host/port/path/query map — ``parse_url`` is JVM-native."""
    return {
        "scheme": F.lower(F.regexp_extract(source, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)),
        "host": F.parse_url(source, F.lit("HOST")),
        "port": F.regexp_extract(source, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:(\d+)", 1).cast("int"),
        "path": F.parse_url(source, F.lit("PATH")),
        "query": F.parse_url(source, F.lit("QUERY")),
    }


def uri_parser(df: DataFrame, parse_from: str = "body") -> DataFrame:
    out = df
    for k, c in uri_columns(_col(parse_from)).items():
        out = out.withColumn("uri_" + k, c)
    return out


# ---------------------------------------------------------------------------
# grok (OTTL ExtractGrokPatterns; see functions/grok.py)
# ---------------------------------------------------------------------------

def grok_parser(
    df: DataFrame,
    pattern: str,
    parse_from: str = "body",
) -> DataFrame:
    src = _col(parse_from)
    cols = grok_columns(src, pattern)
    out = df
    for name, c in cols.items():
        out = out.withColumn(name, c)
    return out


# ---------------------------------------------------------------------------
# time parser (helper/time.go strptime/gotime/epoch layouts)
# ---------------------------------------------------------------------------

def time_parser(
    df: DataFrame,
    parse_from: str,
    layout: str,
    layout_type: str = "strptime",
    parse_to: str = "ts",
) -> DataFrame:
    """strptime / spark-pattern / epoch layouts -> TimestampType.

    epoch flavors (helper/time.go): s, ms, us, ns — integer columns.
    """
    src = _col(parse_from)
    if layout_type == "strptime":
        from ..functions.strptime import strptime_parse

        col = strptime_parse(src, layout)
    elif layout_type == "spark":
        col = F.to_timestamp(src, layout)
    elif layout_type == "epoch":
        unit = layout  # s|ms|us|ns|s.ms|s.us|s.ns (helper/time.go:94)
        if unit in ("s.ms", "s.us", "s.ns"):
            # fractional-seconds forms: "1136214245.123" — decimal
            # parse keeps sub-second digits exactly (µs floor; the
            # documented ns->µs loss)
            col = F.timestamp_micros(
                (src.try_cast("decimal(24,9)") * 1_000_000).cast("long")
            )
        else:
            v = src.try_cast("long")
            if unit == "s":
                col = F.timestamp_seconds(v)
            elif unit == "ms":
                col = F.timestamp_millis(v)
            elif unit == "us":
                col = F.timestamp_micros(v)
            elif unit == "ns":
                # decimal floor-div keeps full int64-ns precision
                # (a double round-trip would wobble above 2^53)
                col = F.timestamp_micros(
                    (v.cast("decimal(28,0)") / 1000).cast("long")
                )
            else:
                raise ValueError(f"unknown epoch layout {unit!r}")
    else:
        raise ValueError(f"unknown layout_type {layout_type}")
    return df.withColumn(parse_to, col)


# ---------------------------------------------------------------------------
# severity parser (helper/severity_builder.go)
# ---------------------------------------------------------------------------

def severity_parser(
    df: DataFrame,
    parse_from: str,
    mapping: dict[str, list] | None = None,
) -> DataFrame:
    """Severity parse with optional custom ``mapping`` overlay
    (pkg/stanza/operator/helper/severity_builder.go:95-235): each
    severity name maps to literal values, HTTP range aliases
    ("2xx".."5xx"), or {"min":a,"max":b} ranges. The reference expands
    ranges into per-value map entries; here they compile to range
    PREDICATES — same semantics, no 100-entry lookup."""
    src = _col(parse_from)
    num = severity_number(src)
    if mapping:
        from ..model import SEVERITY_NUMBER

        as_int = src.try_cast("int")  # ANSI-safe: non-numeric -> NULL
        chain = None
        for sev_name, values in mapping.items():
            sev_val = SEVERITY_NUMBER[sev_name.lower()]
            cond = F.lit(False)
            for v in values:
                if isinstance(v, str) and _re.fullmatch(r"[2-5]xx", v):
                    lo = int(v[0]) * 100
                    cond = cond | ((as_int >= lo) & (as_int <= lo + 99))
                elif isinstance(v, dict):
                    cond = cond | (
                        (as_int >= int(v["min"])) & (as_int <= int(v["max"]))
                    )
                elif isinstance(v, int):
                    # reference stores ints as strings and compares
                    # stringly (parseableValues)
                    cond = cond | (src.cast("string") == str(v))
                else:
                    cond = cond | (F.lower(src) == str(v).lower())
            chain = (
                F.when(cond, F.lit(sev_val)) if chain is None
                else chain.when(cond, F.lit(sev_val))
            )
        num = chain.otherwise(num)
    return df.withColumn("severity_number", num.cast("int")).withColumn(
        "severity_text", severity_band_text(F.col("severity_number"))
    )


# ---------------------------------------------------------------------------
# syslog parser (parser/syslog/parser.go:29-44) — RFC3164 + RFC5424
# ---------------------------------------------------------------------------

_RFC5424 = (
    r"^<(\d{1,3})>(\d)\s+(\S+)\s+(\S+)\s+(\S+)\s+(\S+)\s+(\S+)\s+(-|\[.*?\])\s*(.*)$"
)
_RFC3164 = r"^<(\d{1,3})>([A-Z][a-z]{2}\s+\d{1,2}\s\d{2}:\d{2}:\d{2})\s+(\S+)\s+([^:\[\s]+)(?:\[(\d+)\])?:?\s*(.*)$"


def syslog_parser(df: DataFrame, protocol: str = "rfc5424") -> DataFrame:
    """Syslog -> columns. priority = facility*8 + severity (both
    derived); severity here is the syslog 0-7 scale mapped onto the
    24-level enum the way the reference's severity mapping does.

    A line that is not syslog keeps its row with NULL fields (stanza
    ``on_error: send``): ``regexp_extract`` gives ``''`` on no match,
    so the typed fields use the ``try_`` casts, which ANSI mode would
    otherwise turn into a job abort."""
    src = _col("body")
    if protocol == "rfc5424":
        pat = _RFC5424
        out = (
            df.withColumn("syslog_priority", F.regexp_extract(src, pat, 1).try_cast("int"))
            .withColumn("syslog_version", F.regexp_extract(src, pat, 2).try_cast("int"))
            .withColumn("syslog_ts", F.try_to_timestamp(F.regexp_extract(src, pat, 3)))
            .withColumn("hostname", F.nullif(F.regexp_extract(src, pat, 4), F.lit("-")))
            .withColumn("appname", F.nullif(F.regexp_extract(src, pat, 5), F.lit("-")))
            .withColumn("proc_id", F.nullif(F.regexp_extract(src, pat, 6), F.lit("-")))
            .withColumn("msg_id", F.nullif(F.regexp_extract(src, pat, 7), F.lit("-")))
            .withColumn("structured_data", F.nullif(F.regexp_extract(src, pat, 8), F.lit("-")))
            .withColumn("message", F.regexp_extract(src, pat, 9))
        )
    elif protocol == "rfc3164":
        pat = _RFC3164
        out = (
            df.withColumn("syslog_priority", F.regexp_extract(src, pat, 1).try_cast("int"))
            .withColumn("syslog_ts_raw", F.regexp_extract(src, pat, 2))
            .withColumn("hostname", F.regexp_extract(src, pat, 3))
            .withColumn("appname", F.regexp_extract(src, pat, 4))
            .withColumn("proc_id", F.nullif(F.regexp_extract(src, pat, 5), F.lit("")))
            .withColumn("message", F.regexp_extract(src, pat, 6))
        )
    else:
        raise ValueError(protocol)
    sev3164 = F.col("syslog_priority") % 8
    # syslog severity 0..7 -> OTel band starts (emerg=FATAL4 .. debug=DEBUG).
    # get(), not element_at(): Spark 4.1's element_at over a literal
    # array answers a NULL index with an element, not NULL
    mapping = F.array(*[F.lit(x) for x in [24, 23, 22, 21, 17, 13, 9, 5]])
    return out.withColumn("facility", (F.col("syslog_priority") / 8).cast("int")).withColumn(
        "severity_number", F.get(mapping, sev3164)
    )


# ---------------------------------------------------------------------------
# container parser (parser/container/parser.go:60-77):
# docker-json / containerd (CRI) / cri-o formats + k8s metadata from path
# ---------------------------------------------------------------------------

_CRI_PAT = r"^(\S+) (stdout|stderr) ([PF]) (.*)$"
_K8S_PATH = r"/var/log/pods/([^_/]+)_([^_/]+)_([0-9a-f-]{36})/([^/]+)/(\d+)\.log$"


def container_parser(
    df: DataFrame,
    parse_from: str = "body",
    path_col: str | None = "log_file_path",
) -> DataFrame:
    """when()-chain over the 3 container runtime formats.

    docker: JSON {log, stream, time}; containerd/cri-o: text
    ``<ts> <stream> <P|F> <log>``. Partial-line (P) recombination is
    operators/aggregate.recombine with is_last = flag=='F'.
    """
    src = _col(parse_from)
    docker = F.from_json(src, "log string, stream string, time string")
    is_docker = src.startswith("{") & docker.isNotNull() & docker["log"].isNotNull()
    is_cri = src.rlike(_CRI_PAT)

    out = (
        df.withColumn(
            "log",
            F.when(is_docker, docker["log"]).when(is_cri, F.regexp_extract(src, _CRI_PAT, 4)).otherwise(src),
        )
        .withColumn(
            "stream",
            F.when(is_docker, docker["stream"]).when(is_cri, F.regexp_extract(src, _CRI_PAT, 2)),
        )
        .withColumn(
            "container_ts",
            F.when(is_docker, F.to_timestamp(docker["time"])).when(
                is_cri, F.to_timestamp(F.regexp_extract(src, _CRI_PAT, 1))
            ),
        )
        .withColumn(
            "partial_flag",
            F.when(is_cri, F.regexp_extract(src, _CRI_PAT, 3)).otherwise(F.lit("F")),
        )
        .withColumn(
            "container_format",
            F.when(is_docker, "docker-json").when(is_cri, "cri").otherwise("raw"),
        )
    )
    if path_col and path_col in df.columns:
        p = F.col(path_col)
        out = (
            out.withColumn("k8s_namespace", F.regexp_extract(p, _K8S_PATH, 1))
            .withColumn("k8s_pod", F.regexp_extract(p, _K8S_PATH, 2))
            .withColumn("k8s_pod_uid", F.regexp_extract(p, _K8S_PATH, 3))
            .withColumn("k8s_container", F.regexp_extract(p, _K8S_PATH, 4))
            .withColumn("k8s_restart_count", F.regexp_extract(p, _K8S_PATH, 5).cast("int"))
        )
    return out


# ---------------------------------------------------------------------------
# input encoding (pkg/stanza/fileconsumer/config.go:37,83,114 `encoding`;
# internal/coreinternal/textutils/encoding.go:16-49 LookupEncoding)
# ---------------------------------------------------------------------------

# stanza encoding name -> JVM charset for the built-in `decode`
# expression (the whole-stage-codegen path). The override table mirrors
# the reference's encodingOverrides: ascii/us-ascii decode as UTF-8,
# bare "utf-16" means little-endian ignore-BOM.
_JVM_CHARSETS = {
    "": "UTF-8", "utf-8": "UTF-8", "utf8": "UTF-8",
    "utf-8-raw": "UTF-8", "utf8-raw": "UTF-8",
    "ascii": "UTF-8", "us-ascii": "UTF-8",
    "utf-16": "UTF-16LE", "utf16": "UTF-16LE",
    "utf-16le": "UTF-16LE", "utf-16be": "UTF-16BE",
    "latin1": "ISO-8859-1", "iso-8859-1": "ISO-8859-1",
}


def decode_input(
    df: DataFrame,
    source: str = "raw",
    target: str = "body",
    encoding: str = "utf-8",
) -> DataFrame:
    """Decode a binary input column into the string body the parser
    chain reads — the filelog receiver's ``encoding`` config.

    The JVM charsets resolve to the built-in ``decode`` expression and
    stay inside codegen; every other IANA name the reference accepts
    through ``ianaindex.IANA.Encoding`` (big5, gbk, shift_jis, euc-kr,
    iso-8859-15, ...) decodes through one Arrow-batched pandas UDF over
    Python's codec registry with U+FFFD replacement — the same
    substitution ``x/text`` decoders apply. ``nop`` keeps the raw bytes
    byte-for-byte by mapping each byte to its Latin-1 codepoint (the
    flat model's body is a string column; Latin-1 is the only
    byte-lossless string view of it). Unknown names raise at plan time
    like LookupEncoding's "unsupported encoding" error.
    """
    enc = encoding.lower()
    if enc in _JVM_CHARSETS:
        # Spark 4's decode() default is fail-fast on malformed bytes
        # (MALFORMED_CHARACTER_CODING kills the job on one dirty
        # byte); the reference's decoders always substitute U+FFFD.
        # get_spark() sets the legacy REPLACE action engine-wide; set
        # it here too so the operator keeps its contract under a
        # caller-built session.
        df.sparkSession.conf.set("spark.sql.legacy.codingErrorAction", "true")
        decoded = F.decode(F.col(source), _JVM_CHARSETS[enc])
    elif enc == "nop":
        decoded = F.decode(F.col(source), "ISO-8859-1")
    else:
        import codecs

        try:
            codec = codecs.lookup(enc).name
        except LookupError:
            raise ValueError(f"unsupported encoding '{encoding}'") from None

        @F.pandas_udf("string")
        def _codec_decode(s):
            return s.str.decode(codec, errors="replace")

        decoded = _codec_decode(F.col(source))
    out = df.withColumn(target, decoded)
    if source != target:
        out = out.drop(source)
    return out
