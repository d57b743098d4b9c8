"""OTTL converter/function surface as Spark Column builders.

The reference registers 87 OTTL functions
(``pkg/ottl/ottlfuncs/functions.go:11-128``): lowercase *editors*
(mutate the record — see ``operators/transform.py``) and Uppercase
*converters* (pure). This module is the converter surface: every
function is a Python callable ``(Column...) -> Column`` built from
``pyspark.sql.functions`` so Catalyst codegens it; the few that have
no JVM builtin (FNV, UserAgent) are Arrow-vectorized pandas UDFs.

Semantics pinned to the Go implementations (file refs inline):
- OTTL ``Substring`` is 0-based with (start, length) and errors on
  out-of-range (func_substring.go) — we clamp instead (error_mode=
  ignore analog).
- ``Int``/``Double`` follow Go conversion: float→int truncates toward
  zero (func_int.go); invalid strings -> NULL (statement error modes
  route on null).
- OTTL math is int64/float64 with int/int integer division
  (``pkg/ottl/math.go:165-180``) — expose ``ottl_div`` for exactness.
- Time converters are ns-precision in Go; Spark timestamps are µs.
  ``UnixNano`` therefore returns µs*1000 (documented precision loss).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .strptime import strptime_parse, strptime_to_spark
from .xml_edit import (
    ConvertAttributesToElementsXML,
    ConvertTextToElementsXML,
    InsertXML,
    ParseXML,
    RemoveXML,
)


# ---------------------------------------------------------------------------
# string family
# ---------------------------------------------------------------------------

def Concat(values, delimiter: str = "") -> Column:
    """Concat([values...], delimiter) — func_concat.go joins
    stringified args. Reference argument order: the value LIST first,
    then the delimiter (ConcatArguments{Vals, Delimiter})."""
    if not isinstance(values, (list, tuple)):
        raise TypeError(
            "Concat takes ([values...], delimiter) — reference order "
            "(func_concat.go); got a scalar first argument"
        )
    cols = [(v if isinstance(v, Column) else F.lit(v)).cast("string") for v in values]
    return F.concat_ws(delimiter, *cols)


def Format(fmt: str, *cols) -> Column:
    """Format(fmt, [args]) — Go fmt.Sprintf (func_format.go). Accepts
    the reference's list form ``Format("%s", [a, b])`` and varargs."""
    if len(cols) == 1 and isinstance(cols[0], (list, tuple)):
        cols = tuple(cols[0])
    return F.format_string(fmt, *[c if isinstance(c, Column) else F.lit(c) for c in cols])


def Split(c: Column, delimiter: str) -> Column:
    # func_split.go uses strings.Split: literal delimiter, keep empties
    import re

    return F.split(c, re.escape(delimiter), -1)


def Substring(c: Column, start: int, length: int) -> Column:
    # OTTL is 0-based (func_substring.go); Spark substring is 1-based
    return F.substring(c, start + 1, length)


def Trim(c: Column, cutset: str = " ") -> Column:
    import re

    esc = re.escape(cutset)
    return F.regexp_replace(F.regexp_replace(c, f"^[{esc}]+", ""), f"[{esc}]+$", "")


def ToUpperCase(c: Column) -> Column:
    return F.upper(c)


def ToLowerCase(c: Column) -> Column:
    return F.lower(c)


def ToSnakeCase(c: Column) -> Column:
    """camelCase/PascalCase/kebab → snake (func_convert_case.go)."""
    s = F.regexp_replace(c, r"([a-z0-9])([A-Z])", r"$1_$2")
    s = F.regexp_replace(s, r"([A-Z]+)([A-Z][a-z])", r"$1_$2")
    s = F.regexp_replace(s, r"[\s\-]+", "_")
    return F.lower(s)


def ToCamelCase(c: Column) -> Column:
    """snake/kebab/space-separated → CamelCase (Go strcase behavior:
    UpperCamel)."""
    parts = F.split(F.regexp_replace(c, r"[\s\-]+", "_"), "_")
    cap = F.transform(
        parts,
        lambda p: F.concat(F.upper(F.substring(p, 1, 1)), F.substring(p, 2, 1 << 20)),
    )
    return F.array_join(cap, "")


def ConvertCase(c: Column, to: str) -> Column:
    return {
        "upper": ToUpperCase, "lower": ToLowerCase,
        "snake": ToSnakeCase, "camel": ToCamelCase,
    }[to](c)


def HasPrefix(c: Column, prefix: str) -> Column:
    return c.startswith(prefix)


def HasSuffix(c: Column, suffix: str) -> Column:
    return c.endswith(suffix)


def Len(c: Column, kind: str = "string") -> Column:
    """Len works on strings, lists, maps (func_len.go). Spark schemas
    are static, so the dispatch is compile-time: the OTTL compiler
    passes ``kind="collection"`` when the target path is a map/list
    root (``F.size`` counts entries of both arrays and maps);
    everything else takes the string-length branch."""
    if kind == "collection":
        return F.size(c)
    return F.length(c.cast("string"))


def String(c) -> Column:
    """func_string.go -> StringifyValue: slices render JSON-compact
    ("[1,2,3]", e2e_test.go:1061-1064); scalars are their Go string
    form. Array COLUMNS go through to_json for the same shape."""
    if isinstance(c, (list, tuple)):
        import json as _json

        return F.lit(_json.dumps(c, separators=(",", ":")))
    if isinstance(c, Column):
        return c.cast("string")
    return F.lit(str(c))


# ---------------------------------------------------------------------------
# regex / parse family
# ---------------------------------------------------------------------------

def IsMatch(c: Column, pattern: str) -> Column:
    return c.rlike(pattern)


def ExtractPatterns(c: Column, pattern: str) -> Column:
    """Named-capture regex -> MAP<STRING,STRING> of non-empty groups
    (func_extract_patterns.go). Accepts Go/Java ``(?<name>...)`` and
    Python ``(?P<name>...)`` named-group syntax."""
    import re as _re

    py_pattern = _re.sub(r"\(\?<([A-Za-z][A-Za-z0-9_]*)>", r"(?P<\1>", pattern)
    java_pattern = pattern.replace("(?P<", "(?<")
    groups = _re.compile(py_pattern).groupindex
    keys, vals = [], []
    for name, idx in groups.items():
        keys.append(F.lit(name))
        vals.append(F.regexp_extract(c, java_pattern, idx))
    m = F.map_from_arrays(F.array(*keys), F.array(*vals))
    return F.map_filter(m, lambda k, v: v != "")


def ExtractGrokPatterns(
    c: Column, pattern: str, named_captures_only: bool = True
) -> Column:
    """Grok expression -> MAP<STRING,STRING> of named captures
    (func_extract_grok_patterns.go delegates to elastic/go-grok; here
    the grok compiler in functions/grok.py expands ``%{NAME:field}``
    to capture groups and each field reads via regexp_extract — all
    JVM-side). compile_grok only captures NAMED fields, so
    named_captures_only=true is inherent; false is accepted and
    identical here."""
    from .grok import compile_grok

    java_regex, fields = compile_grok(pattern)
    keys, vals = [], []
    for idx, (name, _cast) in enumerate(fields, start=1):
        keys.append(F.lit(name))
        vals.append(F.regexp_extract(c, java_regex, idx))
    if not keys:
        return F.create_map()
    m = F.map_from_arrays(F.array(*keys), F.array(*vals))
    return F.map_filter(m, lambda k, v: v != "")


def ParseJSON(c, schema: str | None = None) -> Column:
    """func_parse_json.go: JSON object -> map, JSON array -> slice.
    A literal argument picks its schema from the leading character
    (Spark needs a static schema; the reference sniffs at runtime)."""
    if isinstance(c, str):
        if schema is None:
            schema = "array<string>" if c.lstrip().startswith("[") else "map<string,string>"
        c = F.lit(c)
    return F.from_json(c, schema or "map<string,string>")


def ParseCSV(
    c: Column,
    header,
    delimiter: str = ",",
    header_delimiter: str | None = None,
    mode: str = "strict",
) -> Column:
    """func_parse_csv.go: ParseCSV(target, headers, delimiter=",",
    headerDelimiter=",", mode="strict") -> map of header->field.
    Headers may be a list or a delimited string (the reference's
    form). Returns a struct keyed by header (struct ≙ pcommon.Map with
    static keys; ``["field"]`` access works on both)."""
    if isinstance(header, str):
        header = header.split(header_delimiter or delimiter)
    sch = ", ".join(f"`{h}` string" for h in header)
    return F.from_csv(c, sch, {"sep": delimiter})


def ParseKeyValue(c: Column, delimiter: str = "=", pair_delimiter: str = " ") -> Column:
    """func_parse_key_value.go argument order: (target, delimiter,
    pairDelimiter) — delimiter separates key from value."""
    return F.str_to_map(c, F.lit(pair_delimiter), F.lit(delimiter))


def ParseInt(c: Column, base: int = 10) -> Column:
    """func_parse_int.go -> strconv.ParseInt; base 0 auto-detects the
    0x/0o/0b prefix like Go."""
    if base == 0:
        return (
            F.when(c.rlike("^0[xX]"), F.conv(F.regexp_replace(c, "^0[xX]", ""), 16, 10).cast("long"))
            .when(c.rlike("^0[oO]"), F.conv(F.regexp_replace(c, "^0[oO]", ""), 8, 10).cast("long"))
            .when(c.rlike("^0[bB]"), F.conv(F.regexp_replace(c, "^0[bB]", ""), 2, 10).cast("long"))
            .otherwise(c.try_cast("long"))
        )
    if base == 10:
        return c.try_cast("long")
    if base == 16:
        return F.conv(F.regexp_replace(c, "^0x", ""), 16, 10).cast("long")
    return F.conv(c, base, 10).cast("long")


def URL(c: Column) -> Column:
    """URL(url) -> map of parts (func_url.go semconv keys)."""
    return F.map_from_arrays(
        F.array(
            F.lit("url.scheme"), F.lit("url.domain"), F.lit("url.path"),
            F.lit("url.query"), F.lit("url.original"),
        ),
        F.array(
            F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)),
            F.parse_url(c, F.lit("HOST")),
            F.parse_url(c, F.lit("PATH")),
            F.parse_url(c, F.lit("QUERY")),
            c,
        ),
    )


def UserAgent(c: Column) -> Column:
    """UserAgent(ua) -> semconv map (func_user_agent.go uses the
    uap-go library; here: rule-based extraction of the major families
    — a pure-expr approximation covering the common agents)."""
    name = (
        F.when(c.rlike(r"Edg/"), "Edge")
        .when(c.rlike(r"OPR/|Opera"), "Opera")
        .when(c.rlike(r"Chrome/"), "Chrome")
        .when(c.rlike(r"Firefox/"), "Firefox")
        .when(c.rlike(r"Safari/") & c.rlike(r"Version/"), "Safari")
        .when(c.rlike(r"^curl/"), "curl")
        .when(c.rlike(r"^python-requests/"), "python-requests")
        .otherwise("Other")
    )
    def ext(pat: str) -> Column:
        # regexp_extract yields '' (not NULL) on no-match — nullif so
        # coalesce falls through correctly
        return F.nullif(F.regexp_extract(c, pat, 1), F.lit(""))

    version = F.coalesce(
        ext(r"Edg/([\d.]+)"),
        F.when(name == "Chrome", ext(r"Chrome/([\d.]+)")),
        F.when(name == "Firefox", ext(r"Firefox/([\d.]+)")),
        F.when(name == "Safari", ext(r"Version/([\d.]+)")),
        ext(r"^[\w-]+/([\d.]+)"),
    )
    os_name = (
        F.when(c.rlike(r"Windows NT"), "Windows")
        .when(c.rlike(r"Android"), "Android")
        .when(c.rlike(r"iPhone|iPad"), "iOS")
        .when(c.rlike(r"Mac OS X"), "macOS")
        .when(c.rlike(r"Linux"), "Linux")
        .otherwise("Other")
    )
    return F.map_from_arrays(
        F.array(
            F.lit("user_agent.name"), F.lit("user_agent.version"), F.lit("os.name"),
            F.lit("user_agent.original"),
        ),
        F.array(name, version, os_name, c),
    )


def Decode(c: Column, encoding: str) -> Column:
    if encoding == "base64":
        return F.unbase64(c)
    if encoding == "hex":
        return F.unhex(c)
    if encoding in ("utf-8", "utf8"):
        return c.cast("string")
    raise ValueError(encoding)


def Base64Decode(c: Column) -> Column:  # deprecated alias in reference
    return F.unbase64(c)


# ---------------------------------------------------------------------------
# XML family (func_get_xml.go / func_parse_simplified_xml.go) — Spark's
# JVM-native xpath_* builtins cover the read-side converters; the
# insert/convert editors are out of scope (no XML writes in the model)
# ---------------------------------------------------------------------------

def GetXML(c: Column, xpath: str) -> Column:
    """GetXML(target, xpath) -> matched nodes' text values as an array
    (func_get_xml.go returns the matched document fragments; the text
    view is the load-bearing read path). Spark's xpath() yields NULL
    for element matches unless the path targets text()/@attr — append
    text() for plain element selectors."""
    if not (xpath.rstrip("/").endswith("text()") or "/@" in xpath):
        xpath = xpath.rstrip("/") + "/text()"
    return F.xpath(c, F.lit(xpath))


def GetXMLString(c: Column, xpath: str) -> Column:
    """First match as a string (empty -> '')."""
    return F.xpath_string(c, F.lit(xpath))


def GetXMLInt(c: Column, xpath: str) -> Column:
    return F.xpath_int(c, F.lit(xpath))


def ParseSimplifiedXML(c: Column, fields: dict[str, str] | None = None) -> Column:
    """ParseSimplifiedXML (func_parse_simplified_xml.go:51-116).

    With an explicit ``fields`` spec: XML -> map of {key:
    xpath-extracted value} — stays JVM-side (schema-on-write fast
    path for pipeline configs).

    Without ``fields`` (the reference's only form): the recursive
    simplification — leaf elements become key->text, repeated tags
    become slices, nested elements become maps — returned as a JSON
    string (the result map is recursive; Spark column types are
    closed)."""
    if fields is None:
        from .xml_edit import parse_simplified_xml_udf

        return parse_simplified_xml_udf(c.cast("string"))
    keys, vals = [], []
    for k, xp in fields.items():
        keys.append(F.lit(k))
        vals.append(F.xpath_string(c, F.lit(xp)))
    return F.map_filter(
        F.map_from_arrays(F.array(*keys), F.array(*vals)), lambda k, v: v != ""
    )


# ---------------------------------------------------------------------------
# time family (helper refs: ottlfuncs/func_time.go, func_duration.go,
# func_truncate_time.go, func_unix*.go, func_year.go..)
# ---------------------------------------------------------------------------

def Time(c: Column, layout: str) -> Column:
    """strptime-layout parse (func_time.go uses ctimefmt); handles
    day-of-week layouts by stripping the parse-irrelevant day name."""
    out = strptime_parse(c, layout)
    out._ottl_is_ts = True
    return out


def FormatTime(c: Column, layout: str) -> Column:
    return F.date_format(c, strptime_to_spark(layout))


def TruncateTime(c: Column, unit) -> Column:
    """Duration-truncate (func_truncate_time.go -> Go time.Truncate:
    round down to a multiple of d since the zero time).  Accepts a
    spark date_trunc unit name OR a Duration() result / int64 nanos."""
    if isinstance(unit, Column):
        # __dict__ probe: Column.__getattr__ fabricates field-access
        # columns for unknown attributes
        ns = unit.__dict__.get("_ottl_duration_ns")
    else:
        ns = unit if isinstance(unit, int) else None
    if ns is not None:
        us = max(ns // 1000, 1)
        out = F.timestamp_micros(
            F.floor(F.unix_micros(c.cast("timestamp")) / us).cast("long") * us
        )
    else:
        out = F.date_trunc(unit, c)
    out._ottl_is_ts = True
    return out


_DUR_UNITS = {"ns": 1, "us": 1_000, "µs": 1_000, "ms": 1_000_000, "s": 1_000_000_000,
              "m": 60_000_000_000, "h": 3_600_000_000_000}


def Duration(s: str) -> Column:
    """Parse a Go duration literal ('1h2m3s', '100ms') to int64 nanos
    (func_duration.go -> time.ParseDuration)."""
    import re as _re

    total = 0
    for num, unit in _re.findall(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)", s):
        total += int(float(num) * _DUR_UNITS[unit])
    col = F.lit(total).cast("long")
    # static ns value rides along so TruncateTime / timestamp
    # arithmetic can resolve at compile time (Go returns a typed
    # time.Duration; Spark columns are type-blind until analysis)
    col._ottl_duration_ns = total
    return col


def UnixSeconds(c: Column) -> Column:
    return c.cast("timestamp").cast("long")


def UnixMilli(c: Column) -> Column:
    return F.unix_millis(c.cast("timestamp"))


def UnixMicro(c: Column) -> Column:
    return F.unix_micros(c.cast("timestamp"))


def UnixNano(c: Column) -> Column:
    # µs-precision engine: ns = µs * 1000 (documented loss vs Go)
    return F.unix_micros(c.cast("timestamp")) * 1000


def Unix(seconds: Column) -> Column:
    out = F.timestamp_seconds(seconds)
    out._ottl_is_ts = True
    return out


def Year(c: Column) -> Column:
    return F.year(c)


def Month(c: Column) -> Column:
    return F.month(c)


def Day(c: Column) -> Column:
    return F.dayofmonth(c)


def Weekday(c: Column) -> Column:
    # Go time.Weekday(): Sunday=0; Spark dayofweek: Sunday=1
    return F.dayofweek(c) - 1


def Hour(c: Column) -> Column:
    return F.hour(c)


def Minute(c: Column) -> Column:
    return F.minute(c)


def Second(c: Column) -> Column:
    return F.second(c)


def Hours(nanos: Column) -> Column:
    """Duration (int64 ns) -> float hours (func_hours.go)."""
    return nanos.cast("double") / 3_600_000_000_000


def Minutes(nanos: Column) -> Column:
    return nanos.cast("double") / 60_000_000_000


def Seconds(nanos: Column) -> Column:
    return nanos.cast("double") / 1_000_000_000


def Milliseconds(nanos: Column) -> Column:
    return nanos.cast("double") / 1_000_000


def Microseconds(nanos: Column) -> Column:
    return nanos.cast("double") / 1_000


def Nanoseconds(nanos: Column) -> Column:
    return nanos.cast("long")


# ---------------------------------------------------------------------------
# hash / id family
# ---------------------------------------------------------------------------

def MD5(c: Column) -> Column:
    return F.md5(c.cast("string"))


def SHA1(c: Column) -> Column:
    return F.sha1(c.cast("string"))


def SHA256(c: Column) -> Column:
    return F.sha2(c.cast("string"), 256)


def SHA512(c: Column) -> Column:
    return F.sha2(c.cast("string"), 512)


_mm32_cache = None


def Murmur3Hash(c: Column) -> Column:
    """Murmur3 x86 32-bit, seed 0, hex of the little-endian sum —
    exactly func_murmur3_hash.go's output ("Hello World" ->
    "ce837619"). Spark's builtin hash() is the same algorithm but
    pinned to seed 42 with big-endian int output, so the byte-exact
    form needs the Arrow path (cold: id derivation only)."""
    global _mm32_cache
    if _mm32_cache is None:
        M32 = 0xFFFFFFFF

        def mm32(data: bytes) -> str:
            h = 0
            n = len(data)
            for i in range(0, n - n % 4, 4):
                k = int.from_bytes(data[i : i + 4], "little")
                k = (k * 0xCC9E2D51) & M32
                k = ((k << 15) | (k >> 17)) & M32
                k = (k * 0x1B873593) & M32
                h ^= k
                h = ((h << 13) | (h >> 19)) & M32
                h = (h * 5 + 0xE6546B64) & M32
            tail = data[n - n % 4 :]
            if tail:
                k = int.from_bytes(tail.ljust(4, b"\0"), "little")
                k = (k * 0xCC9E2D51) & M32
                k = ((k << 15) | (k >> 17)) & M32
                k = (k * 0x1B873593) & M32
                h ^= k
            h ^= n
            h ^= h >> 16
            h = (h * 0x85EBCA6B) & M32
            h ^= h >> 13
            h = (h * 0xC2B2AE35) & M32
            h ^= h >> 16
            return h.to_bytes(4, "little").hex()

        @pandas_udf("string")
        def mm(s: pd.Series) -> pd.Series:
            return s.map(lambda x: None if x is None else mm32(str(x).encode()))

        _mm32_cache = mm
    return _mm32_cache(c.cast("string"))


def Hex(c, pad_int: bool = False) -> Column:
    """func_hex.go hex-encodes the Go binary form per type: float64 ->
    IEEE bits, int -> 8-byte BE, bool -> 1 byte, string -> utf8 bytes.
    Python literals resolve at compile time; Columns use Spark hex of
    the 8-byte integer form."""
    import struct as _struct

    if isinstance(c, bool):
        return F.lit(b"\x01".hex() if c else b"\x00".hex())
    if isinstance(c, int):
        return F.lit(c.to_bytes(8, "big", signed=True).hex())
    if isinstance(c, float):
        return F.lit(_struct.pack(">d", c).hex())
    if isinstance(c, str):
        return F.lit(c.encode().hex())
    if pad_int:
        # statically-known int64 expression: 8-byte BE like Go
        return F.lpad(F.lower(F.hex(c.cast("long"))), 16, "0")
    return F.lower(F.hex(c))


_fnv64_cache = None


def _fnv64():
    """FNV-1a 64-bit (func_fnv.go -> hash/fnv). No JVM builtin; Arrow
    batch path. Built lazily — pandas_udf registration needs an active
    session. Returns Go int64 (wrapping)."""
    global _fnv64_cache
    if _fnv64_cache is None:

        @pandas_udf("long")
        def fnv(s: pd.Series) -> pd.Series:
            def one(x):
                if x is None:
                    return None
                h = 0xCBF29CE484222325
                for b in str(x).encode():
                    h ^= b
                    h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
                return h - (1 << 64) if h >= (1 << 63) else h

            # dtype=object: .map() would coerce int64+None batches to
            # float64, silently rounding hashes (52-bit mantissa)
            return pd.Series([one(x) for x in s], dtype="object")

        _fnv64_cache = fnv
    return _fnv64_cache


def FNV(c: Column) -> Column:
    return _fnv64()(c.cast("string"))


def UUID(seed: Column) -> Column:
    """Deterministic UUIDv4-shaped id derived from md5 of a seed column
    (the reference's UUID() is random; randomness is banned here —
    derive from stable row content)."""
    h = F.md5(seed.cast("string"))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("4"), F.substring(h, 14, 3)),
        F.concat(F.lit("8"), F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def _murmur3_x64_128():
    """Murmur3 x64 128-bit (func_murmur3_hash128.go -> spaolacci/
    murmur3.Sum128), hex of h1||h2 little-endian — matches Go's
    ``hex.EncodeToString`` output. No JVM builtin for the 128-bit
    variant; Arrow-batched pandas UDF (cold path: id derivation,
    not per-byte scans)."""

    M = 0xFFFFFFFFFFFFFFFF
    C1, C2 = 0x87C37B91114253D5, 0x4CF5AD432745937F

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    def fmix(k):
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & M
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & M
        k ^= k >> 33
        return k

    def digest(data: bytes) -> str:
        length = len(data)
        h1 = h2 = 0
        nblocks = length // 16
        for i in range(nblocks):
            k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
            k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
            k1 = (rotl((k1 * C1) & M, 31) * C2) & M
            h1 = ((rotl(h1 ^ k1, 27) + h2) * 5 + 0x52DCE729) & M
            k2 = (rotl((k2 * C2) & M, 33) * C1) & M
            h2 = ((rotl(h2 ^ k2, 31) + h1) * 5 + 0x38495AB5) & M
        tail = data[nblocks * 16 :]
        k1 = k2 = 0
        if len(tail) > 8:
            k2 = int.from_bytes(tail[8:].ljust(8, b"\0"), "little")
            k2 = (rotl((k2 * C2) & M, 33) * C1) & M
            h2 ^= k2
        if tail:
            k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
            k1 = (rotl((k1 * C1) & M, 31) * C2) & M
            h1 ^= k1
        h1 ^= length
        h2 ^= length
        h1 = (h1 + h2) & M
        h2 = (h2 + h1) & M
        h1, h2 = fmix(h1), fmix(h2)
        h1 = (h1 + h2) & M
        h2 = (h2 + h1) & M
        return (h1.to_bytes(8, "little") + h2.to_bytes(8, "little")).hex()

    @pandas_udf("string")
    def mm128(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else digest(str(x).encode()))

    return mm128


_mm128_cache = None


def Murmur3Hash128(c: Column) -> Column:
    global _mm128_cache
    if _mm128_cache is None:
        _mm128_cache = _murmur3_x64_128()
    return _mm128_cache(c.cast("string"))


# The reference's Now() returns wall-clock time (func_now.go). Wall
# clock is banned here (re-runs must be byte-identical for the resume/
# lineage contract), so Now() is a fixed pin: every Now() in every
# statement sees the same instant — which is also what a vectorized
# engine wants (one literal, constant-folded) and mirrors how the
# collector stamps observed_ts per batch.
_PINNED_NOW = "2020-02-11T20:26:13Z"  # pkg/ottl/e2e TestObservedTime


def Now() -> Column:
    out = F.to_timestamp(F.lit(_PINNED_NOW), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    out._ottl_is_ts = True
    return out


def UUIDv7(ts: Column, seed: Column | None = None) -> Column:
    """UUIDv7 layout (func_uuidv7.go -> google/uuid.NewV7): 48-bit
    unix-millis prefix, version nibble 7, rand_a/rand_b. The random
    bits are derived from md5(seed) (randomness banned — see UUID);
    the time prefix is real, so ids still sort by time like v7 ids do.
    """
    ms = F.conv(F.unix_millis(ts.cast("timestamp")).cast("string"), 10, 16)
    ms12 = F.lpad(F.lower(ms), 12, "0")
    h = F.md5((seed if seed is not None else ts).cast("string"))
    return F.concat_ws(
        "-",
        F.substring(ms12, 1, 8),
        F.substring(ms12, 9, 4),
        F.concat(F.lit("7"), F.substring(h, 1, 3)),
        F.concat(F.lit("8"), F.substring(h, 4, 3)),
        F.substring(h, 7, 12),
    )


def Nanosecond(c: Column) -> Column:
    """Go t.Nanosecond(): sub-second component in ns (func_nanosecond.go).
    µs-precision engine: µs component * 1000."""
    ts = c.cast("timestamp")
    return (F.unix_micros(ts) - F.unix_seconds(ts) * 1_000_000) * 1000


def TraceID(hex_col: Column) -> Column:
    return F.lower(F.regexp_extract(hex_col, r"^([0-9a-fA-F]{32})$", 1))


def SpanID(hex_col: Column) -> Column:
    return F.lower(F.regexp_extract(hex_col, r"^([0-9a-fA-F]{16})$", 1))


def ProfileID(hex_col: Column) -> Column:
    """func_profile_id.go: exactly 16 bytes (32 hex chars) or error;
    here invalid input folds to '' like TraceID/SpanID."""
    return F.lower(F.regexp_extract(hex_col, r"^([0-9a-fA-F]{32})$", 1))


# ---------------------------------------------------------------------------
# math / type family
# ---------------------------------------------------------------------------

def Double(c: Column) -> Column:
    return c.try_cast("double")


def Int(c: Column) -> Column:
    """Go int64 conversion: float truncates toward zero; bad strings
    -> NULL (func_int.go)."""
    return c.try_cast("double").cast("long")


def Log(c: Column) -> Column:
    return F.log(c)


def IsBool(c: Column) -> Column:
    """func_is_bool.go: runtime type check. For string inputs this is
    a try-cast check; the compiler resolves statically-typed paths
    (map/list roots) to constants at compile time."""
    return _is_type(c, "boolean")


def IsList(c: Column, known: bool | None = None) -> Column:
    """func_is_list.go. Spark types are static: the compiler passes
    ``known`` for schema-resolved paths; a bare column defaults to
    False (scalar)."""
    return F.lit(bool(known))


def IsMap(c: Column, known: bool | None = None) -> Column:
    """func_is_map.go — see IsList."""
    return F.lit(bool(known))


def _is_type(c: Column, t: str) -> Column:
    # Spark schemas are static: typeof is a plan-time property. Expose
    # the dynamic OTTL Is* as a try-cast check for string inputs.
    return c.try_cast(t).isNotNull()


def IsDouble(c: Column) -> Column:
    return _is_type(c, "double")


def IsInt(c: Column) -> Column:
    return _is_type(c, "long")


def IsString(c: Column) -> Column:
    return c.cast("string").isNotNull()


def IsValidLuhn(c: Column) -> Column:
    """Luhn checksum over a digit string (func_is_valid_luhn.go) —
    pure array exprs: reverse digits, double every 2nd, sum."""
    digits = F.split(F.reverse(c.cast("string")), "")
    valid_chars = F.size(F.filter(digits, lambda d: ~d.rlike(r"^[0-9]$"))) == 0
    total = F.aggregate(
        F.zip_with(
            digits,
            F.sequence(F.lit(0), F.size(digits) - 1),
            lambda d, i: F.when(
                i % 2 == 1,
                F.when(d.try_cast("int") * 2 > 9, d.try_cast("int") * 2 - 9).otherwise(d.try_cast("int") * 2),
            ).otherwise(d.try_cast("int")),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return valid_chars & (F.length(c.cast("string")) > 1) & (total % 10 == 0)


def glob_to_regex(pattern: str) -> str:
    """gobwas/glob pattern (no separators) -> anchored Java regex:
    ``*`` any sequence, ``?`` one char, ``[...]`` class, ``{a,b}``
    alternation. Used by replace_match/replace_all_matches
    (func_replace_match.go compiles the same glob grammar)."""
    import re as _re

    out, i, n = [], 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch == "[":
            j = pattern.find("]", i + 1)
            if j == -1:
                out.append(_re.escape(ch))
            else:
                body = pattern[i + 1 : j]
                if body.startswith("!"):
                    body = "^" + body[1:]
                out.append("[" + body + "]")
                i = j
        elif ch == "{":
            j = pattern.find("}", i + 1)
            if j == -1:
                out.append(_re.escape(ch))
            else:
                alts = pattern[i + 1 : j].split(",")
                out.append("(?:" + "|".join(_re.escape(a) for a in alts) + ")")
                i = j
        else:
            out.append(_re.escape(ch))
        i += 1
    return "^" + "".join(out) + "$"


def ottl_div(a: Column, b: Column, int_math: bool) -> Column:
    """OTTL '/' (pkg/ottl/math.go:165-180): int/int is integer
    division; /0 is a statement error -> NULL under error_mode=ignore."""
    if int_math:
        return F.when(b != 0, (a / b).cast("long"))
    return F.when(b != 0, a / b)


# ---------------------------------------------------------------------------
# map / list family
# ---------------------------------------------------------------------------

def Keys(m: Column) -> Column:
    return F.map_keys(m)


def Values(m: Column) -> Column:
    return F.map_values(m)


def Sort(arr: Column, order: str = "asc") -> Column:
    s = F.array_sort(arr)
    return s if order == "asc" else F.reverse(s)


def SliceToMap(arr: Column, key_fn=None) -> Column:
    """array<struct<key,value>> or array<string> -> map
    (func_slice_to_map.go keys by a path; here: by element or struct
    field 'key')."""
    if key_fn is None:
        key_fn = lambda e: e  # noqa: E731
    return F.map_from_arrays(F.transform(arr, key_fn), arr)


def ContainsValue(arr: Column, value) -> Column:
    return F.array_contains(arr, value)


def Append(arr: Column, *values: Column) -> Column:
    return F.concat(arr, F.array(*values))


def ToKeyValueString(
    m: Column, delimiter: str = "=", pair_delimiter: str = " ",
    sort_keys: bool = True,
) -> Column:
    """map -> 'k=v k2=v2' (func_to_key_value_string.go argument order:
    target, delimiter, pairDelimiter, sortOutput). A value containing
    either delimiter is quote-wrapped, matching the reference
    ('k2=v2=v3' round-trips as k2="v2=v3")."""
    entries = F.map_entries(m)
    if sort_keys:
        entries = F.array_sort(entries)

    def fmt(e: Column) -> Column:
        v = e["value"]
        needs_quote = v.contains(delimiter) | v.contains(pair_delimiter)
        vq = F.when(needs_quote, F.concat(F.lit('"'), v, F.lit('"'))).otherwise(v)
        return F.concat(e["key"], F.lit(delimiter), vq)

    return F.array_join(F.transform(entries, fmt), pair_delimiter)


# ---------------------------------------------------------------------------
# registry (name -> callable), mirroring ottlfuncs/functions.go
# ---------------------------------------------------------------------------

OTTL_CONVERTERS = {
    "Concat": Concat, "Format": Format, "Split": Split, "Substring": Substring,
    "Trim": Trim, "ToUpperCase": ToUpperCase, "ToLowerCase": ToLowerCase,
    "ToCamelCase": ToCamelCase, "ToSnakeCase": ToSnakeCase, "ConvertCase": ConvertCase,
    "HasPrefix": HasPrefix, "HasSuffix": HasSuffix, "Len": Len, "String": String,
    "IsMatch": IsMatch, "ExtractPatterns": ExtractPatterns, "ParseJSON": ParseJSON,
    "ParseCSV": ParseCSV, "ParseKeyValue": ParseKeyValue, "ParseInt": ParseInt,
    "URL": URL, "UserAgent": UserAgent, "Decode": Decode, "Base64Decode": Base64Decode,
    "GetXML": GetXML, "GetXMLString": GetXMLString, "GetXMLInt": GetXMLInt,
    "ParseSimplifiedXML": ParseSimplifiedXML,
    "Time": Time, "FormatTime": FormatTime, "TruncateTime": TruncateTime,
    "Duration": Duration, "UnixSeconds": UnixSeconds, "UnixMilli": UnixMilli,
    "UnixMicro": UnixMicro, "UnixNano": UnixNano, "Unix": Unix,
    "Year": Year, "Month": Month, "Day": Day, "Weekday": Weekday,
    "Hour": Hour, "Minute": Minute, "Second": Second,
    "Hours": Hours, "Minutes": Minutes, "Seconds": Seconds,
    "Milliseconds": Milliseconds, "Microseconds": Microseconds,
    "Nanoseconds": Nanoseconds,
    "Nanosecond": Nanosecond, "Now": Now,
    "MD5": MD5, "SHA1": SHA1, "SHA256": SHA256, "SHA512": SHA512,
    "Murmur3Hash": Murmur3Hash, "Murmur3Hash128": Murmur3Hash128,
    "Hex": Hex, "FNV": FNV, "UUID": UUID, "UUIDv7": UUIDv7,
    "TraceID": TraceID, "SpanID": SpanID,
    "Double": Double, "Int": Int, "Log": Log,
    "IsBool": IsBool, "IsDouble": IsDouble, "IsInt": IsInt,
    "IsString": IsString, "IsList": IsList, "IsMap": IsMap,
    "IsValidLuhn": IsValidLuhn,
    "Keys": Keys, "Values": Values, "Sort": Sort, "SliceToMap": SliceToMap,
    "ContainsValue": ContainsValue, "Append": Append,
    "ToKeyValueString": ToKeyValueString,
    "ProfileID": ProfileID, "ExtractGrokPatterns": ExtractGrokPatterns,
    "ParseXML": ParseXML, "InsertXML": InsertXML, "RemoveXML": RemoveXML,
    "ConvertAttributesToElementsXML": ConvertAttributesToElementsXML,
    "ConvertTextToElementsXML": ConvertTextToElementsXML,
}
