"""Grok -> regex compiler.

The reference's ``ExtractGrokPatterns`` OTTL converter delegates to the
elastic go-grok library (``pkg/ottl/ottlfuncs/func_extract_grok_patterns.go:39-104``),
which is macro-expansion of ``%{NAME:field:type}`` references over a
library of named regexes, plus typed capture coercion. Grok is compile
time only — so we expand offline in Python, and the hot path is a
plain JVM ``regexp_extract`` over the expanded pattern (no Python per
row). Pattern definitions below are re-expressions of the standard
public grok pattern set (logstash/elastic patterns are Apache-2.0
public domain knowledge).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Core pattern library (subset of the standard grok set, expanded
# enough for log-pipeline work). Values are plain Java-compatible
# regexes with no capture groups.
PATTERNS: dict[str, str] = {
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "INT": r"(?:[+-]?(?:[0-9]+))",
    "BASE10NUM": r"(?:[+-]?(?:[0-9]+(?:\.[0-9]+)?)|\.[0-9]+)",
    "NUMBER": r"(?:[+-]?(?:[0-9]+(?:\.[0-9]+)?)|\.[0-9]+)",
    "POSINT": r"\b(?:[1-9][0-9]*)\b",
    "NONNEGINT": r"\b(?:[0-9]+)\b",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r"(?:\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*')",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "IPV4": r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "LOGLEVEL": r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo?(?:rmation)?|INFO?(?:RMATION)?|[Ww]arn?(?:ing)?|WARN?(?:ING)?|[Ee]rr?(?:or)?|ERR?(?:OR)?|[Cc]rit?(?:ical)?|CRIT?(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)",
    "MONTH": r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"(?:2[0123]|[01]?[0-9]):(?:[0-5][0-9])(?::(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?))?",
    "ISO8601_TIMEZONE": r"(?:Z|[+-](?:2[0123]|[01]?[0-9])(?::?(?:[0-5][0-9])))",
    "HTTPDATE": r"(?:(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])/\b\w+\b/(?:\d\d){1,2}:(?:2[0123]|[01]?[0-9]):(?:[0-5][0-9]):(?:[0-5][0-9]) [+-][0-9]{4})",
    "URIPROTO": r"[A-Za-z]+(?:\+[A-Za-z+]+)?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
}
PATTERNS["IP"] = f"(?:{PATTERNS['IPV6']}|{PATTERNS['IPV4']})"
PATTERNS["IPORHOST"] = f"(?:{PATTERNS['IP']}|{PATTERNS['HOSTNAME']})"
PATTERNS["USER"] = PATTERNS["USERNAME"]
# URI family incl. the ECS-named ELB_URI set (elastic/go-grok public
# pattern library, used by ExtractGrokPatterns in the reference e2e)
PATTERNS["URIHOST"] = "%{IPORHOST}(?::%{POSINT})?"
PATTERNS["ELB_URIQUERY"] = r"[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*"
PATTERNS["ELB_URIHOST"] = "%{IPORHOST:url.domain}(?::%{POSINT:url.port:int})?"
PATTERNS["ELB_URIPATHQUERY"] = (
    r"%{URIPATH:url.path}(?:\?%{ELB_URIQUERY:url.query})?"
)
PATTERNS["ELB_URI"] = (
    "%{URIPROTO:url.scheme}://(?:%{USER:url.username}(?::[^@]*)?@)?"
    "(?:%{ELB_URIHOST})?(?:%{ELB_URIPATHQUERY})?"
)
PATTERNS["TIMESTAMP_ISO8601"] = (
    r"(?:\d\d){1,2}-(?:0?[1-9]|1[0-2])-(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])"
    r"[T ](?:2[0123]|[01]?[0-9]):?(?:[0-5][0-9])(?::?(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?))?"
    + f"(?:{PATTERNS['ISO8601_TIMEZONE']})?"
)
PATTERNS["SYSLOGTIMESTAMP"] = (
    PATTERNS["MONTH"] + r" +" + PATTERNS["MONTHDAY"] + r" " + PATTERNS["TIME"]
)
PATTERNS["COMBINEDAPACHELOG"] = ""  # composed patterns resolved lazily below

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.\[\]@]+))?(?::(\w+))?\}")

# grok type -> Spark cast target (func_extract_grok_patterns.go:88-100
# coerces int/long/float/double/bool/string)
_GROK_TYPES = {
    "int": "long", "long": "long", "integer": "long",
    "float": "double", "double": "double",
    "bool": "boolean", "boolean": "boolean",
    "string": "string",
}


class GrokError(ValueError):
    pass


def compile_grok(
    pattern: str,
    _depth: int = 0,
) -> tuple[str, list[tuple[str, str]]]:
    """Expand a grok expression to (java_regex, [(field, cast_type)]).

    ``%{NAME:field:type}`` -> a capturing group; ``%{NAME}`` (no field)
    -> non-capturing. Unnamed-capture ordering matches go-grok:
    captures appear in source order.
    """
    if _depth > 16:
        raise GrokError("grok recursion too deep (cyclic pattern?)")
    fields: list[tuple[str, str]] = []

    def repl(m: re.Match) -> str:
        name, field, typ = m.group(1), m.group(2), m.group(3)
        if not PATTERNS.get(name):
            raise GrokError(f"unknown grok pattern %{{{name}}}")
        sub, sub_fields = compile_grok(PATTERNS[name], _depth + 1)
        if field:
            # Java assigns group numbers by '(' position: the outer
            # group opens before any nested sub-captures.
            cast = _GROK_TYPES.get((typ or "string").lower(), "string")
            fields.append((field, cast))
            fields.extend(sub_fields)
            return f"({sub})"
        fields.extend(sub_fields)
        return f"(?:{sub})"

    # process left-to-right so `fields` order matches group order;
    # neutralize bare capturing groups in literal text so they don't
    # shift grok group numbering. Char-class aware: a '(' INSIDE
    # [...] is a literal and must not become '(?:' (that would inject
    # '?' and ':' into the class, silently widening it).
    def neutralize(seg: str) -> str:
        out_c: list[str] = []
        in_class = False
        i = 0
        while i < len(seg):
            ch = seg[i]
            if ch == "\\" and i + 1 < len(seg):
                out_c.append(seg[i : i + 2])
                i += 2
                continue
            if not in_class and ch == "[":
                in_class = True
            elif in_class and ch == "]":
                in_class = False
            elif (
                not in_class
                and ch == "("
                and (i + 1 >= len(seg) or seg[i + 1] != "?")
            ):
                out_c.append("(?:")
                i += 1
                continue
            out_c.append(ch)
            i += 1
        return "".join(out_c)

    out: list[str] = []
    pos = 0
    for m in _GROK_REF.finditer(pattern):
        out.append(neutralize(pattern[pos : m.start()]))
        out.append(repl(m))
        pos = m.end()
    out.append(neutralize(pattern[pos:]))
    rx = "".join(out)
    if _depth == 0:
        # group-count audit: a stray backslash or unbalanced paren in
        # literal text can swallow a capture group, silently shifting
        # every regexp_extract index — fail compilation instead
        try:
            n_groups = re.compile(rx).groups
        except re.error as exc:
            raise GrokError(f"grok expands to invalid regex: {exc}") from None
        if n_groups != len(fields):
            raise GrokError(
                f"grok literal text breaks capture numbering "
                f"({n_groups} regex groups for {len(fields)} fields)"
            )
    return rx, fields


def grok_columns(
    source: Column, pattern: str
) -> dict[str, Column]:
    """Compile grok and return {field: typed Column} via regexp_extract.

    Wholly JVM-side: one compiled regex, one ``regexp_extract`` per
    capture (Catalyst dedups the common regex across extracts in
    codegen). Non-matching rows yield NULL (grok no-match semantics:
    reference returns empty map -> no attrs set).
    """
    regex, fields = compile_grok(pattern)
    # group index = position among *capturing* groups, 1-based, in the
    # order compile_grok appended them
    cols: dict[str, Column] = {}
    matched = source.rlike(regex)
    for idx, (field, cast) in enumerate(fields, start=1):
        c = F.regexp_extract(source, regex, idx)
        c = F.when(matched, c)
        if cast != "string":
            c = c.cast(cast)
        cols[field] = c
    return cols
