"""OTTL statement compiler: statement strings → Spark Column edits.

The reference parses OTTL with participle into a closure tree it
interprets one record at a time with NO optimizer
(``pkg/ottl/grammar.go:14-20``, ``parser.go:150-169``,
``expression.go:25-57`` — see SURVEY.md §3 EP2). Here the same grammar
subset compiles to a ``DataFrame -> DataFrame`` transformation built
from Column expressions — Catalyst/codegen is the optimizer the
reference never had, and a list of statements fuses into one
projection.

Supported surface (the load-bearing subset of the grammar):
- statements: ``editor(args...) [where <bool expr>]`` with editors
  set, delete_key, delete_matching_keys, keep_keys, keep_matching_keys,
  truncate_all, limit, replace_pattern, replace_all_patterns,
  replace_match, replace_all_matches, flatten, merge_maps
- paths: top-level fields (``body``, ``severity_number``...),
  ``attributes["k"]`` / ``resource["k"]`` map indexing, and
  **context-prefixed** paths with inference
  (``pkg/ottl/context_inferrer.go:18-28``,
  ``contexts/ottllog/log.go:182-212``): ``log.body``,
  ``resource.attributes["k"]``, ``scope.name``,
  ``instrumentation_scope.name``, ``cache["k"]``
- converters: every Uppercase function in ``OTTL_CONVERTERS``
- literals: int/float/string/bool/nil, negative numbers, lists; enums
  ``SEVERITY_NUMBER_*``; named args (``flatten(attributes, depth=1)``)
- operators: ``+ - * /`` (OTTL math semantics: / by zero → NULL =
  statement error under error_mode=ignore), comparisons, and/or/not

error_mode=ignore matches the reference default: a NULL where-clause
leaves the row unedited (``apply_statement`` null-safe gate).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..model import SEVERITY_NUMBER
from ..operators import transform as TR
from .ottl import OTTL_CONVERTERS, glob_to_regex, ottl_div

# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<hex>0x[0-9a-fA-F]+)
  | (?P<float>\d+\.\d+)
  | (?P<int>\d+)
  | (?P<op>==|!=|>=|<=|&&|\|\||[(){}\[\],.:<>+\-*/=])
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.VERBOSE,
)


@dataclass
class Tok:
    kind: str
    text: str


class HexLit(int):
    """0x… byte literal (grammar.go Bytes): an int that remembers its
    written hex digits so id converters keep the byte width."""

    def __new__(cls, text: str):
        obj = super().__new__(cls, int(text, 16))
        obj.digits = text[2:].lower()
        return obj


def tokenize(src: str) -> list[Tok]:
    toks: list[Tok] = []
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise OTTLSyntaxError(f"bad character at {pos}: {src[pos:pos + 10]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        toks.append(Tok(kind, m.group()))
    toks.append(Tok("eof", ""))
    return toks


class OTTLSyntaxError(ValueError):
    pass


# ---------------------------------------------------------------------------
# AST-free recursive-descent compile (expressions become Columns directly)
# ---------------------------------------------------------------------------

ENUMS = {f"SEVERITY_NUMBER_{k.upper()}": v for k, v in SEVERITY_NUMBER.items()}
# span-context symbol table (ctxspan/symbols.go:12-22)
ENUMS.update({
    "SPAN_KIND_UNSPECIFIED": 0, "SPAN_KIND_INTERNAL": 1,
    "SPAN_KIND_SERVER": 2, "SPAN_KIND_CLIENT": 3,
    "SPAN_KIND_PRODUCER": 4, "SPAN_KIND_CONSUMER": 5,
    "STATUS_CODE_UNSET": 0, "STATUS_CODE_OK": 1, "STATUS_CODE_ERROR": 2,
})

_PATH_ROOTS = {"body", "attributes", "resource", "severity_number", "severity_text",
               "trace_id", "span_id", "ts", "observed_ts", "scope", "flags",
               "time", "time_unix_nano", "event_name", "cache"}

# columns whose values are MAP<STRING,STRING> in the flat log model
_MAP_ROOTS = {"attributes", "resource", "cache"}

# flat-model scalar column types: edits whose value cannot cast to the
# target's type are STATEMENT ERRORS in the reference (ignored under
# error_mode=ignore) — writes go through try_cast + keep-original so a
# bad statement never crashes the job (ANSI casts throw otherwise)
_ROOT_TYPES = {
    "body": "string", "severity_text": "string", "scope": "string",
    "trace_id": "string", "span_id": "string", "event_name": "string",
    "severity_number": "long", "flags": "long", "time_unix_nano": "long",
    "time": "timestamp", "observed_ts": "timestamp", "ts": "timestamp",
    # span-context columns (flat span model, ctxspan/span.go registry)
    "name": "string", "kind": "long", "status_code": "long",
    "status_message": "string", "parent_span_id": "string",
    "trace_state": "string", "start_ts": "timestamp",
    "end_ts": "timestamp", "dropped_attributes_count": "long",
    # metric/datapoint-context columns (ctxmetric/ctxdatapoint)
    "metric_name": "string", "description": "string", "unit": "string",
    "metric_type": "long", "is_monotonic": "boolean", "value": "double",
    "count": "long", "sum": "double",
    # profile-context columns (ottlprofile flat model)
    "profile_id": "string", "duration_unix_nano": "long",
    "period": "long", "original_payload_format": "string",
}

# span context path registry -> flat span column
# (pkg/ottl/contexts/internal/ctxspan/span.go:24-115; the flat model
# stores ids as hex strings, status as status_code/status_message
# columns, times as start_ts/end_ts timestamps)
_SPAN_PATHS = {
    "name": "name", "kind": "kind", "trace_id": "trace_id",
    "span_id": "span_id", "parent_span_id": "parent_span_id",
    "trace_state": "trace_state", "start_time": "start_ts",
    "end_time": "end_ts", "attributes": "attributes",
    "dropped_attributes_count": "dropped_attributes_count",
}

# metric context (ctxmetric/metric.go:21-35)
_METRIC_PATHS = {
    "name": "metric_name", "description": "description", "unit": "unit",
    "type": "metric_type", "is_monotonic": "is_monotonic",
}

# datapoint context (ctxdatapoint/datapoint.go:23-56); value_int reads
# the same flat `value` column as value_double (one numeric slot)
_DATAPOINT_PATHS = {
    "attributes": "attributes", "value_double": "value",
    "value_int": "value", "time": "ts", "start_time": "start_ts",
    "flags": "flags", "count": "count", "sum": "sum",
}

# spanevent context (ctxspanevent/span_events.go:22-33); the flat model
# keeps the event name in event_name (span name stays `name`)
_SPANEVENT_PATHS = {
    "name": "event_name", "attributes": "attributes", "time": "ts",
    "time_unix_nano": "time_unix_nano",
    "dropped_attributes_count": "dropped_attributes_count",
}

# profile context (pkg/ottl/contexts/ottlprofile/README.md path table;
# profile.go registry). Flat-model scalars only: the pprofile slice
# graph (sample, sample_type, location_indices, attribute_indices) has
# no flat-column encoding and compiles to an explicit error, like every
# other unsupported path. profile_id is a hex string (as span ids are),
# so `.string` is the identity.
_PROFILE_PATHS = {
    "attributes": "attributes", "profile_id": "profile_id",
    "time": "ts", "time_unix_nano": "time_unix_nano",
    "duration_unix_nano": "duration_unix_nano",
    "period": "period",
    "original_payload_format": "original_payload_format",
    "dropped_attributes_count": "dropped_attributes_count",
}

# ptrace.SpanKind.String() / traceutil.SpanKindStr values, indexed by
# the numeric kind (ctxspan/span.go:298-345)
_SPAN_KIND_STR = ["Unspecified", "Internal", "Server", "Client",
                  "Producer", "Consumer"]
_SPAN_KIND_DEPRECATED_STR = [
    "SPAN_KIND_UNSPECIFIED", "SPAN_KIND_INTERNAL", "SPAN_KIND_SERVER",
    "SPAN_KIND_CLIENT", "SPAN_KIND_PRODUCER", "SPAN_KIND_CONSUMER",
]

# OTTL context prefixes (contexts/ottllog registers log + resource +
# scope + instrumentation_scope path parsers; log.go:182-212). The
# flat-DataFrame resolution of each prefix:
#   log.<field>                  -> column <field>
#   resource.attributes[...]     -> column `resource` (the resource-
#                                   attribute map IS the column)
#   scope.name / instrumentation_scope.name -> column `scope`
#   cache[...]                   -> column `cache`
_CONTEXTS = {"log", "resource", "scope", "instrumentation_scope", "datapoint",
             "metric", "span", "spanevent", "profile"}

# context inference priority (context_inferrer.go:18-28)
CONTEXT_PRIORITY = ["log", "datapoint", "metric", "spanevent", "span",
                    "profile", "scope", "instrumentation_scope", "resource"]


def infer_context(statements: list[str]) -> str:
    """Priority-based context inference over statement strings
    (context_inferrer.go:30-38): the highest-priority context prefix
    that appears wins; prefix-free statements infer the lowest
    context that supports them — for the log pipeline that is 'log'.
    """
    seen: set[str] = set()
    for s in statements:
        # tokenize so context words inside STRING LITERALS don't skew
        # inference ('set(body, "span.example.com")' is not span ctx)
        try:
            toks = tokenize(s)
        except OTTLSyntaxError:
            continue
        for i, t in enumerate(toks[:-1]):
            if (
                t.kind == "ident"
                and t.text in _CONTEXTS
                and toks[i + 1].text == "."
            ):
                seen.add(t.text)
    for ctx in CONTEXT_PRIORITY:
        if ctx in seen:
            return ctx
    return "log"


@dataclass
class Path:
    """A path: top-level column plus an ordered accessor chain.

    Accessors are ``("key", k)`` map lookups or ``("field", f)``
    struct-field steps, applied in source order — ``attributes["a"].b``
    chains element_at then getField instead of silently dropping
    segments.
    """
    column: str
    accessors: list[tuple[str, str]] = field(default_factory=list)

    def get(self) -> Column:
        c = F.col(self.column)
        acc = list(self.accessors)
        if (
            self.column in _MAP_ROOTS
            and len(acc) >= 2
            and acc[0][0] == "key"
            and isinstance(acc[0][1], str)
        ):
            # nested read on the flat model: the first key fetches the
            # cell, deeper segments walk its JSON encoding (nested
            # pcommon values are stored as compact JSON — see
            # _json_literal); attributes["foo"]["bar"] ->
            # get_json_object(attributes['foo'], '$.bar')
            jpath = "$"
            for kind, v in acc[1:]:
                if kind == "key" and isinstance(v, int):
                    jpath += f"[{v}]"
                elif kind in ("key", "field") and isinstance(v, str):
                    jpath += f"['{v}']" if "." in v else f".{v}"
                else:
                    raise OTTLSyntaxError(
                        "dynamic segments below the first map key are "
                        "not supported in the flat model"
                    )
            return F.get_json_object(F.element_at(c, acc[0][1]), jpath)
        for kind, v in acc:
            c = F.element_at(c, v) if kind == "key" else c.getField(v)
        return c

    @property
    def map_key(self) -> str | None:
        """The single map-key accessor, when the path is exactly
        ``column["k"]`` (the settable map shape)."""
        if len(self.accessors) == 1 and self.accessors[0][0] == "key":
            return self.accessors[0][1]
        return None

    def nested_write(self) -> tuple[str, list] | None:
        """(first_key, deeper_segments) when the path is a NESTED write
        into a JSON-encoded cell: column["k"]["a"][0]… with every
        segment static (dynamic deep segments stay unsupported)."""
        acc = self.accessors
        if (
            self.column in _MAP_ROOTS
            and len(acc) >= 2
            and acc[0][0] == "key"
            and isinstance(acc[0][1], str)
            # bracketed segments only — OTTL nested maps index with
            # ["k"]; a dotted .field on a map value stays a loud error
            and all(k == "key"
                    and isinstance(v, (str, int))
                    and not isinstance(v, bool)
                    for k, v in acc[1:])
        ):
            return acc[0][1], [v for _k, v in acc[1:]]
        return None

    def require_settable(self, editor: str) -> None:
        if self.accessors and self.map_key is None and self.nested_write() is None:
            raise OTTLSyntaxError(
                f"{editor}() target {self.column}.{self.accessors} is not a "
                "settable location (supported: column, column[\"key\"], "
                "column[\"k\"] nested static segments)"
            )


class Parser:
    def __init__(self, src: str):
        self.toks = tokenize(src)
        self.i = 0

    def peek(self) -> Tok:
        if self.i >= len(self.toks):
            return Tok("eof", "")
        return self.toks[self.i]

    def next(self) -> Tok:
        if self.i >= len(self.toks):
            raise OTTLSyntaxError("unexpected end of input")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> Tok:
        t = self.next()
        if t.text != text:
            raise OTTLSyntaxError(f"expected {text!r}, got {t.text!r}")
        return t

    # -- expressions --------------------------------------------------

    def parse_or(self) -> Column:
        left = self.parse_and()
        while self.peek().text in ("or", "||"):
            self.next()
            left = left | self.parse_and()
        return left

    def parse_and(self) -> Column:
        left = self.parse_not()
        while self.peek().text in ("and", "&&"):
            self.next()
            left = left & self.parse_not()
        return left

    def parse_not(self) -> Column:
        if self.peek().text == "not":
            self.next()
            return ~self.parse_not()
        return self.parse_comparison()

    def parse_comparison(self) -> Column:
        left = self.parse_additive()
        op = self.peek().text
        if op in ("==", "!=", ">", ">=", "<", "<="):
            self.next()
            right = self.parse_additive()
            # nil comparisons are null checks (compare.go: nil == nil
            # true, value == nil false) — Spark three-valued logic
            # would yield NULL instead
            if right is None or left is None:
                operand = left if right is None else right
                if operand is None:  # nil == nil
                    return F.lit(op == "==")
                oc = _as_col(operand)
                if op == "==":
                    return oc.isNull()
                if op == "!=":
                    return oc.isNotNull()
                return F.lit(False)
            lc, rc = _as_col(left), _as_col(right)
            return {
                "==": lc == rc, "!=": lc != rc, ">": lc > rc,
                ">=": lc >= rc, "<": lc < rc, "<=": lc <= rc,
            }[op]
        return left

    def parse_additive(self):
        left = self.parse_multiplicative()
        while self.peek().text in ("+", "-"):
            op = self.next().text
            right = self.parse_multiplicative()
            # Go time arithmetic (compare.go / time.Sub): ts - ts is a
            # Duration (int64 ns); ts ± Duration shifts the timestamp.
            # Spark would produce a DayTimeInterval, which doesn't
            # compare against Duration()'s ns long — lower to ns here.
            if op == "-" and _is_ts_expr(left) and _is_ts_expr(right):
                left = (
                    F.unix_micros(_as_col(left).cast("timestamp"))
                    - F.unix_micros(_as_col(right).cast("timestamp"))
                ) * F.lit(1000)
                continue
            if _is_ts_expr(left):
                ns = _static_duration_ns(right)
                if ns is not None:
                    us = ns // 1000
                    shifted = F.timestamp_micros(
                        F.unix_micros(_as_col(left).cast("timestamp"))
                        + (us if op == "+" else -us)
                    )
                    shifted._ottl_is_ts = True
                    left = shifted
                    continue
            both_int = _is_int_expr(left) and _is_int_expr(right)
            lc, rc = _as_col(left), _as_col(right)
            left = lc + rc if op == "+" else lc - rc
            if both_int:
                left._ottl_is_int = True  # int arithmetic stays int64
        return left

    def parse_multiplicative(self):
        left = self.parse_primary()
        while self.peek().text in ("*", "/"):
            op = self.next().text
            right = self.parse_primary()
            if op == "*":
                left = _as_col(left) * _as_col(right)
                continue
            # OTTL division (math.go:165-180): int/int is INTEGER
            # division (Go truncation toward zero); two int literals
            # fold here, the rest is ottl_div
            int_math = _is_int_expr(left) and _is_int_expr(right)
            if int_math and isinstance(left, int) and isinstance(right, int):
                import math as _math

                left = _math.trunc(left / right) if right != 0 else None
                continue
            left = ottl_div(_as_col(left), _as_col(right), int_math=int_math)
        return left

    def parse_primary(self):
        t = self.peek()
        if t.text == "-":
            # unary minus: negative literals / negated expressions
            self.next()
            v = self.parse_primary()
            if isinstance(v, (int, float)):
                return -v
            return -_as_col(v)
        if t.text == "(":
            self.next()
            e = self.parse_or()
            self.expect(")")
            return e
        if t.text == "[":
            return self.parse_list()
        if t.text == "{":
            return self.parse_map()
        if t.kind == "string":
            self.next()
            return _unquote(t.text)
        if t.kind == "hex":
            self.next()
            return HexLit(t.text)
        if t.kind == "int":
            self.next()
            return int(t.text)
        if t.kind == "float":
            self.next()
            return float(t.text)
        if t.kind == "ident":
            return self.parse_ident()
        raise OTTLSyntaxError(f"unexpected token {t.text!r}")

    def parse_list(self) -> list:
        self.expect("[")
        items = []
        while self.peek().text != "]":
            items.append(self.parse_or())
            if self.peek().text == ",":
                self.next()
        self.expect("]")
        return items

    def parse_map(self) -> dict:
        """Map literal {"k": value, ...} (grammar.go mapValue). Values
        may be literals, nested maps/lists, or expressions."""
        self.expect("{")
        out: dict = {}
        while self.peek().text != "}":
            key = self.next()
            if key.kind != "string":
                raise OTTLSyntaxError("map literal keys must be strings")
            self.expect(":")
            out[_unquote(key.text)] = self.parse_or()
            if self.peek().text == ",":
                self.next()
        self.expect("}")
        return out

    def parse_ident(self):
        name = self.next().text
        if name == "true":
            return True
        if name == "false":
            return False
        if name == "nil":
            return None
        if name in ENUMS:
            return ENUMS[name]
        if self.peek().text == "(":
            result = self.parse_call(name)
            # postfix indexing on a converter result:
            # Split(x, "h")[1], ParseCSV(...)["header2"] (grammar.go
            # allows Keys on any value)
            while self.peek().text == "[":
                self.next()
                idx = self.next()
                self.expect("]")
                if idx.kind == "int":
                    result = F.get(result, int(idx.text))
                elif idx.kind == "string":
                    result = result.getItem(_unquote(idx.text))
                else:
                    raise OTTLSyntaxError("index must be an int or string literal")
            return result
        if name in OTTL_CONVERTERS:
            # bare converter reference as an argument — the optional
            # Function arg of replace_pattern/replace_match
            # (func_replace_pattern.go ReplacePatternArguments.Function)
            return OTTL_CONVERTERS[name]
        return self.parse_path(name)

    def _parse_args(self) -> tuple[list, dict]:
        """Argument list with optional trailing named args
        (``flatten(attributes, depth=1)`` — grammar.go named-argument
        form)."""
        args: list = []
        kwargs: dict = {}
        while self.peek().text != ")":
            # named arg: ident '=' value (but not '==')
            if (
                self.peek().kind == "ident"
                and self.toks[self.i + 1].text == "="
            ):
                key = self.next().text
                self.expect("=")
                kwargs[key] = self.parse_or()
            else:
                args.append(self.parse_or())
            if self.peek().text == ",":
                self.next()
        self.expect(")")
        return args, kwargs

    def parse_call(self, name: str) -> Column:
        if name not in OTTL_CONVERTERS:
            raise OTTLSyntaxError(f"unknown converter {name!r}")
        self.expect("(")
        args, kwargs = self._parse_args()
        kwargs = {_snake(k): v for k, v in kwargs.items()}
        fn = OTTL_CONVERTERS[name]

        # schema-aware dispatch: Spark types are static, so Len / Is*
        # on a known map root resolve their type branch at compile time
        # (func_len.go / func_is_map.go are runtime type switches)
        if name == "Len" and len(args) == 1:
            if isinstance(args[0], Path):
                p = args[0]
                if p.column in _MAP_ROOTS and not p.accessors:
                    out = fn(p.get(), kind="collection")
                else:
                    out = fn(p.get())
                out._ottl_is_int = True  # Go Len returns int64
                return out
            if isinstance(args[0], (list, tuple, dict)):
                return len(args[0])
        if name in ("IsMap", "IsList") and len(args) == 1:
            if isinstance(args[0], Path):
                p = args[0]
                if p.accessors and p.column in _MAP_ROOTS:
                    # flat-model cell: nested pcommon values are their
                    # JSON encoding — sniff the leading bracket
                    lead = "\\{" if name == "IsMap" else "\\["
                    return F.coalesce(
                        F.trim(p.get()).rlike(f"^{lead}"), F.lit(False)
                    )
                is_map = p.column in _MAP_ROOTS and not p.accessors
                return fn(p.get(), known=is_map if name == "IsMap" else False)
            if isinstance(args[0], (list, tuple)):
                return fn(F.lit(None), known=(name == "IsList"))
            if isinstance(args[0], dict):
                return fn(F.lit(None), known=(name == "IsMap"))
            return fn(_as_col(args[0]))
        if (
            name in ("Int", "Double")
            and len(args) == 1
            and isinstance(args[0], (bool, int, float, str))
        ):
            # literal numeric conversion resolves at compile time so
            # Sort/Len over converter-typed list literals can too
            try:
                if name == "Int":
                    return int(args[0]) if not isinstance(args[0], str) else int(float(args[0]))
                return float(args[0])
            except ValueError:
                return None
        if (
            name == "Sort"
            and args
            and isinstance(args[0], (list, tuple))
            and not any(isinstance(i, (Column, Path, dict)) for i in args[0])
        ):
            order = args[1] if len(args) > 1 else kwargs.get("order", "asc")
            return _go_sort_literal(list(args[0]), order == "desc")
        if name in ("Keys", "Values") and args and isinstance(args[0], dict):
            vals = list(args[0].keys() if name == "Keys" else args[0].values())
            return [v if not isinstance(v, (dict, list)) else _json_literal(v)
                    for v in vals]
        if name == "Now":
            return fn()
        if name in ("UUID", "UUIDv7") and not args:
            # reference UUIDs are random (func_uuid.go); randomness is
            # banned -> derive from the pinned Now() instant
            args = [OTTL_CONVERTERS["Now"]()]

        if name == "Hex" and args and isinstance(args[0], Column) and _is_int_expr(args[0]):
            # Go hex-encodes int64 as 8 BE bytes (func_hex.go)
            return fn(args[0], pad_int=True)
        if (
            name in ("TraceID", "SpanID", "ProfileID")
            and args
            and isinstance(args[0], HexLit)
        ):
            # TraceID(0x…)/SpanID(0x…) byte literals (grammar.go) —
            # feed the converter the written hex digits
            args[0] = F.lit(args[0].digits)

        # converters take (Column, python-literal...) — coerce the
        # first argument to a Column, keep literal args as literals
        if args and not isinstance(args[0], Column):
            if name == "Concat":
                # reference order: Concat([values...], delimiter)
                if not isinstance(args[0], (list, tuple)):
                    raise OTTLSyntaxError(
                        "Concat takes ([values...], delimiter) — func_concat.go"
                    )
                vals = [_as_col(a) for a in args[0]]
                return fn(vals, *args[1:])
            if name == "Format":
                # format literal first, args as list or varargs
                rest = args[1:]
                if len(rest) == 1 and isinstance(rest[0], (list, tuple)):
                    rest = [[_as_col(a) for a in rest[0]]]
                else:
                    rest = [_as_col(a) for a in rest]
                return fn(args[0], *rest)
            # these converters are type-aware over literal args
            # (Duration parses a string; Hex encodes per Go type;
            # ParseJSON sniffs its schema from the literal)
            literal_aware = name in ("Duration", "Hex", "ParseJSON") or (
                name == "String" and isinstance(args[0], (list, tuple))
            )
            if not literal_aware:
                args[0] = _as_col(args[0])
        elif args and isinstance(args[0], Path):
            args[0] = args[0].get()
        return fn(*args, **kwargs)

    def parse_path(self, root: str) -> Path | Column:
        # context prefixes resolve to flat-model columns first
        if root in _CONTEXTS:
            return self._parse_context_path(root)
        if root not in _PATH_ROOTS:
            raise OTTLSyntaxError(f"unknown path root {root!r}")
        return self._parse_accessors(Path(column=root))

    def _parse_context_path(self, ctx: str) -> Path | Column:
        """Resolve ``log.body`` / ``resource.attributes["k"]`` /
        ``scope.name`` / ``span.name`` / ``span.status.code`` /
        ``metric.name`` / ``datapoint.value_double`` to flat columns
        (contexts/ottllog/log.go, internal/ctxspan/span.go,
        ctxmetric/metric.go, ctxdatapoint/datapoint.go registries)."""
        if ctx == "span":
            return self._parse_span_path()
        if ctx in ("metric", "datapoint", "spanevent", "profile"):
            table = {
                "metric": _METRIC_PATHS,
                "datapoint": _DATAPOINT_PATHS,
                "spanevent": _SPANEVENT_PATHS,
                "profile": _PROFILE_PATHS,
            }[ctx]
            self.expect(".")
            fld = self.next()
            if fld.kind != "ident" or fld.text not in table:
                raise OTTLSyntaxError(
                    f"unknown {ctx} field {fld.text!r} "
                    f"(ctx{ctx} path registry)"
                )
            if ctx == "profile" and fld.text == "profile_id":
                # hex string IS the flat encoding — `.string` identity,
                # matching span.trace_id.string (README: profile_id /
                # profile_id.string rows)
                if self.peek().text == ".":
                    self.next()
                    sub = self.next()
                    if sub.text != "string":
                        raise OTTLSyntaxError(
                            f"unknown profile.profile_id field {sub.text!r}"
                        )
                return Path(column=table[fld.text])
            return self._parse_accessors(Path(column=table[fld.text]))
        if ctx == "log":
            self.expect(".")
            nxt = self.next()
            if nxt.kind != "ident" or nxt.text not in _PATH_ROOTS:
                raise OTTLSyntaxError(f"unknown log field {nxt.text!r}")
            return self._parse_accessors(Path(column=nxt.text))
        if ctx == "resource":
            # resource.attributes[...] | resource[...] (bare map column)
            if self.peek().text == ".":
                self.next()
                sub = self.next()
                if sub.text != "attributes":
                    raise OTTLSyntaxError(
                        f"unknown resource field {sub.text!r} (resource has "
                        "attributes only; ctxresource.PathGetSetter)"
                    )
            return self._parse_accessors(Path(column="resource"))
        # scope / instrumentation_scope
        if self.peek().text == ".":
            self.next()
            sub = self.next()
            if sub.text != "name":
                raise OTTLSyntaxError(
                    f"unknown scope field {sub.text!r} (flat model keeps "
                    "scope.name only)"
                )
        return Path(column="scope")

    def _parse_span_path(self) -> Path | Column:
        """``span.<field>`` resolution against the flat span model
        (ctxspan/span.go:24-115).  ``status.code``/``status.message``
        map to the status_code/status_message columns; ``.string`` on
        ids is the identity (the flat model stores hex strings);
        ``kind.string`` / ``kind.deprecated_string`` are read-only
        conversions of the numeric kind column."""
        self.expect(".")
        fld = self.next()
        if fld.text == "status":
            self.expect(".")
            sub = self.next()
            if sub.text == "code":
                return self._parse_accessors(Path(column="status_code"))
            if sub.text == "message":
                return self._parse_accessors(Path(column="status_message"))
            raise OTTLSyntaxError(f"unknown span.status field {sub.text!r}")
        if fld.kind != "ident" or fld.text not in _SPAN_PATHS:
            raise OTTLSyntaxError(
                f"unknown span field {fld.text!r} (ctxspan path registry)"
            )
        col = _SPAN_PATHS[fld.text]
        if fld.text in ("trace_id", "span_id", "parent_span_id"):
            if self.peek().text == ".":
                self.next()
                sub = self.next()
                if sub.text != "string":
                    raise OTTLSyntaxError(
                        f"unknown span.{fld.text} field {sub.text!r}"
                    )
            # hex string IS the flat encoding — .string is the identity
            return Path(column=col)
        if fld.text == "kind" and self.peek().text == ".":
            self.next()
            sub = self.next()
            if sub.text == "string":
                names = _SPAN_KIND_STR
            elif sub.text == "deprecated_string":
                names = _SPAN_KIND_DEPRECATED_STR
            else:
                raise OTTLSyntaxError(
                    f"unknown span.kind field {sub.text!r}"
                )
            kind = F.col("kind")
            expr: Column = F.lit(names[0])
            for i, n in enumerate(names[1:], start=1):
                expr = F.when(kind == i, F.lit(n)).otherwise(expr)
            return expr  # read-only conversion
        return self._parse_accessors(Path(column=col))

    def _parse_accessors(self, path: Path) -> Path:
        while True:
            t = self.peek()
            if t.text == "[":
                self.next()
                if self.peek().kind == "string":
                    key = self.next()
                    self.expect("]")
                    path.accessors.append(("key", _unquote(key.text)))
                else:
                    # dynamic index: attributes[attributes["flags"]]
                    # (grammar.go Key takes a full value expression);
                    # int literals stay ints for JSON-array steps
                    expr = self.parse_or()
                    self.expect("]")
                    if isinstance(expr, int) and not isinstance(expr, bool):
                        path.accessors.append(("key", expr))
                    else:
                        path.accessors.append(("key", _as_col(expr)))
            elif t.text == ".":
                self.next()
                path.accessors.append(("field", self.next().text))
            else:
                break
        return path

    # -- statements ---------------------------------------------------

    def parse_statement(self):
        name = self.next().text
        self.expect("(")
        args, kwargs = self._parse_args()
        where = None
        if self.peek().text == "where":
            self.next()
            where = _as_col(self.parse_or())
        if self.peek().kind != "eof":
            raise OTTLSyntaxError(f"trailing input: {self.peek().text!r}")
        return name, args, kwargs, where


_ESCAPE_MAP = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\",
               "'": "'", "/": "/", "a": "\a", "b": "\b", "f": "\f", "v": "\v"}


def _unquote(s: str) -> str:
    """Decode a quoted OTTL string literal WITHOUT the
    encode()/decode('unicode_escape') round-trip, which reinterprets
    UTF-8 bytes as Latin-1 and mojibakes non-ASCII ("café" -> "cafÃ©").
    """
    body = s[1:-1]

    def repl(m: re.Match) -> str:
        esc = m.group(1)
        if esc.startswith("u"):
            return chr(int(esc[1:], 16))
        if esc.startswith("x"):
            return chr(int(esc[1:], 16))
        if esc in _ESCAPE_MAP:
            return _ESCAPE_MAP[esc]
        return esc

    return re.sub(r"\\(u[0-9a-fA-F]{4}|x[0-9a-fA-F]{2}|.)", repl, body)


def _json_literal(v):
    """Render a map/list literal (possibly containing Column exprs —
    not supported there) to its compact JSON string, the flat model's
    encoding for nested pcommon values."""
    import json as _json

    def enc(x):
        if isinstance(x, dict):
            return {k: enc(val) for k, val in x.items()}
        if isinstance(x, (list, tuple)):
            return [enc(i) for i in x]
        if isinstance(x, (Column, Path)):
            raise OTTLSyntaxError(
                "column expressions inside map/list literals are not "
                "supported in the flat model"
            )
        return x

    return _json.dumps(enc(v), separators=(",", ":"))


def _go_str(v) -> str:
    """Go fmt %v of a pcommon scalar."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _go_sort_literal(items: list, desc: bool) -> list:
    """func_sort.go: homogeneous bools/numbers sort natively, mixed
    types fall back to the string-representation sort."""
    if items and all(isinstance(i, bool) for i in items):
        out = sorted(items)
    elif items and all(
        isinstance(i, (int, float)) and not isinstance(i, bool) for i in items
    ):
        out = sorted(items)
    else:
        out = sorted(items, key=_go_str)
    return list(reversed(out)) if desc else out


def _has_col(v) -> bool:
    if isinstance(v, (Column, Path)):
        return True
    if isinstance(v, dict):
        return any(_has_col(i) for i in v.values())
    if isinstance(v, (list, tuple)):
        return any(_has_col(i) for i in v)
    return False


def _literal_col_json(v) -> Column:
    """Map/list literal containing column expressions -> its JSON
    Column (to_json of the struct/array tree; static-only literals go
    through _json_literal instead for byte-stable output)."""
    def enc(x):
        if isinstance(x, dict):
            return F.struct(*[enc(val).alias(k) for k, val in x.items()])
        if isinstance(x, (list, tuple)):
            return F.array(*[enc(i) for i in x])
        if isinstance(x, Path):
            return x.get()
        if isinstance(x, Column):
            return x
        return F.lit(x)

    return F.to_json(enc(v))


def _map_literal_to_map_col(d: dict) -> Column:
    """Map literal -> MAP<STRING,STRING> Column: nested values as
    compact JSON (to_json when they contain column exprs), scalars as
    Go strings, column exprs cast to string."""
    pairs = []
    for k, v in d.items():
        if isinstance(v, (dict, list, tuple)):
            vc = _literal_col_json(v) if _has_col(v) else F.lit(_json_literal(v))
        elif isinstance(v, (Path, Column)):
            vc = _as_col(v).cast("string")
        elif isinstance(v, str):
            vc = F.lit(v)
        else:
            vc = F.lit(_go_str(v))
        pairs.extend([F.lit(k), vc])
    return F.create_map(*pairs)


def _as_col(v) -> Column:
    if isinstance(v, Path):
        return v.get()
    if isinstance(v, Column):
        return v
    if isinstance(v, dict):
        if _has_col(v):
            return _literal_col_json(v)
        return F.lit(_json_literal(v))
    if isinstance(v, (list, tuple)):
        if any(isinstance(i, (dict, list, tuple)) for i in v):
            return F.lit(_json_literal(v))
        kinds = {type(i) for i in v}
        if len(kinds) > 1 and not kinds <= {int, float}:
            # mixed-type slice: flat model renders Go string forms
            return F.lit([_go_str(i) for i in v])
    return F.lit(v)


# integer-typed root columns across all flat models (int division
# dispatch) — derived from the registry so span/metric/profile longs
# (kind, count, period, duration_unix_nano, ...) divide as Go int64s
_INT_COLS = {c for c, t in _ROOT_TYPES.items() if t == "long"}


def _is_ts_expr(v) -> bool:
    """Static timestamp-ness: the `time` path, or a converter result
    marked by Time/Now/Unix/TruncateTime (Spark columns are type-blind
    until analysis; Go's type switch happens at runtime)."""
    if isinstance(v, Path):
        return v.column in ("time", "observed_time") and not v.accessors
    # NB: Column.__getattr__ resolves unknown attributes to FIELD
    # ACCESS columns — must probe __dict__, not getattr
    return isinstance(v, Column) and v.__dict__.get("_ottl_is_ts", False)


def _static_duration_ns(v):
    """ns value of a Duration() literal / int literal, else None."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, Column):
        # __dict__ probe: Column.__getattr__ would fabricate a column
        return v.__dict__.get("_ottl_duration_ns")
    return None


def _is_int_expr(v) -> bool:
    """Static int-ness for OTTL's int/int integer-division rule."""
    if isinstance(v, bool):
        return False
    if isinstance(v, int):
        return True
    if isinstance(v, Column):
        return v.__dict__.get("_ottl_is_int", False)
    return isinstance(v, Path) and v.column in _INT_COLS and not v.accessors


def _snake(name: str) -> str:
    """Reference named args are camelCase (headerDelimiter=...); the
    Python builders take snake_case."""
    return re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", name).lower()


# ---------------------------------------------------------------------------
# editor dispatch
# ---------------------------------------------------------------------------

def _write_scalar(column: str, edited: Column) -> Column:
    """Typed-column write gate: a value that cannot cast to the
    target's model type is a statement error -> keep the original
    (error_mode=ignore); ANSI casts would otherwise throw mid-job."""
    t = _ROOT_TYPES.get(column)
    if t is None:
        return edited
    return F.coalesce(edited.cast("string").try_cast(t), F.col(column))


def _edit(name: str, args: list, kwargs: dict, where: Column | None, df: DataFrame) -> DataFrame:
    def stmt(target: str, edit: Column) -> DataFrame:
        return TR.apply_statement(df, target, edit, where=where)

    def write_back(path: Path, value: Column) -> DataFrame:
        """Write ``value`` back to a settable path (column, map key, or
        nested JSON-cell segments) with func_set.go's gates, evaluated
        per row: a NULL value (missing attribute, errored
        sub-expression) performs NO edit — the key is not created, the
        old value kept — and so does a dynamic key resolving to nil (a
        statement error under error_mode=ignore, grammar.go Key; a NULL
        map key would otherwise kill the job with NULL_MAP_KEY)."""
        path.require_settable(name)
        nested = path.nested_write()
        if nested is not None:
            from .jsonpath import json_set

            first_key, segs = nested
            cell = F.element_at(F.col(path.column), first_key)
            new_cell = json_set(cell, segs, value)
            edited = F.when(
                value.isNull(), F.col(path.column)
            ).otherwise(
                TR.map_set(F.col(path.column), first_key, new_cell)
            )
            return stmt(path.column, edited)
        if path.map_key is not None:
            no_edit = value.isNull()
            if isinstance(path.map_key, Column):
                no_edit = no_edit | path.map_key.isNull()
            edited = F.when(
                no_edit, F.col(path.column)
            ).otherwise(TR.map_set(F.col(path.column), path.map_key, value))
            return stmt(path.column, edited)
        if path.column in _ROOT_TYPES:
            # typed-column write: uncastable value = statement error =
            # keep original (and both CASE branches share one type, so
            # ANSI coercion can never throw mid-job)
            return stmt(path.column, _write_scalar(path.column, value))
        return stmt(path.column, F.when(value.isNull(), path.get()).otherwise(value))

    if name == "set":
        path = args[0]
        if not isinstance(path, Path):
            raise OTTLSyntaxError("set() target must be a path")
        if args[1] is None:
            # set(target, nil) is a no-op: func_set.go only calls
            # target.Set when the value getter returned non-nil
            return df
        if (
            isinstance(args[1], dict)
            and not path.accessors
            and path.column in _MAP_ROOTS
        ):
            # whole-map assignment from a map literal: values land in
            # the flat MAP<STRING,STRING> as Go-string/JSON forms;
            # column expressions evaluate per row
            return stmt(path.column, _map_literal_to_map_col(args[1]))
        if isinstance(args[1], (list, tuple)):
            # slice values store as compact JSON — pcommon's own slice
            # encoding, and what flatten/nested reads decode
            value = (
                _literal_col_json(args[1])
                if _has_col(args[1])
                else F.lit(_json_literal(args[1]))
            )
        else:
            value = _as_col(args[1])
        return write_back(path, value)

    if name == "replace_pattern":
        tgt = args[0]
        if not isinstance(tgt, Path):
            raise OTTLSyntaxError("replace_pattern() target must be a path")
        pat, template = args[1], args[2]
        conv = args[3] if len(args) > 3 and callable(args[3]) else None
        cur = tgt.get()
        if conv is not None and isinstance(template, str) and re.search(r"\$\d", template):
            # func_replace_pattern.go expands $n PER MATCH and then
            # applies the Function to the expanded string — a constant
            # conv("$1") would hash the literal dollar-ref. Fold over
            # the distinct full-match strings: expand each against the
            # pattern, convert, substitute.
            def _expand(fm: Column) -> Column:
                parts = re.split(r"(\$\d+)", template)
                cols = []
                for p in parts:
                    if re.fullmatch(r"\$\d+", p):
                        cols.append(F.regexp_extract(fm, pat, int(p[1:])))
                    elif p:
                        cols.append(F.lit(p))
                return F.concat(*cols) if cols else F.lit("")

            full = F.array_distinct(
                F.regexp_extract_all(cur, F.lit(pat), F.lit(0))
            )
            edited = F.aggregate(
                full, cur, lambda acc, fm: F.replace(acc, fm, conv(_expand(fm)))
            )
            return write_back(tgt, edited)
        repl = conv(_as_col(template)) if conv is not None else _as_col(template)
        # string-view edit: regexp_replace needs strings, and a typed
        # target is restored (or kept) by write_back's write gate
        return write_back(
            tgt,
            F.regexp_replace(cur.cast("string"), F.lit(pat), repl.cast("string")),
        )

    if name == "replace_match":
        # glob full-match -> replace whole value (func_replace_match.go)
        tgt = args[0]
        if not isinstance(tgt, Path):
            raise OTTLSyntaxError("replace_match() target must be a path")
        rx = glob_to_regex(args[1])
        cur = tgt.get().cast("string")
        # both CASE branches as strings — mixed types would make ANSI
        # coercion throw on rows the condition doesn't even select
        edited = F.when(
            cur.rlike(rx), _as_col(args[2]).cast("string")
        ).otherwise(cur)
        return write_back(tgt, edited)

    if name == "append":
        # func_append.go: append value/values to the target; a missing
        # target becomes a fresh slice, a scalar target becomes
        # [old, new...]. Flat model: slices are JSON-array cells.
        path = args[0]
        if not isinstance(path, Path):
            raise OTTLSyntaxError("append() target must be a path")
        path.require_settable(name)
        vals = []
        if len(args) > 1:
            vals.append(args[1])
        kw_vals = kwargs.get("values")
        if kw_vals:
            vals.extend(kw_vals)
        if kwargs.get("value") is not None:
            vals.append(kwargs["value"])
        if not vals:
            raise OTTLSyntaxError("append requires value or values")
        new_items = F.array(*[_as_col(v).cast("string") for v in vals])
        nested = path.nested_write()
        if nested is not None:
            from .jsonpath import json_set

            first_key, segs = nested
            cell = F.element_at(F.col(path.column), first_key)
            for v in vals:
                cell = json_set(cell, segs, _as_col(v), append=True)
            # the appended cell replaces the first key's cell
            return write_back(Path(path.column, path.accessors[:1]), cell)
        cur = path.get().cast("string")
        cur_arr = (
            F.when(cur.isNull(), F.array().cast("array<string>"))
            .when(
                F.trim(cur).rlike(r"^\["),
                F.from_json(cur, "array<string>"),
            )
            .otherwise(F.array(cur))
        )
        return write_back(path, F.to_json(F.concat(cur_arr, new_items)))

    # remaining editors operate on a map path
    path = args[0]
    if not isinstance(path, Path) or path.accessors:
        raise OTTLSyntaxError(f"{name}() expects a map path")
    m = F.col(path.column)
    if name == "delete_key":
        return stmt(path.column, TR.map_delete_key(m, args[1]))
    if name == "delete_matching_keys":
        return stmt(path.column, TR.map_delete_matching_keys(m, args[1]))
    if name == "keep_matching_keys":
        return stmt(path.column, TR.map_keep_matching_keys(m, args[1]))
    if name == "keep_keys":
        return stmt(path.column, TR.map_keep_keys(m, list(args[1])))
    if name == "truncate_all":
        return stmt(path.column, TR.map_truncate_all(m, args[1]))
    if name == "limit":
        pri = list(args[2]) if len(args) > 2 else None
        return stmt(path.column, TR.map_limit(m, args[1], priority_keys=pri))
    if name == "replace_all_patterns":
        mode = args[1]  # "key" | "value"
        return stmt(path.column, TR.map_replace_all_patterns(m, args[2], args[3], mode))
    if name == "replace_all_matches":
        # glob full-match over every map VALUE (func_replace_all_matches.go)
        rx = glob_to_regex(args[1])
        repl = _as_col(args[2])
        edited = F.transform_values(
            m, lambda _, v: F.when(v.rlike(rx), repl).otherwise(v)
        )
        return stmt(path.column, edited)
    if name == "flatten":
        # func_flatten.go folds nested maps into dotted keys. In the
        # flat model nested maps are JSON-object cells, so flatten
        # expands ONE level of those into "key.inner" entries (matches
        # the reference's default depth handling for the depth the
        # model can hold); scalar cells pass through; an optional
        # prefix prepends "p." to every key.
        prefix = args[1] if len(args) > 1 else kwargs.get("prefix")
        entries = F.map_entries(m)

        def expand(e):
            inner = F.from_json(e["value"], "map<string,string>")
            inner_arr = F.from_json(e["value"], "array<string>")
            return (
                F.when(
                    F.trim(e["value"]).rlike(r"^\{") & inner.isNotNull(),
                    F.transform(
                        F.map_entries(inner),
                        lambda ie: F.struct(
                            F.concat(e["key"], F.lit("."), ie["key"]).alias("key"),
                            ie["value"].alias("value"),
                        ),
                    ),
                )
                .when(
                    # JSON-array cells become key.0, key.1 …
                    # (func_flatten.go moves slice items to indexed keys)
                    F.trim(e["value"]).rlike(r"^\[") & inner_arr.isNotNull(),
                    F.transform(
                        inner_arr,
                        lambda v, i: F.struct(
                            F.concat(e["key"], F.lit("."), i.cast("string")).alias("key"),
                            v.alias("value"),
                        ),
                    ),
                )
                .otherwise(
                    F.array(F.struct(e["key"].alias("key"), e["value"].alias("value")))
                )
            )

        flat_entries = F.flatten(F.transform(entries, expand))
        if prefix:
            flat_entries = F.transform(
                flat_entries,
                lambda e: F.struct(
                    F.concat(F.lit(prefix + "."), e["key"]).alias("key"),
                    e["value"].alias("value"),
                ),
            )
        # last-wins dedup before map_from_entries: an expanded nested
        # key can collide with an existing flat key (attributes holds
        # both 'a.b' and a={"b":...}); func_flatten.go upserts
        # (PutEmpty overwrites), while Spark's default
        # mapKeyDedupPolicy=EXCEPTION would kill the job.  Last-wins =
        # first occurrence in the reversed list: one shared keys array
        # + array_position per entry, no per-element slice allocation.
        rev = F.reverse(flat_entries)
        rev_keys = F.transform(rev, lambda e: e["key"])
        flat_entries = F.filter(
            rev,
            lambda e, i: F.array_position(rev_keys, e["key"]) == i + F.lit(1),
        )
        return stmt(path.column, F.map_from_entries(flat_entries))
    if name == "merge_maps":
        src = args[1]
        if isinstance(src, Path) and src.accessors and src.column in _MAP_ROOTS:
            # a JSON-encoded nested map cell: decode to merge
            # (merge_maps(attributes, attributes["foo"], mode))
            other = F.from_json(src.get(), "map<string,string>")
        elif isinstance(src, dict):
            other = _map_literal_to_map_col(src)
        else:
            other = _as_col(src)
        strategy = args[2] if len(args) > 2 else "upsert"
        return stmt(path.column, TR.map_merge(m, other, strategy))
    raise OTTLSyntaxError(f"unknown editor {name!r}")


EDITORS = {
    "set", "delete_key", "delete_matching_keys", "keep_keys",
    "keep_matching_keys", "truncate_all", "limit", "replace_pattern",
    "replace_all_patterns", "replace_match", "replace_all_matches",
    "flatten", "merge_maps", "append",
}


def compile_statement(src: str):
    """OTTL statement string -> (DataFrame -> DataFrame)."""
    name, args, kwargs, where = Parser(src).parse_statement()
    if name not in EDITORS:
        raise OTTLSyntaxError(f"unknown editor {name!r}")
    if name in ("set", "replace_pattern", "replace_match") and args and isinstance(args[0], Path):
        # fail at compile time, not first-apply time: a multi-segment
        # target like attributes["k"].sub is never silently truncated
        args[0].require_settable(name)

    def apply(df: DataFrame) -> DataFrame:
        return _edit(name, args, kwargs, where, df)

    return apply


def compile_statements(statements: list[str]):
    """Statement sequence -> one composed transformation (order
    preserved, exactly the transformprocessor statement list)."""
    fns = [compile_statement(s) for s in statements]

    def apply(df: DataFrame) -> DataFrame:
        for fn in fns:
            df = fn(df)
        return df

    return apply


def compile_condition(src: str) -> Column:
    """OTTL boolean condition string -> Column (filterprocessor /
    routingconnector route conditions)."""
    p = Parser(src)
    col = _as_col(p.parse_or())
    if p.peek().kind != "eof":
        raise OTTLSyntaxError(f"trailing input: {p.peek().text!r}")
    return col


def compile_expression(src: str) -> Column:
    """OTTL value expression string -> Column (signaltometrics value/
    count expressions; pkg/ottl value grammar — same parse as a
    condition, the result just isn't required to be boolean)."""
    return compile_condition(src)
