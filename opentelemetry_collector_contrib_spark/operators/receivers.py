"""Text-protocol metric receivers, vectorized.

Reference semantics:

- statsd — ``receiver/statsdreceiver/internal/parser/statsd_parser.go``
  (``parseMessageToMetric`` :346-460, ``Aggregate`` :259-345) and
  ``metric_translator.go`` (``counterValue`` :145-156, ``gaugeValue``
  :158-161, ``sampleValue`` :163-172, ``buildSummaryMetric`` :68-98).
  Line grammar ``<name>:<value>|<type>[|@<rate>][|#<tags>]
  [|c:<container>][|T<ts>]``; counters sum ``int64(v/rate)``, gauges
  are last-set-plus-additions, timers/histograms/distributions carry a
  ``1/rate`` weight into the summary observer.
- carbon — ``receiver/carbonreceiver/protocol/path_parser_helper.go``
  (``Parse`` :92-147: exactly-3-token split, int-else-float value and
  timestamp) and ``plaintext_parser.go`` (``ParsePath`` :40-70:
  ``name;k=v;...`` tags, '=' must not be the first char of a tag).
- prometheus text — the public Prometheus exposition format consumed
  by ``receiver/simpleprometheusreceiver`` / ``prometheusreceiver``:
  ``# TYPE <name> <type>`` metadata lines and
  ``name{k="v",...} value [ts_ms]`` samples; histogram/summary series
  (``_bucket``/``_sum``/``_count``) resolve their TYPE through the
  family name.
- influx line protocol — the public InfluxDB line protocol consumed by
  ``receiver/influxdbreceiver``:
  ``measurement[,tag=v...] field=value[,field=value...] [ts_ns]``
  with ``123i`` integer, ``"..."`` string, bare-float and boolean
  field values (unescaped common case; escape sequences are out of
  scope and flagged not-ok).

Spark re-expression: every receiver is a pure Column-expression
parser (regexp_extract + higher-order array functions — all inside
whole-stage codegen; no Python UDF anywhere). Parse failure is a
predicate (``*_ok``), not an exception, so on_error={drop,send}
routing composes via ``parse.split_on_error``. Aggregations are plain
map-side-combinable groupBys keyed on (name, canonical-attrs); gauge
last-set semantics use one ordered window — at 100 TB these shuffle
once on the metric identity and nothing else.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


_STATSD_TYPES = ("c", "g", "h", "ms", "d")

_INT_RE = r"^[+-]?[0-9]+$"

# tokens Go's strconv.ParseFloat maps to ±Inf / zero WITHOUT an error
# (range errors on finite tokens DO error — 1e309 / 1e-400 are invalid)
_INF_TOKEN_RE = r"^[+-]?[iI][nN][fF]([iI][nN][iI][tT][yY])?$"
_ZERO_TOKEN_RE = r"^[+-]?(0+(\.0*)?|\.0+)([eE][+-]?[0-9]+)?$"


def _go_float_ok(token: Column) -> Column:
    """Whether strconv.ParseFloat(token, 64) would succeed.

    Spark's try_cast is *looser* than Go on range: '1e309' casts to
    Infinity and '1e-400' to 0.0, while ParseFloat returns ErrRange
    and the reference rejects the line (statsd_parser.go:388-393,
    447-450). Accept an infinite/zero result only when the token
    itself spells it. Known residual divergences (documented, fuzz
    generator avoids them): Go additionally accepts hex-float
    ('0x1p-2') and underscored ('1_0.5') literals that try_cast
    rejects."""
    d = token.try_cast("double")
    return (
        d.isNotNull()
        & ((F.abs(d) != float("inf")) | token.rlike(_INF_TOKEN_RE))
        & ((d != 0.0) | token.rlike(_ZERO_TOKEN_RE))
    )


def _prefix_before_empty(parts: Column) -> Column:
    """Slice *parts* at the first empty element — Go's
    ``for ; part != ""; part, rest, _ = strings.Cut(rest, sep)`` loop
    shape: iteration STOPS at the first empty element and everything
    after it is silently discarded (statsd_parser.go:382-383 for
    '|' parts, :405-406 for ',' tag elements)."""
    first_empty = F.array_position(parts, "")
    return F.when(
        first_empty > 0, F.slice(parts, F.lit(1), first_empty - 1)
    ).otherwise(parts)


_LONG_MAX = 9.223372036854775e18  # largest double below int64 max


def _sat_long(col: Column) -> Column:
    """double → int64 with Go's saturating conversion semantics
    (gc saturates on overflow) — ANSI Spark would instead throw
    CAST_OVERFLOW and abort the whole batch on one extreme value."""
    return F.least(F.greatest(col, F.lit(-_LONG_MAX)), F.lit(_LONG_MAX)).cast(
        "long"
    )


def _canon_attrs(parts: Column, sep: str = ":") -> Column:
    """Canonical attribute string: sorted, comma-joined k<sep>v
    entries — the engine-portable stand-in for the reference's
    attribute map identity (statsd_parser.go:115-119 builds an
    attribute.NewSet; carbon/influx PutStr into a pcommon.Map — both
    keep only the LAST value for a repeated key). Dedup: reverse,
    keep each key's first occurrence (= last in append order), sort."""
    key_of = lambda t: F.substring_index(t, sep, 1)  # noqa: E731
    rev = F.reverse(parts)
    keys = F.transform(rev, key_of)
    deduped = F.filter(
        rev, lambda t, i: F.array_position(keys, key_of(t)) == i + 1
    )
    return F.concat_ws(",", F.array_sort(deduped))


def statsd_parse(
    df: DataFrame,
    enable_simple_tags: bool = False,
    enable_metric_type: bool = False,
) -> DataFrame:
    """Parse statsd lines into typed columns + ``sd_ok``.

    Mirrors ``parseMessageToMetric`` (statsd_parser.go:346-460): name
    and value both non-empty, type ∈ {c,g,h,ms,d}, ``@rate`` float,
    ``#k:v`` tags (simple tags only when *enable_simple_tags*, per
    dogstatsd), ``c:<id>`` container id → ``container.id`` attribute,
    ``T<sec>`` timestamp valid only for counters/gauges (dogstatsd
    v1.3). ``sd_addition`` is the gauge +/- delta flag (value prefix,
    :367-369). With *enable_metric_type* the full type name is added
    as a ``metric_type`` attribute (:448-453).

    Loop-shape fidelity (round-5 ADVICE): the reference's part loop
    ``Cut``s on '|' and STOPS at the first empty part — ``cpu:1|c|``
    and ``cpu:1|c||#bad`` are VALID lines whose remainder is
    discarded (:382-383). Likewise each '#' part's tag list stops at
    the first empty ',' element: ``#a:1,,b:2`` keeps only ``a:1``
    and never validates ``b:2`` (:405-406). Out-of-range finite
    floats ('1e309' value or rate) are ParseFloat range ERRORS, while
    'inf'/'nan' spellings are accepted — see ``_go_float_ok``.
    """
    line = F.col("body")
    has_pipe = F.instr(line, "|") > 0
    name_value = F.substring_index(line, "|", 1)
    has_colon = F.instr(name_value, ":") > 0
    name = F.when(has_colon, F.substring_index(name_value, ":", 1)).otherwise(
        F.lit("")
    )
    raw_value = F.when(
        has_colon,
        F.substr(name_value, F.instr(name_value, ":") + 1, F.length(name_value)),
    ).otherwise(F.lit(""))

    all_parts = F.split(line, r"\|")
    mtype = F.when(F.size(all_parts) >= 2, F.element_at(all_parts, 2)).otherwise(
        F.lit("")
    )
    # extension parts after the type, truncated at the first empty
    # one (everything past it is valid-but-ignored, :382-383)
    ext = _prefix_before_empty(
        F.slice(all_parts, F.lit(3), F.greatest(F.size(all_parts) - 2, F.lit(0)))
    )

    starts = lambda p, pre: F.startswith(p, F.lit(pre))  # noqa: E731
    at_tokens = F.transform(
        F.filter(ext, lambda p: starts(p, "@")),
        lambda p: F.substr(p, F.lit(2), F.length(p)),
    )
    c_tokens = F.transform(
        F.filter(ext, lambda p: starts(p, "c:")),
        lambda p: F.substr(p, F.lit(3), F.length(p)),
    )
    t_tokens = F.transform(
        F.filter(ext, lambda p: starts(p, "T")),
        lambda p: F.substr(p, F.lit(2), F.length(p)),
    )
    # every part must be one of the four kinds (default case errors,
    # :443-445)
    parts_recognized = F.forall(
        ext,
        lambda p: starts(p, "@") | starts(p, "#") | starts(p, "c:") | starts(p, "T"),
    )

    rate_str = F.when(
        F.size(at_tokens) > 0, F.element_at(at_tokens, -1)
    ).otherwise(F.lit(""))
    # c: parts append ONLY when non-empty (:420-426) — so the
    # surviving container id is the last NON-empty one
    c_nonempty = F.filter(c_tokens, lambda m: m != "")
    container = F.when(
        F.size(c_nonempty) > 0, F.element_at(c_nonempty, -1)
    ).otherwise(F.lit(""))
    ts_str = F.when(F.size(t_tokens) > 0, F.element_at(t_tokens, -1)).otherwise(
        F.lit("")
    )

    value = raw_value.try_cast("double")
    rate = F.when(rate_str != "", rate_str.try_cast("double"))

    # tags: each '#' part contributes its ','-elements up to the first
    # empty one (:405-406); multiple # parts APPEND (:384-445 loop).
    # An empty tag body ('#' alone) contributes nothing (:399-402).
    tag_parts = F.flatten(
        F.transform(
            F.filter(ext, lambda p: starts(p, "#")),
            lambda p: _prefix_before_empty(
                F.split(F.substr(p, F.lit(2), F.length(p)), ",")
            ),
        )
    )
    key_of = lambda t: F.substring_index(t, ":", 1)  # noqa: E731
    tags_ok = F.forall(
        tag_parts,
        lambda t: (key_of(t) != "")
        & (
            F.lit(bool(enable_simple_tags))
            | ((F.instr(t, ":") > 0) & (F.instr(t, ":") < F.length(t)))
        ),
    )
    # canonical k:v entries (simple tag "k" → "k:")
    kv_parts = F.transform(
        tag_parts,
        lambda t: F.when(F.instr(t, ":") > 0, t).otherwise(F.concat(t, F.lit(":"))),
    )
    kv_parts = F.when(container != "", F.concat(
        kv_parts, F.array(F.concat(F.lit("container.id:"), container))
    )).otherwise(kv_parts)
    if enable_metric_type:
        full = (
            F.when(mtype == "c", "counter")
            .when(mtype == "g", "gauge")
            .when(mtype == "h", "histogram")
            .when(mtype == "ms", "timing")
            .when(mtype == "d", "distribution")
        )
        kv_parts = F.concat(kv_parts, F.array(F.concat(F.lit("metric_type:"), full)))

    ok = (
        has_pipe
        & has_colon
        & (name != "")
        & (raw_value != "")
        & mtype.isin(*_STATSD_TYPES)
        & _go_float_ok(raw_value)
        & parts_recognized
        # EVERY @ part in the effective prefix must ParseFloat (the
        # loop errors on the first bad one, :387-393) — not just the
        # last-wins survivor
        & F.forall(at_tokens, _go_float_ok)
        # every T part must be digits-only ParseUint-able and is only
        # legal on counters/gauges (:429-440); we bound at int64 (a T
        # beyond 2^63 seconds is year 2.9e11, documented divergence
        # from uint64)
        & F.forall(
            t_tokens,
            lambda t: mtype.isin("c", "g")
            & t.rlike(r"^[0-9]+$")
            & t.try_cast("long").isNotNull(),
        )
        & tags_ok
    )
    return (
        df.withColumn("sd_name", name)
        .withColumn("sd_value", value)
        .withColumn("sd_type", mtype)
        .withColumn("sd_rate", rate)
        .withColumn("sd_attrs", _canon_attrs(kv_parts))
        .withColumn("sd_addition", raw_value.rlike(r"^[+-]"))
        .withColumn(
            "sd_ts_ns",
            F.when(
                ts_str != "",
                F.try_multiply(ts_str.try_cast("long"), F.lit(1000000000)),
            ),
        )
        .withColumn("sd_ok", F.coalesce(ok, F.lit(False)))
    )


def _effective_rate() -> Column:
    """Sample rate applies only when 0 < rate < 1 (counterValue
    :152-154 / sampleValue :165-167)."""
    r = F.col("sd_rate")
    return F.when(r.isNotNull() & (r > 0) & (r < 1), r).otherwise(F.lit(1.0))


def statsd_counters(parsed: DataFrame) -> DataFrame:
    """Counter aggregation: per (name, attrs), sum of per-line
    ``int64(value / rate)`` — the truncation happens per LINE, not on
    the total (Aggregate :290-298 adds counterValue() per line).
    Emits delta temporality like the reference (GetMetrics resets
    state per flush)."""
    c = parsed.filter(F.col("sd_ok") & (F.col("sd_type") == "c"))
    inc = _sat_long(F.col("sd_value") / _effective_rate())
    return (
        c.groupBy(F.col("sd_name").alias("name"), F.col("sd_attrs").alias("attrs"))
        .agg(F.sum(inc).alias("counter_value"))
        .withColumn("is_monotonic", F.lit(False))
    )


def statsd_gauges(parsed: DataFrame, order_col: str = "event_id") -> DataFrame:
    """Gauge aggregation: last absolute set wins; '+v'/'-v' lines add
    to the current point (Aggregate :277-289 — the FIRST line always
    builds the point, even when additive). Per group: value at the
    last set row (rows where NOT addition, or row 1) plus the sum of
    additive deltas after it. Sample rate has no effect
    (gaugeValue :158-161). One ordered window, one groupBy."""
    g = parsed.filter(F.col("sd_ok") & (F.col("sd_type") == "g"))
    w = Window.partitionBy("sd_name", "sd_attrs").orderBy(order_col)
    wall = Window.partitionBy("sd_name", "sd_attrs")
    rn = F.row_number().over(w)
    g = g.withColumn("_rn", rn)
    set_rn = F.when(~F.col("sd_addition") | (F.col("_rn") == 1), F.col("_rn"))
    g = g.withColumn("_last_set", F.max(set_rn).over(wall))
    contrib = F.when(F.col("_rn") == F.col("_last_set"), F.col("sd_value")).when(
        (F.col("_rn") > F.col("_last_set")) & F.col("sd_addition"), F.col("sd_value")
    )
    return g.groupBy(
        F.col("sd_name").alias("name"), F.col("sd_attrs").alias("attrs")
    ).agg(F.sum(contrib).alias("gauge_value"))


def statsd_summaries(parsed: DataFrame) -> DataFrame:
    """Timer/histogram/distribution lines under the summary observer
    (buildSummaryMetric :68-98): each line carries weight ``1/rate``;
    count = uint64(Σ weights) (truncated, :81-82), sum = Σ value·w.
    Min/max are the 0th/100th empirical quantiles. One groupBy."""
    s = parsed.filter(F.col("sd_ok") & F.col("sd_type").isin("ms", "h", "d"))
    weight = F.lit(1.0) / _effective_rate()
    return s.groupBy(
        F.col("sd_name").alias("name"), F.col("sd_attrs").alias("attrs")
    ).agg(
        _sat_long(F.sum(weight)).alias("summary_count"),
        F.sum(F.col("sd_value") * weight).alias("summary_sum"),
        F.min("sd_value").alias("summary_min"),
        F.max("sd_value").alias("summary_max"),
    )


# ---------------------------------------------------------------------------
# carbon plaintext
# ---------------------------------------------------------------------------

def carbon_parse(df: DataFrame) -> DataFrame:
    """Parse carbon plaintext ``<path> <value> <ts>`` lines.

    Mirrors ``path_parser_helper.go Parse`` (:92-147): SplitN on ' '
    must yield exactly 3 tokens; value and timestamp each parse as
    int64 first, float64 on fallback (``cb_value_is_int`` preserves
    the typed-datapoint distinction, :140-144); float timestamps split
    into sec + frac·1e9 ns (:112-118). Path per
    ``plaintext_parser.go ParsePath`` (:40-70): name before the first
    ';' (non-empty), then ``k=v`` tags where '=' must exist at index
    ≥1 (key non-empty; empty value legal). An EMPTY tag segment is an
    error — ``ParsePath`` splits the post-';' remainder on ';' without
    filtering, and any segment with ``IndexByte(tag, '=') < 1`` fails
    (plaintext_parser.go:59-63): ``name;;k=v`` and ``name;k=v;`` are
    invalid lines. A remainder that is empty as a whole (``name;``) is
    legal (:53-56).
    """
    line = F.col("body")
    parts = F.split(line, " ")
    three = F.size(parts) == 3
    path, value_str, ts_str = parts[0], parts[1], parts[2]

    name = F.substring_index(path, ";", 1)
    # tags = everything after the FIRST ';' (values may not contain ';')
    rest = F.when(
        F.instr(path, ";") > 0,
        F.substr(path, F.instr(path, ";") + 1, F.length(path)),
    ).otherwise(F.lit(""))
    raw_segments = F.split(rest, ";")
    # validate UNFILTERED segments: every one needs '=' at index >=1
    # (so an empty segment fails), unless the whole remainder is empty
    tags_ok = (rest == "") | F.forall(
        raw_segments, lambda t: F.instr(t, "=") > 1
    )
    tag_parts = F.filter(raw_segments, lambda t: t != "")

    # int64-else-float64 exactly like strconv: a 20+-digit integer
    # token FAILS ParseInt and takes the float path (so try_cast long,
    # not a digits regex — an all-digit overflow is a valid float line)
    val_long = value_str.try_cast("long")
    val_is_int = val_long.isNotNull()
    val_dbl = value_str.try_cast("double")
    ts_long = ts_str.try_cast("long")
    ts_dbl = ts_str.try_cast("double")
    ts_ns = F.when(
        ts_long.isNotNull(), F.try_multiply(ts_long, F.lit(1000000000))
    ).otherwise(
        F.try_add(
            F.try_multiply(_sat_long(F.floor(ts_dbl)), F.lit(1000000000)),
            _sat_long((ts_dbl - F.floor(ts_dbl)) * F.lit(1e9)),
        )
    )

    ok = (
        three
        & (name != "")
        & tags_ok
        # int64-else-float64: when the int path fails, the float token
        # must ParseFloat without a range error (_go_float_ok — '1e309'
        # is invalid, 'inf' is legal)
        & (val_is_int | _go_float_ok(value_str))
        & (ts_long.isNotNull() | _go_float_ok(ts_str))
    )
    return (
        df.withColumn("cb_name", name)
        .withColumn("cb_attrs", _canon_attrs(tag_parts, sep="="))
        .withColumn("cb_value", val_dbl)
        .withColumn("cb_value_is_int", F.coalesce(val_is_int, F.lit(False)))
        .withColumn("cb_ts_ns", ts_ns)
        .withColumn("cb_ok", F.coalesce(ok, F.lit(False)))
    )


# ---------------------------------------------------------------------------
# prometheus exposition text
# ---------------------------------------------------------------------------

def prom_text_parse(df: DataFrame) -> DataFrame:
    """Parse Prometheus exposition-format sample lines.

    ``name{k="v",...} value [ts_ms]`` — value accepts the special
    tokens ``+Inf``/``-Inf``/``NaN``. Comment/metadata lines
    (``# ...``) and blank lines are not samples (``pm_ok`` false).
    Emits the base name, the histogram/summary family (suffix
    ``_bucket``/``_sum``/``_count`` stripped — how the text format
    attaches those series to their TYPE), canonical sorted labels,
    double value, and optional millisecond timestamp.
    """
    line = F.col("body")
    sample_re = (
        r'^([a-zA-Z_:][a-zA-Z0-9_:]*)'
        r'(\{([^}]*)\})?'
        r'\s+([^\s]+)'
        r'(\s+(-?[0-9]+))?\s*$'
    )
    is_sample = line.rlike(sample_re) & ~line.startswith("#")
    name = F.regexp_extract(line, sample_re, 1)
    labels_raw = F.regexp_extract(line, sample_re, 3)
    value_str = F.regexp_extract(line, sample_re, 4)
    ts_str = F.regexp_extract(line, sample_re, 6)

    label_parts = F.regexp_extract_all(
        labels_raw, F.lit(r'([a-zA-Z_][a-zA-Z0-9_]*)="([^"]*)"'), 0
    )
    kv = F.transform(label_parts, lambda t: F.regexp_replace(t, '"', ""))
    # the WHOLE label body must be well-formed k="v" pairs — an
    # unquoted value (a{x=1} 2) is a parse error, not an empty set
    labels_ok = (labels_raw == "") | labels_raw.rlike(
        r'^\s*[a-zA-Z_][a-zA-Z0-9_]*="[^"]*"'
        r'(\s*,\s*[a-zA-Z_][a-zA-Z0-9_]*="[^"]*")*\s*,?\s*$'
    )

    value = (
        F.when(value_str == "+Inf", F.lit(float("inf")))
        .when(value_str == "-Inf", F.lit(float("-inf")))
        .when(value_str == "NaN", F.lit(float("nan")))
        .otherwise(value_str.try_cast("double"))
    )
    family = F.regexp_replace(name, r"_(bucket|sum|count)$", "")
    # an out-of-int64-range timestamp token is a parse error (the
    # Prometheus text parser rejects the line), not a crash
    ts_ok = (ts_str == "") | ts_str.try_cast("long").isNotNull()
    ok = is_sample & value.isNotNull() & labels_ok & ts_ok
    return (
        df.withColumn("pm_name", name)
        .withColumn("pm_family", family)
        .withColumn("pm_labels", _canon_attrs(kv, sep="="))
        .withColumn("pm_value", value)
        .withColumn("pm_ts_ms", F.when(ts_str != "", ts_str.try_cast("long")))
        .withColumn("pm_ok", F.coalesce(ok, F.lit(False)))
    )


def prom_type_table(df: DataFrame) -> DataFrame:
    """Extract ``# TYPE <name> <type>`` metadata lines into a
    (family → metric type) dimension — broadcast-joined onto samples
    via ``pm_family`` (small by construction: one row per metric)."""
    line = F.col("body")
    type_re = r"^# TYPE ([a-zA-Z_:][a-zA-Z0-9_:]*) (counter|gauge|histogram|summary|untyped)\s*$"
    return (
        df.filter(line.rlike(type_re))
        .select(
            F.regexp_extract(line, type_re, 1).alias("pm_family"),
            F.regexp_extract(line, type_re, 2).alias("pm_type"),
        )
        .dropDuplicates(["pm_family"])
    )


# ---------------------------------------------------------------------------
# influx line protocol
# ---------------------------------------------------------------------------

def influx_line_parse(df: DataFrame) -> DataFrame:
    """Parse InfluxDB line protocol (unescaped common case), one
    output row per FIELD (fields explode; tags replicate — the same
    flattening influxdbreceiver applies building pmetric points).

    ``measurement[,k=v...] f=v[,f2=v2...] [ts_ns]`` — field values:
    ``123i`` int, ``"str"`` string, ``true``/``false`` bool, bare
    float otherwise. Lines with escapes (``\\,`` ``\\ `` ``\\"``) are
    flagged not-ok rather than mis-parsed.
    """
    line = F.col("body")
    # STAGED projections: the quote-aware splits are expensive regexes
    # referenced by a dozen downstream expressions — materialize each
    # once as a concrete column (select barriers keep CollapseProject
    # from re-inlining them; measured 10.5s -> ~1s at sf0.1)
    # split on spaces NOT inside double quotes (string field values may
    # contain spaces: measurement f="hi there" 123)
    # gated fast path: the quote-aware lookahead split only runs on
    # lines that contain a quote at all (string fields are the rare
    # case in metric traffic) — plain split for the rest
    quoted = line.contains('"')
    stage1 = df.select(
        "*",
        line.contains("\\").alias("_esc"),
        F.when(quoted, F.split(line, r' (?=(?:[^"]*"[^"]*")*[^"]*$)'))
        .otherwise(F.split(line, " "))
        .alias("_parts"),
    )
    parts = F.col("_parts")
    n = F.size(parts)
    head = parts[0]  # measurement[,tags]
    stage2 = stage1.select(
        "*",
        ((n == 2) | (n == 3)).alias("_shape_ok"),
        F.substring_index(head, ",", 1).alias("_meas"),
        F.when(
            F.instr(head, ",") > 0,
            F.substr(head, F.instr(head, ",") + 1, F.length(head)),
        ).otherwise(F.lit("")).alias("_tag_rest"),
        F.when(n == 3, parts[2]).otherwise(F.lit("")).alias("_ts_str"),
        # split fields on commas NOT inside double quotes (same gate)
        F.when(
            F.col("body").contains('"'),
            F.split(parts[1], r',(?=(?:[^"]*"[^"]*")*[^"]*$)'),
        ).otherwise(F.split(parts[1], ",")).alias("_fparts"),
    ).drop("_parts")
    tag_parts = F.filter(F.split(F.col("_tag_rest"), ","), lambda t: t != "")
    # influx tags require non-empty key AND value
    tags_ok = F.forall(
        tag_parts, lambda t: (F.instr(t, "=") > 1) & (F.instr(t, "=") < F.length(t))
    )
    fields_ok = F.forall(F.col("_fparts"), lambda t: F.instr(t, "=") > 1)
    ts_ok = (F.col("_ts_str") == "") | F.col("_ts_str").rlike(r"^-?[0-9]+$")
    ok_expr = (
        ~F.col("_esc") & F.col("_shape_ok") & (F.col("_meas") != "")
        & tags_ok & fields_ok & ts_ok
    )
    stage3 = stage2.select(
        "*",
        F.col("_meas").alias("ifx_measurement"),
        _canon_attrs(tag_parts, sep="=").alias("ifx_tags"),
        F.when(F.col("_ts_str") != "", F.col("_ts_str").try_cast("long")).alias(
            "ifx_ts_ns"
        ),
        F.coalesce(ok_expr, F.lit(False)).alias("ifx_ok"),
    ).drop("_esc", "_shape_ok", "_meas", "_tag_rest", "_ts_str")
    out = stage3.withColumn(
        "_field",
        F.explode_outer(
            F.when(F.col("ifx_ok"), F.col("_fparts")).otherwise(
                F.array(F.lit(None).cast("string"))
            )
        ),
    ).drop("_fparts")
    # stage the field-value substring + its classifier flags once —
    # they feed ~10 downstream expressions each
    out = out.select(
        "*",
        F.substr(
            F.col("_field"),
            F.instr(F.col("_field"), "=") + 1,
            F.length(F.col("_field")),
        ).alias("_fval"),
    )
    out = out.select(
        "*",
        F.col("_fval").rlike(r"^-?[0-9]+i$").alias("_is_int"),
        F.col("_fval").rlike(r'^".*"$').alias("_is_str"),
        F.lower(F.col("_fval")).isin("t", "true", "f", "false").alias("_is_bool"),
    )
    fkey = F.substring_index(F.col("_field"), "=", 1)
    fval = F.col("_fval")
    is_int, is_str, is_bool = F.col("_is_int"), F.col("_is_str"), F.col("_is_bool")
    ftype = (
        F.when(is_int, "int")
        .when(is_str, "string")
        .when(is_bool, "bool")
        .otherwise("float")
    )
    fdbl = (
        F.when(is_int, F.regexp_replace(fval, "i$", "").cast("double"))
        .when(is_bool, F.when(F.lower(fval).isin("t", "true"), 1.0).otherwise(0.0))
        .when(is_str, F.lit(None).cast("double"))
        .otherwise(fval.try_cast("double"))
    )
    fstr = F.when(is_str, F.regexp_replace(fval, r'^"|"$', ""))
    float_ok = F.when(
        (ftype == "float") & F.col("_field").isNotNull(), fdbl.isNotNull()
    ).otherwise(F.lit(True))
    return (
        out.withColumn("ifx_field", F.when(F.col("_field").isNotNull(), fkey))
        .withColumn("ifx_field_type", F.when(F.col("_field").isNotNull(), ftype))
        .withColumn("ifx_value", fdbl)
        .withColumn("ifx_value_str", fstr)
        .withColumn("ifx_ok", F.col("ifx_ok") & float_ok)
        .drop("_field", "_fval", "_is_int", "_is_str", "_is_bool")
    )


# ---------------------------------------------------------------------------
# loki push format
# ---------------------------------------------------------------------------

_LOKI_SCHEMA = (
    "streams array<struct<stream: map<string,string>, "
    "values: array<array<string>>>>"
)


def loki_push_parse(df: DataFrame) -> DataFrame:
    """Parse Loki HTTP push-request JSON bodies into one row per log
    entry.

    Mirrors ``receiver/lokireceiver/internal/unmarshal.go`` (:20-133):
    ``{"streams":[{"stream":{k:v,...},"values":[["<ts_ns>","<line>"],
    ...]}]}`` — the stream's label set becomes the entry's attributes
    (sorted canonical string, LabelSet.String() is sorted too), value
    tuples are [unix-ns string, line]; a non-integer timestamp or
    missing line fails the entry (``lk_ok`` false).

    Plan: gated ``from_json`` + two Generates — all JVM-side; the JSON
    schema prunes to exactly the fields used.
    """
    parsed = F.from_json(F.col("body"), _LOKI_SCHEMA)
    out = df.withColumn("_stream", F.explode_outer(parsed["streams"]))
    labels = F.concat_ws(
        ",",
        F.array_sort(
            F.transform(
                F.map_entries(F.col("_stream.stream")),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            )
        ),
    )
    out = out.withColumn("lk_labels", labels).withColumn(
        "_value", F.explode_outer(F.col("_stream.values"))
    )
    ts = F.element_at(F.col("_value"), 1).try_cast("long")
    line = F.element_at(F.col("_value"), 2)
    return (
        out.withColumn("lk_ts_ns", ts)
        .withColumn("lk_line", line)
        .withColumn(
            "lk_ok",
            F.coalesce(ts.isNotNull() & line.isNotNull(), F.lit(False)),
        )
        .drop("_stream", "_value")
    )


def statsd_percentiles(
    parsed: DataFrame, percentiles: list[float]
) -> DataFrame:
    """Summary-observer quantile values (buildSummaryMetric :91-97):
    gonum ``stat.Quantile(p, Empirical, points, weights)`` — the
    smallest point whose cumulative weight reaches p·total. One
    ordered window per group for the running weight, then a min-filter
    per requested percentile; all shuffles keyed on the metric
    identity."""
    s = parsed.filter(F.col("sd_ok") & F.col("sd_type").isin("ms", "h", "d"))
    w = F.lit(1.0) / _effective_rate()
    base = s.select(
        F.col("sd_name").alias("name"),
        F.col("sd_attrs").alias("attrs"),
        F.col("sd_value").alias("v"),
        w.alias("w"),
    )
    win = Window.partitionBy("name", "attrs").orderBy("v", "w").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("name", "attrs")
    ranked = base.withColumn("cumw", F.sum("w").over(win)).withColumn(
        "total", F.sum("w").over(wall)
    )
    aggs = [
        F.min(
            F.when(F.col("cumw") >= F.lit(p / 100.0) * F.col("total"), F.col("v"))
        ).alias(f"p{str(p).replace('.', '_')}")
        for p in percentiles
    ]
    return ranked.groupBy("name", "attrs").agg(*aggs)


# ---------------------------------------------------------------------------
# collectd receiver (JSON payload)
# ---------------------------------------------------------------------------

_COLLECTD_SCHEMA = (
    "array<struct<time: double, host: string, interval: double, "
    "plugin: string, plugin_instance: string, type: string, "
    "type_instance: string, message: string, severity: string, "
    "dstypes: array<string>, dsnames: array<string>, "
    "values: array<string>>>"
)


def collectd_parse(df: DataFrame) -> DataFrame:
    """Parse collectd write_http JSON payloads into one row per value
    (``receiver/collectdreceiver/collectd.go:20-200``).

    - event records (time+severity+message all present) are skipped
      (:41-43, ``cd_is_event`` marks them);
    - per index i: guard ``i < len(dstypes) and i < len(values)`` and
      value non-null (:74-76);
    - metric name = ``type[.type_instance][.dsname]`` where the
      dsname joins only when the record carries >1 dsname (:158-175;
      the bracket-label extraction from LabelsFromName is not
      mirrored — fixture names are plain);
    - dstype derive/counter → monotonic sum, else gauge (:144-153);
    - value int64-else-float64 (json.Number, :133-139);
    - ts = time seconds (float) → ns (:45-52).
    """
    parsed = F.from_json(F.col("body"), _COLLECTD_SCHEMA)
    rec = df.withColumn("_body_ok", parsed.isNotNull()).withColumn(
        "_rec", F.explode_outer(parsed)
    )
    r = F.col("_rec")
    is_event = (
        r["time"].isNotNull() & r["severity"].isNotNull() & r["message"].isNotNull()
    )
    n_names = F.size(r["dsnames"])
    out = rec.withColumn(
        # dead-letter flag: unparseable body or a null record element —
        # kept as a row (cd_parse_ok false) so on_error routing composes
        "cd_parse_ok", F.col("_body_ok") & r.isNotNull()
    ).withColumn("cd_is_event", F.coalesce(is_event, F.lit(False)))
    out = out.withColumn(
        "_i",
        F.explode_outer(
            F.when(
                ~F.col("cd_is_event") & (n_names > 0),
                F.sequence(F.lit(0), n_names - 1),
            )
        ),
    )
    i = F.col("_i")
    guard = (
        i.isNotNull()
        & (i < F.size(r["dstypes"]))
        & (i < F.size(r["values"]))
        & F.element_at(r["values"], i + 1).isNotNull()
    )
    dsname = F.element_at(r["dsnames"], i + 1)
    dstype = F.element_at(r["dstypes"], i + 1)
    val_str = F.element_at(r["values"], i + 1)
    name = F.concat_ws(
        ".",
        F.when(r["type"] != "", r["type"]),
        F.when(r["type_instance"] != "", r["type_instance"]),
        F.when((F.size(r["dsnames"]) > 1) & (dsname != ""), dsname),
    )
    val_is_int = val_str.rlike(_INT_RE)
    return (
        out.filter(guard | F.col("cd_is_event") | ~F.col("cd_parse_ok"))
        .withColumn("cd_name", F.when(guard, name))
        .withColumn(
            "cd_kind",
            F.when(
                guard,
                F.when(dstype.isin("derive", "counter"), "sum").otherwise("gauge"),
            ),
        )
        .withColumn("cd_value", F.when(guard, val_str.try_cast("double")))
        .withColumn("cd_value_is_int", F.when(guard, F.coalesce(val_is_int, F.lit(False))))
        .withColumn("cd_host", F.when(guard, r["host"]))
        .withColumn("cd_plugin", F.when(guard, r["plugin"]))
        .withColumn("cd_plugin_instance", F.when(guard, r["plugin_instance"]))
        .withColumn(
            "cd_dsname",
            F.when(guard & ~((F.size(r["dsnames"]) > 1) & (dsname != "")), dsname),
        )
        .withColumn(
            "cd_ts_ns",
            F.when(guard, _sat_long(r["time"] * F.lit(1e9))),
        )
        .drop("_rec", "_i", "_body_ok")
    )


# ---------------------------------------------------------------------------
# grafanacloud connector (traces -> host info metric)
# ---------------------------------------------------------------------------

def grafana_host_info(
    df: DataFrame,
    host_identifiers: list[str],
    flush_interval: str = "1 hour",
) -> DataFrame:
    """``connector/grafanacloudconnector/connector.go:72-88`` +
    ``host_metrics.go:43-71``: per flush interval, one
    ``traces_host_info`` gauge datapoint (value 1) per DISTINCT host,
    where the host id is the FIRST present identifier attribute
    (break-on-first-match). Distinct via groupBy — one shuffle keyed
    (window, host)."""
    host = F.coalesce(*[F.col(c) for c in host_identifiers])
    return (
        df.withColumn("__host", host)
        .filter(F.col("__host").isNotNull())
        .groupBy(
            F.window(F.col("ts"), flush_interval)["start"].alias("flush_start"),
            F.col("__host").alias("grafana_host_id"),
        )
        .agg(F.count(F.lit(1)).alias("spans_seen"))
        .select(
            "flush_start",
            F.lit("traces_host_info").alias("metric_name"),
            "grafana_host_id",
            F.lit(1).alias("value"),
            "spans_seen",
        )
    )


# ---------------------------------------------------------------------------
# webhookevent receiver
# ---------------------------------------------------------------------------

def webhook_events(
    df: DataFrame,
    split_logs_at_newline: bool = True,
    header_regex: str | None = None,
) -> DataFrame:
    """``receiver/webhookeventreceiver/req_to_log.go:25-98``: one
    request body → log records. With *split_logs_at_newline* each line
    is its own record (config.go:31), else the whole body is one
    record; query parameters with non-empty values become resource
    attributes (:73-79); headers matching *header_regex* attach as
    ``header.<name>`` record attributes (:82-92). The JSON-boundary
    split mode (brace-depth scan) is not vectorizable without a UDF
    and is out of scope. Pure projection + one Generate."""
    body = F.col("body")
    lines = (
        F.split(body, "\n") if split_logs_at_newline else F.array(body)
    )
    out = df.withColumn("wh_body", F.explode(lines))
    attrs = F.filter(
        F.transform(
            F.map_entries(F.col("query")),
            lambda e: F.when(
                e["value"] != "",
                F.concat(e["key"], F.lit("="), e["value"]),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    out = out.withColumn("wh_resource_attrs", _canon_attrs(attrs, sep="="))
    if header_regex:
        matched = F.filter(
            F.transform(
                F.map_entries(F.col("headers")),
                lambda e: F.when(
                    e["key"].rlike(header_regex),
                    F.concat(F.lit("header."), e["key"], F.lit("="), e["value"]),
                ),
            ),
            lambda x: x.isNotNull(),
        )
        out = out.withColumn("wh_header_attrs", _canon_attrs(matched, sep="="))
    return out


# ---------------------------------------------------------------------------
# wavefront receiver (line protocol)
# ---------------------------------------------------------------------------

# first '"' not preceded by '\' closes the value; '\"' (whatever
# produced the backslash) is always treated as escaped — exactly the
# reference's byte scan (wavefront_parser.go:160-180)
_WF_QUOTED = r'^"((?:[^"]|(?<=\\)")*)(?<!\\)"'


def wavefront_parse(
    df: DataFrame,
    line_col: str = "body",
    max_tags: int = 12,
    extract_collectd_tags: bool = False,
    collectd_rounds: int = 4,
    default_ts_ns: int | None = None,
) -> DataFrame:
    """Parse Wavefront metric lines
    (``receiver/wavefrontreceiver/wavefront_parser.go:57-214``):
    ``<name> <value> [<ts>] source=<src> [tags...]``.

    Reference semantics mirrored, pinned by the Go test table in
    ``tests/test_round5_wavefront.py``:

    - SplitN(' ', 3): name (surrounding double quotes stripped,
      :203-214; empty name invalid), value (int64-else-float64 typed
      datapoint), rest;
    - timestamp = first token of rest when it ParseInts; otherwise the
      token must contain '=' (timestamp omitted → receive time,
      supplied here as ``default_ts_ns``) or the line is invalid
      (:70-88);
    - tags: space-separated ``k=v`` with optionally double-quoted
      values; a quoted value ends at the first NON-escaped '"' and
      unescapes ``\\"`` and ``\\n`` only (:144-199); a pair without
      '=' or a partially-quoted value invalidates the line; repeated
      keys keep the last value (pcommon PutStr);
    - ``extract_collectd_tags``: repeatedly pull ``[k=v,...]`` groups
      out of the metric name (internal/collectd LabelsFromName) and
      inject them as attributes; '..' collapses to '.' only when the
      ORIGINAL name had no '..' (:121-145).

    Spark re-expression: the reference's per-line byte scan becomes a
    bounded unrolled loop of codegen'd Column stages — each stage
    consumes one tag pair from the remainder (quote-aware via one
    anchored regex), staged behind select barriers. Zero Python, zero
    shuffle. Divergence (documented): tags beyond ``max_tags`` and
    bracket groups beyond ``collectd_rounds`` dead-letter the line
    instead of parsing unboundedly; sub-second receive time is a
    caller-supplied constant.
    """
    line = F.col(line_col)
    parts = F.split(line, " ", 3)
    three = F.size(parts) == 3
    raw_name = F.get(parts, 0)
    name = F.when(
        (F.length(raw_name) >= 2)
        & raw_name.startswith('"')
        & raw_name.endswith('"'),
        F.substring(raw_name, 2, F.length(raw_name) - 2),
    ).otherwise(raw_name)
    value_str = F.get(parts, 1)
    rest = F.coalesce(F.get(parts, 2), F.lit(""))

    rest2 = F.split(rest, " ", 2)
    ts_str = F.get(rest2, 0)
    ts_long = ts_str.try_cast("long")
    has_ts = ts_long.isNotNull()
    ts_omitted = ~has_ts & (F.instr(ts_str, "=") > 0)
    tags0 = F.when(
        has_ts, F.coalesce(F.get(rest2, 1), F.lit(""))
    ).otherwise(rest)
    ts_ns = F.when(has_ts, F.try_multiply(ts_long, F.lit(1_000_000_000)))
    if default_ts_ns is not None:
        ts_ns = ts_ns.otherwise(F.lit(default_ts_ns))

    val_long = value_str.try_cast("long")
    val_is_int = F.coalesce(val_long.isNotNull(), F.lit(False))

    cur = df.select(
        "*",
        name.alias("_wf_name"),
        value_str.try_cast("double").alias("_wf_val"),
        val_is_int.alias("_wf_is_int"),
        ts_ns.alias("_wf_ts"),
        tags0.alias("_wf_r"),
        (
            three
            & (name != "")
            & (has_ts | ts_omitted)
            & (val_is_int | _go_float_ok(value_str))
        ).alias("_wf_ok"),
    )

    tok_cols = []
    for i in range(max_tags):
        r1 = F.ltrim(F.col("_wf_r"))
        done = r1 == ""
        eq = F.instr(r1, "=")
        key = F.substring(r1, 1, eq - 1)
        v0 = F.substr(r1, eq + 1, F.length(r1))
        quoted = v0.startswith('"') & (F.length(v0) > 1)
        q_ok = v0.rlike(_WF_QUOTED)
        q_raw = F.regexp_extract(v0, _WF_QUOTED, 1)
        q_val = F.replace(
            F.replace(q_raw, F.lit('\\"'), F.lit('"')),
            F.lit("\\n"),
            F.lit("\n"),
        )
        q_rem = F.substr(v0, F.length(q_raw) + 3, F.length(v0))
        sp = F.instr(v0, " ")
        u_val = F.when(sp == 0, v0).otherwise(F.substring(v0, 1, sp - 1))
        u_rem = F.when(sp == 0, F.lit("")).otherwise(
            F.substr(v0, sp + 1, F.length(v0))
        )
        stage_err = ~done & ((eq == 0) | (quoted & ~q_ok))
        value = F.when(quoted, q_val).otherwise(u_val)
        token = F.when(
            F.col("_wf_ok") & ~done & ~stage_err,
            F.concat(key, F.lit("="), value),
        )
        new_r = F.when(
            done | stage_err, F.lit("")
        ).otherwise(F.when(quoted, q_rem).otherwise(u_rem))
        cur = cur.select(
            "*",
            token.alias(f"_wf_t{i}"),
            new_r.alias("_wf_r2"),
            (F.col("_wf_ok") & ~stage_err).alias("_wf_ok2"),
        ).drop("_wf_r", "_wf_ok").withColumnsRenamed(
            {"_wf_r2": "_wf_r", "_wf_ok2": "_wf_ok"}
        )
        tok_cols.append(f"_wf_t{i}")
    # leftover after max_tags pairs → dead-letter (documented bound)
    cur = cur.withColumn(
        "_wf_ok", F.col("_wf_ok") & (F.ltrim(F.col("_wf_r")) == "")
    )

    cd_tok_cols = []
    if extract_collectd_tags:
        had_dotdot = F.instr(F.col("_wf_name"), "..") > 0
        cur = cur.withColumn("_wf_dd", had_dotdot)
        for i in range(collectd_rounds):
            nm = F.col("_wf_name")
            pat = r"^([^\[]*)\[([^\]]*)\](.*)$"
            has = nm.rlike(r"^[^\[]*\[[^\]]*\]")
            dims = F.regexp_extract(nm, pat, 2)
            pieces = F.split(dims, ",")
            # each piece: '=' present, none after the first
            # (labels.go:36-39; '=' at index 0 is legal)
            valid = F.forall(
                pieces,
                lambda p: (F.instr(p, "=") > 0)
                & (
                    F.instr(
                        F.substr(p, F.instr(p, "=") + 1, F.length(p)), "="
                    )
                    == 0
                ),
            )
            extract = has & valid
            new_name = F.when(
                extract,
                F.concat(
                    F.regexp_extract(nm, pat, 1), F.regexp_extract(nm, pat, 3)
                ),
            ).otherwise(nm)
            toks = F.when(extract, pieces)
            cur = cur.select(
                "*", toks.alias(f"_wf_cd{i}"), new_name.alias("_wf_name2")
            ).drop("_wf_name").withColumnRenamed("_wf_name2", "_wf_name")
            cd_tok_cols.append(f"_wf_cd{i}")
        # one more VALID group left → bound exceeded, dead-letter
        nm = F.col("_wf_name")
        more = nm.rlike(r"^[^\[]*\[[^\]]*\]") & F.forall(
            F.split(F.regexp_extract(nm, r"^([^\[]*)\[([^\]]*)\](.*)$", 2), ","),
            lambda p: (F.instr(p, "=") > 0)
            & (
                F.instr(F.substr(p, F.instr(p, "=") + 1, F.length(p)), "=")
                == 0
            ),
        )
        cur = cur.withColumn("_wf_ok", F.col("_wf_ok") & ~more).withColumn(
            "_wf_name",
            F.when(
                ~F.col("_wf_dd"), F.replace(nm, F.lit(".."), F.lit("."))
            ).otherwise(nm),
        ).drop("_wf_dd")

    all_toks = F.concat(
        F.filter(
            F.array(*[F.col(c) for c in tok_cols]), lambda x: x.isNotNull()
        ),
        F.flatten(
            F.filter(
                F.array(*[F.col(c) for c in cd_tok_cols]),
                lambda x: x.isNotNull(),
            )
        )
        if cd_tok_cols
        else F.array().cast("array<string>"),
    )
    out = cur.select(
        "*",
        F.col("_wf_name").alias("wf_name"),
        F.col("_wf_val").alias("wf_value"),
        F.col("_wf_is_int").alias("wf_value_is_int"),
        F.col("_wf_ts").alias("wf_ts_ns"),
        _canon_attrs(all_toks, sep="=").alias("wf_attrs"),
        F.coalesce(F.col("_wf_ok"), F.lit(False)).alias("wf_ok"),
    )
    return out.drop(
        "_wf_name", "_wf_val", "_wf_is_int", "_wf_ts", "_wf_r", "_wf_ok",
        *tok_cols, *cd_tok_cols,
    )


# ---------------------------------------------------------------------------
# splunk_hec receiver (event JSON at rest)
# ---------------------------------------------------------------------------

# internal/splunk/common.go:39 (verbatim)
_HEC_METRIC_NAME_RE = r"^metric_name:([A-Za-z.:][A-Za-z0-9_.:\\-]*)$"
_HEC_NUMERIC_RE = r"^(DOUBLE|FLOAT|DECIMAL|BIGINT|INT|SMALLINT|TINYINT)"


def _hec_variant(line: Column) -> Column:
    return F.try_parse_json(line)


def _hec_ts_ns(t: Column) -> Column:
    """convertTimestamp (splunkhec_to_metricdata.go:137-152): epoch
    magnitude decides the unit — ≥1e16 ns, ≥1e13 µs, ≥1e10 ms, else
    seconds."""
    t = F.coalesce(t, F.lit(0.0))
    return _sat_long(
        F.when(t >= 1e16, t)
        .when(t >= 1e13, t * 1e3)
        .when(t >= 1e10, t * 1e6)
        .otherwise(t * 1e9)
    )


def _hec_value_repr(val: Column) -> Column:
    """Engine-portable value identity: bare text for JSON strings,
    compact JSON otherwise (``to_json`` on variant sorts object keys —
    the same ordering pcommon's convertToAttributeMap produces,
    splunk_to_logdata.go:155-168)."""
    return F.when(
        F.schema_of_variant(val) == "STRING",
        F.try_variant_get(val, "$", "string"),
    ).otherwise(F.to_json(val))


def _hec_flat(val: Column) -> Column:
    """isFlatJSONField (receiver.go:542-555): objects are not flat;
    arrays are flat only when every element is a scalar."""
    t = F.schema_of_variant(val)
    elems = F.try_variant_get(val, "$", "array<variant>")
    return F.when(t.startswith("OBJECT"), F.lit(False)).when(
        t.startswith("ARRAY"),
        F.forall(
            elems,
            lambda e: ~F.schema_of_variant(e).startswith("OBJECT")
            & ~F.schema_of_variant(e).startswith("ARRAY"),
        ),
    ).otherwise(F.lit(True))


def splunkhec_parse(df: DataFrame) -> DataFrame:
    """Parse Splunk HEC event JSON into log records
    (``receiver/splunkhecreceiver/splunk_to_logdata.go:31-73`` +
    the request validation in ``receiver.go:410-446``).

    Per event: resource attributes from host/source/sourcetype/index
    (reference default names ``host.name`` / ``com.splunk.source`` /
    ``com.splunk.sourcetype`` / ``com.splunk.index``, factory.go:43-48,
    only when non-empty), body from ``event`` (bare string or
    sorted-key compact JSON — pcommon sorts map keys on conversion),
    record attributes from ``fields`` (flat-check per
    isFlatJSONField), timestamp via the epoch-magnitude heuristic.

    Invalid events (``sh_ok`` false): unparsable JSON, a non-string
    metadata field (json.Unmarshal type error), an unparsable string
    ``time`` (common.go UnmarshalJSON ParseFloat error), a non-flat
    field, or a missing/null ``event`` on a non-metric record
    (receiver.go eventRequired). ``sh_is_metric`` mirrors
    Event.IsMetric (common.go:68-71) — route those rows to
    ``splunkhec_metrics``.

    Vectorized variant path — zero Python, zero shuffle.
    """
    line = F.col("body")
    v = _hec_variant(line)

    def meta(name: str) -> tuple[Column, Column]:
        fv = F.try_variant_get(v, f"$.{name}", "variant")
        t = F.schema_of_variant(fv)
        val = F.coalesce(
            F.when(t == "STRING", F.try_variant_get(fv, "$", "string")),
            F.lit(""),
        )
        ok = t.isNull() | t.isin("VOID", "STRING")
        return val, ok

    host, host_ok = meta("host")
    source, source_ok = meta("source")
    stype, stype_ok = meta("sourcetype")
    index, index_ok = meta("index")

    tv = F.try_variant_get(v, "$.time", "variant")
    ttype = F.schema_of_variant(tv)
    t_str = F.try_variant_get(tv, "$", "string")
    t_num = F.when(ttype.rlike(_HEC_NUMERIC_RE), F.try_variant_get(tv, "$", "double")).when(
        ttype == "STRING", t_str.try_cast("double")
    )
    time_ok = ~F.coalesce(
        (ttype == "STRING") & ~_go_float_ok(t_str), F.lit(False)
    )

    ev = F.try_variant_get(v, "$.event", "variant")
    ev_type = F.schema_of_variant(ev)
    has_event = ev_type.isNotNull() & (ev_type != "VOID")
    body = F.when(has_event, _hec_value_repr(ev))

    fm = F.from_json(
        F.get_json_object(line, "$.fields"), "map<string,variant>"
    )
    ents = F.map_entries(fm)
    flat_ok = F.coalesce(
        F.forall(ents, lambda e: _hec_flat(e["value"])), F.lit(True)
    )
    attrs = F.transform(
        ents, lambda e: F.concat(e["key"], F.lit("="), _hec_value_repr(e["value"]))
    )

    is_metric = F.coalesce(
        (F.when(ev_type == "STRING", F.try_variant_get(ev, "$", "string"))
         == "metric")
        | F.exists(
            ents,
            lambda e: e["key"].rlike(_HEC_METRIC_NAME_RE)
            & ~F.regexp_extract(e["key"], _HEC_METRIC_NAME_RE, 1).contains(
                "metric_name"
            ),
        )
        | F.map_contains_key(fm, "metric_name"),
        F.lit(False),
    )

    res_toks = F.filter(
        F.array(
            F.when(host != "", F.concat(F.lit("host.name="), host)),
            F.when(source != "", F.concat(F.lit("com.splunk.source="), source)),
            F.when(stype != "", F.concat(F.lit("com.splunk.sourcetype="), stype)),
            F.when(index != "", F.concat(F.lit("com.splunk.index="), index)),
        ),
        lambda x: x.isNotNull(),
    )

    ok = (
        v.isNotNull()
        & host_ok & source_ok & stype_ok & index_ok
        & time_ok
        & flat_ok
        & (is_metric | has_event)
    )
    return df.select(
        "*",
        host.alias("sh_host"),
        source.alias("sh_source"),
        stype.alias("sh_sourcetype"),
        index.alias("sh_index"),
        F.array_join(res_toks, ",").alias("sh_resource_attrs"),
        _hec_ts_ns(t_num).alias("sh_ts_ns"),
        body.alias("sh_body"),
        _canon_attrs(attrs, sep="=").alias("sh_attrs"),
        is_metric.alias("sh_is_metric"),
        F.coalesce(ok, F.lit(False)).alias("sh_ok"),
    )


def splunkhec_metrics(df: DataFrame) -> DataFrame:
    """Explode Splunk HEC metric events into gauge datapoints
    (``splunkhec_to_metricdata.go:21-101``).

    Metric values: the explicit ``metric_name``/``_value`` pair
    (common.go:87-89 — the name must be a JSON string) plus every
    ``metric_name:<name>`` field whose extracted name fits the
    reference regex and does not itself contain ``metric_name``
    (common.go:75-97). JSON numbers become double gauges (encoding/
    json decodes every number as float64); string values best-effort
    ParseFloat (convertString:91-101); anything else is dropped
    (``shm_dropped``). Datapoint attributes = fields minus
    ``metric_name*``/``_value`` minus empty keys and null values,
    stringified (buildAttributes:155-169).
    """
    line = F.col("body")
    fm = F.from_json(
        F.get_json_object(line, "$.fields"), "map<string,variant>"
    )
    tv = F.try_variant_get(_hec_variant(line), "$.time", "variant")
    ttype = F.schema_of_variant(tv)
    t_num = F.when(ttype.rlike(_HEC_NUMERIC_RE), F.try_variant_get(tv, "$", "double")).when(
        ttype == "STRING",
        F.try_variant_get(tv, "$", "string").try_cast("double"),
    )
    ents = F.map_entries(fm)
    attr_toks = F.filter(
        F.transform(
            ents,
            lambda e: F.when(
                ~e["key"].startswith("metric_name")
                & (e["key"] != "_value")
                & (e["key"] != "")
                & (F.schema_of_variant(e["value"]) != "VOID"),
                F.concat(e["key"], F.lit("="), _hec_value_repr(e["value"])),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    explicit = F.when(
        F.map_contains_key(fm, "metric_name")
        & (F.schema_of_variant(F.element_at(fm, "metric_name")) == "STRING"),
        F.array(
            F.struct(
                F.try_variant_get(
                    F.element_at(fm, "metric_name"), "$", "string"
                ).alias("name"),
                F.element_at(fm, "_value").alias("value"),
            )
        ),
    )
    by_field = F.filter(
        F.transform(
            ents,
            lambda e: F.struct(
                F.regexp_extract(e["key"], _HEC_METRIC_NAME_RE, 1).alias(
                    "name"
                ),
                e["value"].alias("value"),
            ),
        ),
        lambda s: (s["name"] != "") & ~s["name"].contains("metric_name"),
    )
    pairs = F.coalesce(explicit, by_field)
    out = df.select(
        "*",
        _hec_ts_ns(t_num).alias("shm_ts_ns"),
        F.array_join(attr_toks, ",").alias("shm_attrs"),
        F.explode(pairs).alias("_shm_pair"),
    )
    val = F.col("_shm_pair")["value"]
    vtype = F.schema_of_variant(val)
    num = F.when(vtype.rlike(_HEC_NUMERIC_RE), F.try_variant_get(val, "$", "double")).when(
        vtype == "STRING",
        F.when(
            _go_float_ok(F.try_variant_get(val, "$", "string")),
            F.try_variant_get(val, "$", "string").try_cast("double"),
        ),
    )
    return out.select(
        "*",
        F.col("_shm_pair")["name"].alias("shm_name"),
        num.alias("shm_value"),
        num.isNull().alias("shm_dropped"),
    ).drop("_shm_pair")


# ---------------------------------------------------------------------------
# cloudflare receiver (Logpush NDJSON at rest)
# ---------------------------------------------------------------------------


def cloudflare_logs_parse(
    df: DataFrame,
    line_col: str = "body",
    timestamp_field: str = "EdgeStartTimestamp",
    timestamp_format: str = "rfc3339",
    separator: str = ".",
    attributes: dict[str, str] | None = None,
) -> DataFrame:
    """Parse Cloudflare Logpush records (one NDJSON object per row —
    ``receiver/cloudflarereceiver/logs.go:210-419``).

    - ``ZoneName`` (string) → the ``cloudflare.zone`` resource
      attribute (:231-247);
    - timestamp from ``timestamp_field`` in ``unix`` / ``unixnano`` /
      ``rfc3339`` format (config defaults, config.go:41-43). The
      reference's parse-failure branches ``continue`` the record loop
      AFTER the record was appended (:255-312) — the record survives
      EMPTY (no severity, no attributes); mirrored via ``cf_emptied``
      with nulled attrs. An absent field only warns — the rest of the
      record still processes;
    - ``EdgeResponseStatus`` (string-parsed / numeric) → severity
      Info/Info2/Warn/Error by century (:406-419), severity text =
      the pdata short name;
    - every field (or only the ``attributes`` config mapping, renamed)
      becomes a record attribute; nested objects flatten with
      ``separator`` (:339-392); arrays are unsupported and skipped.
      JSON numbers keep their literal text in the canonical attr
      string (encoding/json decodes every number as float64 —
      PutDouble; text form preserves int-vs-double identity).

    Divergences (documented): object flattening is unrolled two
    levels (the reference recurses unboundedly; Logpush fields nest at
    most two), deeper values are skipped; the observed-now timestamp
    is the caller's concern.

    Vectorized variant path — zero Python, zero shuffle.
    """
    line = F.col(line_col)
    fm = F.from_json(line, "map<string,variant>")

    def vget(key: str) -> Column:
        return F.element_at(fm, key)

    zone_v = vget("ZoneName")
    zone = F.when(
        F.schema_of_variant(zone_v) == "STRING",
        F.try_variant_get(zone_v, "$", "string"),
    ).otherwise(F.lit(""))

    tv = vget(timestamp_field)
    ttype = F.schema_of_variant(tv)
    t_present = ttype.isNotNull()
    is_num = ttype.rlike(_HEC_NUMERIC_RE)
    t_str = F.try_variant_get(tv, "$", "string")
    if timestamp_format in ("unix", "unixnano"):
        # int/float truncate; strings must ParseInt exactly (:258-299)
        num = F.when(is_num, _sat_long(F.try_variant_get(tv, "$", "double")))
        from_str = F.when(
            (ttype == "STRING") & t_str.rlike(r"^-?\d+$"),
            t_str.try_cast("long"),
        )
        val = F.coalesce(num, from_str)
        mult = 1_000_000_000 if timestamp_format == "unix" else 1
        ts_ns = F.try_multiply(val, F.lit(mult))
        ts_bad = t_present & val.isNull()
    else:
        # try_to_timestamp: ANSI mode aborts the batch on one bad line
        parsed = F.when(ttype == "STRING", F.try_to_timestamp(t_str))
        ts_ns = F.unix_micros(parsed) * 1000
        ts_bad = t_present & parsed.isNull()

    st = vget("EdgeResponseStatus")
    st_type = F.schema_of_variant(st)
    code = F.when(
        st_type.rlike(_HEC_NUMERIC_RE),
        _sat_long(F.try_variant_get(st, "$", "double")),
    ).when(
        (st_type == "STRING")
        & F.try_variant_get(st, "$", "string").rlike(r"^-?\d+$"),
        F.try_variant_get(st, "$", "string").try_cast("long"),
    )
    sev_num = (
        F.when(code < 300, 9)       # Info
        .when(code < 400, 10)       # Info2
        .when(code < 500, 13)       # Warn
        .when(code < 600, 17)       # Error
    )
    sev_text = F.element_at(
        F.create_map(
            F.lit(9), F.lit("Info"), F.lit(10), F.lit("Info2"),
            F.lit(13), F.lit("Warn"), F.lit(17), F.lit("Error"),
        ),
        sev_num,
    )

    def scalar_tok(key: Column, val: Column) -> Column:
        t = F.schema_of_variant(val)
        return F.when(
            (t == "STRING"),
            F.concat(key, F.lit("="), F.try_variant_get(val, "$", "string")),
        ).when(
            t.rlike(_HEC_NUMERIC_RE) | (t == "BOOLEAN"),
            F.concat(key, F.lit("="), F.to_json(val)),
        )

    def flat_tokens(e: Column) -> Column:
        """One field → array of attr tokens (flattening one object
        level inline, a second level nested)."""
        if attributes is not None:
            pairs = []
            for k, v in attributes.items():
                pairs.extend([F.lit(k), F.lit(v)])
            mapped = F.element_at(F.create_map(*pairs), e["key"])
            name = mapped
            gate = mapped.isNotNull()
        else:
            name = e["key"]
            gate = F.lit(True)
        t = F.schema_of_variant(e["value"])
        inner = F.from_json(F.to_json(e["value"]), "map<string,variant>")
        lvl2 = F.flatten(
            F.transform(
                F.map_entries(inner),
                lambda i: F.when(
                    F.schema_of_variant(i["value"]).startswith("OBJECT"),
                    F.transform(
                        F.map_entries(
                            F.from_json(
                                F.to_json(i["value"]), "map<string,variant>"
                            )
                        ),
                        lambda j: scalar_tok(
                            F.concat(
                                name, F.lit(separator), i["key"],
                                F.lit(separator), j["key"],
                            ),
                            j["value"],
                        ),
                    ),
                ).otherwise(
                    F.array(
                        scalar_tok(
                            F.concat(name, F.lit(separator), i["key"]),
                            i["value"],
                        )
                    )
                ),
            )
        )
        toks = F.when(
            ~gate, F.array().cast("array<string>")
        ).when(
            t.startswith("OBJECT"), lvl2
        ).otherwise(F.array(scalar_tok(name, e["value"])))
        return F.filter(toks, lambda x: x.isNotNull())

    attr_toks = F.flatten(
        F.transform(
            F.map_entries(
                F.coalesce(fm, F.from_json(F.lit("{}"), "map<string,variant>"))
            ),
            flat_tokens,
        )
    )
    emptied = F.coalesce(ts_bad, F.lit(False))
    staged = df.select(
        "*",
        zone.alias("cf_zone"),
        F.when(~emptied, ts_ns).alias("cf_ts_ns"),
        F.when(~emptied, sev_num).alias("cf_sev_num"),
        F.when(~emptied, sev_text).alias("cf_sev_text"),
        F.when(~emptied, attr_toks).alias("_cf_toks"),
        emptied.alias("cf_emptied"),
        fm.isNotNull().alias("cf_ok"),
    )
    return staged.select(
        "*",
        _canon_attrs(F.coalesce(F.col("_cf_toks"),
                                F.array().cast("array<string>")),
                     sep="=").alias("cf_attrs"),
    ).drop("_cf_toks")


# ---------------------------------------------------------------------------
# awsfirehose receiver: cwlogs + cwmetrics record formats
# ---------------------------------------------------------------------------


def cwlogs_parse(df: DataFrame) -> DataFrame:
    """Parse CloudWatch Logs subscription records (one decompressed
    JSON record per row — gzip is transport framing;
    ``receiver/awsfirehosereceiver/internal/unmarshaler/cwlog/
    unmarshaler.go:58-155``).

    DATA_MESSAGE records require owner/logGroup/logStream (:131-141)
    and explode one row per log event (ms → ns timestamp, message as
    body). CONTROL_MESSAGE records produce no rows (:87-96); any other
    messageType is invalid. Resource attributes: cloud.provider=aws,
    cloud.account.id, the aws.log.group/stream.names single-element
    slices (rendered as JSON arrays) plus the two deprecated
    cloudwatch string attrs (:99-110).
    """
    line = F.col("body")
    z = F.from_json(
        line,
        "messageType string, owner string, logGroup string,"
        " logStream string,"
        " logEvents array<struct<id:string,timestamp:long,message:string>>",
    )
    is_data = z["messageType"] == "DATA_MESSAGE"
    is_control = z["messageType"] == "CONTROL_MESSAGE"
    ok = F.coalesce(
        is_control
        | (
            is_data
            & (z["owner"] != "") & z["owner"].isNotNull()
            & (z["logGroup"] != "") & z["logGroup"].isNotNull()
            & (z["logStream"] != "") & z["logStream"].isNotNull()
        ),
        F.lit(False),
    )
    res = F.concat_ws(
        ",",
        F.lit("cloud.provider=aws"),
        F.concat(F.lit("cloud.account.id="), z["owner"]),
        F.concat(F.lit('aws.log.group.names=["'), z["logGroup"], F.lit('"]')),
        F.concat(F.lit('aws.log.stream.names=["'), z["logStream"], F.lit('"]')),
        F.concat(F.lit("aws.cloudwatch.log_group_name="), z["logGroup"]),
        F.concat(F.lit("aws.cloudwatch.log_stream_name="), z["logStream"]),
    )
    events = F.when(
        ok & is_data, z["logEvents"]
    ).otherwise(
        F.expr("array()").cast(
            "array<struct<id:string,timestamp:long,message:string>>"
        )
    )
    out = df.select(
        "*",
        res.alias("cl_resource_attrs"),
        ok.alias("cl_ok"),
        F.explode(F.coalesce(events, F.expr("array()").cast(
            "array<struct<id:string,timestamp:long,message:string>>"
        ))).alias("_cl_ev"),
    )
    ev = F.col("_cl_ev")
    return out.select(
        "*",
        F.try_multiply(ev["timestamp"], F.lit(1_000_000)).alias("cl_ts_ns"),
        ev["message"].alias("cl_body"),
    ).drop("_cl_ev")


def cwmetrics_parse(df: DataFrame) -> DataFrame:
    """Parse CloudWatch Metric Stream JSON data (one NDJSON datum per
    row — the reference splits each Firehose record on newlines;
    ``cwmetricstream/unmarshaler.go:54-230`` + ``cwmetric.go``).

    Valid datums need metric_name/namespace/unit plus a ``value``
    OBJECT (isValid :167-170; the value setter accepts any object and
    ignores non-float fields, cwmetric.go:58-90). Output per datum:
    one summary datapoint — count/sum, quantile 0=min / 1=max, plus a
    quantile per ``p<float>`` field (value divided by 100; unparsable
    p-keys skipped, :118-144) — quantile tokens canon-sorted (the
    reference appends p* in random map order). Dimensions become
    datapoint attributes with ``InstanceId`` renamed to
    service.instance.id (:210-218); the resource carries cloud./
    service. identity, with ``AWS/``-prefixed namespaces split into
    service namespace + name (:185-207).
    """
    line = F.col("body")
    z = F.from_json(
        line,
        "metric_stream_name string, account_id string, region string,"
        " namespace string, metric_name string, dimensions map<string,string>,"
        " timestamp long, unit string",
    )
    val = F.from_json(F.get_json_object(line, "$.value"), "map<string,variant>")
    val_is_obj = F.get_json_object(line, "$.value").startswith("{")
    ok = F.coalesce(
        (z["metric_name"] != "") & (z["namespace"] != "") & (z["unit"] != "")
        & val_is_obj & val.isNotNull(),
        F.lit(False),
    )

    def num_field(name: str) -> Column:
        v = F.element_at(val, name)
        return F.coalesce(
            F.when(
                F.schema_of_variant(v).rlike(_HEC_NUMERIC_RE),
                F.try_variant_get(v, "$", "double"),
            ),
            F.lit(0.0),
        )

    # p<float> fields -> quantile tokens; min/max pinned at 0 and 1
    pq = F.filter(
        F.transform(
            F.map_entries(
                F.coalesce(val, F.from_json(F.lit("{}"), "map<string,variant>"))
            ),
            lambda e: F.when(
                e["key"].startswith("p")
                & (F.length(e["key"]) > 1)
                & F.substr(e["key"], F.lit(2), F.length(e["key"]))
                .try_cast("double").isNotNull()
                & F.schema_of_variant(e["value"]).rlike(_HEC_NUMERIC_RE),
                F.concat(
                    (
                        F.substr(e["key"], F.lit(2), F.length(e["key"]))
                        .try_cast("double") / 100.0
                    ).cast("string"),
                    F.lit(":"),
                    F.try_variant_get(e["value"], "$", "double").cast("string"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    quantiles = F.array_join(
        F.array_sort(
            F.concat(
                F.array(
                    F.concat(F.lit("0.0:"), num_field("min").cast("string")),
                    F.concat(F.lit("1.0:"), num_field("max").cast("string")),
                ),
                pq,
            )
        ),
        ",",
    )
    dims = F.filter(
        F.transform(
            F.map_entries(
                F.coalesce(
                    z["dimensions"],
                    F.from_json(F.lit("{}"), "map<string,string>"),
                )
            ),
            lambda e: F.concat(
                F.when(e["key"] == "InstanceId", F.lit("service.instance.id"))
                .otherwise(e["key"]),
                F.lit("="),
                e["value"],
            ),
        ),
        lambda x: x.isNotNull(),
    )
    ns = z["namespace"]
    aws_split = F.lower(F.substring_index(ns, "/", 1)) == "aws"
    has_delim = F.instr(ns, "/") > 0
    svc_ns = F.when(has_delim & aws_split, F.substring_index(ns, "/", 1))
    svc_name = F.when(
        has_delim & aws_split,
        F.substr(ns, F.instr(ns, "/") + 1, F.length(ns)),
    ).otherwise(ns)
    res = F.concat_ws(
        ",",
        F.lit("cloud.provider=aws"),
        F.concat(F.lit("cloud.account.id="), z["account_id"]),
        F.concat(F.lit("cloud.region="), z["region"]),
        F.when(
            svc_ns.isNotNull(),
            F.concat(F.lit("service.namespace="), svc_ns),
        ),
        F.concat(F.lit("service.name="), svc_name),
        F.concat(
            F.lit("aws.cloudwatch.metric_stream_name="),
            z["metric_stream_name"],
        ),
    )
    return df.select(
        "*",
        z["metric_name"].alias("cm_name"),
        z["unit"].alias("cm_unit"),
        F.try_multiply(z["timestamp"], F.lit(1_000_000)).alias("cm_ts_ns"),
        _sat_long(num_field("count")).alias("cm_count"),
        num_field("sum").alias("cm_sum"),
        F.when(ok, quantiles).alias("cm_quantiles"),
        _canon_attrs(dims, sep="=").alias("cm_attrs"),
        res.alias("cm_resource_attrs"),
        ok.alias("cm_ok"),
    )


# ---------------------------------------------------------------------------
# azureeventhub receiver: azure resource-logs common schema
# ---------------------------------------------------------------------------

_AZURE_REC = (
    "records array<struct<time:string,timeStamp:string,resourceId:string,"
    "tenantId:string,operationName:string,operationVersion:string,"
    "category:string,resultType:string,resultSignature:string,"
    "resultDescription:string,durationMs:string,callerIpAddress:string,"
    "correlationId:string,Level:string,location:string>>"
)


def azure_resource_logs_parse(df: DataFrame) -> DataFrame:
    """Parse Azure Monitor resource-log batches (one Event Hub message
    ``{"records": [...]}`` per row —
    ``pkg/translator/azure/resourcelogs_to_logs.go:82-222``).

    Per record: timestamp from ``time`` else ``timeStamp`` (ISO8601;
    an unparsable value SKIPS the record, :111-115), severity from
    ``Level`` (the word table Informational/Warning/Error/Critical →
    9/13/17/21, else a positive integer passes through; text = the
    literal, :166-185), attributes per extractRawAttributes
    (:188-216): azure.category/operation.name always, optional
    azure.* fields only when non-empty, ``durationMs`` as an int when
    it ParseInts, ``identity``/``properties`` carried as sorted
    compact JSON, cloud.provider=azure, cloud.region from location,
    net.sock.peer.addr from callerIpAddress. Resource identity =
    ``azure.resource.id`` (:100-104).

    Vectorized from_json + explode; zero Python.
    """
    line = F.col("body")
    z = F.from_json(line, _AZURE_REC)
    # identity/properties keep arbitrary shape — variant side-channel
    idx_props = F.from_json(
        F.get_json_object(line, "$.records"),
        "array<struct<identity:variant,properties:variant>>",
    )
    recs = F.coalesce(
        F.zip_with(
            z["records"], idx_props,
            lambda r, v: F.struct(
                r.alias("r"),
                v["identity"].alias("identity"),
                v["properties"].alias("properties"),
            ),
        ),
        F.expr("array()").cast(
            "array<struct<r:struct<time:string,timeStamp:string,"
            "resourceId:string,tenantId:string,operationName:string,"
            "operationVersion:string,category:string,resultType:string,"
            "resultSignature:string,resultDescription:string,"
            "durationMs:string,callerIpAddress:string,correlationId:string,"
            "Level:string,location:string>,identity:variant,"
            "properties:variant>>"
        ),
    )
    out = df.select(
        "*",
        z.isNotNull().alias("az_ok"),
        F.explode(recs).alias("_az"),
    )
    r = F.col("_az")["r"]
    ident = F.col("_az")["identity"]
    props = F.col("_az")["properties"]

    ts_str = F.when(
        r["time"].isNotNull() & (r["time"] != ""), r["time"]
    ).otherwise(r["timeStamp"])
    ts = F.try_to_timestamp(ts_str)
    ts_ns = F.unix_micros(ts) * 1000
    ts_ok = ts.isNotNull()

    level = r["Level"]
    word_sev = F.element_at(
        F.create_map(
            F.lit("Informational"), F.lit(9), F.lit("Warning"), F.lit(13),
            F.lit("Error"), F.lit(17), F.lit("Critical"), F.lit(21),
        ),
        level,
    )
    num = level.try_cast("long")
    sev_num = F.coalesce(
        word_sev, F.when(num > 0, num.cast("int"))
    )
    sev_text = F.when(level.isNotNull(), level)

    def opt(key: str, v: Column) -> Column:
        return F.when(
            v.isNotNull() & (v != ""), F.concat(F.lit(key + "="), v)
        )

    dur = r["durationMs"].try_cast("long")
    var_json = lambda v: F.when(  # noqa: E731
        F.schema_of_variant(v) == "STRING",
        F.try_variant_get(v, "$", "string"),
    ).otherwise(F.to_json(v))
    attrs = F.filter(
        F.array(
            F.concat(F.lit("azure.category="), F.coalesce(r["category"], F.lit(""))),
            opt("azure.correlation.id", r["correlationId"]),
            F.when(
                r["durationMs"].isNotNull() & dur.isNotNull(),
                F.concat(F.lit("azure.duration="), dur.cast("string")),
            ),
            F.when(
                ident.isNotNull(),
                F.concat(F.lit("azure.identity="), var_json(ident)),
            ),
            F.concat(
                F.lit("azure.operation.name="),
                F.coalesce(r["operationName"], F.lit("")),
            ),
            opt("azure.operation.version", r["operationVersion"]),
            F.when(
                props.isNotNull(),
                F.concat(F.lit("azure.properties="), var_json(props)),
            ),
            opt("azure.result.description", r["resultDescription"]),
            opt("azure.result.signature", r["resultSignature"]),
            opt("azure.result.type", r["resultType"]),
            opt("azure.tenant.id", r["tenantId"]),
            opt("cloud.region", r["location"]),
            F.lit("cloud.provider=azure"),
            opt("net.sock.peer.addr", r["callerIpAddress"]),
        ),
        lambda x: x.isNotNull(),
    )
    staged = out.select(
        "*",
        F.coalesce(r["resourceId"], F.lit("")).alias("az_resource_id"),
        F.when(ts_ok, ts_ns).alias("az_ts_ns"),
        F.when(ts_ok, sev_num).alias("az_sev_num"),
        F.when(ts_ok, sev_text).alias("az_sev_text"),
        F.when(ts_ok, attrs).alias("_az_toks"),
        ts_ok.alias("az_ts_ok"),
    )
    return staged.select(
        "*", _canon_attrs(
            F.coalesce(F.col("_az_toks"), F.array().cast("array<string>")),
            sep="=",
        ).alias("az_attrs"),
    ).drop("_az", "_az_toks")


# ---------------------------------------------------------------------------
# datadog receiver: /api/v1/series JSON metrics
# ---------------------------------------------------------------------------

# translator/metrics_translator.go:17-78 (semconv v1.30 values, verbatim)
DD_KNOWN_RESOURCE_ATTRS: dict[str, str] = {
    "env": "deployment.environment.name",
    "service": "service.name",
    "version": "service.version",
    "container_id": "container.id",
    "container_name": "container.name",
    "image_name": "container.image.name",
    "image_tag": "container.image.tags",
    "runtime": "container.runtime",
    "cloud_provider": "cloud.provider",
    "region": "cloud.region",
    "zone": "cloud.availability_zone",
    "task_family": "aws.ecs.task.family",
    "task_arn": "aws.ecs.task.arn",
    "ecs_cluster_name": "aws.ecs.cluster.arn",
    "task_version": "aws.ecs.task.revision",
    "ecs_container_name": "aws.ecs.container.arn",
    "kube_container_name": "k8s.container.name",
    "kube_cluster_name": "k8s.cluster.name",
    "kube_deployment": "k8s.deployment.name",
    "kube_replica_set": "k8s.replicaset.name",
    "kube_stateful_set": "k8s.statefulset.name",
    "kube_daemon_set": "k8s.daemonset.name",
    "kube_job": "k8s.job.name",
    "kube_cronjob": "k8s.cronjob.name",
    "kube_namespace": "k8s.namespace.name",
    "pod_name": "k8s.pod.name",
    "http.client_ip": "client.address",
    "http.response.content_length": "http.response.body.size",
    "http.status_code": "http.response.status_code",
    "http.request.content_length": "http.request.body.size",
    "http.referer": "http.request.header.referer",
    "http.method": "http.request.method",
    "http.route": "http.route",
    "http.version": "network.protocol.version",
    "http.server_name": "server.address",
    "http.url": "url.full",
    "http.useragent": "user_agent.original",
    "db.type": "db.system.name",
    "db.operation": "db.operation.name",
    "db.instance": "db.collection.name",
    "db.pool.name": "db.client.connection.pool.name",
    "process_id": "process.pid",
    "error.stacktrace": "exception.stacktrace",
    "error.msg": "exception.message",
}


def datadog_series_v1_parse(df: DataFrame) -> DataFrame:
    """Parse Datadog ``/api/v1/series`` submissions (one
    ``{"series": [...]}`` payload per row —
    ``receiver/datadogreceiver/internal/translator/series.go:55-119``
    + ``tags.go:79-186``).

    Per series: ``gauge`` → gauge, ``count``/``rate`` → delta sum
    (non-monotonic), any other type skips the series (:65-78); rate
    values multiply by the interval when one is present (:103-107);
    points need [ts, value] pairs, seconds → ns (:94-102). Tags cut at
    the first ':' (a bare tag t becomes ``unnamed_t=t``, tags.go:79-94);
    a tag key in the known table routes to the RESOURCE under its OTel
    name (exact-case match, with ``image_tag`` and http header keys as
    single-element slices); anything else lands on the datapoint with
    the lowercased-key OTel translation (:96-111,152-186). The host
    field becomes ``host.name``.

    Divergence (documented): a ``rate`` with an explicit ``null``
    interval multiplies by zero in the reference (NullableInt64 is
    "set"); here a null interval leaves the value unscaled.
    """
    line = F.col("body")
    z = F.from_json(
        line,
        "series array<struct<metric:string,type:string,interval:long,"
        "host:string,tags:array<string>,points:array<array<double>>>>",
    )
    out = df.select(
        "*",
        z.isNotNull().alias("dd_ok"),
        F.explode(
            F.coalesce(
                z["series"],
                F.expr("array()").cast(
                    "array<struct<metric:string,type:string,interval:bigint,"
                    "host:string,tags:array<string>,"
                    "points:array<array<double>>>>"
                ),
            )
        ).alias("_dd"),
    )
    s = F.col("_dd")
    typed = s["type"].isin("gauge", "count", "rate")
    kind = F.when(s["type"] == "gauge", F.lit("gauge")).otherwise(
        F.lit("sum_delta")
    )

    tags = F.coalesce(s["tags"], F.array().cast("array<string>"))
    key_of = lambda t: F.when(  # noqa: E731
        F.instr(t, ":") > 0, F.substring_index(t, ":", 1)
    ).otherwise(F.concat(F.lit("unnamed_"), t))
    val_of = lambda t: F.when(  # noqa: E731
        F.instr(t, ":") > 0, F.substr(t, F.instr(t, ":") + 1, F.length(t))
    ).otherwise(t)
    known_pairs = []
    for k, v in DD_KNOWN_RESOURCE_ATTRS.items():
        known_pairs.extend([F.lit(k), F.lit(v)])
    known = F.create_map(*known_pairs)

    def res_tok(t: Column) -> Column:
        k, v = key_of(t), val_of(t)
        target = F.element_at(known, k)
        return F.when(
            (t != "") & target.isNotNull(),
            F.when(
                target == "container.image.tags",
                F.concat(target, F.lit('=["'), v, F.lit('"]')),
            ).otherwise(F.concat(target, F.lit("="), v)),
        )

    def dp_tok(t: Column) -> Column:
        k, v = key_of(t), val_of(t)
        lk = F.lower(k)
        otel = F.coalesce(
            F.element_at(known, lk),
            F.when(
                lk.startswith("http.response.headers."),
                F.concat(
                    F.lit("http.response.header."),
                    F.substr(lk, F.lit(23), F.length(lk)),
                ),
            ),
            F.when(
                lk.startswith("http.request.headers."),
                F.concat(
                    F.lit("http.request.header."),
                    F.substr(lk, F.lit(22), F.length(lk)),
                ),
            ),
            k,
        )
        is_header = otel.startswith("http.request.header.") | otel.startswith(
            "http.response.header."
        )
        # header-translated keys are resource SLICE attrs (tags.go:176-178)
        return F.when(
            (t != "") & F.element_at(known, k).isNull() & ~is_header,
            F.concat(otel, F.lit("="), v),
        )

    def header_tok(t: Column) -> Column:
        k, v = key_of(t), val_of(t)
        lk = F.lower(k)
        otel = F.coalesce(
            F.element_at(known, lk),
            F.when(
                lk.startswith("http.response.headers."),
                F.concat(
                    F.lit("http.response.header."),
                    F.substr(lk, F.lit(23), F.length(lk)),
                ),
            ),
            F.when(
                lk.startswith("http.request.headers."),
                F.concat(
                    F.lit("http.request.header."),
                    F.substr(lk, F.lit(22), F.length(lk)),
                ),
            ),
            k,
        )
        return F.when(
            (t != "")
            & F.element_at(known, k).isNull()
            & (
                otel.startswith("http.request.header.")
                | otel.startswith("http.response.header.")
            ),
            F.concat(otel, F.lit('=["'), v, F.lit('"]')),
        )

    res_toks = F.concat(
        F.array(
            F.when(
                s["host"].isNotNull() & (s["host"] != ""),
                F.concat(F.lit("host.name="), s["host"]),
            )
        ),
        F.transform(tags, res_tok),
        F.transform(tags, header_tok),
    )
    dp_toks = F.transform(tags, dp_tok)

    staged = out.select(
        "*",
        s["metric"].alias("dd_name"),
        kind.alias("dd_kind"),
        s["interval"].alias("_dd_interval"),
        (s["type"] == "rate").alias("_dd_is_rate"),
        res_toks.alias("_dd_res"),
        dp_toks.alias("_dd_dp"),
        F.explode(
            F.when(typed, s["points"]).otherwise(
                F.array().cast("array<array<double>>")
            )
        ).alias("_dd_pt"),
    )
    pt = F.col("_dd_pt")
    pt_ok = F.size(pt) == 2
    value = F.when(
        F.col("_dd_is_rate") & F.col("_dd_interval").isNotNull(),
        F.get(pt, 1) * F.col("_dd_interval"),
    ).otherwise(F.get(pt, 1))
    final = staged.select(
        "*",
        _sat_long(F.get(pt, 0)).alias("_dd_sec"),
        value.alias("dd_value"),
        pt_ok.alias("_dd_pt_ok"),
        _canon_attrs(F.col("_dd_res"), sep="=").alias("dd_resource_attrs"),
        _canon_attrs(F.col("_dd_dp"), sep="=").alias("dd_dp_attrs"),
    ).filter(F.col("_dd_pt_ok"))
    return final.select(
        "*",
        F.try_multiply(F.col("_dd_sec"), F.lit(1_000_000_000)).alias(
            "dd_ts_ns"
        ),
    ).drop("_dd", "_dd_pt", "_dd_res", "_dd_dp", "_dd_interval",
           "_dd_is_rate", "_dd_sec", "_dd_pt_ok")


# ---------------------------------------------------------------------------
# expvar receiver (receiver/expvarreceiver/scraper.go:53-112)
# ---------------------------------------------------------------------------

# (metric suffix, sum|gauge, monotonic, memstats field) — one row per
# Record*DataPoint call in scrape(), defaults from metadata.yaml.
_EXPVAR_METRICS: tuple[tuple[str, str, bool, str], ...] = (
    ("total_alloc", "sum", True, "TotalAlloc"),
    ("sys", "sum", False, "Sys"),
    ("lookups", "sum", False, "Lookups"),
    ("mallocs", "sum", True, "Mallocs"),
    ("frees", "sum", True, "Frees"),
    ("heap_alloc", "sum", False, "HeapAlloc"),
    ("heap_sys", "sum", False, "HeapSys"),
    ("heap_idle", "sum", False, "HeapIdle"),
    ("heap_inuse", "sum", False, "HeapInuse"),
    ("heap_released", "sum", False, "HeapReleased"),
    ("heap_objects", "sum", False, "HeapObjects"),
    ("stack_inuse", "sum", False, "StackInuse"),
    ("stack_sys", "sum", False, "StackSys"),
    ("mspan_inuse", "sum", False, "MSpanInuse"),
    ("mspan_sys", "sum", False, "MSpanSys"),
    ("mcache_inuse", "sum", False, "MCacheInuse"),
    ("mcache_sys", "sum", False, "MCacheSys"),
    ("buck_hash_sys", "sum", False, "BuckHashSys"),
    ("gc_sys", "sum", False, "GCSys"),
    ("other_sys", "sum", False, "OtherSys"),
    ("next_gc", "sum", False, "NextGC"),
    ("pause_total", "sum", True, "PauseTotalNs"),
    ("last_pause", "gauge", False, "_last_pause"),
    ("num_gc", "sum", True, "NumGC"),
    ("num_forced_gc", "sum", True, "NumForcedGC"),
    ("gc_cpu_fraction", "gauge", False, "GCCPUFraction"),
)

# metadata.yaml defaults: every metric enabled except these two.
_EXPVAR_DISABLED_DEFAULT = frozenset({"total_alloc", "lookups"})

_EXPVAR_SCHEMA = """struct<memstats: struct<
  TotalAlloc: bigint, Sys: bigint, Lookups: bigint, Mallocs: bigint,
  Frees: bigint, HeapAlloc: bigint, HeapSys: bigint, HeapIdle: bigint,
  HeapInuse: bigint, HeapReleased: bigint, HeapObjects: bigint,
  StackInuse: bigint, StackSys: bigint, MSpanInuse: bigint,
  MSpanSys: bigint, MCacheInuse: bigint, MCacheSys: bigint,
  BuckHashSys: bigint, GCSys: bigint, OtherSys: bigint, NextGC: bigint,
  PauseTotalNs: bigint, PauseNs: array<bigint>, NumGC: bigint,
  NumForcedGC: bigint, GCCPUFraction: double>>"""


def expvar_memstats(
    df: DataFrame,
    enabled: frozenset | None = None,
) -> DataFrame:
    """/debug/vars memstats JSON → one row per enabled metric.

    Re-expresses ``receiver/expvarreceiver/scraper.go:53-112``: the
    26 Record*DataPoint calls over ``runtime.MemStats`` (decoded from
    the ``memstats`` expvar key), including the circular-buffer pick
    ``PauseNs[(NumGC+255)%256]`` for ``last_pause`` (scraper.go:106-108
    — indexes past the decoded prefix read as Go's zero fill) and the
    nil-memstats scrape error (:73-75), which dead-letters the row
    here (``ev_ok`` false, metric columns null) instead of aborting
    the batch. Metric enable/disable defaults follow metadata.yaml
    (``total_alloc`` and ``lookups`` off).

    Output long format: ``ev_metric`` (full
    ``process.runtime.memstats.*`` name), ``ev_kind`` (sum|gauge),
    ``ev_mono``, ``ev_value`` (bigint) / ``ev_value_d`` (double,
    gc_cpu_fraction only), ``ev_ok``. Plan: one from_json + a
    26-struct inline explode — zero shuffle, zero Python.
    """
    on = {
        name for name, _, _, _ in _EXPVAR_METRICS
        if name not in _EXPVAR_DISABLED_DEFAULT
    } if enabled is None else set(enabled)

    ms = F.from_json(F.col("body"), _EXPVAR_SCHEMA)["memstats"]
    df = df.withColumn("_ms", ms)
    m = F.col("_ms")
    z = lambda f: F.coalesce(m[f], F.lit(0))  # noqa: E731  Go zero value
    last_pause = F.coalesce(
        F.try_element_at(  # index past the decoded prefix = Go zero fill
            m["PauseNs"],
            ((z("NumGC") + 255) % 256 + 1).cast("int"),
        ),
        F.lit(0),
    )

    entries = []
    for name, kind, mono, field in _EXPVAR_METRICS:
        if name not in on:
            continue
        if field == "_last_pause":
            vi, vd = last_pause, F.lit(None).cast("double")
        elif name == "gc_cpu_fraction":
            vi = F.lit(None).cast("bigint")
            vd = F.coalesce(m[field], F.lit(0.0))
        else:
            vi, vd = z(field), F.lit(None).cast("double")
        entries.append(F.struct(
            F.lit("process.runtime.memstats." + name).alias("metric"),
            F.lit(kind).alias("kind"),
            F.lit(mono).alias("mono"),
            vi.cast("bigint").alias("value"),
            vd.alias("value_d"),
        ))

    ok = m.isNotNull()
    exploded = df.select(
        *[c for c in df.columns if c not in ("_ms", "body")],
        ok.alias("ev_ok"),
        F.explode_outer(
            F.when(ok, F.array(*entries))
        ).alias("_ev"),
    )
    e = F.col("_ev")
    return exploded.select(
        *[c for c in exploded.columns if c != "_ev"],
        e["metric"].alias("ev_metric"),
        e["kind"].alias("ev_kind"),
        e["mono"].alias("ev_mono"),
        e["value"].alias("ev_value"),
        e["value_d"].alias("ev_value_d"),
    )


# ---------------------------------------------------------------------------
# haproxy receiver (receiver/haproxyreceiver/scraper.go:40-296)
# ---------------------------------------------------------------------------

# (stat field, metric, sum|gauge, monotonic, int|double) — one row per
# Record*DataPoint call in scrape(); defaults from metadata.yaml.
# status_code-attributed hrsp_* and the eresp+srv_abrt fold are
# handled separately below.
_HAPROXY_METRICS: tuple[tuple[str, str, str, bool, str], ...] = (
    ("scur", "haproxy.sessions.count", "gauge", False, "int"),
    ("conn_rate", "haproxy.connections.rate", "gauge", False, "int"),
    ("conn_tot", "haproxy.connections.total", "sum", True, "int"),
    ("lbtot", "haproxy.server_selected.total", "sum", True, "int"),
    ("bin", "haproxy.bytes.input", "sum", True, "int"),
    ("bout", "haproxy.bytes.output", "sum", True, "int"),
    ("cli_abrt", "haproxy.clients.canceled", "sum", True, "int"),
    ("comp_byp", "haproxy.compression.bypass", "sum", True, "int"),
    ("comp_in", "haproxy.compression.input", "sum", True, "int"),
    ("comp_out", "haproxy.compression.output", "sum", True, "int"),
    ("comp_rsp", "haproxy.compression.count", "sum", True, "int"),
    ("dreq", "haproxy.requests.denied", "sum", True, "int"),
    ("dresp", "haproxy.responses.denied", "sum", True, "int"),
    ("downtime", "haproxy.downtime", "sum", True, "int"),
    ("econ", "haproxy.connections.errors", "sum", True, "int"),
    ("ereq", "haproxy.requests.errors", "sum", True, "int"),
    ("chkfail", "haproxy.failed_checks", "sum", True, "int"),
    ("wredis", "haproxy.requests.redispatched", "sum", True, "int"),
    ("wretr", "haproxy.connections.retries", "sum", True, "int"),
    ("stot", "haproxy.sessions.total", "sum", True, "int"),
    ("qcur", "haproxy.requests.queued", "sum", True, "int"),
    ("req_rate", "haproxy.requests.rate", "gauge", False, "double"),
    ("ttime", "haproxy.sessions.average", "gauge", False, "double"),
    ("rate", "haproxy.sessions.rate", "gauge", False, "double"),
)

_HAPROXY_DISABLED_DEFAULT = frozenset({
    "haproxy.connections.total", "haproxy.clients.canceled",
    "haproxy.compression.bypass", "haproxy.compression.input",
    "haproxy.compression.output", "haproxy.compression.count",
    "haproxy.downtime", "haproxy.failed_checks", "haproxy.sessions.total",
})

_HAPROXY_HRSP = ("1xx", "2xx", "3xx", "4xx", "5xx", "other")


def haproxy_stats(
    df: DataFrame,
    endpoint: str = "",
    enabled: frozenset | None = None,
) -> DataFrame:
    """``show stat`` CSV pages → one row per recorded metric.

    Re-expresses ``receiver/haproxyreceiver/scraper.go:40-296``: the
    ``# ``-prefixed header drives a name→index lookup (readStats
    :268-290), each record emits every metric whose stat field is
    non-empty, ``hrsp_*`` map to ``haproxy.requests.total`` with a
    ``status_code`` attribute, and ``haproxy.responses.errors`` is the
    ``eresp + srv_abrt`` fold recorded only when BOTH fields are
    non-empty (:166-180) — a side that fails ParseInt contributes 0
    and flags the scrape error (``ha_ok`` false), exactly the Go
    zero-value behaviour. Metric enables follow metadata.yaml
    defaults. Per-record resource attrs: ``pxname``/``svname`` +
    the endpoint (config constant).

    Dead letters: a page whose records disagree with the header's
    field count collapses to one ``ha_ok=false`` row (the reference
    fails the whole scrape on a csv.ReadAll error); an unparseable
    enabled value emits its metric row with null value + false ok
    (the reference's partial-scrape error). Divergence (documented):
    RFC-4180 quoted fields are not un-escaped — HAProxy's writer
    never quotes.

    Plan: split/explode + one wide projection, zero shuffle/Python.
    """
    on = {
        m for _, m, _, _, _ in _HAPROXY_METRICS
        if m not in _HAPROXY_DISABLED_DEFAULT
    } | {"haproxy.requests.total", "haproxy.responses.errors"} \
        if enabled is None else set(enabled)

    lines = F.split(F.trim(F.col("body")), "\r?\n")
    header = F.transform(
        F.split(F.regexp_replace(F.get(lines, 0), "^# ", ""), ","),
        lambda h: F.trim(h),
    )
    records = F.filter(
        F.slice(lines, 2, F.greatest(F.size(lines) - 1, F.lit(0))),
        lambda x: x != "",
    )
    staged = df.select(
        *[c for c in df.columns if c != "body"],
        header.alias("_hdr"),
        records.alias("_recs"),
    )
    hdr = F.col("_hdr")

    # stage the header name->index lookups ONCE PER PAGE, before the
    # record explode: ~45 fields x 2-3 accesses each would otherwise
    # re-scan the ~80-element header array per RECORD LINE
    # (array_position is an interpreted linear scan; measured 1.5x on
    # this operator at sf0.1: 31.9 -> 20.6 s — the residual is the
    # genuine ~40-metric fan per record line)
    idx_fields = [f for f, m, _, _, _ in _HAPROXY_METRICS if m in on]
    if "haproxy.requests.total" in on:
        idx_fields += ["hrsp_" + c for c in _HAPROXY_HRSP]
    if "haproxy.responses.errors" in on:
        idx_fields += ["eresp", "srv_abrt"]
    idx_fields += ["pxname", "svname"]
    _idx = {f: f"_hi_{i}"
            for i, f in enumerate(dict.fromkeys(idx_fields))}
    staged = staged.select(
        "*", *[F.array_position(hdr, f).cast("int").alias(c)
               for f, c in _idx.items()])

    page_ok = F.forall(
        F.col("_recs"), lambda r: F.size(F.split(r, ",")) == F.size(hdr)
    )
    staged = staged.select(
        "*",
        F.explode_outer(
            F.when(page_ok, F.col("_recs"))
        ).alias("_rec_line"),
        page_ok.alias("_page_ok"),
    ).select(
        "*", F.split(F.col("_rec_line"), ",").alias("_rec"),
    )

    rec = F.col("_rec")

    def val(field: str) -> Column:
        return F.try_element_at(rec, F.col(_idx[field]))

    def present(field: str) -> Column:
        v = val(field)
        return v.isNotNull() & (v != "")

    entries = []

    def add(metric, kind, mono, status, cond, value, value_d, ok):
        entries.append(F.struct(
            F.lit(metric).alias("metric"),
            F.lit(kind).alias("kind"),
            F.lit(mono).alias("mono"),
            (F.lit(status) if status is not None
             else F.lit(None).cast("string")).alias("status"),
            cond.alias("present"),
            value.cast("bigint").alias("value"),
            value_d.cast("double").alias("value_d"),
            ok.alias("ok"),
        ))

    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    for field, metric, kind, mono, vt in _HAPROXY_METRICS:
        if metric not in on:
            continue
        if vt == "int":
            parsed = val(field).try_cast("bigint")
            add(metric, kind, mono, None, present(field),
                parsed, nd, parsed.isNotNull())
        else:
            parsed = val(field).try_cast("double")
            add(metric, kind, mono, None, present(field),
                nl, parsed, parsed.isNotNull())
    if "haproxy.requests.total" in on:
        for code in _HAPROXY_HRSP:
            f = "hrsp_" + code
            parsed = val(f).try_cast("bigint")
            add("haproxy.requests.total", "sum", True, code,
                present(f), parsed, nd, parsed.isNotNull())
    if "haproxy.responses.errors" in on:
        er = val("eresp").try_cast("bigint")
        ab = val("srv_abrt").try_cast("bigint")
        add("haproxy.responses.errors", "sum", True, None,
            present("eresp") & present("srv_abrt"),
            F.coalesce(er, F.lit(0)) + F.coalesce(ab, F.lit(0)), nd,
            er.isNotNull() & ab.isNotNull())

    exploded = staged.select(
        *[c for c in staged.columns
          if c not in ("_hdr", "_recs", "_rec_line", "_rec", "_page_ok")
          and c not in set(_idx.values())],
        F.coalesce(val("pxname"), F.lit("")).alias("ha_pxname"),
        F.coalesce(val("svname"), F.lit("")).alias("ha_svname"),
        F.lit(endpoint).alias("ha_addr"),
        F.col("_page_ok").alias("_pok"),
        # a failed page yields exactly one null entry (dead letter); a
        # record whose fields are all empty yields no rows at all.
        F.explode(F.when(
            F.col("_page_ok"),
            F.filter(F.array(*entries), lambda x: x["present"]),
        ).otherwise(F.array(F.lit(None).cast(
            "struct<metric:string,kind:string,mono:boolean,status:string,"
            "present:boolean,value:bigint,value_d:double,ok:boolean>"
        )))).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c not in ("_m", "_pok")],
        m["metric"].alias("ha_metric"),
        m["kind"].alias("ha_kind"),
        m["mono"].alias("ha_mono"),
        m["status"].alias("ha_status"),
        m["value"].alias("ha_value"),
        m["value_d"].alias("ha_value_d"),
        (F.col("_pok") & F.coalesce(m["ok"], F.lit(False)))
            .alias("ha_ok"),
    )


# ---------------------------------------------------------------------------
# apache receiver (receiver/apachereceiver/scraper.go:60-225)
# ---------------------------------------------------------------------------

_APACHE_SCOREBOARD = (
    ("_", "waiting"), ("S", "starting"), ("R", "reading"),
    ("W", "sending"), ("K", "keepalive"), ("D", "dnslookup"),
    ("C", "closing"), ("L", "logging"), ("G", "finishing"),
    ("I", "idle_cleanup"), (".", "open"),
)


def apache_status(
    df: DataFrame,
    server_name: str = "",
    port: str = "",
) -> DataFrame:
    """mod_status ``?auto`` pages → one row per recorded metric.

    Re-expresses ``receiver/apachereceiver/scraper.go:60-225``:
    parseStats splits lines at the FIRST ``": "`` (:163-175, lines
    without one are skipped), each known key records its metric —
    uptime, current_connections, workers (busy|idle state), requests,
    traffic (``Total kBytes`` × 1024, :86-92), cpu.time
    (self|children × system|user), cpu.load, load.1/5/15,
    request.time — and ``Scoreboard`` expands to per-state counts
    (parseScoreboard :178-220: the 11 named states are always
    emitted, zero-filled; ``unknown`` only when an unmapped char
    appears). A present key whose value fails ParseInt/ParseFloat
    emits its row with null value + false ok (the reference's
    AddPartial). Resource attrs: server name + port (config-derived
    constants). Plan: one codegen projection + inline explode, zero
    shuffle, zero Python.
    """
    body = F.col("body")

    def raw(key: str) -> Column:
        pat = "(?m)^" + key.replace(" ", "\\ ") + ": (.*)$"
        return F.regexp_extract(body, pat, 1)

    def has(key: str) -> Column:
        return body.rlike("(?m)^" + key.replace(" ", "\\ ") + ": ")

    entries = []

    def add(metric, kind, mono, state, level, mode, cond, vi, vd, ok):
        ns = F.lit(None).cast("string")
        entries.append(F.struct(
            F.lit(metric).alias("metric"),
            F.lit(kind).alias("kind"),
            F.lit(mono).alias("mono"),
            (F.lit(state) if state else ns).alias("state"),
            (F.lit(level) if level else ns).alias("level"),
            (F.lit(mode) if mode else ns).alias("mode"),
            cond.alias("present"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
            ok.alias("ok"),
        ))

    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def add_int(key, metric, kind, mono, state=None, scale=1):
        v = raw(key).try_cast("bigint")
        add(metric, kind, mono, state, None, None, has(key),
            v * scale if scale != 1 else v, nd, v.isNotNull())

    def add_dbl(key, metric, kind, mono, level=None, mode=None):
        v = raw(key).try_cast("double")
        add(metric, kind, mono, None, level, mode, has(key),
            nl, v, v.isNotNull())

    add_int("ServerUptimeSeconds", "apache.uptime", "sum", True)
    add_int("ConnsTotal", "apache.current_connections", "sum", False)
    add_int("BusyWorkers", "apache.workers", "sum", False, state="busy")
    add_int("IdleWorkers", "apache.workers", "sum", False, state="idle")
    add_int("Total Accesses", "apache.requests", "sum", True)
    add_int("Total kBytes", "apache.traffic", "sum", True,
            scale=1024)  # kbytesToBytes, scraper.go:223-225
    add_dbl("CPUChildrenSystem", "apache.cpu.time", "sum", True,
            level="children", mode="system")
    add_dbl("CPUChildrenUser", "apache.cpu.time", "sum", True,
            level="children", mode="user")
    add_dbl("CPUSystem", "apache.cpu.time", "sum", True,
            level="self", mode="system")
    add_dbl("CPUUser", "apache.cpu.time", "sum", True,
            level="self", mode="user")
    add_dbl("CPULoad", "apache.cpu.load", "gauge", False)
    add_dbl("Load1", "apache.load.1", "gauge", False)
    add_dbl("Load5", "apache.load.5", "gauge", False)
    add_dbl("Load15", "apache.load.15", "gauge", False)
    add_int("Total Duration", "apache.request.time", "sum", True)

    sb = raw("Scoreboard")
    sb_has = has("Scoreboard")
    known = F.lit(0)
    for ch, state in _APACHE_SCOREBOARD:
        cnt = F.length(sb) - F.length(F.replace(sb, F.lit(ch)))
        known = known + cnt
        add("apache.scoreboard", "sum", False, state, None, None,
            sb_has, cnt, nd, F.lit(True))
    unk = F.length(sb) - known
    add("apache.scoreboard", "sum", False, "unknown", None, None,
        sb_has & (unk > 0), unk, nd, F.lit(True))

    exploded = df.select(
        *[c for c in df.columns if c != "body"],
        F.lit(server_name).alias("ap_server_name"),
        F.lit(port).alias("ap_server_port"),
        F.explode(
            F.filter(F.array(*entries), lambda x: x["present"])
        ).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("ap_metric"),
        m["kind"].alias("ap_kind"),
        m["mono"].alias("ap_mono"),
        m["state"].alias("ap_state"),
        m["level"].alias("ap_level"),
        m["mode"].alias("ap_mode"),
        m["value"].alias("ap_value"),
        m["value_d"].alias("ap_value_d"),
        m["ok"].alias("ap_ok"),
    )


# ---------------------------------------------------------------------------
# nginx receiver (receiver/nginxreceiver/scraper.go:48-64)
# ---------------------------------------------------------------------------

_NGINX_STUB_RE = (
    r"Active connections:\s+(\d+)\s+"
    r"server accepts handled requests\s+"
    r"(\d+)\s+(\d+)\s+(\d+)\s+"
    r"Reading:\s+(\d+)\s+Writing:\s+(\d+)\s+Waiting:\s+(\d+)"
)


def nginx_stub_status(df: DataFrame) -> DataFrame:
    """stub_status pages → the 4 nginx metrics (7 datapoints).

    Re-expresses ``receiver/nginxreceiver/scraper.go:48-64`` over the
    nginx-prometheus-exporter client's page grammar (the public
    ``Active connections: %d / server accepts handled requests /
    %d %d %d / Reading: %d Writing: %d Waiting: %d`` Sscanf template):
    requests + connections_accepted/handled (monotonic sums) and
    connections_current (non-monotonic sum) with
    active|reading|writing|waiting state attrs. A page that does not
    match the template is the reference's whole-scrape error → one
    ``ng_ok=false`` row. Plan: one regexp projection + inline
    explode, zero shuffle, zero Python.
    """
    body = F.col("body")

    def g(i: int) -> Column:
        return F.regexp_extract(body, _NGINX_STUB_RE, i).try_cast("bigint")

    ok = body.rlike(_NGINX_STUB_RE)
    specs = (
        ("nginx.requests", True, None, g(4)),
        ("nginx.connections_accepted", True, None, g(2)),
        ("nginx.connections_handled", True, None, g(3)),
        ("nginx.connections_current", False, "active", g(1)),
        ("nginx.connections_current", False, "reading", g(5)),
        ("nginx.connections_current", False, "writing", g(6)),
        ("nginx.connections_current", False, "waiting", g(7)),
    )
    entries = [
        F.struct(
            F.lit(metric).alias("metric"),
            F.lit(mono).alias("mono"),
            (F.lit(state) if state else F.lit(None).cast("string"))
                .alias("state"),
            v.alias("value"),
        )
        for metric, mono, state, v in specs
    ]
    null_entry = F.array(F.lit(None).cast(
        "struct<metric:string,mono:boolean,state:string,value:bigint>"
    ))
    exploded = df.select(
        *[c for c in df.columns if c != "body"],
        ok.alias("ng_ok"),
        F.explode(
            F.when(ok, F.array(*entries)).otherwise(null_entry)
        ).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("ng_metric"),
        m["mono"].alias("ng_mono"),
        m["state"].alias("ng_state"),
        m["value"].alias("ng_value"),
    )


# ---------------------------------------------------------------------------
# journald input (pkg/stanza/operator/input/journald/input.go:208-264)
# ---------------------------------------------------------------------------


def journald_parse(
    df: DataFrame,
    convert_message_bytes: bool = False,
) -> DataFrame:
    """``journalctl -o json`` lines → log rows.

    Re-expresses ``parseJournalEntry`` (input.go:208-264):
    ``__REALTIME_TIMESTAMP`` must be present, a string, and ParseInt-
    able (µs → ns ×1000, :216-228,263); ``__CURSOR`` must be present
    as a string (:247-255, it stays in the body — only the timestamp
    key is deleted, :246); with ``convert_message_bytes`` a MESSAGE
    that is a JSON array of numbers is rebuilt into the string of its
    bytes (:233-243, Go ``byte(int(f))`` truncation). Any violation
    is the reference's warn-and-skip → ``jd_ok=false`` dead-letter
    row here.

    The body renders as canonical sorted-key JSON (the Go map has no
    order; our engine-wide canon is sorted keys). Variant-typed
    values keep their original JSON lexemes. Plan: one from_json into
    ``map<string,variant>`` + codegen projection — zero shuffle, zero
    Python.
    """
    m = F.from_json(F.col("body"), "map<string,variant>")
    df = df.withColumn("_j", m)
    m = F.col("_j")

    ts_v = F.try_element_at(m, F.lit("__REALTIME_TIMESTAMP"))
    ts_is_str = F.schema_of_variant(ts_v) == "STRING"
    ts_int = F.try_variant_get(ts_v, "$", "string").try_cast("bigint")
    ts_ok = ts_v.isNotNull() & ts_is_str & ts_int.isNotNull()

    cur_v = F.try_element_at(m, F.lit("__CURSOR"))
    cur_ok = cur_v.isNotNull() & (F.schema_of_variant(cur_v) == "STRING")
    cursor = F.try_variant_get(cur_v, "$", "string")

    ok = m.isNotNull() & ts_ok & cur_ok

    # MESSAGE byte-array -> string (Go byte(int(f)) wraps mod 256)
    msg_arr = F.try_variant_get(
        F.try_element_at(m, F.lit("MESSAGE")), "$", "array<double>"
    )
    decoded = F.array_join(
        F.transform(
            F.filter(msg_arr, lambda x: x.isNotNull()),
            lambda x: F.char(x.cast("int") % 256),
        ),
        "",
    )
    esc = F.regexp_replace(
        F.regexp_replace(decoded, r"\\", r"\\\\"), '"', '\\\\"'
    )

    kv_sorted = F.array_sort(
        F.filter(
            F.map_entries(m),
            lambda kv: kv["key"] != "__REALTIME_TIMESTAMP",
        ),
        # variant values are not orderable -> compare keys explicitly
        lambda l, r: F.when(l["key"] < r["key"], F.lit(-1))
        .when(l["key"] > r["key"], F.lit(1)).otherwise(F.lit(0)),
    )
    use_decoded = F.lit(convert_message_bytes) & msg_arr.isNotNull()
    body_json = F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(
                kv_sorted,
                lambda kv: F.concat(
                    F.lit('"'), kv["key"], F.lit('":'),
                    F.when(
                        (kv["key"] == "MESSAGE") & use_decoded,
                        F.concat(F.lit('"'), esc, F.lit('"')),
                    ).otherwise(F.to_json(kv["value"])),
                ),
            ),
            ",",
        ),
        F.lit("}"),
    )

    return df.select(
        *[c for c in df.columns if c not in ("_j", "body")],
        F.when(ok, ts_int * 1000).alias("jd_ts_ns"),
        F.when(ok, cursor).alias("jd_cursor"),
        F.when(ok, body_json).alias("jd_body"),
        ok.alias("jd_ok"),
    )


# ---------------------------------------------------------------------------
# redis receiver (receiver/redisreceiver/redis_scraper.go + info/keyspace/
# latencystats.go + metric_functions.go)
# ---------------------------------------------------------------------------

# info key -> (metric, sum|gauge, monotonic, int|double, cpu state attr)
# 1:1 with dataPointRecorders (metric_functions.go:14-52).
_REDIS_COMMON: tuple[tuple[str, str, str, bool, str, str | None], ...] = (
    ("blocked_clients", "redis.clients.blocked", "sum", False, "int", None),
    ("client_recent_max_input_buffer", "redis.clients.max_input_buffer",
     "gauge", False, "int", None),
    ("client_recent_max_output_buffer", "redis.clients.max_output_buffer",
     "gauge", False, "int", None),
    ("connected_clients", "redis.clients.connected", "sum", False, "int",
     None),
    ("connected_slaves", "redis.slaves.connected", "sum", False, "int",
     None),
    ("evicted_keys", "redis.keys.evicted", "sum", True, "int", None),
    ("expired_keys", "redis.keys.expired", "sum", True, "int", None),
    ("instantaneous_ops_per_sec", "redis.commands", "gauge", False, "int",
     None),
    ("keyspace_hits", "redis.keyspace.hits", "sum", True, "int", None),
    ("keyspace_misses", "redis.keyspace.misses", "sum", True, "int", None),
    ("latest_fork_usec", "redis.latest_fork", "gauge", False, "int", None),
    ("master_repl_offset", "redis.replication.offset", "gauge", False,
     "int", None),
    ("maxmemory", "redis.maxmemory", "gauge", False, "int", None),
    ("mem_fragmentation_ratio", "redis.memory.fragmentation_ratio",
     "gauge", False, "double", None),
    ("rdb_changes_since_last_save", "redis.rdb.changes_since_last_save",
     "sum", False, "int", None),
    ("rejected_connections", "redis.connections.rejected", "sum", True,
     "int", None),
    ("repl_backlog_first_byte_offset",
     "redis.replication.backlog_first_byte_offset", "gauge", False, "int",
     None),
    ("slave_repl_offset", "redis.replication.replica_offset", "gauge",
     False, "int", None),
    ("total_commands_processed", "redis.commands.processed", "sum", True,
     "int", None),
    ("total_connections_received", "redis.connections.received", "sum",
     True, "int", None),
    ("total_net_input_bytes", "redis.net.input", "sum", True, "int", None),
    ("total_net_output_bytes", "redis.net.output", "sum", True, "int",
     None),
    ("uptime_in_seconds", "redis.uptime", "sum", True, "int", None),
    ("used_cpu_sys", "redis.cpu.time", "sum", True, "double", "sys"),
    ("used_cpu_sys_children", "redis.cpu.time", "sum", True, "double",
     "sys_children"),
    ("used_cpu_sys_main_thread", "redis.cpu.time", "sum", True, "double",
     "sys_main_thread"),
    ("used_cpu_user", "redis.cpu.time", "sum", True, "double", "user"),
    ("used_cpu_user_children", "redis.cpu.time", "sum", True, "double",
     "user_children"),
    ("used_cpu_user_main_thread", "redis.cpu.time", "sum", True, "double",
     "user_main_thread"),
    ("used_memory", "redis.memory.used", "gauge", False, "int", None),
    ("used_memory_lua", "redis.memory.lua", "gauge", False, "int", None),
    ("used_memory_peak", "redis.memory.peak", "gauge", False, "int", None),
    ("used_memory_rss", "redis.memory.rss", "gauge", False, "int", None),
)

_REDIS_DISABLED_DEFAULT = frozenset({
    "redis.maxmemory", "redis.role", "redis.cmd.calls", "redis.cmd.usec",
    "redis.cmd.latency", "redis.replication.replica_offset",
})


def redis_info(
    df: DataFrame,
    enabled: frozenset | None = None,
) -> DataFrame:
    """Redis ``INFO`` pages → one row per recorded metric.

    Re-expresses the redis receiver's scrape:

    - the info map (redis_svc.go:27-44): empty and ``#`` lines skipped,
      only lines that split on ``:`` into EXACTLY two parts survive
      (a value containing ``:`` is dropped, the Go code's defensive
      len==2 check);
    - ``uptime_in_seconds`` must be present and integral or the whole
      scrape errors (info.go:15-26) → single ``rd_ok=false`` row;
    - common metrics (redis_scraper.go:110-137 + the recorder table in
      metric_functions.go): a present key is ALWAYS recorded — a value
      that fails ParseInt/ParseFloat logs a warning and records the Go
      zero value (0), mirrored as value 0 + ``rd_ok=false``;
    - keyspace (keyspace.go:23-53, redis_scraper.go:141-160): db0-db15
      only; every ``,``-pair must split on ``=`` into exactly 2 parts
      and the keys/expires/avg_ttl values must be ints, else the whole
      db line is skipped; absent fields default 0;
    - cmdstats (redis_scraper.go:186-205): per ``cmdstat_<cmd>`` entry,
      ``calls``/``usec`` pairs that ParseInt emit rows, bad items are
      skipped item-wise;
    - latencystats (redis_scraper.go:163-230 + latencystats.go): the
      whole entry is skipped if ANY pair is malformed; only
      p50/p99/p99.9 percentiles emit, value = µs / 1e6 seconds;
    - role (redis_scraper.go:168-176): master → ``primary`` else
      ``replica``, value 1; resource carries ``redis_version`` (or
      "unknown").

    Metric enables follow metadata.yaml defaults (maxmemory, role,
    cmd.*, replication.replica_offset off). Plan: four unioned
    zero-shuffle explode projections, zero Python.
    """
    on = (
        {m for _, m, _, _, _, _ in _REDIS_COMMON}
        | {"redis.role", "redis.cmd.calls", "redis.cmd.usec",
           "redis.cmd.latency", "redis.db.keys", "redis.db.expires",
           "redis.db.avg_ttl"}
    ) - _REDIS_DISABLED_DEFAULT if enabled is None else set(enabled)

    lines = F.filter(
        F.split(F.col("body"), "\r?\n"),
        lambda l: (l != "") & ~l.startswith("#"),
    )
    ents = F.filter(
        F.transform(lines, lambda l: F.split(l, ":")),
        lambda a: F.size(a) == 2,
    )
    passthrough = [c for c in df.columns if c != "body"]
    staged = df.select(*passthrough, ents.alias("_ents"))
    ents = F.col("_ents")

    def val(key: str) -> Column:
        hit = F.try_element_at(
            F.filter(ents, lambda kv: F.get(kv, 0) == key), F.lit(-1)
        )
        return F.get(hit, 1)

    version = F.coalesce(val("redis_version"), F.lit("unknown"))
    page_ok = val("uptime_in_seconds").try_cast("bigint").isNotNull()
    staged = staged.select(
        "*", version.alias("rd_version"), page_ok.alias("_pok"),
    )
    pok = F.col("_pok")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def mk(metric, kind, mono, state, role, cmd, db, pct, vi, vd, ok,
           present):
        return F.struct(
            (F.lit(metric) if isinstance(metric, str) else metric)
                .alias("metric"),
            F.lit(kind).alias("kind"),
            F.lit(mono).alias("mono"),
            (F.lit(state) if isinstance(state, str)
             else (state if state is not None else ns)).alias("state"),
            (F.lit(role) if isinstance(role, str)
             else (role if role is not None else ns)).alias("role"),
            (cmd if cmd is not None else ns).alias("cmd"),
            (db if db is not None else ns).alias("db"),
            (F.lit(pct) if isinstance(pct, str)
             else (pct if pct is not None else ns)).alias("pct"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
            ok.alias("ok"), present.alias("present"),
        )

    entry_type = (
        "struct<metric:string,kind:string,mono:boolean,state:string,"
        "role:string,cmd:string,db:string,pct:string,value:bigint,"
        "value_d:double,ok:boolean,present:boolean>"
    )

    # --- branch A: common metrics + role + page dead-letter ------------
    a_entries = []
    for key, metric, kind, mono, vt, state in _REDIS_COMMON:
        if metric not in on:
            continue
        v = val(key)
        if vt == "int":
            p = v.try_cast("bigint")
            a_entries.append(mk(metric, kind, mono, state, None, None,
                                None, None, F.coalesce(p, F.lit(0)), nd,
                                p.isNotNull(), v.isNotNull()))
        else:
            p = v.try_cast("double")
            a_entries.append(mk(metric, kind, mono, state, None, None,
                                None, None, nl,
                                F.coalesce(p, F.lit(0.0)), p.isNotNull(),
                                v.isNotNull()))
    if "redis.role" in on:
        rv = val("role")
        a_entries.append(mk(
            "redis.role", "sum", False, None,
            F.when(rv == "master", "primary").otherwise("replica"),
            None, None, None, F.lit(1), nd, F.lit(True), rv.isNotNull(),
        ))
    br_a = staged.select(
        *passthrough, "rd_version",
        F.explode(F.when(
            pok, F.filter(F.array(*a_entries), lambda x: x["present"]),
        ).otherwise(
            F.array(F.lit(None).cast(entry_type))
        )).alias("_m"),
        pok.alias("_pok2"),
    )

    branches = [br_a]

    # --- branch B: keyspace db0-db15 ------------------------------------
    if {"redis.db.keys", "redis.db.expires", "redis.db.avg_ttl"} & on:
        dbe = staged.select(
            *passthrough, "rd_version", pok.alias("_pok2"),
            F.explode(F.filter(
                ents,
                lambda kv: F.get(kv, 0).rlike("^db([0-9]|1[0-5])$"),
            )).alias("_kv"),
        ).filter(F.col("_pok2"))
        kvp = F.col("_kv")
        ps = F.transform(
            F.split(F.get(kvp, 1), ","), lambda p: F.split(p, "=")
        )
        three = F.array(F.lit("keys"), F.lit("expires"), F.lit("avg_ttl"))
        valid = F.forall(
            ps,
            lambda x: (F.size(x) == 2) & (
                ~F.array_contains(three, F.get(x, 0))
                | F.get(x, 1).try_cast("bigint").isNotNull()
            ),
        )

        def field(name: str) -> Column:
            hit = F.try_element_at(
                F.filter(ps, lambda x: F.get(x, 0) == name), F.lit(-1)
            )
            return F.coalesce(F.get(hit, 1).try_cast("bigint"), F.lit(0))

        db = F.substring(F.get(kvp, 0), 3, 2)
        b_entries = [
            mk("redis.db." + suffix, "gauge", False, None, None, None,
               db, None, field(fld), nd, F.lit(True), F.lit(True))
            for suffix, fld in (("keys", "keys"), ("expires", "expires"),
                                ("avg_ttl", "avg_ttl"))
            if "redis.db." + suffix in on
        ]
        br_b = dbe.select(
            *passthrough, "rd_version",
            F.explode(F.when(valid, F.array(*b_entries)).otherwise(
                F.array().cast("array<" + entry_type + ">")
            )).alias("_m"),
            F.col("_pok2"),
        )
        branches.append(br_b)

    # --- branch C: cmdstat_<cmd> ----------------------------------------
    if {"redis.cmd.calls", "redis.cmd.usec"} & on:
        ce = staged.select(
            *passthrough, "rd_version", pok.alias("_pok2"),
            F.explode(F.filter(
                ents, lambda kv: F.get(kv, 0).startswith("cmdstat_"),
            )).alias("_kv"),
        ).filter(F.col("_pok2"))
        kvp = F.col("_kv")
        cmd = F.substr(F.get(kvp, 0), F.lit(9))
        subs = F.transform(
            F.split(F.trim(F.get(kvp, 1)), ","), lambda p: F.split(p, "=")
        )
        wanted = [w for w in ("calls", "usec")
                  if "redis.cmd." + w in on]
        items = F.filter(
            F.transform(subs, lambda x: F.struct(
                F.get(x, 0).alias("name"),
                F.get(x, 1).try_cast("bigint").alias("parsed"),
                F.size(x).alias("n"),
            )),
            lambda it: (it["n"] >= 2) & it["parsed"].isNotNull()
            & F.array_contains(
                F.array(*[F.lit(w) for w in wanted]), it["name"]
            ),
        )
        br_c = ce.select(
            *passthrough, "rd_version",
            F.explode(F.transform(items, lambda it: mk(
                F.concat(F.lit("redis.cmd."), it["name"]),
                "sum", True, None, None, cmd, None, None,
                it["parsed"], nd, F.lit(True), F.lit(True),
            ))).alias("_m"),
            F.col("_pok2"),
        )
        branches.append(br_c)

    # --- branch D: latency_percentiles_usec_<cmd> -----------------------
    if "redis.cmd.latency" in on:
        le = staged.select(
            *passthrough, "rd_version", pok.alias("_pok2"),
            F.explode(F.filter(
                ents,
                lambda kv: F.get(kv, 0).startswith(
                    "latency_percentiles_usec_"
                ),
            )).alias("_kv"),
        ).filter(F.col("_pok2"))
        kvp = F.col("_kv")
        cmd = F.substr(F.get(kvp, 0), F.lit(26))
        ps = F.transform(
            F.split(F.trim(F.get(kvp, 1)), ","), lambda p: F.split(p, "=")
        )
        entry_valid = F.forall(
            ps,
            lambda x: (F.size(x) == 2)
            & F.get(x, 1).try_cast("double").isNotNull(),
        )
        pcts = F.array(F.lit("p50"), F.lit("p99"), F.lit("p99.9"))
        items = F.filter(
            ps, lambda x: F.array_contains(pcts, F.get(x, 0)),
        )
        br_d = le.select(
            *passthrough, "rd_version",
            F.explode(F.when(entry_valid, F.transform(
                items, lambda x: mk(
                    "redis.cmd.latency", "gauge", False, None, None, cmd,
                    None, F.get(x, 0), nl,
                    F.get(x, 1).try_cast("double") / 1e6,
                    F.lit(True), F.lit(True),
                ),
            )).otherwise(
                F.array().cast("array<" + entry_type + ">")
            )).alias("_m"),
            F.col("_pok2"),
        )
        branches.append(br_d)

    out = None
    m = F.col("_m")
    for br in branches:
        sel = br.select(
            *passthrough, "rd_version",
            m["metric"].alias("rd_metric"),
            m["kind"].alias("rd_kind"),
            m["mono"].alias("rd_mono"),
            m["state"].alias("rd_state"),
            m["role"].alias("rd_role"),
            m["cmd"].alias("rd_cmd"),
            m["db"].alias("rd_db"),
            m["pct"].alias("rd_percentile"),
            m["value"].alias("rd_value"),
            m["value_d"].alias("rd_value_d"),
            (F.col("_pok2") & F.coalesce(m["ok"], F.lit(False)))
                .alias("rd_ok"),
        )
        out = sel if out is None else out.unionByName(sel)
    return out


# ---------------------------------------------------------------------------
# memcached receiver (receiver/memcachedreceiver/scraper.go:38-211)
# ---------------------------------------------------------------------------

# stat key -> (metric, kind, mono, vt, attr dict)
_MEMCACHED_STATS: tuple[tuple[str, str, str, bool, str, dict], ...] = (
    ("bytes", "memcached.bytes", "gauge", False, "int", {}),
    ("curr_connections", "memcached.connections.current", "sum", False,
     "int", {}),
    ("total_connections", "memcached.connections.total", "sum", True,
     "int", {}),
    ("cmd_get", "memcached.commands", "sum", True, "int",
     {"command": "get"}),
    ("cmd_set", "memcached.commands", "sum", True, "int",
     {"command": "set"}),
    ("cmd_flush", "memcached.commands", "sum", True, "int",
     {"command": "flush"}),
    ("cmd_touch", "memcached.commands", "sum", True, "int",
     {"command": "touch"}),
    ("curr_items", "memcached.current_items", "sum", False, "int", {}),
    ("threads", "memcached.threads", "sum", False, "int", {}),
    ("evictions", "memcached.evictions", "sum", True, "int", {}),
    ("bytes_read", "memcached.network", "sum", True, "int",
     {"direction": "received"}),
    ("bytes_written", "memcached.network", "sum", True, "int",
     {"direction": "sent"}),
    ("get_hits", "memcached.operations", "sum", True, "int",
     {"type": "hit", "operation": "get"}),
    ("get_misses", "memcached.operations", "sum", True, "int",
     {"type": "miss", "operation": "get"}),
    ("incr_hits", "memcached.operations", "sum", True, "int",
     {"type": "hit", "operation": "increment"}),
    ("incr_misses", "memcached.operations", "sum", True, "int",
     {"type": "miss", "operation": "increment"}),
    ("decr_hits", "memcached.operations", "sum", True, "int",
     {"type": "hit", "operation": "decrement"}),
    ("decr_misses", "memcached.operations", "sum", True, "int",
     {"type": "miss", "operation": "decrement"}),
    ("rusage_system", "memcached.cpu.usage", "sum", True, "double",
     {"state": "system"}),
    ("rusage_user", "memcached.cpu.usage", "sum", True, "double",
     {"state": "user"}),
)


def memcached_stats(df: DataFrame) -> DataFrame:
    """``stats`` command output → one row per recorded metric.

    Re-expresses ``receiver/memcachedreceiver/scraper.go:38-211`` over
    raw ``STAT <key> <value>`` text: the 20 recorded stat keys with
    their command/direction/type/operation/state attrs; values that
    fail ParseInt/ParseFloat are logged and SKIPPED (:185-203 — no
    zero-value record here, unlike redis). The derived
    ``memcached.operation_hit_ratio`` replays calculateHitRatio
    (:176-183) INCLUDING the reference's swapped-argument call
    (:151-169 passes (hits, misses) into ``(misses, hits)``), so the
    emitted "hit ratio" is numerically misses/(hits+misses)*100 — a
    faithfully carried reference quirk; emitted only when both sides
    parse, 0 when the sum is 0. Plan: one projection + inline
    explode, zero shuffle, zero Python.
    """
    body = F.col("body")

    def raw(key: str) -> Column:
        return F.regexp_extract(
            body, r"(?m)^STAT " + key + r" (\S+)\s*$", 1
        )

    def has(key: str) -> Column:
        return body.rlike(r"(?m)^STAT " + key + " ")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    entries = []

    def mk(metric, kind, mono, attrs, present, vi, vd):
        entries.append(F.struct(
            F.lit(metric).alias("metric"), F.lit(kind).alias("kind"),
            F.lit(mono).alias("mono"),
            F.lit(attrs.get("command")).cast("string").alias("command"),
            F.lit(attrs.get("direction")).cast("string")
                .alias("direction"),
            F.lit(attrs.get("type")).cast("string").alias("type"),
            F.lit(attrs.get("operation")).cast("string")
                .alias("operation"),
            F.lit(attrs.get("state")).cast("string").alias("state"),
            present.alias("present"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
        ))

    for key, metric, kind, mono, vt, attrs in _MEMCACHED_STATS:
        if vt == "int":
            p = raw(key).try_cast("bigint")
            mk(metric, kind, mono, attrs, has(key) & p.isNotNull(), p, nd)
        else:
            p = raw(key).try_cast("double")
            mk(metric, kind, mono, attrs, has(key) & p.isNotNull(), nl, p)

    # hit-ratio trio: replayed with the reference's swapped args
    for op, hk, mk_ in (("increment", "incr_hits", "incr_misses"),
                        ("decrement", "decr_hits", "decr_misses"),
                        ("get", "get_hits", "get_misses")):
        h = raw(hk).try_cast("bigint")
        m_ = raw(mk_).try_cast("bigint")
        both = h.isNotNull() & m_.isNotNull()
        ratio = F.when(h + m_ == 0, F.lit(0.0)).otherwise(
            m_.cast("double")
            / (m_.cast("double") + h.cast("double")) * 100
        )
        mk("memcached.operation_hit_ratio", "gauge", False,
           {"operation": op}, both, nl, ratio)

    exploded = df.select(
        *[c for c in df.columns if c != "body"],
        F.explode(
            F.filter(F.array(*entries), lambda x: x["present"])
        ).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("mc_metric"),
        m["kind"].alias("mc_kind"),
        m["mono"].alias("mc_mono"),
        m["command"].alias("mc_command"),
        m["direction"].alias("mc_direction"),
        m["type"].alias("mc_type"),
        m["operation"].alias("mc_operation"),
        m["state"].alias("mc_state"),
        m["value"].alias("mc_value"),
        m["value_d"].alias("mc_value_d"),
    )


# ---------------------------------------------------------------------------
# flinkmetrics receiver (receiver/flinkmetricsreceiver/process.go:15-194)
# ---------------------------------------------------------------------------

# shared JVM metric-ID table (jobmanager + taskmanager scopes)
_FLINK_JVM: tuple[tuple[str, str, str, bool, str, str | None], ...] = (
    ("Status.JVM.CPU.Load", "flink.jvm.cpu.load", "gauge", False,
     "double", None),
    ("Status.JVM.CPU.Time", "flink.jvm.cpu.time", "sum", True, "int",
     None),
    ("Status.JVM.Threads.Count", "flink.jvm.threads.count", "sum", False,
     "int", None),
    ("Status.JVM.Memory.Heap.Used", "flink.jvm.memory.heap.used", "sum",
     False, "int", None),
    ("Status.JVM.Memory.Heap.Committed",
     "flink.jvm.memory.heap.committed", "sum", False, "int", None),
    ("Status.JVM.Memory.Heap.Max", "flink.jvm.memory.heap.max", "sum",
     False, "int", None),
    ("Status.JVM.Memory.NonHeap.Used", "flink.jvm.memory.nonheap.used",
     "sum", False, "int", None),
    ("Status.JVM.Memory.NonHeap.Committed",
     "flink.jvm.memory.nonheap.committed", "sum", False, "int", None),
    ("Status.JVM.Memory.NonHeap.Max", "flink.jvm.memory.nonheap.max",
     "sum", False, "int", None),
    ("Status.JVM.Memory.Metaspace.Used",
     "flink.jvm.memory.metaspace.used", "sum", False, "int", None),
    ("Status.JVM.Memory.Metaspace.Committed",
     "flink.jvm.memory.metaspace.committed", "sum", False, "int", None),
    ("Status.JVM.Memory.Metaspace.Max", "flink.jvm.memory.metaspace.max",
     "sum", False, "int", None),
    ("Status.JVM.Memory.Direct.MemoryUsed",
     "flink.jvm.memory.direct.used", "sum", False, "int", None),
    ("Status.JVM.Memory.Direct.TotalCapacity",
     "flink.jvm.memory.direct.total_capacity", "sum", False, "int", None),
    ("Status.JVM.Memory.Mapped.MemoryUsed",
     "flink.jvm.memory.mapped.used", "sum", False, "int", None),
    ("Status.JVM.Memory.Mapped.TotalCapacity",
     "flink.jvm.memory.mapped.total_capacity", "sum", False, "int", None),
    ("Status.Flink.Memory.Managed.Used", "flink.memory.managed.used",
     "sum", False, "int", None),
    ("Status.Flink.Memory.Managed.Total", "flink.memory.managed.total",
     "sum", False, "int", None),
    ("Status.JVM.ClassLoader.ClassesLoaded",
     "flink.jvm.class_loader.classes_loaded", "sum", True, "int", None),
)

_FLINK_GC_JM = ("PS_MarkSweep", "PS_Scavenge")
_FLINK_GC_TM = ("G1_Young_Generation", "G1_Old_Generation")

_FLINK_JOB: tuple[tuple[str, str, str, bool, str | None], ...] = (
    ("numRestarts", "flink.job.restart.count", "sum", True, None),
    ("lastCheckpointSize", "flink.job.last_checkpoint.size", "sum",
     False, None),
    ("lastCheckpointDuration", "flink.job.last_checkpoint.time", "gauge",
     False, None),
    ("numberOfInProgressCheckpoints", "flink.job.checkpoint.in_progress",
     "sum", False, None),
    ("numberOfCompletedCheckpoints", "flink.job.checkpoint.count", "sum",
     True, "completed"),
    ("numberOfFailedCheckpoints", "flink.job.checkpoint.count", "sum",
     True, "failed"),
)


def flink_metrics(df: DataFrame) -> DataFrame:
    """Flink REST metric snapshots → one row per recorded metric.

    Re-expresses ``receiver/flinkmetricsreceiver/process.go:15-194``
    over rows of the REST responses at rest: ``scope`` ∈ jobmanager |
    taskmanager | job | subtask, identity columns (``host``,
    ``taskmanager_id``, ``job_name``, ``task_name``,
    ``subtask_index``) and ``metrics`` — the ``[{"id","value"}]``
    JSON array (models/response_model.go:7-10, values are strings).

    Scope tables are 1:1 with the Go switch blocks: the shared JVM
    table (jobmanager :20-70 with PS_* GC names, taskmanager :77-128
    with G1_* GC names), the job table (:135-159), and the subtask
    rules (:160-193) — exact task-level ids first, then the
    ``Contains``-driven operator split where the operator name is
    everything before the first ``.numRecordsIn``-style marker. An
    unmatched id records nothing; a matched value that fails the
    generated int/float parse emits a ``fl_ok=false`` row (the
    builder's silently-dropped error return). Plan: one from_json +
    explode + inline metric table, zero shuffle, zero Python.
    """
    ms = F.from_json(
        F.col("metrics"), "array<struct<id: string, value: string>>"
    )
    base = [c for c in df.columns if c != "metrics"]
    staged = df.select(*base, F.explode(ms).alias("_mt"))
    mid = F.col("_mt")["id"]
    mval = F.col("_mt")["value"]
    scope = F.col("scope")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def ent(metric, kind, mono, gc, cp, rec, opname, cond, vi, vd, ok):
        # (condition, entry) pair: the rule tables are mutually
        # exclusive per (scope, id), so the consumer chains them into
        # ONE first-match CASE — only the matched entry's struct is
        # ever constructed, instead of all ~110 per kv row (measured
        # 9x on this operator at sf0.1: 56 -> 6.3 s)
        return cond, F.struct(
            (metric if not isinstance(metric, str) else F.lit(metric))
                .alias("metric"),
            F.lit(kind).alias("kind"), F.lit(mono).alias("mono"),
            (F.lit(gc) if isinstance(gc, str) else ns).alias("gc"),
            (F.lit(cp) if isinstance(cp, str) else ns).alias("cp"),
            (F.lit(rec) if isinstance(rec, str) else rec
             if rec is not None else ns).alias("rec"),
            (opname if opname is not None else ns).alias("opname"),
            F.lit(True).alias("present"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
            ok.alias("ok"),
        )

    vi_ = mval.try_cast("bigint")
    vd_ = mval.try_cast("double")

    entries = []
    jvm_scope = scope.isin("jobmanager", "taskmanager")
    for mid_s, metric, kind, mono, vt, _ in _FLINK_JVM:
        cond = jvm_scope & (mid == mid_s)
        if vt == "int":
            entries.append(ent(metric, kind, mono, None, None, None,
                               None, cond, F.coalesce(vi_, F.lit(0)), nd,
                               vi_.isNotNull()))
        else:
            entries.append(ent(metric, kind, mono, None, None, None,
                               None, cond, nl,
                               F.coalesce(vd_, F.lit(0.0)),
                               vd_.isNotNull()))
    for gc_set, sc in ((_FLINK_GC_JM, "jobmanager"),
                       (_FLINK_GC_TM, "taskmanager")):
        for gc in gc_set:
            for suffix, metric in (
                ("Count", "flink.jvm.gc.collections.count"),
                ("Time", "flink.jvm.gc.collections.time"),
            ):
                cond = (scope == sc) & (
                    mid == f"Status.JVM.GarbageCollector.{gc}.{suffix}"
                )
                entries.append(ent(metric, "sum", True, gc, None, None,
                                   None, cond,
                                   F.coalesce(vi_, F.lit(0)), nd,
                                   vi_.isNotNull()))
    for mid_s, metric, kind, mono, cp in _FLINK_JOB:
        cond = (scope == "job") & (mid == mid_s)
        entries.append(ent(metric, kind, mono, None, cp, None, None,
                           cond, F.coalesce(vi_, F.lit(0)), nd,
                           vi_.isNotNull()))
    # subtask: exact task ids, then operator Contains rules (in order)
    for mid_s, rec in (("numRecordsIn", "in"), ("numRecordsOut", "out"),
                       ("numLateRecordsDropped", "dropped")):
        cond = (scope == "subtask") & (mid == mid_s)
        entries.append(ent("flink.task.record.count", "sum", True, None,
                           None, rec, None, cond,
                           F.coalesce(vi_, F.lit(0)), nd,
                           vi_.isNotNull()))
    for marker, rec in ((".numRecordsIn", "in"), (".numRecordsOut", "out"),
                        (".numLateRecordsDropped", "dropped")):
        cond = (scope == "subtask") & mid.contains(marker) & ~F.coalesce(
            # earlier Contains rules win (Go switch order)
            F.lit(False) if marker == ".numRecordsIn"
            else mid.contains(".numRecordsIn")
            if marker == ".numRecordsOut"
            else (mid.contains(".numRecordsIn")
                  | mid.contains(".numRecordsOut")),
            F.lit(False),
        )
        opname = F.split(mid, marker.replace(".", "\\."), 2).getItem(0)
        entries.append(ent("flink.operator.record.count", "sum", True,
                           None, None, rec, opname, cond,
                           F.coalesce(vi_, F.lit(0)), nd,
                           vi_.isNotNull()))
    cond = (scope == "subtask") & mid.contains(".currentOutputWatermark") \
        & ~(mid.contains(".numRecordsIn") | mid.contains(".numRecordsOut")
            | mid.contains(".numLateRecordsDropped"))
    entries.append(ent(
        "flink.operator.watermark.output", "sum", False, None, None,
        None, F.split(mid, r"\.currentOutputWatermark", 2).getItem(0),
        cond, F.coalesce(vi_, F.lit(0)), nd, vi_.isNotNull(),
    ))

    matched = None
    for cond, s in entries:
        matched = F.when(cond, s) if matched is None else matched.when(
            cond, s)
    exploded = staged.select(
        *base, matched.alias("_m"),
    ).where(F.col("_m").isNotNull())
    m = F.col("_m")
    return exploded.select(
        *base,
        m["metric"].alias("fl_metric"),
        m["kind"].alias("fl_kind"),
        m["mono"].alias("fl_mono"),
        m["gc"].alias("fl_gc_name"),
        m["cp"].alias("fl_checkpoint"),
        m["rec"].alias("fl_record"),
        m["opname"].alias("fl_operator"),
        m["value"].alias("fl_value"),
        m["value_d"].alias("fl_value_d"),
        m["ok"].alias("fl_ok"),
    )


# ---------------------------------------------------------------------------
# rabbitmq receiver (receiver/rabbitmqreceiver/scraper.go:60-280)
# ---------------------------------------------------------------------------

# (json field, metric, int|double|bool) — one row per Record call in
# collectNode (scraper.go:166-262), table generated 1:1 from the Go
# model's json tags + generated_metrics names. All are non-monotonic
# sums, all disabled by default. NOTE the `*_details.rate` tags are
# LITERAL dotted keys — Go's encoding/json does not treat the dot as
# a path, so the real API's nested {x_details:{rate}} objects never
# populate them; mirrored faithfully (flat dotted keys parse, nested
# objects read as the zero value).
_RABBITMQ_NODE: tuple[tuple[str, str, str], ...] = (
    ("disk_free", "rabbitmq.node.disk_free", "int"),
    ("disk_free_limit", "rabbitmq.node.disk_free_limit", "int"),
    ("disk_free_alarm", "rabbitmq.node.disk_free_alarm", "bool"),
    ("disk_free_details.rate", "rabbitmq.node.disk_free_details.rate", "double"),
    ("fd_used", "rabbitmq.node.fd_used", "int"),
    ("fd_total", "rabbitmq.node.fd_total", "int"),
    ("fd_used_details.rate", "rabbitmq.node.fd_used_details.rate", "double"),
    ("sockets_used", "rabbitmq.node.sockets_used", "int"),
    ("sockets_total", "rabbitmq.node.sockets_total", "int"),
    ("sockets_used_details.rate", "rabbitmq.node.sockets_used_details.rate", "double"),
    ("proc_used", "rabbitmq.node.proc_used", "int"),
    ("proc_total", "rabbitmq.node.proc_total", "int"),
    ("proc_used_details.rate", "rabbitmq.node.proc_used_details.rate", "double"),
    ("mem_used", "rabbitmq.node.mem_used", "int"),
    ("mem_used_details.rate", "rabbitmq.node.mem_used_details.rate", "double"),
    ("mem_limit", "rabbitmq.node.mem_limit", "int"),
    ("mem_alarm", "rabbitmq.node.mem_alarm", "bool"),
    ("uptime", "rabbitmq.node.uptime", "int"),
    ("run_queue", "rabbitmq.node.run_queue", "int"),
    ("processors", "rabbitmq.node.processors", "int"),
    ("context_switches", "rabbitmq.node.context_switches", "int"),
    ("context_switches_details.rate", "rabbitmq.node.context_switches_details.rate", "double"),
    ("gc_num", "rabbitmq.node.gc_num", "int"),
    ("gc_num_details.rate", "rabbitmq.node.gc_num_details.rate", "double"),
    ("gc_bytes_reclaimed", "rabbitmq.node.gc_bytes_reclaimed", "int"),
    ("gc_bytes_reclaimed_details.rate", "rabbitmq.node.gc_bytes_reclaimed_details.rate", "double"),
    ("io_read_count", "rabbitmq.node.io_read_count", "int"),
    ("io_read_count_details.rate", "rabbitmq.node.io_read_count_details.rate", "double"),
    ("io_read_bytes", "rabbitmq.node.io_read_bytes", "int"),
    ("io_read_bytes_details.rate", "rabbitmq.node.io_read_bytes_details.rate", "double"),
    ("io_read_avg_time", "rabbitmq.node.io_read_avg_time", "double"),
    ("io_read_avg_time_details.rate", "rabbitmq.node.io_read_avg_time_details.rate", "double"),
    ("io_write_count", "rabbitmq.node.io_write_count", "int"),
    ("io_write_count_details.rate", "rabbitmq.node.io_write_count_details.rate", "double"),
    ("io_write_bytes", "rabbitmq.node.io_write_bytes", "int"),
    ("io_write_bytes_details.rate", "rabbitmq.node.io_write_bytes_details.rate", "double"),
    ("io_write_avg_time", "rabbitmq.node.io_write_avg_time", "double"),
    ("io_write_avg_time_details.rate", "rabbitmq.node.io_write_avg_time_details.rate", "double"),
    ("io_sync_count", "rabbitmq.node.io_sync_count", "int"),
    ("io_sync_count_details.rate", "rabbitmq.node.io_sync_count_details.rate", "double"),
    ("io_sync_avg_time", "rabbitmq.node.io_sync_avg_time", "double"),
    ("io_sync_avg_time_details.rate", "rabbitmq.node.io_sync_avg_time_details.rate", "double"),
    ("io_seek_count", "rabbitmq.node.io_seek_count", "int"),
    ("io_seek_count_details.rate", "rabbitmq.node.io_seek_count_details.rate", "double"),
    ("io_seek_avg_time", "rabbitmq.node.io_seek_avg_time", "double"),
    ("io_seek_avg_time_details.rate", "rabbitmq.node.io_seek_avg_time_details.rate", "double"),
    ("io_reopen_count", "rabbitmq.node.io_reopen_count", "int"),
    ("io_reopen_count_details.rate", "rabbitmq.node.io_reopen_count_details.rate", "double"),
    ("mnesia_ram_tx_count", "rabbitmq.node.mnesia_ram_tx_count", "int"),
    ("mnesia_ram_tx_count_details.rate", "rabbitmq.node.mnesia_ram_tx_count_details.rate", "double"),
    ("mnesia_disk_tx_count", "rabbitmq.node.mnesia_disk_tx_count", "int"),
    ("mnesia_disk_tx_count_details.rate", "rabbitmq.node.mnesia_disk_tx_count_details.rate", "double"),
    ("msg_store_read_count", "rabbitmq.node.msg_store_read_count", "int"),
    ("msg_store_read_count_details.rate", "rabbitmq.node.msg_store_read_count_details.rate", "double"),
    ("msg_store_write_count", "rabbitmq.node.msg_store_write_count", "int"),
    ("msg_store_write_count_details.rate", "rabbitmq.node.msg_store_write_count_details.rate", "double"),
    ("queue_index_write_count", "rabbitmq.node.queue_index_write_count", "int"),
    ("queue_index_write_count_details.rate", "rabbitmq.node.queue_index_write_count_details.rate", "double"),
    ("queue_index_read_count", "rabbitmq.node.queue_index_read_count", "int"),
    ("queue_index_read_count_details.rate", "rabbitmq.node.queue_index_read_count_details.rate", "double"),
    ("connection_created", "rabbitmq.node.connection_created", "int"),
    ("connection_created_details.rate", "rabbitmq.node.connection_created_details.rate", "double"),
    ("connection_closed", "rabbitmq.node.connection_closed", "int"),
    ("connection_closed_details.rate", "rabbitmq.node.connection_closed_details.rate", "double"),
    ("channel_created", "rabbitmq.node.channel_created", "int"),
    ("channel_created_details.rate", "rabbitmq.node.channel_created_details.rate", "double"),
    ("channel_closed", "rabbitmq.node.channel_closed", "int"),
    ("channel_closed_details.rate", "rabbitmq.node.channel_closed_details.rate", "double"),
    ("queue_declared", "rabbitmq.node.queue_declared", "int"),
    ("queue_declared_details.rate", "rabbitmq.node.queue_declared_details.rate", "double"),
    ("queue_created", "rabbitmq.node.queue_created", "int"),
    ("queue_created_details.rate", "rabbitmq.node.queue_created_details.rate", "double"),
    ("queue_deleted", "rabbitmq.node.queue_deleted", "int"),
    ("queue_deleted_details.rate", "rabbitmq.node.queue_deleted_details.rate", "double"),)

_RABBITMQ_MSG_STATS = (
    ("deliver", "rabbitmq.message.delivered"),
    ("publish", "rabbitmq.message.published"),
    ("ack", "rabbitmq.message.acknowledged"),
    ("drop_unroutable", "rabbitmq.message.dropped"),
)


def rabbitmq_api(
    df: DataFrame,
    enable_node_metrics: bool = False,
) -> DataFrame:
    """RabbitMQ management-API objects → one row per recorded metric.

    Re-expresses ``receiver/rabbitmqreceiver/scraper.go:60-280`` over
    rows each holding one ``/api/queues`` or ``/api/nodes`` object
    (``kind`` = queue | node):

    - queues (collectQueue :126-165): consumer.count,
      message.current with unacknowledged/ready states, and the four
      message_stats counters — a stat key that is absent or not a
      JSON number is skipped (convertValToInt64 :273-280, float64 →
      int64 double cast); resource attrs queue/node/vhost names;
    - nodes (collectNode :166-262): all 74 fields recorded
      unconditionally — absent fields are Go zero values, bools fold
      via boolToInt64; the ``*_details.rate`` json tags are literal
      dotted keys (see table note). Node metrics are all disabled by
      default (metadata.yaml), gated by ``enable_node_metrics``.

    A row whose JSON fails the model decode is the reference's
    whole-endpoint scrape error → ``rq_ok=false`` dead letter. Plan:
    one from_json per kind + inline explode, zero shuffle/Python.
    """
    from pyspark.sql import types as T

    kind = F.col("kind")
    q = F.from_json(F.col("body"), (
        "struct<name: string, node: string, vhost: string,"
        " consumers: bigint, messages_unacknowledged: bigint,"
        " messages_ready: bigint, message_stats: map<string,variant>>"
    ))
    node_fields = [T.StructField("name", T.StringType())]
    for tag, _, vt in _RABBITMQ_NODE:
        t = {"int": T.LongType(), "double": T.DoubleType(),
             "bool": T.BooleanType()}[vt]
        node_fields.append(T.StructField(tag, t))
    n = F.from_json(F.col("body"), T.StructType(node_fields))

    # Go json.Unmarshal errors on non-object payloads; from_json is
    # PERMISSIVE (all-null struct), so gate on the variant shape.
    is_obj = F.schema_of_variant(
        F.try_parse_json(F.col("body"))
    ).startswith("OBJECT")
    df = df.select(
        *[c for c in df.columns if c != "body"],
        q.alias("_q"), n.alias("_n"),
        F.coalesce(is_obj, F.lit(False)).alias("_is_obj"),
    )
    q, n = F.col("_q"), F.col("_n")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def mk(metric, mkind, mono, state, present, vi, vd):
        return F.struct(
            F.lit(metric).alias("metric"), F.lit(mkind).alias("mkind"),
            F.lit(mono).alias("mono"),
            (F.lit(state) if state else ns).alias("state"),
            present.alias("present"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
        )

    z = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731

    entries = [
        mk("rabbitmq.consumer.count", "sum", False, None,
           kind == "queue", z(q["consumers"]), nd),
        mk("rabbitmq.message.current", "sum", False, "unacknowledged",
           kind == "queue", z(q["messages_unacknowledged"]), nd),
        mk("rabbitmq.message.current", "sum", False, "ready",
           kind == "queue", z(q["messages_ready"]), nd),
    ]
    for stat, metric in _RABBITMQ_MSG_STATS:
        v = F.try_element_at(q["message_stats"], F.lit(stat))
        num = F.try_variant_get(v, "$", "double")
        entries.append(mk(
            metric, "sum", True, None,
            (kind == "queue") & v.isNotNull() & num.isNotNull(),
            num.cast("bigint"), nd,
        ))
    if enable_node_metrics:
        for tag, metric, vt in _RABBITMQ_NODE:
            col = n[tag]
            if vt == "bool":
                vi = F.when(F.coalesce(col, F.lit(False)), 1).otherwise(0)
                entries.append(mk(metric, "sum", False, None,
                                  kind == "node", vi, nd))
            elif vt == "int":
                entries.append(mk(metric, "sum", False, None,
                                  kind == "node", z(col), nd))
            else:
                entries.append(mk(metric, "sum", False, None,
                                  kind == "node", nl,
                                  F.coalesce(col, F.lit(0.0))))

    parsed_ok = F.col("_is_obj")
    entry_type = (
        "struct<metric:string,mkind:string,mono:boolean,state:string,"
        "present:boolean,value:bigint,value_d:double>"
    )
    exploded = df.select(
        *[c for c in df.columns if c not in ("_q", "_n", "_is_obj")],
        F.when(kind == "queue", q["name"]).alias("rq_queue_name"),
        F.coalesce(
            F.when(kind == "queue", q["node"]).otherwise(n["name"]),
            F.lit(""),
        ).alias("rq_node_name"),
        F.when(kind == "queue", q["vhost"]).alias("rq_vhost"),
        parsed_ok.alias("rq_ok"),
        F.explode(F.when(
            parsed_ok,
            F.filter(F.array(*entries), lambda x: x["present"]),
        ).otherwise(F.array(F.lit(None).cast(entry_type))))
            .alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("rq_metric"),
        m["mkind"].alias("rq_mkind"),
        m["mono"].alias("rq_mono"),
        m["state"].alias("rq_state"),
        m["value"].alias("rq_value"),
        m["value_d"].alias("rq_value_d"),
    )


# ---------------------------------------------------------------------------
# couchdb receiver (receiver/couchdbreceiver/metrics.go:15-185)
# ---------------------------------------------------------------------------

_COUCHDB_METHODS = ("COPY", "DELETE", "GET", "HEAD", "OPTIONS", "POST",
                    "PUT")
_COUCHDB_CODES = ("200", "201", "202", "204", "206", "301", "302", "304",
                  "400", "401", "403", "404", "405", "406", "409", "412",
                  "413", "414", "415", "416", "417", "500", "501", "503")
_COUCHDB_VIEWS = ("temporary_view_reads", "view_reads")


def _json_num(v: Column, path: str) -> Column:
    """The JSON number at ``path`` of variant ``v`` as a double. Go's
    parseInt/parseFloat type-switch accepts JSON numbers only — a JSON
    string "123" must NOT pass, so gate on the variant's own type
    before casting."""
    pv = F.try_variant_get(v, path, "variant")
    is_num = F.schema_of_variant(pv).rlike(
        "^(BIGINT|INT|SMALLINT|TINYINT|DOUBLE|FLOAT|DECIMAL)"
    )
    return F.when(is_num, F.try_variant_get(pv, "$", "double"))


def couchdb_stats(
    df: DataFrame, node_name: str = ""
) -> DataFrame:
    """``_node/_local/_stats`` documents → one row per recorded metric.

    Re-expresses ``receiver/couchdbreceiver/metrics.go:15-185`` +
    ``scraper.go:47-77``: each metric walks its fixed key path with
    getValueFromBody (missing key at any depth → AddPartial, metric
    skipped — mirrored as a ``cd_ok=false`` row), values accept JSON
    numbers only (parseInt truncates float64); the per-method
    httpd_request_methods / per-code httpd_status_codes / per-view
    httpd views fans use the reference's exact enum sets. Resource:
    the endpoint as ``couchdb.node.name``. Plan: one schema-pruned
    from_json + inline explode, zero shuffle/Python.
    """
    v = F.try_parse_json(F.col("body"))
    df = df.withColumn("_v", v)
    v = F.col("_v")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    entries = []

    def path_num(*keys) -> Column:
        return _json_num(v, "$." + ".".join(keys))

    def mk(metric, kind, mono, method, code, view, op, vi, vd, ok):
        entries.append(F.struct(
            F.lit(metric).alias("metric"), F.lit(kind).alias("kind"),
            F.lit(mono).alias("mono"),
            (F.lit(method) if method else ns).alias("method"),
            (F.lit(code) if code else ns).alias("code"),
            (F.lit(view) if view else ns).alias("view"),
            (F.lit(op) if op else ns).alias("op"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
            ok.alias("ok"),
        ))

    art = path_num("request_time", "value", "arithmetic_mean")
    mk("couchdb.average_request_time", "gauge", False, None, None, None,
       None, nl, art, art.isNotNull())
    bulk = path_num("httpd", "bulk_requests", "value")
    mk("couchdb.httpd.bulk_requests", "sum", True, None, None, None,
       None, bulk, nd, bulk.isNotNull())
    for method in _COUCHDB_METHODS:
        p = path_num("httpd_request_methods", method, "value")
        mk("couchdb.httpd.requests", "sum", True, method, None, None,
           None, p, nd, p.isNotNull())
    for code in _COUCHDB_CODES:
        # numeric keys need bracket quoting in variant paths
        p = _json_num(v, "$.httpd_status_codes['" + code + "'].value")
        mk("couchdb.httpd.responses", "sum", True, None, code, None,
           None, p, nd, p.isNotNull())
    for view in _COUCHDB_VIEWS:
        p = path_num("httpd", view, "value")
        mk("couchdb.httpd.views", "sum", True, None, None, view, None,
           p, nd, p.isNotNull())
    dbo = path_num("open_databases", "value")
    mk("couchdb.database.open", "sum", False, None, None, None, None,
       dbo, nd, dbo.isNotNull())
    fdo = path_num("open_os_files", "value")
    mk("couchdb.file_descriptor.open", "sum", False, None, None, None,
       None, fdo, nd, fdo.isNotNull())
    for op, key in (("reads", "database_reads"),
                    ("writes", "database_writes")):
        p = path_num(key, "value")
        mk("couchdb.database.operations", "sum", True, None, None, None,
           op, p, nd, p.isNotNull())

    exploded = df.select(
        *[c for c in df.columns if c not in ("_v", "body")],
        F.lit(node_name).alias("cd_node_name"),
        F.explode(F.array(*entries)).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("cd_metric"),
        m["kind"].alias("cd_kind"),
        m["mono"].alias("cd_mono"),
        m["method"].alias("cd_method"),
        m["code"].alias("cd_code"),
        m["view"].alias("cd_view"),
        m["op"].alias("cd_operation"),
        m["value"].alias("cd_value"),
        m["value_d"].alias("cd_value_d"),
        m["ok"].alias("cd_ok"),
    )


# ---------------------------------------------------------------------------
# mysql receiver, global-status half (receiver/mysqlreceiver/scraper.go:
# 134-450,673-708)
# ---------------------------------------------------------------------------

# (status variable, metric, optional attr value) — 1:1 with the
# scrapeGlobalStats switch; table generated from the Go switch + the
# generated_metrics attr strings. Every value is ParseInt input.
_MYSQL_GLOBAL_STATS: tuple[tuple[str, str, tuple], ...] = (
    ("Bytes_received", "mysql.client.network.io", ("received",)),
    ("Bytes_sent", "mysql.client.network.io", ("sent",)),
    ("Innodb_buffer_pool_pages_data", "mysql.buffer_pool.pages", ("data",)),
    ("Innodb_buffer_pool_pages_free", "mysql.buffer_pool.pages", ("free",)),
    ("Innodb_buffer_pool_pages_total", "mysql.buffer_pool.pages", ("total",)),
    ("Innodb_buffer_pool_pages_misc", "mysql.buffer_pool.pages", ("misc",)),
    ("Innodb_buffer_pool_pages_flushed", "mysql.buffer_pool.page_flushes", ()),
    ("Innodb_buffer_pool_read_ahead_rnd", "mysql.buffer_pool.operations", ("read_ahead_rnd",)),
    ("Innodb_buffer_pool_read_ahead", "mysql.buffer_pool.operations", ("read_ahead",)),
    ("Innodb_buffer_pool_read_ahead_evicted", "mysql.buffer_pool.operations", ("read_ahead_evicted",)),
    ("Innodb_buffer_pool_read_requests", "mysql.buffer_pool.operations", ("read_requests",)),
    ("Innodb_buffer_pool_reads", "mysql.buffer_pool.operations", ("reads",)),
    ("Innodb_buffer_pool_wait_free", "mysql.buffer_pool.operations", ("wait_free",)),
    ("Innodb_buffer_pool_write_requests", "mysql.buffer_pool.operations", ("write_requests",)),
    ("Connection_errors_accept", "mysql.connection.errors", ("accept",)),
    ("Connection_errors_internal", "mysql.connection.errors", ("internal",)),
    ("Connection_errors_max_connections", "mysql.connection.errors", ("max_connections",)),
    ("Connection_errors_peer_address", "mysql.connection.errors", ("peer_address",)),
    ("Connection_errors_select", "mysql.connection.errors", ("select",)),
    ("Connection_errors_tcpwrap", "mysql.connection.errors", ("tcpwrap",)),
    ("Aborted_clients", "mysql.connection.errors", ("aborted_clients",)),
    ("Aborted_connects", "mysql.connection.errors", ("aborted",)),
    ("Locked_connects", "mysql.connection.errors", ("locked",)),
    ("Connections", "mysql.connection.count", ()),
    ("Max_used_connections", "mysql.max_used_connections", ()),
    ("Com_stmt_execute", "mysql.prepared_statements", ("execute",)),
    ("Com_stmt_close", "mysql.prepared_statements", ("close",)),
    ("Com_stmt_fetch", "mysql.prepared_statements", ("fetch",)),
    ("Com_stmt_prepare", "mysql.prepared_statements", ("prepare",)),
    ("Com_stmt_reset", "mysql.prepared_statements", ("reset",)),
    ("Com_stmt_send_long_data", "mysql.prepared_statements", ("send_long_data",)),
    ("Com_delete", "mysql.commands", ("delete",)),
    ("Com_delete_multi", "mysql.commands", ("delete_multi",)),
    ("Com_insert", "mysql.commands", ("insert",)),
    ("Com_select", "mysql.commands", ("select",)),
    ("Com_update", "mysql.commands", ("update",)),
    ("Com_update_multi", "mysql.commands", ("update_multi",)),
    ("Created_tmp_disk_tables", "mysql.tmp_resources", ("disk_tables",)),
    ("Created_tmp_files", "mysql.tmp_resources", ("files",)),
    ("Created_tmp_tables", "mysql.tmp_resources", ("tables",)),
    ("Handler_commit", "mysql.handlers", ("commit",)),
    ("Handler_delete", "mysql.handlers", ("delete",)),
    ("Handler_discover", "mysql.handlers", ("discover",)),
    ("Handler_external_lock", "mysql.handlers", ("external_lock",)),
    ("Handler_mrr_init", "mysql.handlers", ("mrr_init",)),
    ("Handler_prepare", "mysql.handlers", ("prepare",)),
    ("Handler_read_first", "mysql.handlers", ("read_first",)),
    ("Handler_read_key", "mysql.handlers", ("read_key",)),
    ("Handler_read_last", "mysql.handlers", ("read_last",)),
    ("Handler_read_next", "mysql.handlers", ("read_next",)),
    ("Handler_read_prev", "mysql.handlers", ("read_prev",)),
    ("Handler_read_rnd", "mysql.handlers", ("read_rnd",)),
    ("Handler_read_rnd_next", "mysql.handlers", ("read_rnd_next",)),
    ("Handler_rollback", "mysql.handlers", ("rollback",)),
    ("Handler_savepoint", "mysql.handlers", ("savepoint",)),
    ("Handler_savepoint_rollback", "mysql.handlers", ("savepoint_rollback",)),
    ("Handler_update", "mysql.handlers", ("update",)),
    ("Handler_write", "mysql.handlers", ("write",)),
    ("Innodb_dblwr_pages_written", "mysql.double_writes", ("pages_written",)),
    ("Innodb_dblwr_writes", "mysql.double_writes", ("writes",)),
    ("Innodb_log_waits", "mysql.log_operations", ("waits",)),
    ("Innodb_log_write_requests", "mysql.log_operations", ("write_requests",)),
    ("Innodb_log_writes", "mysql.log_operations", ("writes",)),
    ("Innodb_os_log_fsyncs", "mysql.log_operations", ("fsyncs",)),
    ("Innodb_data_fsyncs", "mysql.operations", ("fsyncs",)),
    ("Innodb_data_reads", "mysql.operations", ("reads",)),
    ("Innodb_data_writes", "mysql.operations", ("writes",)),
    ("Innodb_pages_created", "mysql.page_operations", ("created",)),
    ("Innodb_pages_read", "mysql.page_operations", ("read",)),
    ("Innodb_pages_written", "mysql.page_operations", ("written",)),
    ("Innodb_row_lock_waits", "mysql.row_locks", ("waits",)),
    ("Innodb_row_lock_time", "mysql.row_locks", ("time",)),
    ("Innodb_rows_deleted", "mysql.row_operations", ("deleted",)),
    ("Innodb_rows_inserted", "mysql.row_operations", ("inserted",)),
    ("Innodb_rows_read", "mysql.row_operations", ("read",)),
    ("Innodb_rows_updated", "mysql.row_operations", ("updated",)),
    ("Table_locks_immediate", "mysql.locks", ("immediate",)),
    ("Table_locks_waited", "mysql.locks", ("waited",)),
    ("Select_full_join", "mysql.joins", ("full",)),
    ("Select_full_range_join", "mysql.joins", ("full_range",)),
    ("Select_range", "mysql.joins", ("range",)),
    ("Select_range_check", "mysql.joins", ("range_check",)),
    ("Select_scan", "mysql.joins", ("scan",)),
    ("Table_open_cache_hits", "mysql.table_open_cache", ("hit",)),
    ("Table_open_cache_misses", "mysql.table_open_cache", ("miss",)),
    ("Table_open_cache_overflows", "mysql.table_open_cache", ("overflow",)),
    ("Queries", "mysql.query.count", ()),
    ("Questions", "mysql.query.client.count", ()),
    ("Slow_queries", "mysql.query.slow.count", ()),
    ("Sort_merge_passes", "mysql.sorts", ("merge_passes",)),
    ("Sort_range", "mysql.sorts", ("range",)),
    ("Sort_rows", "mysql.sorts", ("rows",)),
    ("Sort_scan", "mysql.sorts", ("scan",)),
    ("Threads_cached", "mysql.threads", ("cached",)),
    ("Threads_connected", "mysql.threads", ("connected",)),
    ("Threads_created", "mysql.threads", ("created",)),
    ("Threads_running", "mysql.threads", ("running",)),
    ("Opened_files", "mysql.opened_resources", ("file",)),
    ("Opened_tables", "mysql.opened_resources", ("table",)),
    ("Opened_table_definitions", "mysql.opened_resources", ("table_definition",)),
    ("Mysqlx_worker_threads", "mysql.mysqlx_worker_threads", ("available",)),
    ("Mysqlx_worker_threads_active", "mysql.mysqlx_worker_threads", ("active",)),
    ("Mysqlx_connections_accepted", "mysql.mysqlx_connections", ("accepted",)),
    ("Mysqlx_connections_closed", "mysql.mysqlx_connections", ("closed",)),
    ("Mysqlx_connections_rejected", "mysql.mysqlx_connections", ("rejected",)),
    ("Uptime", "mysql.uptime", ()),
    ("Innodb_page_size", "mysql.page_size", ()),
)


def mysql_global_status(df: DataFrame) -> DataFrame:
    """``SHOW GLOBAL STATUS`` maps → one row per recorded metric.

    Re-expresses the global-status half of the mysql receiver
    (``scraper.go:134-450``) over rows holding the status variables as
    a JSON object (the at-rest form of the name→value result set):

    - the 107-case switch maps status variables to metrics with their
      attr values (buffer-pool page/operation kinds, connection error
      kinds, command/handler/sort/join/lock kinds, …); a present
      variable that fails ParseInt is the reference's AddPartial →
      ``my_ok=false`` row; an absent variable emits nothing;
    - ``Innodb_buffer_pool_pages_misc`` is special-cased: an
      unparseable value is silently IGNORED (no partial error —
      scraper.go:164-170, mysql bug 59550);
    - derived clean/dirty splits (recordDataPages/recordDataUsage,
      :673-703): dirty first — if it fails to parse both points are
      lost (one ``my_ok=false`` row); clean = data − dirty.

    Plan: the Go ``for k, v := range`` loop is literally an explode of
    the map entries BROADCAST-equi-joined to the 107-row switch table
    — one O(1) hash probe per present variable. (The first cut probed
    the map once per switch case: O(cases × keys) string compares per
    row, 13× slower at sf0.1.) Derived splits are four map probes in
    a second zero-shuffle branch. No shuffle beyond the broadcast.
    """
    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(key, metric, attrs[0] if attrs else None,
          key == "Innodb_buffer_pool_pages_misc")
         for key, metric, attrs in _MYSQL_GLOBAL_STATS],
        "key string, metric string, attr string, is_misc boolean",
    )

    mp = F.from_json(F.col("body"), "map<string,string>")
    base = [c for c in df.columns if c != "body"]
    staged = df.select(*base, mp.alias("_g"))

    ents = staged.select(
        *base, F.explode(F.col("_g")).alias("_k", "_v"),
    )
    parsed = F.col("_v").try_cast("bigint")
    joined = ents.join(
        F.broadcast(dim), ents["_k"] == dim["key"], "inner",
    ).select(
        *base,
        F.col("metric").alias("my_metric"),
        F.col("attr").alias("my_attr"),
        parsed.alias("my_value"),
        # misc ok is always true; its bad values are dropped below
        (parsed.isNotNull() | F.col("is_misc")).alias("my_ok"),
        (F.col("is_misc") & parsed.isNull()).alias("_drop"),
    ).filter(~F.col("_drop")).drop("_drop")

    # recordDataPages / recordDataUsage (:673-703) — four probes
    mpc = F.col("_g")
    derived = []
    ns = F.lit(None).cast("string")
    for metric, dirty_key, data_key in (
        ("mysql.buffer_pool.data_pages", "Innodb_buffer_pool_pages_dirty",
         "Innodb_buffer_pool_pages_data"),
        ("mysql.buffer_pool.usage", "Innodb_buffer_pool_bytes_dirty",
         "Innodb_buffer_pool_bytes_data"),
    ):
        dirty = F.try_element_at(mpc, F.lit(dirty_key)).try_cast("bigint")
        data = F.try_element_at(mpc, F.lit(data_key)).try_cast("bigint")
        derived.append(F.struct(
            F.lit(metric).alias("metric"), F.lit("dirty").alias("attr"),
            F.lit(True).alias("present"),
            dirty.alias("value"), dirty.isNotNull().alias("ok"),
        ))
        derived.append(F.struct(
            F.lit(metric).alias("metric"), F.lit("clean").alias("attr"),
            dirty.isNotNull().alias("present"),
            (data - dirty).alias("value"),
            data.isNotNull().alias("ok"),
        ))
    der = staged.select(
        *base,
        F.explode(
            F.filter(F.array(*derived), lambda x: x["present"])
        ).alias("_m"),
    )
    m = F.col("_m")
    der = der.select(
        *base,
        m["metric"].alias("my_metric"),
        m["attr"].alias("my_attr"),
        m["value"].alias("my_value"),
        m["ok"].alias("my_ok"),
    )
    return joined.unionByName(der)


# ---------------------------------------------------------------------------
# mongodb receiver (receiver/mongodbreceiver/metrics.go + scraper.go)
# ---------------------------------------------------------------------------


def mongodb_stats(
    df: DataFrame,
    mongo_version: str = "5.0",
) -> DataFrame:
    """MongoDB dbStats / serverStatus documents → metric rows.

    Re-expresses the stateless core of the mongodb receiver
    (``metrics.go:62-521`` + ``scraper.go:233-270``) over rows of the
    command responses at rest (``kind`` ∈ dbstats | serverstatus |
    admin, one JSON document per row, ``database`` carries the db
    resource attr):

    - dbstats (:62-143): collections/dataSize/storageSize/objects/
      indexes/indexSize; ``numExtents`` only when the server version
      is < 4.4 (the MMAPv1 cleanup gate, mirrored by the
      ``mongo_version`` param);
    - per-db serverStatus (:145-188): connections
      active/available/current, mem resident/virtual (Mi → bytes
      ×1048576), metrics.document inserted/updated/deleted;
    - admin serverStatus (:189-521): session count and cache
      operations gated on ``storageEngine.name == wiredTiger`` (cache
      hit = requested − read, miss recorded first), opLatencies
      read/write/command, opcounters (6 operations), globalLock
      activeClients readers/writers + totalTime µs→ms, wtcache bytes
      read, extra_info page_faults, cursor open/timedOut, network
      bytesIn/bytesOut/numRequests, uptimeMillis, ``ok`` health.

    A missing/non-numeric path is the reference's AddPartial →
    ``mb_ok=false`` row. The cross-scrape ``*.per.second`` telegraf
    rates and the top/index per-collection stats are session-stateful
    / fan-out paths intentionally not carried here (the streaming
    pipeline owns rate state). Plan: one try_parse_json + inline
    explode, zero shuffle/Python.
    """
    v = F.try_parse_json(F.col("body"))
    df = df.withColumn("_v", v)
    v = F.col("_v")
    kind = F.col("kind")

    ns = F.lit(None).cast("string")
    entries = []

    def mk(cond, metric, attr, vi, ok):
        entries.append(F.struct(
            F.lit(metric).alias("metric"),
            (F.lit(attr) if attr else ns).alias("attr"),
            cond.alias("present"),
            vi.cast("bigint").alias("value"),
            ok.alias("ok"),
        ))

    is_db = kind == "dbstats"
    for path, metric in (
        ("collections", "mongodb.collection.count"),
        ("dataSize", "mongodb.data.size"),
        ("storageSize", "mongodb.storage.size"),
        ("objects", "mongodb.object.count"),
        ("indexes", "mongodb.index.count"),
        ("indexSize", "mongodb.index.size"),
    ):
        p = _json_num(v, "$." + path)
        mk(is_db, metric, None, p, p.isNotNull())
    major, minor = (mongo_version.split(".") + ["0"])[:2]
    if (int(major), int(minor)) < (4, 4):
        p = _json_num(v, "$.numExtents")
        mk(is_db, "mongodb.extent.count", None, p, p.isNotNull())

    is_ss = kind == "serverstatus"
    for ct in ("active", "available", "current"):
        p = _json_num(v, "$.connections." + ct)
        mk(is_ss, "mongodb.connection.count", ct, p, p.isNotNull())
    for mt in ("resident", "virtual"):
        p = _json_num(v, "$.mem." + mt)
        mk(is_ss, "mongodb.memory.usage", mt, p * 1048576, p.isNotNull())
    for op, attr in (("inserted", "insert"), ("updated", "update"),
                     ("deleted", "delete")):
        p = _json_num(v, "$.metrics.document." + op)
        mk(is_ss, "mongodb.document.operation.count", attr, p,
           p.isNotNull())

    is_adm = kind == "admin"
    engine = F.try_variant_get(v, "$.storageEngine.name", "string")
    is_wt = engine == "wiredTiger"
    p = _json_num(v, "$.wiredTiger.session['open session count']")
    mk(is_adm & (engine.isNull() | is_wt), "mongodb.session.count",
       None, F.when(is_wt, p),
       F.when(is_wt, p.isNotNull()).otherwise(F.lit(False)))
    for lat in ("read", "write", "command"):
        p = _json_num(v, f"$.opLatencies.{lat}s.latency")
        mk(is_adm, "mongodb.operation.latency.time", lat, p,
           p.isNotNull())
    for op in ("insert", "query", "update", "delete", "getmore",
               "command"):
        p = _json_num(v, "$.opcounters." + op)
        mk(is_adm, "mongodb.operation.count", op, p, p.isNotNull())
    p = _json_num(v, "$.globalLock.activeClients.writers")
    mk(is_adm, "mongodb.active.writes", None, p, p.isNotNull())
    p = _json_num(v, "$.globalLock.activeClients.readers")
    mk(is_adm, "mongodb.active.reads", None, p, p.isNotNull())
    p = _json_num(v, "$.wiredTiger.cache['bytes read into cache']")
    mk(is_adm, "mongodb.wtcache.bytes.read", None, p, p.isNotNull())
    p = _json_num(v, "$.extra_info.page_faults")
    mk(is_adm, "mongodb.page_faults", None, p, p.isNotNull())
    miss = _json_num(v, "$.wiredTiger.cache['pages read into cache']")
    req = _json_num(v, "$.wiredTiger.cache['pages requested from the cache']")
    mk(is_adm & (engine.isNull() | is_wt), "mongodb.cache.operations",
       "miss", F.when(is_wt, miss),
       F.when(is_wt, miss.isNotNull()).otherwise(F.lit(False)))
    mk(is_adm & is_wt & miss.isNotNull(), "mongodb.cache.operations",
       "hit", req - miss, req.isNotNull())
    p = _json_num(v, "$.globalLock.totalTime")
    # integer µs -> ms division (Go int64 / 1000 truncates)
    mk(is_adm, "mongodb.global_lock.time", None,
       (p.cast("bigint") - F.pmod(p.cast("bigint"), 1000)) / 1000, p.isNotNull())
    p = _json_num(v, "$.metrics.cursor.open.total")
    mk(is_adm, "mongodb.cursor.count", None, p, p.isNotNull())
    p = _json_num(v, "$.metrics.cursor.timedOut")
    mk(is_adm, "mongodb.cursor.timeout.count", None, p, p.isNotNull())
    for key, metric in (
        ("bytesIn", "mongodb.network.io.receive"),
        ("bytesOut", "mongodb.network.io.transmit"),
        ("numRequests", "mongodb.network.request.count"),
    ):
        p = _json_num(v, "$.network." + key)
        mk(is_adm, metric, None, p, p.isNotNull())
    p = _json_num(v, "$.uptimeMillis")
    mk(is_adm, "mongodb.uptime", None, p, p.isNotNull())
    p = _json_num(v, "$.ok")
    mk(is_adm, "mongodb.health", None, p, p.isNotNull())

    exploded = df.select(
        *[c for c in df.columns if c not in ("_v", "body")],
        F.explode(
            F.filter(F.array(*entries), lambda x: x["present"])
        ).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("mb_metric"),
        m["attr"].alias("mb_attr"),
        m["value"].alias("mb_value"),
        m["ok"].alias("mb_ok"),
    )


# ---------------------------------------------------------------------------
# aerospike receiver (receiver/aerospikereceiver/scraper.go:140-400)
# ---------------------------------------------------------------------------

# (info key, metric, attr values in Record-call order) — generated 1:1
# from the emitNode / emitNamespace switches + generated_metrics attr
# strings. All values ParseInt.
_AEROSPIKE_NODE = (
    ('client_connections', 'aerospike.node.connection.open', ('client',)),
    ('fabric_connections', 'aerospike.node.connection.open', ('fabric',)),
    ('heartbeat_connections', 'aerospike.node.connection.open', ('heartbeat',)),
    ('client_connections_closed', 'aerospike.node.connection.count', ('client', 'close')),
    ('client_connections_opened', 'aerospike.node.connection.count', ('client', 'open')),
    ('fabric_connections_closed', 'aerospike.node.connection.count', ('fabric', 'close')),
    ('fabric_connections_opened', 'aerospike.node.connection.count', ('fabric', 'open')),
    ('heartbeat_connections_closed', 'aerospike.node.connection.count', ('heartbeat', 'close')),
    ('heartbeat_connections_opened', 'aerospike.node.connection.count', ('heartbeat', 'open')),
    ('system_free_mem_pct', 'aerospike.node.memory.free', ()),
    ('query_tracked', 'aerospike.node.query.tracked', ()),
)

_AEROSPIKE_NAMESPACE = (
    ('device_available_pct', 'aerospike.namespace.disk.available', ()),
    ('memory_free_pct', 'aerospike.namespace.memory.free', ()),
    ('memory_used_data_bytes', 'aerospike.namespace.memory.usage', ('data',)),
    ('memory_used_index_bytes', 'aerospike.namespace.memory.usage', ('index',)),
    ('memory_used_sindex_bytes', 'aerospike.namespace.memory.usage', ('secondary_index',)),
    ('memory_used_set_index_bytes', 'aerospike.namespace.memory.usage', ('set_index',)),
    ('scan_aggr_abort', 'aerospike.namespace.scan.count', ('aggregation', 'abort')),
    ('scan_aggr_complete', 'aerospike.namespace.scan.count', ('aggregation', 'complete')),
    ('scan_aggr_error', 'aerospike.namespace.scan.count', ('aggregation', 'error')),
    ('scan_basic_abort', 'aerospike.namespace.scan.count', ('basic', 'abort')),
    ('scan_basic_complete', 'aerospike.namespace.scan.count', ('basic', 'complete')),
    ('scan_basic_error', 'aerospike.namespace.scan.count', ('basic', 'error')),
    ('scan_ops_bg_abort', 'aerospike.namespace.scan.count', ('ops_background', 'abort')),
    ('scan_ops_bg_complete', 'aerospike.namespace.scan.count', ('ops_background', 'complete')),
    ('scan_ops_bg_error', 'aerospike.namespace.scan.count', ('ops_background', 'error')),
    ('scan_udf_bg_abort', 'aerospike.namespace.scan.count', ('udf_background', 'abort')),
    ('scan_udf_bg_complete', 'aerospike.namespace.scan.count', ('udf_background', 'complete')),
    ('scan_udf_bg_error', 'aerospike.namespace.scan.count', ('udf_background', 'error')),
    ('query_aggr_abort', 'aerospike.namespace.query.count', ('aggregation', 'secondary', 'abort')),
    ('query_aggr_complete', 'aerospike.namespace.query.count', ('aggregation', 'secondary', 'complete')),
    ('query_aggr_error', 'aerospike.namespace.query.count', ('aggregation', 'secondary', 'error')),
    ('query_basic_abort', 'aerospike.namespace.query.count', ('basic', 'secondary', 'abort')),
    ('query_basic_complete', 'aerospike.namespace.query.count', ('basic', 'secondary', 'complete')),
    ('query_basic_error', 'aerospike.namespace.query.count', ('basic', 'secondary', 'error')),
    ('query_ops_bg_abort', 'aerospike.namespace.query.count', ('ops_background', 'secondary', 'abort')),
    ('query_ops_bg_complete', 'aerospike.namespace.query.count', ('ops_background', 'secondary', 'complete')),
    ('query_ops_bg_error', 'aerospike.namespace.query.count', ('ops_background', 'secondary', 'error')),
    ('query_udf_bg_abort', 'aerospike.namespace.query.count', ('udf_background', 'secondary', 'abort')),
    ('query_udf_bg_complete', 'aerospike.namespace.query.count', ('udf_background', 'secondary', 'complete')),
    ('query_udf_bg_error', 'aerospike.namespace.query.count', ('udf_background', 'secondary', 'error')),
    ('pi_query_aggr_abort', 'aerospike.namespace.query.count', ('aggregation', 'primary', 'abort')),
    ('pi_query_aggr_complete', 'aerospike.namespace.query.count', ('aggregation', 'primary', 'complete')),
    ('pi_query_aggr_error', 'aerospike.namespace.query.count', ('aggregation', 'primary', 'error')),
    ('pi_query_long_basic_abort', 'aerospike.namespace.query.count', ('long_basic', 'primary', 'abort')),
    ('pi_query_long_basic_complete', 'aerospike.namespace.query.count', ('long_basic', 'primary', 'complete')),
    ('pi_query_long_basic_error', 'aerospike.namespace.query.count', ('long_basic', 'primary', 'error')),
    ('pi_query_ops_bg_abort', 'aerospike.namespace.query.count', ('ops_background', 'primary', 'abort')),
    ('pi_query_ops_bg_basic_complete', 'aerospike.namespace.query.count', ('ops_background', 'primary', 'complete')),
    ('pi_query_ops_bg_basic_error', 'aerospike.namespace.query.count', ('ops_background', 'primary', 'error')),
    ('pi_query_short_basic_timeout', 'aerospike.namespace.query.count', ('short_basic', 'primary', 'timeout')),
    ('pi_query_short_basic_complete', 'aerospike.namespace.query.count', ('short_basic', 'primary', 'complete')),
    ('pi_query_short_basic_error', 'aerospike.namespace.query.count', ('short_basic', 'primary', 'error')),
    ('pi_query_udf_bg_abort', 'aerospike.namespace.query.count', ('udf_background', 'primary', 'abort')),
    ('pi_query_udf_bg_complete', 'aerospike.namespace.query.count', ('udf_background', 'primary', 'complete')),
    ('pi_query_udf_bg_error', 'aerospike.namespace.query.count', ('udf_background', 'primary', 'error')),
    ('si_query_aggr_abort', 'aerospike.namespace.query.count', ('aggregation', 'secondary', 'abort')),
    ('si_query_aggr_complete', 'aerospike.namespace.query.count', ('aggregation', 'secondary', 'complete')),
    ('si_query_aggr_error', 'aerospike.namespace.query.count', ('aggregation', 'secondary', 'error')),
    ('si_query_long_basic_abort', 'aerospike.namespace.query.count', ('long_basic', 'secondary', 'abort')),
    ('si_query_long_basic_complete', 'aerospike.namespace.query.count', ('long_basic', 'secondary', 'complete')),
    ('si_query_long_basic_error', 'aerospike.namespace.query.count', ('long_basic', 'secondary', 'error')),
    ('si_query_ops_bg_abort', 'aerospike.namespace.query.count', ('ops_background', 'secondary', 'abort')),
    ('si_query_ops_bg_basic_complete', 'aerospike.namespace.query.count', ('ops_background', 'secondary', 'complete')),
    ('si_query_ops_bg_basic_error', 'aerospike.namespace.query.count', ('ops_background', 'secondary', 'error')),
    ('si_query_short_basic_timeout', 'aerospike.namespace.query.count', ('short_basic', 'secondary', 'timeout')),
    ('si_query_short_basic_complete', 'aerospike.namespace.query.count', ('short_basic', 'secondary', 'complete')),
    ('si_query_short_basic_error', 'aerospike.namespace.query.count', ('short_basic', 'secondary', 'error')),
    ('si_query_udf_bg_abort', 'aerospike.namespace.query.count', ('udf_background', 'secondary', 'abort')),
    ('si_query_udf_bg_complete', 'aerospike.namespace.query.count', ('udf_background', 'secondary', 'complete')),
    ('si_query_udf_bg_error', 'aerospike.namespace.query.count', ('udf_background', 'secondary', 'error')),
    ('geo_region_query_cells', 'aerospike.namespace.geojson.region_query_cells', ()),
    ('geo_region_query_falsepos', 'aerospike.namespace.geojson.region_query_false_positive', ()),
    ('geo_region_query_points', 'aerospike.namespace.geojson.region_query_points', ()),
    ('geo_region_query_reqs', 'aerospike.namespace.geojson.region_query_requests', ()),
    ('client_delete_error', 'aerospike.namespace.transaction.count', ('delete', 'error')),
    ('client_delete_filtered_out', 'aerospike.namespace.transaction.count', ('delete', 'filtered_out')),
    ('client_delete_not_found', 'aerospike.namespace.transaction.count', ('delete', 'not_found')),
    ('client_delete_success', 'aerospike.namespace.transaction.count', ('delete', 'success')),
    ('client_delete_timeout', 'aerospike.namespace.transaction.count', ('delete', 'timeout')),
    ('client_read_error', 'aerospike.namespace.transaction.count', ('read', 'error')),
    ('client_read_filtered_out', 'aerospike.namespace.transaction.count', ('read', 'filtered_out')),
    ('client_read_not_found', 'aerospike.namespace.transaction.count', ('read', 'not_found')),
    ('client_read_success', 'aerospike.namespace.transaction.count', ('read', 'success')),
    ('client_read_timeout', 'aerospike.namespace.transaction.count', ('read', 'timeout')),
    ('client_udf_error', 'aerospike.namespace.transaction.count', ('udf', 'error')),
    ('client_udf_filtered_out', 'aerospike.namespace.transaction.count', ('udf', 'filtered_out')),
    ('client_udf_not_found', 'aerospike.namespace.transaction.count', ('udf', 'not_found')),
    ('client_udf_success', 'aerospike.namespace.transaction.count', ('udf', 'success')),
    ('client_udf_timeout', 'aerospike.namespace.transaction.count', ('udf', 'timeout')),
    ('client_write_error', 'aerospike.namespace.transaction.count', ('write', 'error')),
    ('client_write_filtered_out', 'aerospike.namespace.transaction.count', ('write', 'filtered_out')),
    ('client_write_not_found', 'aerospike.namespace.transaction.count', ('write', 'not_found')),
    ('client_write_success', 'aerospike.namespace.transaction.count', ('write', 'success')),
    ('client_write_timeout', 'aerospike.namespace.transaction.count', ('write', 'timeout')),
)


def aerospike_info(df: DataFrame) -> DataFrame:
    """Aerospike info key/value maps → one row per recorded metric.

    Re-expresses ``receiver/aerospikereceiver/scraper.go:140-400``
    over rows holding one node-info or namespace-info map as JSON
    (``kind`` ∈ node | namespace; the namespace map carries the
    ``node``/``name`` keys the scraper injects, :182-186): the
    emitNode (11-case) and emitNamespace (84-case) switches with
    connection type/op, memory component, scan/query type × index ×
    result, geojson, and client-transaction type × result attr fans.
    Only present keys record; a present value that fails ParseInt is
    the reference's AddPartial → ``as_ok=false`` row.

    Plan: map-entry explode BROADCAST-joined to the 95-row switch
    table on (kind, key) — one hash probe per present stat instead of
    the O(cases × keys) per-row probing of the first cut (8× at
    sf0.1). No shuffle beyond the broadcast.
    """
    spark = df.sparkSession
    rows = []
    for table, kname in ((_AEROSPIKE_NODE, "node"),
                         (_AEROSPIKE_NAMESPACE, "namespace")):
        for key, metric, attrs in table:
            a = list(attrs) + [None] * (3 - len(attrs))
            rows.append((kname, key, metric, a[0], a[1], a[2]))
    dim = spark.createDataFrame(
        rows, "dkind string, key string, metric string, a1 string,"
              " a2 string, a3 string",
    )

    mp = F.from_json(F.col("body"), "map<string,string>")
    base = [c for c in df.columns if c not in ("kind", "body")]
    staged = df.select(*base, F.col("kind").alias("kind"),
                       mp.alias("_i"))
    mpc = F.col("_i")
    ents = staged.select(
        *base, "kind",
        F.try_element_at(mpc, F.lit("node")).alias("as_node"),
        F.when(F.col("kind") == "namespace",
               F.try_element_at(mpc, F.lit("name"))).alias("as_namespace"),
        F.explode(mpc).alias("_k", "_v"),
    )
    parsed = F.col("_v").try_cast("bigint")
    return ents.join(
        F.broadcast(dim),
        (ents["kind"] == dim["dkind"]) & (ents["_k"] == dim["key"]),
        "inner",
    ).select(
        *base, "kind", "as_node", "as_namespace",
        F.col("metric").alias("as_metric"),
        F.col("a1").alias("as_a1"),
        F.col("a2").alias("as_a2"),
        F.col("a3").alias("as_a3"),
        parsed.alias("as_value"),
        parsed.isNotNull().alias("as_ok"),
    )


# ---------------------------------------------------------------------------
# podman receiver (receiver/podmanreceiver/receiver.go:134-180)
# ---------------------------------------------------------------------------


def podman_stats(df: DataFrame) -> DataFrame:
    """podman libpod container stats → metric rows.

    Re-expresses ``receiver/podmanreceiver/receiver.go:134-180`` over
    rows of one libpod ``containerStats`` JSON each (+ the container's
    image from the paired /containers/json entry): cpu
    system/total/percpu seconds via the ns→s TRUNCATING division
    (:178-180), cpu/memory percent gauges, memory usage/limit, blockio
    read/write — and the reference's swapped network mapping carried
    faithfully: ``NetOutput`` feeds rx_bytes and ``NetInput`` feeds
    tx_bytes (:160-161). Plan: one from_json + inline explode, zero
    shuffle/Python.
    """
    s = F.from_json(F.col("body"), (
        "struct<ContainerID: string, Name: string, PerCPU: array<bigint>,"
        " CPU: double, CPUNano: bigint, CPUSystemNano: bigint,"
        " MemUsage: bigint, MemLimit: bigint, MemPerc: double,"
        " NetInput: bigint, NetOutput: bigint, BlockInput: bigint,"
        " BlockOutput: bigint>"
    ))
    base = [c for c in df.columns if c != "body"]
    df = df.select(*base, s.alias("_s"))
    s = F.col("_s")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    z = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
    secs = lambda c: F.floor(z(c) / 1_000_000_000)  # noqa: E731

    def mk(metric, vi, vd, core=None):
        return F.struct(
            F.lit(metric).alias("metric"),
            (core if core is not None else ns).alias("core"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
        )

    scalar = F.array(
        mk("container.cpu.usage.system", secs(s["CPUSystemNano"]), nd),
        mk("container.cpu.usage.total", secs(s["CPUNano"]), nd),
        mk("container.cpu.percent", nl, F.coalesce(s["CPU"], F.lit(0.0))),
        # reference swap: NetOutput -> rx, NetInput -> tx
        mk("container.network.io.usage.rx_bytes", z(s["NetOutput"]), nd),
        mk("container.network.io.usage.tx_bytes", z(s["NetInput"]), nd),
        mk("container.memory.usage.total", z(s["MemUsage"]), nd),
        mk("container.memory.usage.limit", z(s["MemLimit"]), nd),
        mk("container.memory.percent", nl,
           F.coalesce(s["MemPerc"], F.lit(0.0))),
        mk("container.blockio.io_service_bytes_recursive.read",
           z(s["BlockInput"]), nd),
        mk("container.blockio.io_service_bytes_recursive.write",
           z(s["BlockOutput"]), nd),
    )
    percpu = F.coalesce(s["PerCPU"], F.array())
    percpu_entries = F.when(F.size(percpu) > 0, F.zip_with(
        percpu,
        F.sequence(F.lit(0), F.greatest(F.size(percpu) - 1, F.lit(0))),
        lambda v, i: mk("container.cpu.usage.percpu", F.floor(
            z(v) / 1_000_000_000), nd,
            core=F.concat(F.lit("cpu"), i.cast("string"))),
    )).otherwise(F.array().cast(
        "array<struct<metric:string,core:string,value:bigint,"
        "value_d:double>>"))

    exploded = df.select(
        *base,
        F.lit("podman").alias("pm_runtime"),
        s["Name"].alias("pm_name"),
        s["ContainerID"].alias("pm_container_id"),
        F.explode(F.concat(scalar, percpu_entries)).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("pm_metric"),
        m["core"].alias("pm_core"),
        m["value"].alias("pm_value"),
        m["value_d"].alias("pm_value_d"),
    )


# ---------------------------------------------------------------------------
# nsxt receiver (receiver/nsxtreceiver/scraper.go:186-233)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# nsxt receiver (receiver/nsxtreceiver/scraper.go:186-233)
# ---------------------------------------------------------------------------


def nsxt_stats(df: DataFrame) -> DataFrame:
    """NSX-T interface/node status documents → metric rows.

    Re-expresses ``receiver/nsxtreceiver/scraper.go:186-233`` over rows
    of one interface-status or node-status JSON each (``kind`` ∈
    interface | node, identity fields inline):

    - interface: dropped/errored packet counts per direction plus the
      DERIVED success = packets − dropped − errors, and rx/tx byte io;
    - node: cpu utilization for the dpdk(datapath) / non-dpdk
      (services) cores, memory + cache usage, filesystem used and the
      derived available = total − used, and utilization =
      used / max(total, 1) (the division-by-zero guard, :227).
    """
    kind = F.col("kind")
    iface = F.from_json(F.col("body"), (
        "struct<interface_id: string, node_name: string,"
        " node_type: string, node_id: string, rx_bytes: bigint,"
        " rx_packets: bigint, rx_dropped: bigint, rx_errors: bigint,"
        " tx_bytes: bigint, tx_packets: bigint, tx_dropped: bigint,"
        " tx_errors: bigint>"
    ))
    node = F.from_json(F.col("body"), (
        "struct<node_name: string, node_type: string, node_id: string,"
        " system_status: struct<cpu_usage: struct<"
        "avg_cpu_core_usage_dpdk: double,"
        " avg_cpu_core_usage_non_dpdk: double>, mem_used: bigint,"
        " mem_cache: bigint, disk_space_used: bigint,"
        " disk_space_total: bigint>>"
    ))
    base = [c for c in df.columns if c not in ("kind", "body")]
    df = df.select(*base, kind.alias("_kind"), iface.alias("_if"),
                   node.alias("_n"))
    kind, iface, node = F.col("_kind"), F.col("_if"), F.col("_n")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    z = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731

    def mk(metric, direction, ptype, state, cls, present, vi, vd):
        return F.struct(
            F.lit(metric).alias("metric"),
            (F.lit(direction) if direction else ns).alias("direction"),
            (F.lit(ptype) if ptype else ns).alias("ptype"),
            (F.lit(state) if state else ns).alias("state"),
            (F.lit(cls) if cls else ns).alias("class"),
            present.alias("present"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
        )

    is_if = kind == "interface"
    is_node = kind == "node"
    ss = node["system_status"]
    entries = [
        mk("nsxt.node.network.packet.count", "received", "dropped",
           None, None, is_if, z(iface["rx_dropped"]), nd),
        mk("nsxt.node.network.packet.count", "received", "errored",
           None, None, is_if, z(iface["rx_errors"]), nd),
        mk("nsxt.node.network.packet.count", "received", "success",
           None, None, is_if,
           z(iface["rx_packets"]) - z(iface["rx_dropped"])
           - z(iface["rx_errors"]), nd),
        mk("nsxt.node.network.packet.count", "transmitted", "dropped",
           None, None, is_if, z(iface["tx_dropped"]), nd),
        mk("nsxt.node.network.packet.count", "transmitted", "errored",
           None, None, is_if, z(iface["tx_errors"]), nd),
        mk("nsxt.node.network.packet.count", "transmitted", "success",
           None, None, is_if,
           z(iface["tx_packets"]) - z(iface["tx_dropped"])
           - z(iface["tx_errors"]), nd),
        mk("nsxt.node.network.io", "received", None, None, None,
           is_if, z(iface["rx_bytes"]), nd),
        mk("nsxt.node.network.io", "transmitted", None, None, None,
           is_if, z(iface["tx_bytes"]), nd),
        mk("nsxt.node.cpu.utilization", None, None, None, "datapath",
           is_node, nl,
           F.coalesce(ss["cpu_usage"]["avg_cpu_core_usage_dpdk"],
                      F.lit(0.0))),
        mk("nsxt.node.cpu.utilization", None, None, None, "services",
           is_node, nl,
           F.coalesce(ss["cpu_usage"]["avg_cpu_core_usage_non_dpdk"],
                      F.lit(0.0))),
        mk("nsxt.node.memory.usage", None, None, None, None, is_node,
           z(ss["mem_used"]), nd),
        mk("nsxt.node.memory.cache.usage", None, None, None, None,
           is_node, z(ss["mem_cache"]), nd),
        mk("nsxt.node.filesystem.usage", None, None, "used", None,
           is_node, z(ss["disk_space_used"]), nd),
        mk("nsxt.node.filesystem.usage", None, None, "available", None,
           is_node,
           z(ss["disk_space_total"]) - z(ss["disk_space_used"]), nd),
        mk("nsxt.node.filesystem.utilization", None, None, None, None,
           is_node, nl,
           z(ss["disk_space_used"]).cast("double")
           / F.greatest(z(ss["disk_space_total"]).cast("double"),
                        F.lit(1.0))),
    ]
    exploded = df.select(
        *base,
        F.when(is_if, iface["interface_id"]).alias("nx_device_id"),
        F.coalesce(
            F.when(is_if, iface["node_name"]).otherwise(
                node["node_name"]), F.lit(""),
        ).alias("nx_node_name"),
        F.coalesce(
            F.when(is_if, iface["node_type"]).otherwise(
                node["node_type"]), F.lit(""),
        ).alias("nx_node_type"),
        F.coalesce(
            F.when(is_if, iface["node_id"]).otherwise(node["node_id"]),
            F.lit(""),
        ).alias("nx_node_id"),
        F.explode(
            F.filter(F.array(*entries), lambda x: x["present"])
        ).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("nx_metric"),
        m["direction"].alias("nx_direction"),
        m["ptype"].alias("nx_packet_type"),
        m["state"].alias("nx_disk_state"),
        m["class"].alias("nx_class"),
        m["value"].alias("nx_value"),
        m["value_d"].alias("nx_value_d"),
    )


# ---------------------------------------------------------------------------
# bigip receiver (receiver/bigipreceiver/scraper.go:141-303)
# ---------------------------------------------------------------------------

_BIGIP_KINDS = {
    # kind -> (metric prefix, side prefix, has sessions, has members)
    "virtual_server": ("bigip.virtual_server.", "clientside", False,
                       False),
    "pool": ("bigip.pool.", "serverside", False, True),
    "pool_member": ("bigip.pool_member.", "serverside", True, False),
    "node": ("bigip.node.", "serverside", True, False),
}


def bigip_stats(df: DataFrame) -> DataFrame:
    """F5 BIG-IP nestedStats entries → metric rows.

    Re-expresses ``receiver/bigipreceiver/scraper.go:141-303`` over
    rows of one ``nestedStats.entries`` object per virtual-server /
    pool / pool-member / node (the iControl API's literal dotted keys:
    ``clientside.bitsIn``/``serverside.pktsOut``/
    ``status.availabilityState`` …): data_transmitted received/sent,
    connection/packet/request counts, pool member.count active +
    derived inactive = memberCnt − activeMemberCnt (:189-190),
    pool-member/node session counts, and the availability
    (offline/unknown/available one-hot via HasPrefix available|offline)
    and enabled (HasPrefix enabled) triples every kind emits.
    Resources: tmName/nodeName:port/addr/poolName per kind.
    """
    kind = F.col("kind")
    v = F.try_parse_json(F.col("body"))
    base = [c for c in df.columns if c not in ("kind", "body")]
    df = df.select(*base, kind.alias("_kind"), v.alias("_v"))
    kind, v = F.col("_kind"), F.col("_v")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")

    def val(key: str) -> Column:
        return F.coalesce(F.try_variant_get(
            v, f"$['{key}'].value", "bigint"), F.lit(0))

    def desc(key: str) -> Column:
        return F.coalesce(F.try_variant_get(
            v, f"$['{key}'].description", "string"), F.lit(""))

    def mk(metric, attr, present, vi):
        return F.struct(
            metric.alias("metric") if not isinstance(metric, str)
            else F.lit(metric).alias("metric"),
            (F.lit(attr) if attr else ns).alias("attr"),
            present.alias("present"),
            vi.cast("bigint").alias("value"),
        )

    avail = desc("status.availabilityState")
    enabled = desc("status.enabledState")
    entries = []
    for k, (prefix, side, has_sessions, has_members) in \
            _BIGIP_KINDS.items():
        this = kind == k
        entries += [
            mk(prefix + "data.transmitted", "received", this,
               val(f"{side}.bitsIn")),
            mk(prefix + "data.transmitted", "sent", this,
               val(f"{side}.bitsOut")),
            mk(prefix + "connection.count", None, this,
               val(f"{side}.curConns")),
            mk(prefix + "packet.count", "received", this,
               val(f"{side}.pktsIn")),
            mk(prefix + "packet.count", "sent", this,
               val(f"{side}.pktsOut")),
            mk(prefix + "request.count", None, this,
               val("totRequests")),
        ]
        if has_sessions:
            entries.append(mk(prefix + "session.count", None, this,
                              val("curSessions")))
        if has_members:
            entries.append(mk(prefix + "member.count", "active", this,
                              val("activeMemberCnt")))
            entries.append(mk(
                prefix + "member.count", "inactive", this,
                val("memberCnt") - val("activeMemberCnt")))
        is_avail = avail.startswith("available")
        is_off = avail.startswith("offline")
        entries += [
            mk(prefix + "availability", "offline", this,
               F.when(is_off, 1).otherwise(0)),
            mk(prefix + "availability", "unknown", this,
               F.when(~is_avail & ~is_off, 1).otherwise(0)),
            mk(prefix + "availability", "available", this,
               F.when(is_avail, 1).otherwise(0)),
            mk(prefix + "enabled", "disabled", this,
               F.when(enabled.startswith("enabled"), 0).otherwise(1)),
            mk(prefix + "enabled", "enabled", this,
               F.when(enabled.startswith("enabled"), 1).otherwise(0)),
        ]

    name = (
        F.when(kind == "pool_member", F.concat(
            desc("nodeName"), F.lit(":"),
            F.coalesce(F.try_variant_get(v, "$.port.value", "bigint"),
                       F.lit(0)).cast("string")))
        .when(kind == "node", desc("tmName"))
        .otherwise(desc("tmName"))
    )
    exploded = df.select(
        *base,
        kind.alias("kind"),
        name.alias("bp_name"),
        F.when(kind.isin("pool_member", "node"), desc("addr"))
            .alias("bp_ip"),
        F.when(kind == "pool_member", desc("poolName"))
            .when(kind == "virtual_server", desc("poolName"))
            .alias("bp_pool"),
        F.explode(
            F.filter(F.array(*entries), lambda x: x["present"])
        ).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("bp_metric"),
        m["attr"].alias("bp_attr"),
        m["value"].alias("bp_value"),
    )


# ---------------------------------------------------------------------------
# chrony receiver (receiver/chronyreceiver/scraper.go:31-69)
# ---------------------------------------------------------------------------


def chrony_tracking(df: DataFrame) -> DataFrame:
    """chronyd tracking replies → the 7 ntp.* metrics.

    Re-expresses ``receiver/chronyreceiver/scraper.go:31-69`` over
    rows of one decoded tracking reply as JSON: stratum,
    current-correction / last-offset / rms-offset / frequency /
    root-delay (each tagged with the leap status, ``LeapStatus + 1``
    into the normal / insert_second / delete_second / unsynchronised
    enum) and skew. A malformed reply is the whole-scrape error →
    one ``nt_ok=false`` row.
    """
    s = F.from_json(F.col("body"), (
        "struct<stratum: bigint, leap_status: bigint,"
        " current_correction: double, last_offset: double,"
        " rms_offset: double, freq_ppm: double, skew_ppm: double,"
        " root_delay: double>"
    ))
    base = [c for c in df.columns if c != "body"]
    ok = F.schema_of_variant(
        F.try_parse_json(F.col("body"))).startswith("OBJECT")
    df = df.select(*base, s.alias("_t"),
                   F.coalesce(ok, F.lit(False)).alias("_ok"))
    s = F.col("_t")

    leap = F.element_at(
        F.array(F.lit("normal"), F.lit("insert_second"),
                F.lit("delete_second"), F.lit("unsynchronised")),
        (F.coalesce(s["leap_status"], F.lit(0)) + 1).cast("int"),
    )
    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    z = lambda c: F.coalesce(c, F.lit(0.0))  # noqa: E731

    def mk(metric, with_leap, vi, vd):
        return F.struct(
            F.lit(metric).alias("metric"),
            (leap if with_leap else ns).alias("leap"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
        )

    entries = F.array(
        mk("ntp.stratum", False, F.coalesce(s["stratum"], F.lit(0)), nd),
        mk("ntp.time.correction", True, nl, z(s["current_correction"])),
        mk("ntp.time.last_offset", True, nl, z(s["last_offset"])),
        mk("ntp.time.rms_offset", True, nl, z(s["rms_offset"])),
        mk("ntp.frequency.offset", True, nl, z(s["freq_ppm"])),
        mk("ntp.skew", False, nl, z(s["skew_ppm"])),
        mk("ntp.time.root_delay", True, nl, z(s["root_delay"])),
    )
    null_entry = F.array(F.lit(None).cast(
        "struct<metric:string,leap:string,value:bigint,value_d:double>"
    ))
    exploded = df.select(
        *base,
        F.col("_ok").alias("nt_ok"),
        F.explode(F.when(F.col("_ok"), entries).otherwise(null_entry))
            .alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("nt_metric"),
        m["leap"].alias("nt_leap_status"),
        m["value"].alias("nt_value"),
        m["value_d"].alias("nt_value_d"),
    )


# ---------------------------------------------------------------------------
# ntp receiver (receiver/ntpreceiver/receiver.go:20-29)
# ---------------------------------------------------------------------------


def ntp_offset(df: DataFrame) -> DataFrame:
    """ntp query replies → one ``ntp.offset`` gauge per reply.

    Re-expresses ``receiver/ntpreceiver/receiver.go:20-29``: the clock
    offset is recorded in nanoseconds against the queried endpoint
    resource; a failed query (null ``offset_ns``) emits nothing — the
    reference returns the error with an empty pmetric.
    """
    return df.where(F.col("offset_ns").isNotNull()).select(
        F.col("ts").alias("ts"), F.col("endpoint").alias("endpoint"),
        F.lit("ntp.offset").alias("np_metric"),
        F.col("offset_ns").cast("bigint").alias("np_value"),
    )


# ---------------------------------------------------------------------------
# filestats receiver (receiver/filestatsreceiver/scraper.go:21-49)
# ---------------------------------------------------------------------------


def file_stats(df: DataFrame) -> DataFrame:
    """glob-matched file listings → file.* metric rows.

    Re-expresses ``receiver/filestatsreceiver/scraper.go:21-49`` +
    ``filestats_linux.go``: per matched file size/mtime plus the
    linux-specific atime and ctime (ctime carries the permission
    string attribute); a row whose stat failed (``stat_ok`` false)
    contributes NO per-file metrics but still counts toward
    ``file.count`` — the reference counts len(matches) before the
    stat loop and `continue`s on error. file.count is emitted once
    per scrape (one bounded groupBy keyed by ts).
    """
    ts = F.col("ts")
    ok = df.where(F.col("stat_ok"))
    nd = F.lit(None).cast("string")
    entries = [
        F.expr("struct('file.size' as metric, cast(size as bigint) as "
               "value, cast(null as string) as perm)"),
        F.expr("struct('file.mtime' as metric, cast(mtime as bigint) "
               "as value, cast(null as string) as perm)"),
        F.expr("struct('file.atime' as metric, cast(atime as bigint) "
               "as value, cast(null as string) as perm)"),
        F.struct(F.lit("file.ctime").alias("metric"),
                 F.col("ctime").cast("bigint").alias("value"),
                 F.col("perm").alias("perm")),
    ]
    per_file = ok.select(
        ts.alias("ts"), F.col("path").alias("path"),
        F.col("name").alias("name"),
        F.explode(F.array(*entries)).alias("_m"),
    ).select("ts", "path", "name",
             F.col("_m.metric").alias("fs_metric"),
             F.col("_m.value").alias("fs_value"),
             F.col("_m.perm").alias("fs_perm"))
    counts = (df.groupBy(ts.alias("ts"))
              .agg(F.count("*").alias("_n"))
              .select("ts", nd.alias("path"), nd.alias("name"),
                      F.lit("file.count").alias("fs_metric"),
                      F.col("_n").cast("bigint").alias("fs_value"),
                      nd.alias("fs_perm")))
    return per_file.unionByName(counts)


# ---------------------------------------------------------------------------
# riak receiver (receiver/riakreceiver/scraper.go:47-77)
# ---------------------------------------------------------------------------


def riak_stats(df: DataFrame) -> DataFrame:
    """riak /stats JSON → the 11-point metric fan.

    Re-expresses ``receiver/riakreceiver/scraper.go:47-77``: node and
    vnode get/put operation counts, get/put FSM mean times (µs),
    read repairs, allocated memory, and vnode index
    read/write/delete counts, all against the ``riak.node.name``
    resource. A malformed body is the GetStats error path: no rows.
    """
    schema = ("struct<node: string, node_gets: bigint, node_puts: "
              "bigint, node_get_fsm_time_mean: bigint, "
              "node_put_fsm_time_mean: bigint, read_repairs: bigint, "
              "mem_allocated: bigint, vnode_gets: bigint, vnode_puts:"
              " bigint, vnode_index_reads: bigint, vnode_index_writes"
              ": bigint, vnode_index_deletes: bigint>")
    base = [c for c in df.columns if c != "body"]
    staged = df.select(
        *base, F.from_json(F.col("body"), schema).alias("_o"))
    o = F.col("_o")
    staged = staged.where(o["node"].isNotNull())
    fan = [
        ("riak.node.operation.count", "get", "node_gets"),
        ("riak.node.operation.count", "put", "node_puts"),
        ("riak.node.operation.time.mean", "get",
         "node_get_fsm_time_mean"),
        ("riak.node.operation.time.mean", "put",
         "node_put_fsm_time_mean"),
        ("riak.node.read_repair.count", None, "read_repairs"),
        ("riak.memory.limit", None, "mem_allocated"),
        ("riak.vnode.operation.count", "get", "vnode_gets"),
        ("riak.vnode.operation.count", "put", "vnode_puts"),
        ("riak.vnode.index.operation.count", "read",
         "vnode_index_reads"),
        ("riak.vnode.index.operation.count", "write",
         "vnode_index_writes"),
        ("riak.vnode.index.operation.count", "delete",
         "vnode_index_deletes"),
    ]
    ns = F.lit(None).cast("string")
    entries = [F.struct(F.lit(m).alias("metric"),
                        (F.lit(a) if a else ns).alias("attr"),
                        o[f].cast("bigint").alias("value"))
               for m, a, f in fan]
    out = staged.select(
        *base, o["node"].alias("node"),
        F.explode(F.array(*entries)).alias("_m"))
    m = F.col("_m")
    return out.select(*base, "node", m["metric"].alias("rk_metric"),
                      m["attr"].alias("rk_attr"),
                      m["value"].alias("rk_value"))


# ---------------------------------------------------------------------------
# httpcheck receiver (receiver/httpcheckreceiver/scraper.go:122-290)
# ---------------------------------------------------------------------------

_HTTP_CLASSES = [("1xx", 1), ("2xx", 2), ("3xx", 3), ("4xx", 4),
                 ("5xx", 5)]


def httpcheck_metrics(df: DataFrame) -> DataFrame:
    """HTTP probe results → httpcheck.* metric rows.

    Re-expresses ``receiver/httpcheckreceiver/scraper.go:122-290``
    over rows of one completed probe each: total duration + the five
    timing-breakdown gauges (dns / tcp connection / tls handshake /
    request write / response read, always recorded, zeros included);
    ``httpcheck.error`` = 1 with the error message when the request
    failed; per probe FIVE ``httpcheck.status`` rows — one per
    response class — where the matching class carries value 1 and
    the real status code, and non-matching classes carry value 0
    with a NULL status code (the ``removeStatusCodeForZeroValues``
    post-pass, :300-330); an errored probe has status 0 so all five
    classes are 0. ``httpcheck.tls.cert_remaining`` is emitted TWICE
    when TLS identity is present — the reference records it both
    before and after the timing block (:212-224 and :242-255), a
    duplication carried faithfully.
    """
    ts = F.col("ts")
    ep = F.col("endpoint")
    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    sc = F.coalesce(F.col("status_code"), F.lit(0))
    err = F.col("error_msg").isNotNull()

    def ent(metric, value, attr=None, code=None, cls=None,
            present=None):
        return F.struct(
            F.lit(metric).alias("metric"),
            (attr if attr is not None else ns).alias("attr"),
            (code if code is not None else nl).alias("status_code"),
            (F.lit(cls) if cls else ns).alias("cls"),
            value.cast("bigint").alias("value"),
            (present if present is not None else F.lit(True))
            .alias("present"),
        )

    entries = [
        ent("httpcheck.duration", F.col("duration_ms")),
        ent("httpcheck.dns.lookup.duration", F.col("dns_ms")),
        ent("httpcheck.client.connection.duration", F.col("tcp_ms"),
            attr=F.lit("tcp")),
        ent("httpcheck.tls.handshake.duration", F.col("tls_ms")),
        ent("httpcheck.client.request.duration", F.col("request_ms")),
        ent("httpcheck.response.duration", F.col("response_ms")),
        ent("httpcheck.error", F.lit(1), attr=F.col("error_msg"),
            present=err),
    ]
    tls_present = (F.col("tls_time_left").isNotNull()
                   & (F.coalesce(F.col("tls_issuer"), F.lit("")) != ""))
    for _ in range(2):  # the reference's duplicated record block
        entries.append(ent("httpcheck.tls.cert_remaining",
                           F.coalesce(F.col("tls_time_left"),
                                      F.lit(0)),
                           attr=F.col("tls_issuer"),
                           present=tls_present))
    for cls, digit in _HTTP_CLASSES:
        match = (sc / 100).cast("int") == digit
        entries.append(ent(
            "httpcheck.status",
            F.when(match, 1).otherwise(0),
            attr=F.col("method"),
            code=F.when(match, sc.cast("bigint")),
            cls=cls))
    out = df.select(ts.alias("ts"), ep.alias("endpoint"),
                    F.explode(F.array(*entries)).alias("_m"))
    m = F.col("_m")
    return out.where(m["present"]).select(
        "ts", "endpoint", m["metric"].alias("hc_metric"),
        m["attr"].alias("hc_attr"),
        m["status_code"].alias("hc_status_code"),
        m["cls"].alias("hc_class"), m["value"].alias("hc_value"))


# ---------------------------------------------------------------------------
# iis receiver (receiver/iisreceiver/recorder.go + scraper.go:62-180)
# ---------------------------------------------------------------------------

IIS_COUNTER_TABLE = [
    # (object, counter, metric, attr, resource: none|site|app_pool)
    ("Process", "Thread Count", "iis.thread.active", None, "none"),
    ("Web Service", "Current Connections", "iis.connection.active",
     None, "site"),
    ("Web Service", "Total Bytes Received", "iis.network.io",
     "received", "site"),
    ("Web Service", "Total Bytes Sent", "iis.network.io", "sent",
     "site"),
    ("Web Service", "Total Connection Attempts (all instances)",
     "iis.connection.attempt.count", None, "site"),
    ("Web Service", "Total Delete Requests", "iis.request.count",
     "delete", "site"),
    ("Web Service", "Total Get Requests", "iis.request.count", "get",
     "site"),
    ("Web Service", "Total Head Requests", "iis.request.count",
     "head", "site"),
    ("Web Service", "Total Options Requests", "iis.request.count",
     "options", "site"),
    ("Web Service", "Total Post Requests", "iis.request.count",
     "post", "site"),
    ("Web Service", "Total Put Requests", "iis.request.count", "put",
     "site"),
    ("Web Service", "Total Trace Requests", "iis.request.count",
     "trace", "site"),
    ("Web Service", "Total Files Received", "iis.network.file.count",
     "received", "site"),
    ("Web Service", "Total Files Sent", "iis.network.file.count",
     "sent", "site"),
    ("Web Service", "Total Anonymous Users",
     "iis.connection.anonymous", None, "site"),
    ("Web Service", "Total blocked bandwidth bytes.",
     "iis.network.blocked", None, "site"),
    ("Web Service", "Service Uptime", "iis.uptime", None, "site"),
    ("HTTP Service Request Queues", "RejectedRequests",
     "iis.request.rejected", None, "app_pool"),
    ("HTTP Service Request Queues", "CurrentQueueSize",
     "iis.request.queue.count", None, "app_pool"),
    ("APP_POOL_WAS", "Current Application Pool State",
     "iis.application_pool.state", None, "app_pool"),
    ("APP_POOL_WAS", "Current Application Pool Uptime",
     "iis.application_pool.uptime", None, "app_pool"),
]

_IIS_NEG_DENOM = "A counter with a negative denominator value was " \
    "detected.\r\n"


def iis_metrics(df: DataFrame) -> DataFrame:
    """Windows perf-counter samples → iis.* metric rows.

    Re-expresses ``receiver/iisreceiver`` over rows of one counter
    value each (ts, object, counter, instance, value double, err).
    Faithful semantics from ``scraper.go:99-150``:

    - a non-null ``err`` marks the whole watcher scrape failed — every
      instance row of that (ts, object, counter) is dropped;
    - the _Total-only guard (:108-112): when a wildcard watcher
      returns exactly ONE instance and its name is empty, the metric
      is skipped (per-instance data needs elevated permissions);
      multi-instance sets keep their ""-named rows;
    - MaxQueueItemAge (:127-150): the negative-denominator error
      means an empty queue and records 0; any other error skips; the
      _Total instance is never watched; values truncate to int64.
    """
    spark = df.sparkSession
    dim = spark.createDataFrame(
        IIS_COUNTER_TABLE,
        "object string, counter string, metric string, attr string, "
        "res string")

    o, c, inst = F.col("object"), F.col("counter"), F.col("instance")
    err = F.col("err")

    regular = df.where(~((o == "HTTP Service Request Queues")
                         & (c == "MaxQueueItemAge")))
    w = Window.partitionBy("ts", o, c)
    regular = (regular
               .withColumn("_n", F.count("*").over(w))
               .withColumn("_failed", F.max(err.isNotNull()
                                            .cast("int")).over(w))
               .where(F.col("_failed") == 0)
               .where(~((F.col("_n") == 1) & (inst == ""))))
    joined = regular.join(F.broadcast(dim), ["object", "counter"],
                          "inner")
    reg_rows = joined.select(
        F.col("ts"),
        F.col("metric").alias("iis_metric"),
        F.col("attr").alias("iis_attr"),
        F.when(F.col("res") == "site", inst).alias("iis_site"),
        F.when(F.col("res") == "app_pool", inst)
        .alias("iis_app_pool"),
        F.col("value").cast("bigint").alias("iis_value"),
    )

    qage = df.where((o == "HTTP Service Request Queues")
                    & (c == "MaxQueueItemAge")
                    & (inst != "_Total"))
    qage = qage.where(err.isNull() | err.endswith(_IIS_NEG_DENOM))
    qage_rows = qage.select(
        F.col("ts"),
        F.lit("iis.request.queue.age.max").alias("iis_metric"),
        F.lit(None).cast("string").alias("iis_attr"),
        F.lit(None).cast("string").alias("iis_site"),
        inst.alias("iis_app_pool"),
        F.when(err.isNotNull(), F.lit(0))
        .otherwise(F.col("value")).cast("bigint").alias("iis_value"),
    )
    return reg_rows.unionByName(qage_rows)
