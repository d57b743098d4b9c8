"""Round-5 queries (cont. 3): the Prometheus EXPORT translator family.

The receive direction (prometheus text, adjuster) landed earlier; this
module covers the export direction — pkg/translator/prometheus naming
(BuildCompliantName / NormalizeLabel / BuildCompliantPrometheusUnit)
and pkg/translator/prometheusremotewrite series expansion
(histogram/summary fan-out, createAttributes label sets, target_info,
OpenMetrics metadata). Fixtures are deterministic projections of the
``events`` table; oracles replicate the Go semantics in DuckDB SQL
(list lambdas mirror the Spark higher-order functions 1:1).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prw import PER_UNIT_MAP, UNIT_MAP
from .base import QueryFn, load

EXT19_QUERIES: dict[str, QueryFn] = {}
EXT19_ORACLES: dict[str, str] = {}

_L, _D = r"\p{L}", r"\p{Nd}"

# the two unit maps as SQL VALUES lists (single source: operators/prw.py)
_UM_VALUES = ", ".join(f"('{k}', '{v}')" for k, v in UNIT_MAP.items())
_PM_VALUES = ", ".join(f"('{k}', '{v}')" for k, v in PER_UNIT_MAP.items())


def _sql_clean(e: str) -> str:
    """CleanUpString: alnum runs joined with '_' (normalize_unit.go:127)."""
    return (f"array_to_string(list_filter(string_split_regex({e}, "
            f"'[^{_L}{_D}]+'), x -> x <> ''), '_')")


def _sql_sanitize_label(k: str) -> str:
    """NormalizeLabel (normalize_label.go:27-44) as a SQL expression."""
    s = f"regexp_replace({k}, '[^{_L}{_D}]', '_', 'g')"
    return (f"CASE WHEN {k} = '' THEN {k} "
            f"WHEN regexp_matches({s}, '^{_D}') THEN 'key_' || {s} "
            f"WHEN regexp_matches({s}, '^_') AND NOT "
            f"regexp_matches({s}, '^__') THEN 'key' || {s} "
            f"ELSE {s} END")


def _sql_fmt_float(e: str) -> str:
    """FormatFloat(v,'f',-1,64) for fixture-friendly doubles."""
    c = f"CAST({e} AS VARCHAR)"
    return (f"CASE WHEN contains({c}, '.') THEN regexp_replace("
            f"regexp_replace({c}, '0+$', ''), '\\.$', '') ELSE {c} END")


# normalizeName CTE chain over a fixture CTE with columns
# (name, unit, mtype, mono); yields CTEs nn1..nn4 where nn4 has
# full_name / toks4 available.
def _sql_norm_name_ctes(fx: str) -> str:
    return f"""
um(uo, up) AS (VALUES {_UM_VALUES}),
pm(uo, up) AS (VALUES {_PM_VALUES}),
nn1 AS (
  SELECT f.*,
    trim(CASE WHEN strpos(unit, '/') > 0
              THEN unit[1:strpos(unit, '/') - 1] ELSE unit END) AS main_otel,
    trim(CASE WHEN strpos(unit, '/') > 0
              THEN unit[strpos(unit, '/') + 1:] ELSE '' END) AS per_otel
  FROM {fx} f
), nn2 AS (
  SELECT nn1.*,
    CASE WHEN main_otel <> '' AND NOT regexp_matches(main_otel, '[{{}}]')
         THEN {_sql_clean('coalesce(um.up, main_otel)')} ELSE '' END AS mp0,
    CASE WHEN per_otel <> '' AND NOT regexp_matches(per_otel, '[{{}}]')
         THEN {_sql_clean('coalesce(pm.up, per_otel)')} ELSE '' END AS pp0
  FROM nn1
  LEFT JOIN um ON nn1.main_otel = um.uo
  LEFT JOIN pm ON nn1.per_otel = pm.uo
), nn3 AS (
  SELECT *,
    list_filter(string_split_regex(name, '[^{_L}{_D}]+'),
                x -> x <> '') AS t0
  FROM nn2
), nn4 AS (
  SELECT *, CASE WHEN regexp_matches(
      array_to_string(t4x, '_'), '^{_D}')
    THEN '_' || array_to_string(t4x, '_')
    ELSE array_to_string(t4x, '_') END AS full_name
  FROM (
    SELECT *, t4 AS t4x FROM (
      SELECT *, CASE WHEN unit = '1' AND mtype = 'gauge'
          THEN list_concat(list_filter(t3, x -> x <> 'ratio'), ['ratio'])
          ELSE t3 END AS t4
      FROM (
        SELECT *, CASE WHEN mtype = 'sum' AND mono
            THEN list_concat(list_filter(t2, x -> x <> 'total'), ['total'])
            ELSE t2 END AS t3
        FROM (
          SELECT *, CASE WHEN pp0 <> '' AND NOT list_contains(t1, pp0)
              THEN list_concat(t1, ['per', pp0]) ELSE t1 END AS t2
          FROM (
            SELECT *, CASE WHEN mp0 <> '' AND NOT list_contains(t0, mp0)
                THEN list_concat(t0, [mp0]) ELSE t0 END AS t1
            FROM nn3
          )
        )
      )
    )
  )
)"""


# ---------------------------------------------------------------------------
# prom_name_normalize: BuildCompliantName (both paths) + compliant unit
# ---------------------------------------------------------------------------

_NN_NAMES = ["system.cpu.time", "http.server.duration",
             "foo-bar.total.count", "3xx.responses", "queue_size",
             "disk.io.total", "cache.ratio.hits", "a.b--c:d"]
_NN_UNITS = ["s", "By/s", "1", "ms", "{requests}", "m/s", "foo.bar", "%"]
_NN_TYPES = ["gauge", "sum", "histogram"]


def q_prom_name_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prw import prom_compliant_name, prom_compliant_unit

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    fx = ev.select(
        e.alias("event_id"),
        F.element_at(F.array(*[F.lit(x) for x in _NN_NAMES]),
                     (e % 8 + 1).cast("int")).alias("name"),
        F.element_at(F.array(*[F.lit(x) for x in _NN_UNITS]),
                     (u % 8 + 1).cast("int")).alias("unit"),
        F.element_at(F.array(*[F.lit(x) for x in _NN_TYPES]),
                     (e % 3 + 1).cast("int")).alias("mtype"),
        (u % 2 == 0).alias("mono"),
    )
    name, unit = F.col("name"), F.col("unit")
    mt, mono = F.col("mtype"), F.col("mono")
    return fx.select(
        "event_id", "name", "unit", "mtype", "mono",
        prom_compliant_name(name, unit, mt, mono).alias("full_name"),
        prom_compliant_name(name, unit, mt, mono,
                            namespace="otel").alias("ns_name"),
        prom_compliant_name(name, unit, mt, mono,
                            add_suffixes=False).alias("simple_name"),
        prom_compliant_unit(unit).alias("prom_unit"),
    )


def _nn_fixture_sql() -> str:
    def arr(xs: list[str]) -> str:
        return "[" + ", ".join(f"'{x}'" for x in xs) + "]"
    return f"""
fx AS (
  SELECT event_id,
    {arr(_NN_NAMES)}[CAST(event_id % 8 AS INT) + 1] AS name,
    {arr(_NN_UNITS)}[CAST(user_id % 8 AS INT) + 1] AS unit,
    {arr(_NN_TYPES)}[CAST(event_id % 3 AS INT) + 1] AS mtype,
    user_id % 2 = 0 AS mono
  FROM events
)"""


_SIMPLE_NAME = (
    f"array_to_string(list_filter(string_split_regex(name, "
    f"'[^{_L}{_D}_:]+'), x -> x <> ''), '_')")

O_PROM_NAME_NORMALIZE = f"""
WITH {_nn_fixture_sql()},
{_sql_norm_name_ctes('fx')}
SELECT event_id, name, unit, mtype, mono, full_name,
  'otel_' || array_to_string(t4x, '_') AS ns_name,
  CASE WHEN regexp_matches({_SIMPLE_NAME}, '^{_D}')
       THEN '_' || {_SIMPLE_NAME} ELSE {_SIMPLE_NAME} END AS simple_name,
  coalesce(array_to_string(list_filter(
    CASE WHEN pp0 <> '' THEN [mp0, 'per', pp0] ELSE [mp0] END,
    x -> x <> ''), '_'), '') AS prom_unit
FROM nn4
"""

EXT19_QUERIES["prom_name_normalize"] = q_prom_name_normalize
EXT19_ORACLES["prom_name_normalize"] = O_PROM_NAME_NORMALIZE


# ---------------------------------------------------------------------------
# prom_label_sanitize: NormalizeLabel over a hostile key corpus
# ---------------------------------------------------------------------------

_LBL_KEYS = ["label", "9digit", "_lead", "__meta", "dot.key", "dash-key",
             "üñi.key", "a b\tc"]


def q_prom_label_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prw import prom_normalize_label

    ev = load(spark, sf_dir, "events")
    e = F.col("event_id")
    fx = ev.select(
        e.alias("event_id"),
        F.element_at(F.array(*[F.lit(x) for x in _LBL_KEYS]),
                     (e % 8 + 1).cast("int")).alias("raw"),
    )
    return fx.select(
        "event_id", "raw",
        prom_normalize_label(F.col("raw")).alias("label"))


O_PROM_LABEL_SANITIZE = f"""
WITH fx AS (
  SELECT event_id,
    ['label', '9digit', '_lead', '__meta', 'dot.key', 'dash-key',
     'üñi.key', 'a b\tc'][CAST(event_id % 8 AS INT) + 1] AS raw
  FROM events
)
SELECT event_id, raw, {_sql_sanitize_label('raw')} AS label FROM fx
"""

EXT19_QUERIES["prom_label_sanitize"] = q_prom_label_sanitize
EXT19_ORACLES["prom_label_sanitize"] = O_PROM_LABEL_SANITIZE


# ---------------------------------------------------------------------------
# prw_histogram_series: _sum/_count/_bucket cumulative fan + le=+Inf
# ---------------------------------------------------------------------------

def q_prw_histogram_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prw import prw_histogram_series

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    fx = ev.select(
        e.alias("event_id"),
        F.concat(F.lit("lat"), (u % 3).cast("string")).alias("name"),
        (e * 1000000000 + u).alias("ts_ns"),
        ((e % 1000).cast("double") / 4).alias("sum"),
        (u % 3 != 0).alias("has_sum"),
        (e % 5 + u % 7 + e % 3 + u % 4).cast("bigint").alias("count"),
        F.array(F.lit(0.25), F.lit(1.0) + (e % 5).cast("double") * 0.5,
                F.lit(10.0)).alias("bounds"),
        F.when(e % 7 == 0,
               F.array((e % 5).cast("bigint"), (u % 7).cast("bigint")))
        .otherwise(F.array((e % 5).cast("bigint"), (u % 7).cast("bigint"),
                           (e % 3).cast("bigint"))).alias("bucket_counts"),
        (e % 17 == 0).alias("stale"),
    )
    return prw_histogram_series(fx, id_cols=["event_id"], name_col="name")


O_PRW_HISTOGRAM_SERIES = f"""
WITH fx AS (
  SELECT event_id,
    'lat' || CAST(user_id % 3 AS VARCHAR) AS name,
    event_id * 1000000000 + user_id AS ts_ns,
    CAST(event_id % 1000 AS DOUBLE) / 4 AS sm,
    user_id % 3 <> 0 AS has_sum,
    CAST(event_id % 5 + user_id % 7 + event_id % 3 + user_id % 4
         AS BIGINT) AS cnt,
    [0.25::DOUBLE, 1.0::DOUBLE + CAST(event_id % 5 AS DOUBLE) * 0.5,
     10.0::DOUBLE] AS bounds,
    CASE WHEN event_id % 7 = 0
         THEN [CAST(event_id % 5 AS BIGINT), CAST(user_id % 7 AS BIGINT)]
         ELSE [CAST(event_id % 5 AS BIGINT), CAST(user_id % 7 AS BIGINT),
               CAST(event_id % 3 AS BIGINT)] END AS counts,
    event_id % 17 = 0 AS stale
  FROM events
), n AS (
  SELECT *, least(len(bounds), len(counts)) AS nn,
    ts_ns // 1000000 AS ts_ms
  FROM fx
)
SELECT event_id, name || '_sum' AS metric, NULL::VARCHAR AS le, ts_ms,
       stale, CASE WHEN stale THEN NULL ELSE sm END AS value
FROM n WHERE has_sum
UNION ALL
SELECT event_id, name || '_count', NULL, ts_ms, stale,
       CASE WHEN stale THEN NULL ELSE CAST(cnt AS DOUBLE) END
FROM n
UNION ALL
SELECT event_id, name || '_bucket', u.le, ts_ms, stale,
       CASE WHEN stale THEN NULL ELSE u.cum END
FROM (
  SELECT *, unnest([struct_pack(
      le := {_sql_fmt_float('bounds[i]')},
      cum := CAST(list_sum(counts[1:i]) AS DOUBLE))
    for i in range(1, nn + 1)]) AS u
  FROM n
)
UNION ALL
SELECT event_id, name || '_bucket', '+Inf', ts_ms, stale,
       CASE WHEN stale THEN NULL ELSE CAST(cnt AS DOUBLE) END
FROM n
"""

EXT19_QUERIES["prw_histogram_series"] = q_prw_histogram_series
EXT19_ORACLES["prw_histogram_series"] = O_PRW_HISTOGRAM_SERIES


# ---------------------------------------------------------------------------
# prw_summary_series: _sum/_count + per-quantile series
# ---------------------------------------------------------------------------

def q_prw_summary_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prw import prw_summary_series

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    fx = ev.select(
        e.alias("event_id"),
        F.concat(F.lit("rpc"), (e % 4).cast("string")).alias("name"),
        (e * 1000000000 + u).alias("ts_ns"),
        ((u % 900).cast("double") / 8).alias("sum"),
        (e % 50).cast("bigint").alias("count"),
        F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)).alias("quantiles"),
        F.array((e % 100).cast("double") / 8, (e % 50).cast("double") / 4,
                (e % 25).cast("double") / 2).alias("quantile_values"),
        (u % 19 == 0).alias("stale"),
    )
    return prw_summary_series(fx, id_cols=["event_id"], name_col="name")


O_PRW_SUMMARY_SERIES = f"""
WITH fx AS (
  SELECT event_id,
    'rpc' || CAST(event_id % 4 AS VARCHAR) AS name,
    event_id * 1000000000 + user_id AS ts_ns,
    CAST(user_id % 900 AS DOUBLE) / 8 AS sm,
    CAST(event_id % 50 AS BIGINT) AS cnt,
    [0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE] AS qs,
    [CAST(event_id % 100 AS DOUBLE) / 8, CAST(event_id % 50 AS DOUBLE) / 4,
     CAST(event_id % 25 AS DOUBLE) / 2] AS qvs,
    user_id % 19 = 0 AS stale
  FROM events
), n AS (SELECT *, ts_ns // 1000000 AS ts_ms FROM fx)
SELECT event_id, name || '_sum' AS metric, NULL::VARCHAR AS quantile,
       ts_ms, stale, CASE WHEN stale THEN NULL ELSE sm END AS value
FROM n
UNION ALL
SELECT event_id, name || '_count', NULL, ts_ms, stale,
       CASE WHEN stale THEN NULL ELSE CAST(cnt AS DOUBLE) END
FROM n
UNION ALL
SELECT event_id, name, u.q, ts_ms, stale,
       CASE WHEN stale THEN NULL ELSE u.v END
FROM (
  SELECT *, unnest([struct_pack(
      q := {_sql_fmt_float('qs[i]')}, v := qvs[i])
    for i in range(1, len(qs) + 1)]) AS u
  FROM n
)
"""

EXT19_QUERIES["prw_summary_series"] = q_prw_summary_series
EXT19_ORACLES["prw_summary_series"] = O_PRW_SUMMARY_SERIES


# ---------------------------------------------------------------------------
# prw_labels: createAttributes — sanitize, collision fold, job/instance,
# external skip-if-present, __name__ extras
# ---------------------------------------------------------------------------

_EXTERNAL = {"env": "ext_env", "job": "ext_job"}


def q_prw_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prw import prw_label_set

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    attrs = F.create_map(
        F.lit("a.b"), F.concat(F.lit("v"), (e % 3).cast("string")),
        F.lit("a_b"), F.concat(F.lit("v"), (u % 3).cast("string")),
        F.lit("job"), F.lit("attrjob"),
        F.lit("_x"), F.concat(F.lit("x"), (u % 2).cast("string")),
        F.lit("9q"), F.lit("nine"),
        F.lit("üps"), F.concat(F.lit("u"), (e % 2).cast("string")),
    )
    keep = F.map_filter(
        attrs,
        lambda k, _: (F.when(k == "job", e % 5 == 0)
                      .when(k == "9q", u % 4 == 0)
                      .otherwise(F.lit(True))))
    fx = ev.select(
        e.alias("event_id"),
        keep.alias("attrs"),
        F.when(u % 7 != 0,
               F.concat(F.lit("svc"), (u % 3).cast("string")))
        .alias("service_name"),
        F.when(u % 2 == 0, F.lit("prod")).alias("service_namespace"),
        F.when(e % 3 != 0,
               F.concat(F.lit("i"), (e % 5).cast("string")))
        .alias("service_instance"),
        F.concat(F.lit("m"), (e % 4).cast("string")).alias("metric_name"),
    )
    return prw_label_set(fx, id_col="event_id", external_labels=_EXTERNAL)


O_PRW_LABELS = f"""
WITH base AS (
  SELECT event_id, user_id,
    CASE WHEN user_id % 7 <> 0
         THEN 'svc' || CAST(user_id % 3 AS VARCHAR) END AS svc,
    CASE WHEN user_id % 2 = 0 THEN 'prod' END AS ns,
    CASE WHEN event_id % 3 <> 0
         THEN 'i' || CAST(event_id % 5 AS VARCHAR) END AS inst,
    'm' || CAST(event_id % 4 AS VARCHAR) AS mname
  FROM events
), attr_rows AS (
  SELECT event_id, 'a.b' AS k,
         'v' || CAST(event_id % 3 AS VARCHAR) AS v FROM events
  UNION ALL
  SELECT event_id, 'a_b', 'v' || CAST(user_id % 3 AS VARCHAR) FROM events
  UNION ALL
  SELECT event_id, 'job', 'attrjob' FROM events WHERE event_id % 5 = 0
  UNION ALL
  SELECT event_id, '_x', 'x' || CAST(user_id % 2 AS VARCHAR) FROM events
  UNION ALL
  SELECT event_id, '9q', 'nine' FROM events WHERE user_id % 4 = 0
  UNION ALL
  SELECT event_id, 'üps', 'u' || CAST(event_id % 2 AS VARCHAR) FROM events
), folded AS (
  SELECT event_id, sk AS label,
    list_reduce(list(v ORDER BY k),
      (acc, x) -> CASE WHEN acc = x THEN acc
                       ELSE acc || ';' || x END) AS value,
    0 AS prio
  FROM (SELECT event_id, k, v, {_sql_sanitize_label('k')} AS sk
        FROM attr_rows)
  GROUP BY event_id, sk
), jobs AS (
  SELECT event_id, 'job' AS label,
    CASE WHEN ns IS NOT NULL THEN ns || '/' || svc ELSE svc END AS value,
    1 AS prio
  FROM base WHERE svc IS NOT NULL
), insts AS (
  SELECT event_id, 'instance', inst, 1 FROM base WHERE inst IS NOT NULL
), exts AS (
  SELECT event_id, 'env', 'ext_env', -1 FROM base
  UNION ALL
  SELECT event_id, 'job', 'ext_job', -1 FROM base
), names AS (
  SELECT event_id, '__name__', mname, 2 FROM base
), allp AS (
  SELECT * FROM folded UNION ALL SELECT * FROM jobs
  UNION ALL SELECT * FROM insts UNION ALL SELECT * FROM exts
  UNION ALL SELECT * FROM names
)
SELECT event_id, label, value FROM allp
QUALIFY row_number() OVER (PARTITION BY event_id, label
                           ORDER BY prio DESC) = 1
"""

EXT19_QUERIES["prw_labels"] = q_prw_labels
EXT19_ORACLES["prw_labels"] = O_PRW_LABELS


# ---------------------------------------------------------------------------
# prw_target_info: resource -> target_info sample with gating
# ---------------------------------------------------------------------------

def q_prw_target_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prw import prw_target_info

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    attrs = F.create_map(
        F.lit("service.name"),
        F.when(u % 7 != 0, F.concat(F.lit("svc"), (u % 3).cast("string"))),
        F.lit("service.namespace"), F.when(u % 2 == 0, F.lit("prod")),
        F.lit("service.instance.id"),
        F.when(e % 3 != 0, F.concat(F.lit("i"), (e % 5).cast("string"))),
        F.lit("host.name"),
        F.when(e % 6 != 0, F.concat(F.lit("h"), (u % 4).cast("string"))),
        F.lit("region"), F.when(u % 5 != 0, F.lit("us-east")),
    )
    fx = ev.select(
        e.alias("event_id"),
        F.map_filter(attrs, lambda _, v: v.isNotNull())
        .alias("resource_attrs"),
        F.when(e % 11 == 0, F.lit(0))
        .otherwise(e * 1000000000 + u).alias("ts_ns"),
    )
    return prw_target_info(fx, id_col="event_id")


O_PRW_TARGET_INFO = f"""
WITH base AS (
  SELECT event_id,
    CASE WHEN user_id % 7 <> 0
         THEN 'svc' || CAST(user_id % 3 AS VARCHAR) END AS svc,
    CASE WHEN user_id % 2 = 0 THEN 'prod' END AS ns,
    CASE WHEN event_id % 3 <> 0
         THEN 'i' || CAST(event_id % 5 AS VARCHAR) END AS inst,
    CASE WHEN event_id % 6 <> 0
         THEN 'h' || CAST(user_id % 4 AS VARCHAR) END AS host,
    CASE WHEN user_id % 5 <> 0 THEN 'us-east' END AS region,
    CASE WHEN event_id % 11 = 0 THEN 0
         ELSE event_id * 1000000000 + user_id END AS ts_ns
  FROM events
), eligible AS (
  SELECT *, ts_ns // 1000000 AS ts_ms FROM base
  WHERE ts_ns <> 0
    AND (host IS NOT NULL OR region IS NOT NULL)
    AND (svc IS NOT NULL OR inst IS NOT NULL)
), attr_rows AS (
  SELECT event_id, 'host.name' AS k, host AS v FROM eligible
  WHERE host IS NOT NULL
  UNION ALL
  SELECT event_id, 'region', region FROM eligible WHERE region IS NOT NULL
), folded AS (
  SELECT event_id, sk AS label,
    list_reduce(list(v ORDER BY k),
      (acc, x) -> CASE WHEN acc = x THEN acc
                       ELSE acc || ';' || x END) AS value,
    0 AS prio
  FROM (SELECT event_id, k, v, {_sql_sanitize_label('k')} AS sk
        FROM attr_rows)
  GROUP BY event_id, sk
), jobs AS (
  SELECT event_id, 'job' AS label,
    CASE WHEN ns IS NOT NULL THEN ns || '/' || svc ELSE svc END AS value,
    1 AS prio
  FROM eligible WHERE svc IS NOT NULL
), insts AS (
  SELECT event_id, 'instance', inst, 1 FROM eligible
  WHERE inst IS NOT NULL
), names AS (
  SELECT event_id, '__name__', 'target_info', 2 FROM eligible
), allp AS (
  SELECT * FROM folded UNION ALL SELECT * FROM jobs
  UNION ALL SELECT * FROM insts UNION ALL SELECT * FROM names
), lbls AS (
  SELECT event_id, label, value FROM allp
  QUALIFY row_number() OVER (PARTITION BY event_id, label
                             ORDER BY prio DESC) = 1
)
SELECT l.event_id, l.label, l.value, e.ts_ms,
       1.0::DOUBLE AS sample_value
FROM lbls l JOIN eligible e USING (event_id)
"""

EXT19_QUERIES["prw_target_info"] = q_prw_target_info
EXT19_ORACLES["prw_target_info"] = O_PRW_TARGET_INFO


# ---------------------------------------------------------------------------
# prom_metadata: OtelMetricsToMetadata type mapping + family name + unit
# ---------------------------------------------------------------------------

_MD_TYPES = ["gauge", "sum", "summary", "histogram",
             "exponential_histogram"]
_MD_OVERRIDES = ["", "unknown", "info", "stateset"]


def q_prom_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prw import prom_metadata

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    fx = ev.select(
        F.element_at(F.array(*[F.lit(x) for x in _NN_NAMES]),
                     (e % 8 + 1).cast("int")).alias("name"),
        F.element_at(F.array(*[F.lit(x) for x in _NN_UNITS]),
                     (u % 8 + 1).cast("int")).alias("unit"),
        F.element_at(F.array(*[F.lit(x) for x in _MD_TYPES]),
                     (e % 5 + 1).cast("int")).alias("metric_type"),
        (u % 2 == 0).alias("is_monotonic"),
        F.element_at(F.array(*[F.lit(x) for x in _MD_OVERRIDES]),
                     (u % 4 + 1).cast("int")).alias("metadata_type"),
        F.concat(F.lit("d"), (e % 7).cast("string")).alias("description"),
    )
    return prom_metadata(fx)


O_PROM_METADATA = f"""
WITH fx AS (
  SELECT
    ['system.cpu.time', 'http.server.duration', 'foo-bar.total.count',
     '3xx.responses', 'queue_size', 'disk.io.total', 'cache.ratio.hits',
     'a.b--c:d'][CAST(event_id % 8 AS INT) + 1] AS name,
    ['s', 'By/s', '1', 'ms', '{{requests}}', 'm/s', 'foo.bar',
     '%'][CAST(user_id % 8 AS INT) + 1] AS unit,
    ['gauge', 'sum', 'summary', 'histogram', 'exponential_histogram']
      [CAST(event_id % 5 AS INT) + 1] AS mtype,
    user_id % 2 = 0 AS mono,
    ['', 'unknown', 'info', 'stateset']
      [CAST(user_id % 4 AS INT) + 1] AS md,
    'd' || CAST(event_id % 7 AS VARCHAR) AS description
  FROM events
),
{_sql_norm_name_ctes('fx')}
SELECT
  CASE WHEN mtype = 'gauge' THEN
         CASE WHEN md = 'unknown' THEN 'UNKNOWN' ELSE 'GAUGE' END
       WHEN mtype = 'sum' THEN
         CASE WHEN mono THEN 'COUNTER'
              WHEN md = 'info' THEN 'INFO'
              WHEN md = 'stateset' THEN 'STATESET'
              ELSE 'GAUGE' END
       WHEN mtype = 'histogram' THEN 'HISTOGRAM'
       WHEN mtype = 'summary' THEN 'SUMMARY'
       WHEN mtype = 'exponential_histogram' THEN 'HISTOGRAM'
       ELSE 'UNKNOWN' END AS prom_type,
  full_name AS family_name,
  coalesce(array_to_string(list_filter(
    CASE WHEN pp0 <> '' THEN [mp0, 'per', pp0] ELSE [mp0] END,
    x -> x <> ''), '_'), '') AS prom_unit,
  description AS help
FROM nn4
"""

EXT19_QUERIES["prom_metadata"] = q_prom_metadata
EXT19_ORACLES["prom_metadata"] = O_PROM_METADATA
