"""Round-5 queries (cont. 11): OTLP spans -> AWS X-Ray segment models
(``exporter/awsxrayexporter/internal/translator/segment.go``), the
write twin of ``xray_segment_spans``.

``xray_export`` drives the Column-algebra surface (amazon trace id,
subsegment typing, the full name/namespace/origin ladders, http URL
construction, aws/sql blocks, annotations + metadata namespaces, span
links, the local-root service/dependency fan) over a span table
derived from ``events``; the oracle rebuilds every output column in
SQL, including the deterministic md5-derived service-segment id.

``xray_export_exc`` drives the cause path: status-message/
http.status_text fallback exceptions in SQL, and the Arrow-batched
java stack walk against a fixed two-frame + Caused-by trace whose
parse the oracle pins literally.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import QueryFn, load, omap

EXT27_QUERIES: dict[str, QueryFn] = {}
EXT27_ORACLES: dict[str, str] = {}

_FLAT = ("array_join(array_sort(transform(map_entries({m}), "
         "kv -> concat(kv.key, '=', kv.value))), ',')")


def _fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    hx = lambda c, n: F.lpad(F.lower(F.hex(c)), n, "0")  # noqa: E731

    t = F.lit(True)
    srv, cli = e % 4 == 0, e % 4 == 1
    internal = e % 4 == 2
    cons = e % 4 == 3
    kind = (F.when(srv, 2).when(cli, 3).when(internal, 1)
            .otherwise(5)).cast("int")
    lr = e % 12 == 5
    is_sdk = e % 8 == 1
    has_http = (e % 20) == 0
    has_db = cli & (e % 5 == 0)

    return ev.select(
        e.alias("i"),
        hx(F.lit(1000000) + u, 32).alias("trace_id"),
        hx(e + 1, 16).alias("span_id"),
        F.when(e % 3 == 0, F.lit("")).otherwise(
            hx(F.floor(e / 2) + 1, 16)).alias("parent_span_id"),
        F.concat(F.lit("op <"), F.col("event_type"), F.lit(">"))
        .alias("name"),
        kind.alias("kind"),
        (F.lit(1700000000_000000000) + e * 1000).alias("start_ns"),
        (F.lit(1700000001_000000000) + e * 1000).alias("end_ns"),
        F.when(e % 11 == 0, 2).when(e % 13 == 0, 1).otherwise(0)
        .cast("int").alias("status_code"),
        F.when(e % 22 == 0, F.concat(F.lit("boom"), s(e % 3)))
        .otherwise(F.lit("")).alias("status_message"),
        omap(
            (t, "custom.key", F.concat(F.lit("v"), s(e % 3))),
            (t, "other.key", F.concat(F.lit("w"), s(e % 2))),
            (e % 2 == 0, "enduser.id", F.concat(F.lit("user"),
                                                s(u % 5))),
            ((e % 11 == 0) | (e % 11 == 1), "http.status_text",
             F.lit("httperr")),
            (e % 15 == 0, "aws.xray.metadata.ns1",
             F.concat(F.lit('{"a": "x'), s(e % 3), F.lit('"}'))),
            # server-side http
            (has_http, "http.method", F.lit("GET")),
            (has_http, "http.scheme",
             F.when(e % 2 == 0, F.lit("https")).otherwise(F.lit("http"))),
            (has_http, "http.host", F.concat(F.lit("api"), s(u % 3))),
            (has_http, "http.target", F.concat(F.lit("/t/"), s(e % 7))),
            (has_http, "http.status_code",
             F.when(e % 17 == 0, F.lit("429"))
             .when(e % 19 == 0, F.lit("503")).otherwise(F.lit("200"))),
            # server-only local service name
            (srv & (e % 18 == 0), "aws.local.service",
             F.concat(F.lit("local-s"), s(u % 2))),
            # client-side db
            (has_db, "db.system", F.lit("mysql")),
            (has_db, "db.name", F.concat(F.lit("db"), s(u % 3))),
            (has_db, "db.connection_string",
             F.concat(F.lit("jdbc:mysql://h"), s(u % 2),
                      F.lit(":3306"))),
            (has_db, "db.user", F.lit("u")),
            (has_db, "db.statement",
             F.concat(F.lit("SELECT "), s(e % 5))),
            # aws sdk / remote-service shapes
            (cli & is_sdk, "rpc.system", F.lit("aws-api")),
            (cli & (is_sdk | (e % 8 == 5) | lr), "aws.remote.service",
             F.when(is_sdk, F.lit("AWS.SDK.DynamoDB"))
             .otherwise(F.concat(F.lit("rsvc"), s(u % 3)))),
            (e % 6 == 3, "peer.service", F.concat(F.lit("peer"),
                                                  s(u % 2))),
            (internal & (e % 6 == 2), "aws.service", F.lit("DynamoDB")),
            (e % 7 == 0, "aws.operation", F.concat(F.lit("Op"),
                                                   s(e % 3))),
            (e % 7 == 0, "aws.region", F.lit("us-east-1")),
            (e % 7 == 0, "aws.requestId", F.concat(F.lit("r"),
                                                   s(e % 5))),
            (e % 7 == 0, "aws.table.name", F.concat(F.lit("t"),
                                                    s(u % 2))),
            (lr, "aws.span.kind", F.lit("LOCAL_ROOT")),
            (lr, "aws.local.service", F.concat(F.lit("local"),
                                               s(u % 2))),
        ).alias("attrs"),
        omap(
            (t, "telemetry.sdk.name", F.lit("otel")),
            (t, "telemetry.sdk.language",
             F.when(u % 2 == 0, F.lit("java")).otherwise(F.lit("python"))),
            (t, "telemetry.sdk.version", F.concat(F.lit("1."), s(u % 3))),
            (u % 4 == 0, "telemetry.auto.version", F.lit("2.0")),
            (u % 5 != 0, "service.name", F.concat(F.lit("svc"),
                                                  s(u % 4))),
            (u % 3 == 0, "cloud.provider", F.lit("aws")),
            (u % 3 == 2, "cloud.provider", F.lit("gcp")),
            (u % 6 == 0, "cloud.platform", F.lit("aws_ec2")),
            (u % 6 == 1, "cloud.platform", F.lit("aws_ecs")),
            (u % 6 == 2, "cloud.platform", F.lit("aws_eks")),
            (u % 6 == 3, "cloud.platform",
             F.lit("aws_elastic_beanstalk")),
            (u % 12 == 1, "aws.ecs.launchtype", F.lit("fargate")),
            (u % 6 == 0, "cloud.availability_zone",
             F.concat(F.lit("az"), s(u % 2))),
            (u % 7 == 0, "host.id", F.concat(F.lit("i-"), s(u))),
            (u % 9 == 0, "k8s.cluster.name", F.concat(F.lit("c"),
                                                      s(u % 2))),
            (u % 9 == 0, "k8s.pod.name", F.concat(F.lit("p"), s(u % 2))),
            (u % 9 == 0, "container.id", F.lit("cid")),
            (u % 6 == 3, "service.namespace", F.lit("env")),
            (u % 6 == 3, "service.instance.id",
             F.concat(F.lit("12"), s(u % 2))),
            (u % 6 == 3, "service.version", F.lit("v1")),
            (u % 11 == 0, "aws.log.group.arns",
             F.concat(F.lit("arn:aws:logs:r:1:log-group:g"), s(u % 2),
                      F.lit(":*"))),
            (u % 11 == 1, "aws.log.group.names", F.lit("ga&gb")),
        ).alias("res_attrs"),
        F.lit(None).cast(
            "array<struct<ts_ns:bigint,name:string,"
            "attrs:map<string,string>>>").alias("events"),
        F.when(cons & (e % 9 == 3), F.array(F.struct(
            F.when(e % 23 == 0, F.lit("zz")).otherwise(
                hx(F.lit(2000000) + u, 32)).alias("trace_id"),
            hx(e + 7, 16).alias("span_id"),
            F.create_map(F.lit("lk"), s(e % 2)).alias("attrs"),
        ))).alias("links"),
    )


def q_xray_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.xray_export import xray_export_segments

    fx = _fixture(spark, sf_dir)
    out = xray_export_segments(fx, id_cols=["i"],
                               indexed_attrs=("custom.key",))
    a, h, q = F.col("aws"), F.col("http"), F.col("sql")
    return out.select(
        "i", "role", "err", "seg_id", "amazon_trace_id", "name",
        "parent_id", "seg_type", "namespace", "start_time", "end_time",
        "origin", "user", "error", "fault", "throttle",
        h["method"].alias("http_method"),
        h["url"].alias("http_url"),
        h["status"].alias("http_status"),
        h["content_length"].alias("http_clen"),
        a["account_id"].alias("aws_account"),
        a["operation"].alias("aws_operation"),
        a["remote_region"].alias("aws_region"),
        a["request_id"].alias("aws_reqid"),
        a["table_name"].alias("aws_table"),
        a["sdk"].alias("aws_sdk"),
        a["sdk_version"].alias("aws_sdk_version"),
        a["auto_instrumentation"].alias("aws_auto"),
        a["ec2"]["instance_id"].alias("ec2_instance"),
        a["ec2"]["availability_zone"].alias("ec2_zone"),
        a["ecs"]["launch_type"].alias("ecs_lt"),
        a["beanstalk"]["deployment_id"].cast("string")
        .alias("ebs_deploy"),
        a["eks"]["cluster_name"].alias("eks_cluster"),
        F.coalesce(F.array_join(F.transform(
            a["cwlogs"], lambda c: F.concat(
                c["log_group"], F.lit("|"),
                F.coalesce(c["arn"], F.lit("")))), ";"), F.lit(""))
        .alias("cwl_csv"),
        q["url"].alias("sql_url"),
        q["connection_string"].alias("sql_conn"),
        q["database_type"].alias("sql_type"),
        q["sanitized_query"].alias("sql_query"),
        F.expr(_FLAT.format(m="annotations")).alias("anno_csv"),
        F.expr(_FLAT.format(m="metadata_default")).alias("meta_csv"),
        F.expr(_FLAT.format(m="metadata_ns")).alias("meta_ns_csv"),
        F.coalesce(F.array_join(F.transform(
            F.col("links"), lambda ln: F.concat(
                ln["trace_id"], F.lit("|"), ln["span_id"], F.lit("|"),
                F.expr(_FLAT.format(m="links[0].attrs")))), ";"),
            F.lit("")).alias("links_csv"),
    )


O_XRAY_EXPORT = """
WITH base AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type
  FROM events
), c AS (
  SELECT *,
    e % 4 = 0 AS srv, e % 4 = 1 AS cli, e % 4 = 2 AS inter,
    e % 4 = 3 AS cons,
    CASE WHEN e % 4 = 0 THEN 2 WHEN e % 4 = 1 THEN 3
         WHEN e % 4 = 2 THEN 1 ELSE 5 END AS kind,
    e % 12 = 5 AS lr,
    e % 8 = 1 AS is_sdk,
    e % 20 = 0 AS has_http,
    (e % 4 = 1 AND e % 5 = 0) AS has_db,
    lpad(lower(to_hex(1000000 + u)), 32, '0') AS tid,
    lpad(lower(to_hex(e + 1)), 16, '0') AS sid,
    CASE WHEN e % 3 = 0 THEN ''
         ELSE lpad(lower(to_hex(e // 2 + 1)), 16, '0') END AS parent,
    CASE WHEN e % 11 = 0 THEN 2 WHEN e % 13 = 0 THEN 1
         ELSE 0 END AS status,
    CASE WHEN u % 3 = 0 THEN 'aws' WHEN u % 3 = 2 THEN 'gcp'
         ELSE '' END AS cloud,
    CASE WHEN u % 6 = 0 THEN 'aws_ec2' WHEN u % 6 = 1 THEN 'aws_ecs'
         WHEN u % 6 = 2 THEN 'aws_eks'
         WHEN u % 6 = 3 THEN 'aws_elastic_beanstalk'
         ELSE '' END AS platform
  FROM base
), d AS (
  SELECT *,
    (kind <> 2 AND parent <> '') AS subseg,
    (kind = 2 OR parent = '') AS store_res,
    CASE WHEN cli AND (is_sdk OR e % 8 = 5 OR lr) THEN
      CASE WHEN is_sdk THEN 'AWS.SDK.DynamoDB'
           ELSE 'rsvc' || CAST(u % 3 AS VARCHAR) END END AS remote_svc,
    CASE WHEN srv AND e % 18 = 0
           THEN 'local-s' || CAST(u % 2 AS VARCHAR)
         WHEN lr THEN 'local' || CAST(u % 2 AS VARCHAR)
    END AS aws_local,
    CASE WHEN e % 6 = 3 THEN 'peer' || CAST(u % 2 AS VARCHAR)
    END AS peer_svc,
    CASE WHEN inter AND e % 6 = 2 THEN 'DynamoDB' END AS aws_svc,
    substr(md5(lpad(lower(to_hex(1000000 + u)), 32, '0')
               || lpad(lower(to_hex(e + 1)), 16, '0')), 1, 16)
      AS svc_id
  FROM c
), n AS (
  SELECT *,
    COALESCE(
      CASE WHEN kind = 2 THEN aws_local END,
      CASE WHEN kind = 3 THEN
        CASE WHEN is_sdk AND remote_svc LIKE 'AWS.SDK.%'
               THEN substr(remote_svc, 9)
             ELSE remote_svc END END,
      peer_svc) AS head_name,
    CASE WHEN has_db THEN
      'db' || CAST(u % 3 AS VARCHAR) || '@h' || CAST(u % 2 AS VARCHAR)
    END AS db_name_rung,
    CASE WHEN kind = 2 AND u % 5 <> 0
           THEN 'svc' || CAST(u % 4 AS VARCHAR) END AS res_svc_rung,
    CASE WHEN has_http THEN 'api' || CAST(u % 3 AS VARCHAR)
    END AS http_host_rung,
    'op ' || event_type AS sanitized_rung
  FROM d
), m AS (
  SELECT *,
    COALESCE(head_name, aws_svc, db_name_rung, res_svc_rung,
             http_host_rung, sanitized_rung) AS main_name,
    CASE WHEN is_sdk THEN 'aws'
         WHEN head_name IS NULL AND aws_svc IS NOT NULL THEN 'aws'
         WHEN kind = 3 THEN 'remote' END AS main_ns,
    CASE WHEN cloud = 'gcp' THEN ''
         WHEN platform = 'aws_ec2' THEN 'AWS::EC2::Instance'
         WHEN platform = 'aws_ecs' THEN
           CASE WHEN u % 12 = 1 THEN 'AWS::ECS::Fargate'
                ELSE 'AWS::ECS::Container' END
         WHEN platform = 'aws_eks' THEN 'AWS::EKS::Container'
         WHEN platform = 'aws_elastic_beanstalk'
           THEN 'AWS::ElasticBeanstalk::Environment'
         ELSE '' END AS origin,
    CASE WHEN has_http THEN
      (CASE WHEN e % 2 = 0 THEN 'https' ELSE 'http' END)
      || '://api' || CAST(u % 3 AS VARCHAR) || '/t/'
      || CAST(e % 7 AS VARCHAR) END AS http_url,
    CASE WHEN has_http THEN
      CASE WHEN e % 17 = 0 THEN 429 WHEN e % 19 = 0 THEN 503
           ELSE 200 END END AS http_status,
    cloud IN ('aws', '') AS aws_ok,
    CASE WHEN e % 11 = 0 THEN
      CASE WHEN e % 22 = 0 THEN 'boom' || CAST(e % 3 AS VARCHAR)
           ELSE 'httperr' END END AS fb_msg
  FROM n
), flags AS (
  SELECT *,
    COALESCE(http_status BETWEEN 400 AND 499, FALSE) AS is_error,
    COALESCE(http_status = 429, FALSE) AS is_throttle,
    CASE WHEN http_status IS NULL OR http_status < 400
              OR http_status > 599 THEN status = 2
         ELSE http_status BETWEEN 500 AND 599 END AS is_fault,
    -- metadata/annotation sets
    'custom.key=v' || CAST(e % 3 AS VARCHAR) AS anno_custom,
    list_filter([
      'other.key=w' || CAST(e % 2 AS VARCHAR),
      CASE WHEN e % 11 = 1 THEN 'http.status_text=httperr' END,
      CASE WHEN e % 6 = 3
        THEN 'peer.service=peer' || CAST(u % 2 AS VARCHAR) END,
      CASE WHEN inter AND e % 6 = 2 THEN 'aws.service=DynamoDB' END,
      CASE WHEN lr THEN 'aws.span.kind=LOCAL_ROOT' END,
      CASE WHEN srv AND e % 18 = 0
        THEN 'aws.local.service=local-s' || CAST(u % 2 AS VARCHAR) END,
      CASE WHEN lr
        THEN 'aws.local.service=local' || CAST(u % 2 AS VARCHAR) END,
      CASE WHEN cli AND (is_sdk OR e % 8 = 5 OR lr) THEN
        'aws.remote.service=' ||
        CASE WHEN is_sdk THEN 'AWS.SDK.DynamoDB'
             ELSE 'rsvc' || CAST(u % 3 AS VARCHAR) END END,
      CASE WHEN cli AND is_sdk THEN 'rpc.system=aws-api' END
    ], x -> x IS NOT NULL) AS meta_attr_list,
    list_filter([
      'otel.resource.telemetry.sdk.name=otel',
      'otel.resource.telemetry.sdk.language=' ||
        CASE WHEN u % 2 = 0 THEN 'java' ELSE 'python' END,
      'otel.resource.telemetry.sdk.version=1.'
        || CAST(u % 3 AS VARCHAR),
      CASE WHEN u % 4 = 0
        THEN 'otel.resource.telemetry.auto.version=2.0' END,
      CASE WHEN u % 5 <> 0 THEN 'otel.resource.service.name=svc'
        || CAST(u % 4 AS VARCHAR) END,
      CASE WHEN u % 3 = 0 THEN 'otel.resource.cloud.provider=aws'
           WHEN u % 3 = 2 THEN 'otel.resource.cloud.provider=gcp' END,
      CASE WHEN u % 6 IN (0,1,2,3)
        THEN 'otel.resource.cloud.platform=' ||
          CASE u % 6 WHEN 0 THEN 'aws_ec2' WHEN 1 THEN 'aws_ecs'
               WHEN 2 THEN 'aws_eks'
               ELSE 'aws_elastic_beanstalk' END END,
      CASE WHEN u % 12 = 1
        THEN 'otel.resource.aws.ecs.launchtype=fargate' END,
      CASE WHEN u % 6 = 0 THEN 'otel.resource.cloud.availability_zone=az'
        || CAST(u % 2 AS VARCHAR) END,
      CASE WHEN u % 7 = 0
        THEN 'otel.resource.host.id=i-' || CAST(u AS VARCHAR) END,
      CASE WHEN u % 9 = 0 THEN 'otel.resource.k8s.cluster.name=c'
        || CAST(u % 2 AS VARCHAR) END,
      CASE WHEN u % 9 = 0 THEN 'otel.resource.k8s.pod.name=p'
        || CAST(u % 2 AS VARCHAR) END,
      CASE WHEN u % 9 = 0 THEN 'otel.resource.container.id=cid' END,
      CASE WHEN u % 6 = 3 THEN 'otel.resource.service.namespace=env' END,
      CASE WHEN u % 6 = 3 THEN 'otel.resource.service.instance.id=12'
        || CAST(u % 2 AS VARCHAR) END,
      CASE WHEN u % 6 = 3 THEN 'otel.resource.service.version=v1' END,
      CASE WHEN u % 11 = 0
        THEN 'otel.resource.aws.log.group.arns=arn:aws:logs:r:1:log-group:g'
          || CAST(u % 2 AS VARCHAR) || ':*' END,
      CASE WHEN u % 11 = 1
        THEN 'otel.resource.aws.log.group.names=ga&gb' END
    ], x -> x IS NOT NULL) AS meta_res_list
  FROM m
), segs AS (
  SELECT *, 'main' AS role FROM flags WHERE NOT lr
  UNION ALL
  SELECT *, 'dep' AS role FROM flags WHERE lr
  UNION ALL
  SELECT *, 'svc' AS role FROM flags WHERE lr
)
SELECT
  i, role,
  COALESCE(cons AND e % 9 = 3 AND e % 23 = 0, FALSE) AS err,
  CASE WHEN role = 'svc' THEN svc_id ELSE sid END AS seg_id,
  '1-' || substr(tid, 1, 8) || '-' || substr(tid, 9, 24)
    AS amazon_trace_id,
  CASE WHEN role = 'svc' THEN aws_local
       WHEN role = 'dep' THEN
         CASE WHEN is_sdk THEN 'DynamoDB'
              ELSE 'rsvc' || CAST(u % 3 AS VARCHAR) END
       ELSE main_name END AS name,
  CASE WHEN role = 'dep' THEN svc_id ELSE parent END AS parent_id,
  CASE WHEN role = 'dep' THEN 'subsegment'
       WHEN role = 'svc' THEN NULL
       WHEN subseg THEN 'subsegment' END AS seg_type,
  CASE WHEN role = 'dep' THEN COALESCE(main_ns, 'remote')
       WHEN role = 'svc' THEN NULL
       ELSE main_ns END AS namespace,
  (1700000000000000000 + e * 1000) / 1e9 AS start_time,
  (1700000001000000000 + e * 1000) / 1e9 AS end_time,
  origin,
  CASE WHEN e % 2 = 0 THEN 'user' || CAST(u % 5 AS VARCHAR)
       ELSE '' END AS "user",
  is_error AS error, is_fault AS fault, is_throttle AS throttle,
  CASE WHEN has_http AND role <> 'svc' THEN 'GET' END AS http_method,
  CASE WHEN has_http AND role <> 'svc' THEN http_url END AS http_url,
  CASE WHEN has_http AND role <> 'svc' THEN http_status
    END AS http_status,
  CASE WHEN has_http AND role <> 'svc' THEN 0 END AS http_clen,
  CASE WHEN aws_ok THEN '' END AS aws_account,
  CASE WHEN aws_ok THEN
    CASE WHEN role = 'svc' THEN ''
         WHEN e % 7 = 0 THEN 'Op' || CAST(e % 3 AS VARCHAR)
         ELSE '' END END AS aws_operation,
  CASE WHEN aws_ok THEN
    CASE WHEN role = 'svc' THEN ''
         WHEN e % 7 = 0 THEN 'us-east-1' ELSE '' END
    END AS aws_region,
  CASE WHEN aws_ok THEN
    CASE WHEN role = 'svc' THEN ''
         WHEN e % 7 = 0 THEN 'r' || CAST(e % 5 AS VARCHAR)
         ELSE '' END END AS aws_reqid,
  CASE WHEN aws_ok THEN
    CASE WHEN role = 'svc' THEN ''
         WHEN e % 7 = 0 THEN 't' || CAST(u % 2 AS VARCHAR)
         ELSE '' END END AS aws_table,
  CASE WHEN aws_ok THEN 'otel for ' ||
    CASE WHEN u % 2 = 0 THEN 'java' ELSE 'python' END
    END AS aws_sdk,
  CASE WHEN aws_ok THEN '1.' || CAST(u % 3 AS VARCHAR)
    END AS aws_sdk_version,
  CASE WHEN aws_ok THEN u % 4 = 0 END AS aws_auto,
  CASE WHEN NOT aws_ok THEN NULL
       WHEN platform = 'aws_ec2' OR u % 7 = 0 THEN
         CASE WHEN u % 7 = 0 THEN 'i-' || CAST(u AS VARCHAR)
              ELSE '' END
       ELSE NULL END AS ec2_instance,
  CASE WHEN NOT aws_ok THEN NULL
       WHEN platform = 'aws_ec2' OR u % 7 = 0 THEN
         CASE WHEN u % 6 = 0 THEN 'az' || CAST(u % 2 AS VARCHAR)
              ELSE '' END
       ELSE NULL END AS ec2_zone,
  CASE WHEN NOT aws_ok THEN NULL
       WHEN platform = 'aws_ecs' THEN
         CASE WHEN u % 12 = 1 THEN 'fargate' ELSE '' END
       ELSE NULL END AS ecs_lt,
  CASE WHEN NOT aws_ok THEN NULL
       WHEN platform = 'aws_elastic_beanstalk'
         THEN '12' || CAST(u % 2 AS VARCHAR)
       ELSE NULL END AS ebs_deploy,
  CASE WHEN NOT aws_ok THEN NULL
       WHEN platform = 'aws_eks' OR u % 9 = 0 THEN
         CASE WHEN u % 9 = 0 THEN 'c' || CAST(u % 2 AS VARCHAR)
              ELSE '' END
       ELSE NULL END AS eks_cluster,
  CASE WHEN NOT aws_ok THEN ''
       WHEN u % 11 = 0 THEN
         'g' || CAST(u % 2 AS VARCHAR)
         || '|arn:aws:logs:r:1:log-group:g'
         || CAST(u % 2 AS VARCHAR) || ':*'
       WHEN u % 11 = 1 THEN 'ga|;gb|'
       ELSE '' END AS cwl_csv,
  CASE WHEN has_db THEN 'op <' || event_type || '>' END AS sql_url,
  CASE WHEN has_db THEN 'jdbc:mysql://h' || CAST(u % 2 AS VARCHAR)
    || ':3306/db' || CAST(u % 3 AS VARCHAR) END AS sql_conn,
  CASE WHEN has_db THEN 'mysql' END AS sql_type,
  CASE WHEN has_db THEN 'SELECT ' || CAST(e % 5 AS VARCHAR)
    END AS sql_query,
  anno_custom AS anno_csv,
  CASE WHEN role = 'svc' THEN ''
       ELSE array_to_string(list_sort(
         CASE WHEN store_res THEN
           list_concat(meta_attr_list, meta_res_list)
         ELSE meta_attr_list END), ',') END AS meta_csv,
  CASE WHEN role = 'svc' THEN ''
       WHEN e % 15 = 0 THEN 'ns1={"a": "x'
         || CAST(e % 3 AS VARCHAR) || '"}'
       ELSE '' END AS meta_ns_csv,
  CASE WHEN cons AND e % 9 = 3 THEN
    '1-' || substr(CASE WHEN e % 23 = 0 THEN 'zz'
                        ELSE lpad(lower(to_hex(2000000 + u)), 32, '0')
                   END, 1, 8)
    || '-' || substr(CASE WHEN e % 23 = 0 THEN 'zz'
                          ELSE lpad(lower(to_hex(2000000 + u)), 32, '0')
                     END, 9, 24)
    || '|' || lpad(lower(to_hex(e + 7)), 16, '0')
    || '|lk=' || CAST(e % 2 AS VARCHAR)
  ELSE '' END AS links_csv
FROM segs
"""


def q_xray_export_exc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.xray_export import xray_export_segments

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    hx = lambda c, n: F.lpad(F.lower(F.hex(c)), n, "0")  # noqa: E731
    java_st = ("java.lang.Boom: k\n"
               "\tat com.example.Foo.bar(Foo.java:42)\n"
               "Caused by: java.lang.Root: deep\n"
               "\tat com.Deep.f(Deep.java:1)")
    fx = ev.select(
        e.alias("i"),
        hx(F.lit(1000000) + u, 32).alias("trace_id"),
        hx(e + 1, 16).alias("span_id"),
        hx(F.floor(e / 2) + 1, 16).alias("parent_span_id"),
        F.lit("op").alias("name"),
        F.when(e % 2 == 0, 3).otherwise(2).cast("int").alias("kind"),
        F.lit(1700000000_000000000).alias("start_ns"),
        F.lit(1700000001_000000000).alias("end_ns"),
        F.lit(2).cast("int").alias("status_code"),
        F.when(e % 5 == 0, F.lit("statusmsg")).otherwise(F.lit(""))
        .alias("status_message"),
        F.when(e % 7 == 0,
               F.create_map(F.lit("http.status_text"),
                            F.lit("texty")))
        .otherwise(F.create_map(F.lit("k"), F.lit("v")).cast(
            "map<string,string>")).alias("attrs"),
        F.create_map(F.lit("telemetry.sdk.language"), F.lit("java"))
        .alias("res_attrs"),
        F.when(e % 3 == 0, F.array(F.struct(
            F.lit(5).cast("bigint").alias("ts_ns"),
            F.lit("exception").alias("name"),
            F.create_map(
                F.lit("exception.type"), F.lit("java.lang.Boom"),
                F.lit("exception.message"), F.lit("k"),
                F.lit("exception.stacktrace"), F.lit(java_st))
            .alias("attrs")))).alias("events"),
        F.lit(None).cast(
            "array<struct<trace_id:string,span_id:string,"
            "attrs:map<string,string>>>").alias("links"),
    )
    out = xray_export_segments(fx, id_cols=["i"])
    return out.select(
        "i", "fault",
        F.coalesce(F.array_join(F.transform(
            F.col("exceptions"),
            lambda x: F.concat_ws(
                "|", x["id"], x["type"],
                F.coalesce(x["message"], F.lit("")),
                F.coalesce(x["remote"].cast("string"), F.lit("-")),
                F.coalesce(x["cause"], F.lit("-")),
                F.coalesce(F.array_join(F.transform(
                    x["stack"], lambda fr: F.concat_ws(
                        "/", fr["path"], fr["label"],
                        fr["line"].cast("string"))), ";"),
                    F.lit("-")))), "~"), F.lit("")).alias("exc_csv"),
    )


O_XRAY_EXPORT_EXC = """
WITH a AS (
  SELECT event_id AS i, event_id AS e, user_id AS u,
         lpad(lower(to_hex(event_id + 1)), 16, '0') AS sid
  FROM events
)
SELECT i, TRUE AS fault,
  CASE
    WHEN e % 3 = 0 THEN
      substr(md5(sid || ':exc:0'), 1, 16) || '|java.lang.Boom|k|'
      || CASE WHEN e % 2 = 0 THEN 'true' ELSE 'false' END || '|'
      || substr(md5(sid || ':exc:1'), 1, 16)
      || '|Foo.java/com.example.Foo.bar/42'
      || '~' || substr(md5(sid || ':exc:1'), 1, 16)
      || '|java.lang.Root|deep|'
      || CASE WHEN e % 2 = 0 THEN 'true' ELSE 'false' END
      || '|-|Deep.java/com.Deep.f/1'
    WHEN e % 5 = 0 THEN
      substr(md5(sid || ':exc:0'), 1, 16) || '||statusmsg|-|-|-'
    WHEN e % 7 = 0 THEN
      substr(md5(sid || ':exc:0'), 1, 16) || '||texty|-|-|-'
    ELSE ''
  END AS exc_csv
FROM a
"""

EXT27_QUERIES["xray_export"] = q_xray_export
EXT27_ORACLES["xray_export"] = O_XRAY_EXPORT
EXT27_QUERIES["xray_export_exc"] = q_xray_export_exc
EXT27_ORACLES["xray_export_exc"] = O_XRAY_EXPORT_EXC
