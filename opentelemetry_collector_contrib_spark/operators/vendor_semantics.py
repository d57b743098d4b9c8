"""Vendor semantic processors: coralogix transactions + datadog
semantics — the last two uncovered entries in the reference's
``processor/`` directory.

- coralogix — ``processor/coralogixprocessor/internal/transactions/
  trasactions.go`` (:17-76) + ``span_tree.go``: per trace, build the
  span tree from parent ids; the root span and every server/consumer
  descendant start a NEW transaction named after themselves (and get
  ``cgx.transaction.root = true``); every other span inherits the
  nearest such ancestor's transaction name into ``cgx.transaction``.
- datadog — ``processor/datadogsemanticsprocessor/processor.go``
  (:35-233): insert-if-missing derivation of ``datadog.*`` attributes
  (service/version/env/span.kind), VCS → ``git.*`` mapping with
  protocol-stripped repository URL (:211-222), and ``status2Error``
  (:170-209) error flag + message fallback chain (exception event
  message → status message → http status code). The agent-library
  operation/resource-name derivations (``GetOTelOperationNameV2``
  etc.) live outside this repo and are NOT mirrored — only the logic
  the reference itself carries.

Spark re-expression: datadog semantics is a zero-shuffle projection.
The coralogix transaction walk is nearest-marked-ancestor over the
parent pointers — implemented as POINTER DOUBLING (each round, an
unresolved span either adopts its current ancestor's resolved
transaction or jumps its pointer two hops up), so a depth-D trace
resolves in ceil(log2 D) self-joins instead of D — at 10^12 turns the
round count stays single-digit while a per-level walk would scale
with the deepest trace. Each round shuffles only (trace, span, ptr,
txn) and is localCheckpoint'd to keep the iterative plan flat (the
connected-components lesson).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def coralogix_transactions(
    df: DataFrame,
    rounds: int = 6,
) -> DataFrame:
    """Attach (transaction, is_root) to every span.

    Boundary spans (tree root = null parent, or kind server/consumer —
    trasactions.go:55-63) resolve to their own name immediately;
    everyone else resolves to the nearest boundary ancestor via
    pointer doubling. ``rounds`` bounds the resolvable depth at
    ~2^rounds (default 64); deeper spans keep a NULL transaction —
    callers at pathological depth raise ``rounds`` (one more
    self-join doubles the reach).

    Orphan semantics: the reference walks only the tree under the
    single root and leaves orphaned spans untouched; spans whose
    parent chain never reaches a boundary likewise stay NULL here.
    """
    boundary = F.col("parent_span_id").isNull() | F.col("kind").isin(
        "server", "consumer"
    )
    state = df.select(
        F.col("trace_id").alias("_tr"),
        F.col("span_id").alias("_sp"),
        F.when(boundary, F.col("name")).alias("_txn"),
        F.when(~boundary, F.col("parent_span_id")).alias("_ptr"),
        boundary.alias("is_root"),
    )
    for _ in range(rounds):
        if state.filter(F.col("_ptr").isNotNull()).isEmpty():
            break
        anc = state.select(
            F.col("_tr").alias("_tr2"),
            F.col("_sp").alias("_sp2"),
            F.col("_txn").alias("_txn2"),
            F.col("_ptr").alias("_ptr2"),
        )
        state = (
            state.join(
                anc,
                (F.col("_tr") == F.col("_tr2")) & (F.col("_ptr") == F.col("_sp2")),
                "left",
            )
            .select(
                "_tr",
                "_sp",
                F.coalesce(F.col("_txn"), F.col("_txn2")).alias("_txn"),
                F.when(
                    F.col("_txn").isNull() & F.col("_txn2").isNull(),
                    F.col("_ptr2"),
                ).alias("_ptr"),
                "is_root",
            )
            .localCheckpoint()
        )
    return state.select(
        F.col("_tr").alias("trace_id"),
        F.col("_sp").alias("span_id"),
        F.col("_txn").alias("txn"),
        "is_root",
    )


def _strip_protocol(url: Column) -> Column:
    """stripProtocolFromURL (processor.go:211-222): drop '<scheme>://'
    when the value parses as a URL with a scheme."""
    return F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")


def datadog_semantics(
    df: DataFrame,
    override: bool = False,
) -> DataFrame:
    """Derive the ``datadog.*`` / ``git.*`` attribute set from
    flattened span columns (processor.go:35-165).

    - ``datadog.version``: service.version or '' (:42-46)
    - ``datadog.service``: service.name or the GetOTelService default
      'otlpresourcenoservicename' (:85-86)
    - ``datadog.env``: deployment environment or 'default' (:92-97)
    - ``datadog.span.kind``: lowercase kind name (:114-118)
    - ``git.commit.sha`` / ``git.repository_url``: VCS attrs, URL
      protocol-stripped (:121-134)
    - ``datadog.http_status_code``: stringified when present (:137-143)
    - ``datadog.error`` + ``datadog.error.msg``: status2Error
      (:170-209) — error status ⇒ 1 with message = exception-event
      message, else status message, else the http code string
    - ``override=False`` keeps pre-existing ``datadog_*`` columns
      (insertAttrIfMissingOrShouldOverride :21-33); True recomputes.

    Zero-shuffle projection; fuses into the scan.
    """
    c = lambda n: F.col(n)  # noqa: E731

    def put(out: DataFrame, name: str, derived: Column) -> DataFrame:
        if not override and name in out.columns:
            return out.withColumn(name, F.coalesce(c(name), derived))
        return out.withColumn(name, derived)

    # NULL status (unset, the common case) is NOT an error — status2Error
    # returns 0 for anything but StatusCodeError (:170-172)
    is_err = F.coalesce(c("status_code") == "error", F.lit(False))
    err_msg = F.when(
        is_err,
        F.coalesce(
            c("exception_message"),
            F.when(c("status_message") != "", c("status_message")),
            c("http_status_code").cast("string"),
        ),
    )
    out = df
    out = put(out, "datadog_version", F.coalesce(c("service_version"), F.lit("")))
    out = put(
        out,
        "datadog_service",
        F.coalesce(c("service_name"), F.lit("otlpresourcenoservicename")),
    )
    out = put(out, "datadog_env", F.coalesce(c("deployment_env"), F.lit("default")))
    out = put(out, "datadog_span_kind", F.lower(c("kind")))
    out = put(out, "git_commit_sha", c("vcs_revision"))
    out = put(out, "git_repository_url", _strip_protocol(c("vcs_repo_url")))
    out = put(
        out,
        "datadog_http_status_code",
        F.when(c("http_status_code").isNotNull(), c("http_status_code").cast("string")),
    )
    out = put(out, "datadog_error", is_err.cast("int"))
    out = put(out, "datadog_error_msg", err_msg)
    out = put(
        out, "datadog_error_type", F.when(is_err, c("exception_type"))
    )
    return out


# ---------------------------------------------------------------------------
# sumologic processor (cloud namespace -> attribute translation ->
# log-fields conversion, in the reference's sub-processor order:
# processor/sumologicprocessor/processor.go:47-55)
# ---------------------------------------------------------------------------

# translate_attributes_processor.go:19-42 (verbatim table)
SUMO_ATTRIBUTE_TRANSLATIONS: dict[str, str] = {
    "cloud.account.id": "AccountId",
    "cloud.availability_zone": "AvailabilityZone",
    "cloud.platform": "aws_service",
    "cloud.region": "Region",
    "host.id": "InstanceId",
    "host.name": "host",
    "host.type": "InstanceType",
    "k8s.cluster.name": "Cluster",
    "k8s.container.name": "container",
    "k8s.daemonset.name": "daemonset",
    "k8s.deployment.name": "deployment",
    "k8s.namespace.name": "namespace",
    "k8s.node.name": "node",
    "k8s.service.name": "service",
    "k8s.pod.hostname": "host",
    "k8s.pod.name": "pod",
    "k8s.pod.uid": "pod_id",
    "k8s.replicaset.name": "replicaset",
    "k8s.statefulset.name": "statefulset",
    "service.name": "service",
    "log.file.path_resolved": "_sourceName",
}

# cloud_namespace_processor.go:20-23,71-78
SUMO_CLOUD_NAMESPACES: dict[str, str] = {
    "aws_ec2": "aws/ec2",
    "aws_ecs": "ecs",
    "aws_elastic_beanstalk": "ElasticBeanstalk",
}

# log_fields_conversion_processor.go:52-78 — severity number -> level
SUMO_SEVERITY_LEVELS: dict[int, str] = {0: "UNSPECIFIED"}
for _base, _name in ((1, "TRACE"), (5, "DEBUG"), (9, "INFO"),
                     (13, "WARN"), (17, "ERROR"), (21, "FATAL")):
    SUMO_SEVERITY_LEVELS[_base] = _name
    for _i in (2, 3, 4):
        SUMO_SEVERITY_LEVELS[_base + _i - 1] = f"{_name}{_i}"


def sumologic_cloud_namespace(attrs: Column) -> Column:
    """Insert ``cloud.namespace`` derived from ``cloud.platform``
    (cloud_namespace_processor.go:60-80); unknown platforms add
    nothing. PutStr overwrite semantics: any existing cloud.namespace
    entry is replaced."""
    platform = F.element_at(attrs, "cloud.platform")
    pairs = []
    for k, v in SUMO_CLOUD_NAMESPACES.items():
        pairs.extend([F.lit(k), F.lit(v)])
    ns = F.element_at(F.create_map(*pairs), platform)
    cleaned = F.map_filter(attrs, lambda k, _v: k != F.lit("cloud.namespace"))
    return F.when(
        ns.isNotNull(),
        F.map_concat(cleaned, F.create_map(F.lit("cloud.namespace"), ns)),
    ).otherwise(attrs)


def _sumo_renamed_entries(
    attrs: Column, table: dict[str, str] | None = None
) -> Column:
    """Per-entry rename pass (the single source of the translation
    rule — composed directly above, staged behind select barriers in
    ``sumologic_semantics``). ``table`` defaults to the OT→Sumo
    attribute table; the docker resource rename reuses the same
    insert-without-overwrite walk with its own table."""
    pairs = []
    for k, v in (table or SUMO_ATTRIBUTE_TRANSLATIONS).items():
        pairs.extend([F.lit(k), F.lit(v)])
    lookup = F.create_map(*pairs)
    return F.transform(
        F.map_entries(attrs),
        lambda e: F.struct(
            F.when(
                F.element_at(lookup, e["key"]).isNotNull()
                & ~F.map_contains_key(attrs, F.element_at(lookup, e["key"])),
                F.element_at(lookup, e["key"]),
            ).otherwise(e["key"]).alias("key"),
            e["value"].alias("value"),
        ),
    )


def _sumo_entry_keys(entries: Column) -> Column:
    return F.transform(entries, lambda e: e["key"])


def _sumo_first_wins_map(entries: Column, keys: Column) -> Column:
    return F.map_from_entries(
        F.filter(
            entries,
            lambda e, i: F.array_position(keys, e["key"]) == i + 1,
        )
    )


def sumologic_loglevel(severity_number: Column) -> Column:
    """Severity number -> Sumo 'loglevel' field
    (log_fields_conversion_processor.go:52-90)."""
    pairs = []
    for k, v in SUMO_SEVERITY_LEVELS.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.element_at(F.create_map(*pairs), severity_number.cast("int"))


def sumologic_semantics(
    df: DataFrame,
) -> DataFrame:
    """The sumologic processor's semantic stages in reference order
    (processor.go:47-55): cloud namespace insertion, attribute
    translation, severity-number -> ``loglevel``. Zero-shuffle map
    surgery; telegraf/docker metric-name tables and attribute nesting
    are config-gated vendor exports, declared out of scope.

    Each stage is materialized as a concrete column behind a select
    barrier: composing the map expressions directly makes every
    per-entry lambda re-evaluate the whole upstream chain (entries² ×
    namespace-insert blowup — measured 5.5s → ~1s at sf0.1)."""
    passthrough = [c for c in df.columns if c not in ("attrs",)]
    s1 = df.select(
        *passthrough,
        sumologic_cloud_namespace(F.col("attrs")).alias("_a1"),
    )
    # rename pass: per-entry target lookup against the STAGED map
    # (_sumo_renamed_entries is the single source of the rename rule)
    s2 = s1.select(
        "*", _sumo_renamed_entries(F.col("_a1")).alias("_entries")
    ).drop("_a1")
    s3 = s2.select(
        "*", _sumo_entry_keys(F.col("_entries")).alias("_keys")
    )
    out = s3.select(
        "*",
        _sumo_first_wins_map(F.col("_entries"), F.col("_keys")).alias("attrs"),
        sumologic_loglevel(F.col("severity_number")).alias("loglevel"),
    ).drop("_entries", "_keys")
    return out


# ---------------------------------------------------------------------------
# datadogconnector: traces -> APM stats
# ---------------------------------------------------------------------------


def datadog_apm_stats(
    df: DataFrame,
    bucket_ns: int = 10_000_000_000,
    compute_top_level_by_span_kind: bool = True,
    compute_stats_by_span_kind: bool = True,
    ignore_resources: list[str] | None = None,
    trace_col: str = "trace_id",
    parent_col: str = "parent_span_id",
    service_col: str = "service",
    name_col: str = "op_name",
    resource_col: str = "resource",
    kind_col: str = "span_kind",
    env_col: str = "env",
    hostname_col: str = "hostname",
    version_col: str = "version",
    start_col: str = "start_ns",
    duration_col: str = "duration_ns",
    error_col: str = "is_error",
    http_code_col: str = "http_status_code",
    origin_col: str = "origin",
) -> DataFrame:
    """``connector/datadogconnector`` traces→metrics: derive APM stats
    from spans the way the connector's Concentrator does.

    The connector (``connector_native.go:135-141``) feeds every span
    through ``stats.Concentrator`` from the datadog-agent (public
    Apache-2.0: ``pkg/trace/stats/{concentrator,aggregation,
    statsraw}.go``) and emits per-bucket per-group stats payloads.
    The semantics mirrored here, with the reference-repo config knobs
    that gate them (``pkg/datadog/config/traces.go``):

    - **eligibility** — stats are computed for *top-level* and
      *measured* spans. With ``compute_top_level_by_span_kind``
      (traces.go:43-48): top-level = root span (no parent) OR kind
      server/consumer; client/producer spans are *measured*. With
      ``compute_stats_by_span_kind`` (traces.go:37-41) off, only
      top-level spans contribute.
    - **ignore_resources** (traces.go:18-21) — drop spans whose
      resource matches any of the blacklist regexes before stats.
    - **time buckets** — a span lands in the 10 s bucket containing
      its END time: ``btime = end - end % bsize`` (concentrator.go).
    - **aggregation key** (aggregation.go ``BucketsAggregationKey`` +
      ``PayloadAggregationKey``) — env, hostname, version, service,
      operation name, resource, span.kind, HTTP status code
      (0 when absent), synthetics (origin prefixed ``synthetics``),
      and whether the span is the trace root.
    - **grain stats** (statsraw.go) — ``hits``, ``errors`` (error
      spans), ``duration`` (ns sum), ``top_level_hits`` (hits from
      top-level spans only; measured-only spans count toward hits
      but not top-level hits). The DDSketch ok/error latency
      distributions are represented by the engine's spanmetrics
      histograms (``operators/aggregate.py``) rather than re-encoded
      as sketches.

    Spark shape: one zero-shuffle eligibility + key projection fused
    into the scan, then a single hash aggregate (map-side partial →
    final) — the same one-exchange plan as ``spanmetrics``. At
    10^12 turns the group space is bounded by key cardinality, not
    row count, so the shuffle stays small.
    """
    kind = F.lower(F.col(kind_col))
    is_root = F.col(parent_col).isNull() | (F.col(parent_col) == "")
    if compute_top_level_by_span_kind:
        top_level = is_root | kind.isin("server", "consumer")
    else:
        # legacy rule (traceutil/toplevel.go): root or service change
        # vs parent — callers on this path must pre-mark; we keep the
        # root-only conservative core
        top_level = is_root
    measured = (
        kind.isin("client", "producer")
        if compute_stats_by_span_kind
        else F.lit(False)
    )
    eligible = top_level | measured
    if ignore_resources:
        for rx in ignore_resources:
            eligible = eligible & ~F.col(resource_col).rlike(rx)

    end_ns = F.col(start_col) + F.col(duration_col)
    bucket_start = (end_ns - end_ns % F.lit(bucket_ns)).alias("bucket_start")
    synthetics = F.startswith(
        F.coalesce(F.col(origin_col), F.lit("")), F.lit("synthetics")
    )
    err = F.coalesce(F.col(error_col).cast("boolean"), F.lit(False))

    return (
        df.where(eligible)
        .groupBy(
            bucket_start,
            F.col(env_col).alias("env"),
            F.col(hostname_col).alias("hostname"),
            F.col(version_col).alias("version"),
            F.col(service_col).alias("service"),
            F.col(name_col).alias("op_name"),
            F.col(resource_col).alias("resource"),
            kind.alias("span_kind"),
            F.coalesce(F.col(http_code_col), F.lit(0)).alias("status_code"),
            synthetics.alias("synthetics"),
            is_root.alias("is_trace_root"),
        )
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.sum(top_level.cast("long")).alias("top_level_hits"),
            F.sum(err.cast("long")).alias("errors"),
            F.sum(F.col(duration_col)).alias("duration_sum"),
        )
    )


# ---------------------------------------------------------------------------
# sumologic translate_telegraf_metrics / translate_docker_metrics
# (the processor's remaining config-gated stages, previously declared
# out of scope — now covered so the sub-processor chain is complete)
# ---------------------------------------------------------------------------

# translate_telegraf_metrics_processor.go:18-75 (verbatim table)
SUMO_TELEGRAF_METRIC_TRANSLATIONS: dict[str, str] = {
    "cpu_usage_active": "CPU_Total",
    "cpu_usage_idle": "CPU_Idle",
    "cpu_usage_iowait": "CPU_IOWait",
    "cpu_usage_irq": "CPU_Irq",
    "cpu_usage_nice": "CPU_Nice",
    "cpu_usage_softirq": "CPU_SoftIrq",
    "cpu_usage_steal": "CPU_Stolen",
    "cpu_usage_System": "CPU_Sys",
    "cpu_usage_user": "CPU_User",
    "system_load1": "CPU_LoadAvg_1min",
    "system_load5": "CPU_LoadAvg_5min",
    "system_load15": "CPU_LoadAvg_15min",
    "disk_used": "Disk_Used",
    "disk_used_percent": "Disk_UsedPercent",
    "disk_inodes_free": "Disk_InodesAvailable",
    "diskio_reads": "Disk_Reads",
    "diskio_read_bytes": "Disk_ReadBytes",
    "diskio_writes": "Disk_Writes",
    "diskio_write_bytes": "Disk_WriteBytes",
    "mem_total": "Mem_Total",
    "mem_free": "Mem_free",
    "mem_available": "Mem_ActualFree",
    "mem_used": "Mem_ActualUsed",
    "mem_used_percent": "Mem_UsedPercent",
    "mem_available_percent": "Mem_FreePercent",
    "procstat_num_threads": "Proc_Threads",
    "procstat_memory_vms": "Proc_VMSize",
    "procstat_memory_rss": "Proc_RSSize",
    "procstat_cpu_usage": "Proc_CPU",
    "procstat_major_faults": "Proc_MajorFaults",
    "procstat_minor_faults": "Proc_MinorFaults",
    "net_bytes_sent": "Net_OutBytes",
    "net_bytes_recv": "Net_InBytes",
    "net_packets_sent": "Net_OutPackets",
    "net_packets_recv": "Net_InPackets",
    "netstat_tcp_close": "TCP_Close",
    "netstat_tcp_close_wait": "TCP_CloseWait",
    "netstat_tcp_closing": "TCP_Closing",
    "netstat_tcp_established": "TCP_Established",
    "netstat_tcp_listen": "TCP_Listen",
    "netstat_tcp_time_wait": "TCP_TimeWait",
}

# translate_docker_metrics_processor.go:19-71 (verbatim table)
SUMO_DOCKER_METRIC_TRANSLATIONS: dict[str, str] = {
    "container.cpu.percent": "cpu_percentage",
    "container.cpu.usage.system": "system_cpu_usage",
    "container.cpu.usage.percpu": "cpu_usage.percpu_usage",
    "container.cpu.usage.total": "cpu_usage.total_usage",
    "container.cpu.usage.kernelmode": "cpu_usage.usage_in_kernelmode",
    "container.cpu.usage.usermode": "cpu_usage.usage_in_usermode",
    "container.cpu.throttling_data.periods": "throttling_data.periods",
    "container.cpu.throttling_data.throttled_periods":
        "throttling_data.throttled_periods",
    "container.cpu.throttling_data.throttled_time":
        "throttling_data.throttled_time",
    "container.memory.usage.limit": "limit",
    "container.memory.usage.max": "max_usage",
    "container.memory.percent": "memory_percentage",
    "container.memory.usage.total": "usage",
    "container.memory.active_anon": "stats.active_anon",
    "container.memory.active_file": "stats.active_file",
    "container.memory.cache": "stats.cache",
    "container.memory.hierarchical_memory_limit":
        "stats.hierarchical_memory_limit",
    "container.memory.inactive_anon": "stats.inactive_anon",
    "container.memory.inactive_file": "stats.inactive_file",
    "container.memory.mapped_file": "stats.mapped_file",
    "container.memory.pgfault": "stats.pgfault",
    "container.memory.pgmajfault": "stats.pgmajfault",
    "container.memory.pgpgin": "stats.pgpgin",
    "container.memory.pgpgout": "stats.pgpgout",
    "container.memory.rss": "stats.rss",
    "container.memory.rss_huge": "stats.rss_huge",
    "container.memory.unevictable": "stats.unevictable",
    "container.memory.writeback": "stats.writeback",
    "container.memory.total_active_anon": "stats.total_active_anon",
    "container.memory.total_active_file": "stats.total_active_file",
    "container.memory.total_cache": "stats.total_cache",
    "container.memory.total_inactive_anon": "stats.total_inactive_anon",
    "container.memory.total_mapped_file": "stats.total_mapped_file",
    "container.memory.total_pgfault": "stats.total_pgfault",
    "container.memory.total_pgmajfault": "stats.total_pgmajfault",
    "container.memory.total_pgpgin": "stats.total_pgpgin",
    "container.memory.total_pgpgout": "stats.total_pgpgout",
    "container.memory.total_rss": "stats.total_rss",
    "container.memory.total_rss_huge": "stats.total_rss_huge",
    "container.memory.total_unevictable": "stats.total_unevictable",
    "container.memory.total_writeback": "stats.total_writeback",
    "container.blockio.io_merged_recursive": "io_merged_recursive",
    "container.blockio.io_queued_recursive": "io_queue_recursive",
    "container.blockio.io_service_bytes_recursive":
        "io_service_bytes_recursive",
    "container.blockio.io_service_time_recursive":
        "io_service_time_recursive",
    "container.blockio.io_serviced_recursive": "io_serviced_recursive",
    "container.blockio.io_time_recursive": "io_time_recursive",
    "container.blockio.io_wait_time_recursive": "io_wait_time_recursive",
    "container.blockio.sectors_recursive": "sectors_recursive",
}

# translate_docker_metrics_processor.go:73-77
SUMO_DOCKER_RESOURCE_TRANSLATIONS: dict[str, str] = {
    "container.id": "container.FullID",
    "container.image.name": "container.ImageName",
    "container.name": "container.Name",
}


def _metric_rename(name: Column, table: dict[str, str]) -> Column:
    pairs = []
    for k, v in table.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.coalesce(F.element_at(F.create_map(*pairs), name), name)


def sumologic_translate_telegraf_metric(name: Column) -> Column:
    """Telegraf → Sumo metric-name rename
    (translate_telegraf_metrics_processor.go:119-125): rename when the
    name is in the table, otherwise pass through unchanged."""
    return _metric_rename(name, SUMO_TELEGRAF_METRIC_TRANSLATIONS)


def sumologic_translate_docker_metric(name: Column) -> Column:
    """Docker-stats → Sumo metric-name rename
    (translate_docker_metrics_processor.go:121-127)."""
    return _metric_rename(name, SUMO_DOCKER_METRIC_TRANSLATIONS)


def sumologic_translate_docker_resource_attrs(attrs: Column) -> Column:
    """Docker resource-attribute key rename
    (translate_docker_metrics_processor.go:129-159): ``container.id``/
    ``container.image.name``/``container.name`` → Sumo keys, but only
    when the target key is NOT already present in the original map;
    among entries landing on one result key the first in entry order
    wins (the Go loop's ``result.Get`` guards). Same walk as the
    OT→Sumo attribute translation, different table — zero-shuffle map
    surgery."""
    entries = _sumo_renamed_entries(attrs, SUMO_DOCKER_RESOURCE_TRANSLATIONS)
    return _sumo_first_wins_map(entries, _sumo_entry_keys(entries))


# ---------------------------------------------------------------------------
# sumologic nesting processor (nest_attributes)
# ---------------------------------------------------------------------------


def sumologic_nest_attributes(
    attrs: Column,
    separator: str = ".",
    include: tuple[str, ...] = (),
    exclude: tuple[str, ...] = (),
    squash_single_values: bool = False,
) -> Column:
    """Sumologic ``nest_attributes``: flat dotted keys → nested
    object, returned as a compact JSON string
    (``processor/sumologicprocessor/nesting_processor.go:122-199``).

    Semantics mirrored exactly, pinned by the reference's unit-test
    table in ``tests/test_round5_sumologic.py``:

    - a key is only nested when it has a prefix in ``include`` (if
      non-empty) and no prefix in ``exclude`` (:203-227); skipped keys
      pass through flat;
    - conflicts between a scalar and a deeper path put the scalar
      under the ``""`` key of the map that replaces it (:146-152,
      169-175 — the "overwrite map with simple value" test);
    - ``squash_single_values`` collapses single-child maps into one
      ``a.b``-joined key (:229-292);
    - entry order is preserved (pcommon.Map insertion order → JSON
      member order).

    Spark re-expression: the construction is recursive document
    surgery (same class as the XML write editors), so it runs as ONE
    Arrow-batched pandas UDF over ``map_entries`` — a zero-shuffle
    projection; no per-row JVM↔Python round trips. At 100 TB this
    scales as a narrow map stage.
    """
    import json

    from pyspark.sql.functions import pandas_udf

    allow = tuple(include)
    deny = tuple(exclude)
    sep = separator

    def _should_translate(k: str) -> bool:
        if allow and not any(k.startswith(p) for p in allow):
            return False
        if any(k.startswith(p) for p in deny):
            return False
        return True

    def _nest(entries) -> dict:
        root: dict = {}
        for k, v in entries:
            if not _should_translate(k):
                root[k] = v
                continue
            keys = k.split(sep) if sep else [k]
            parent, pkey = None, None
            cur = root
            for i, kk in enumerate(keys):
                if not isinstance(cur, dict):
                    # former scalar moves under "" (go :146-152)
                    cur = {"": cur}
                    parent[pkey] = cur
                if kk in cur:
                    parent, pkey, cur = cur, kk, cur[kk]
                elif i == len(keys) - 1:
                    cur[kk] = None
                    parent, pkey, cur = cur, kk, None
                else:
                    cur[kk] = {}
                    parent, pkey, cur = cur, kk, cur[kk]
            if isinstance(cur, dict):
                # value lands under "" of the existing map (:169-178)
                cur[""] = v
            else:
                parent[pkey] = v
        return root

    def _squash_value(v):
        # returns (new_value, key_suffix) — go squashAttribute (:247-283)
        if not isinstance(v, dict):
            return v, ""
        if len(v) == 1:
            ((k, child),) = v.items()
            child2, suffix = _squash_value(child)
            return child2, (k if suffix == "" else k + sep + suffix)
        out = {}
        for k, child in v.items():
            child2, suffix = _squash_value(child)
            out[k if suffix == "" else k + sep + suffix] = child2
        return out, ""

    def _squash(m: dict) -> dict:
        v, key = _squash_value(m)
        return {key: v} if key != "" else v

    @pandas_udf("string")
    def _nest_udf(entries: pd.Series) -> pd.Series:
        out = []
        for ents in entries:
            if ents is None:
                out.append(None)
                continue
            pairs = [
                (e["key"], e["value"]) if isinstance(e, dict)
                else (e[0], e[1])
                for e in ents
            ]
            m = _nest(pairs)
            if squash_single_values:
                m = _squash(m)
            out.append(json.dumps(m, separators=(",", ":")))
        return pd.Series(out)

    return _nest_udf(F.map_entries(attrs))


# ---------------------------------------------------------------------------
# sumologic aggregate_attributes
# ---------------------------------------------------------------------------


def sumologic_aggregate_attributes(
    df: DataFrame,
    aggregations: list[tuple[str, list[str]]],
) -> DataFrame:
    """Sumologic ``aggregate_attributes``
    (``processor/sumologicprocessor/aggregate_attributes_processor.go``
    :111-159): for each ``(attribute, prefixes)`` pair, every key with
    one of the prefixes is MOVED under ``attribute`` as a sub-map with
    the prefix trimmed (getNewKey :165-171). Prefix passes run in
    order, each over the keys the earlier passes left behind, so the
    collected names are prefix-major; a later duplicate trimmed key
    overwrites the earlier value (pcommon PutEmpty). The aggregated
    attribute is only added when something matched (:153-158).

    Spark re-expression: the flat remainder stays ``attrs``
    (map<string,string>) and the one-level sub-maps land in
    ``aggregated`` (map<string,map<string,string>>) — a typed column, no
    JSON detour. Everything is array/map surgery on ``map_entries``:
    zero shuffle, whole-stage codegen, no Python. Each aggregation
    round is staged behind a select barrier (the lambda-staging
    lesson: nested higher-order lambdas re-evaluate upstream
    expressions per element).

    Divergence (flat data model): a later aggregation's prefix cannot
    match an EARLIER aggregation's result attribute (whose value is a
    sub-map) — same declared model boundary as ``nest_attributes``
    input values; no reference config does this.
    """
    passthrough = [c for c in df.columns if c != "attrs"]
    cur = df.select(
        *passthrough, F.map_entries(F.col("attrs")).alias("_rem")
    )
    # NOTE: higher-order-function lambdas must be UNARY here — PySpark
    # infers lambda arity from the full Python signature, so a default
    # arg used to capture loop state would receive the (element, index)
    # lambda variables instead. Capture via closure factories.
    def _match_fn(p: str, earlier: tuple[str, ...]):
        def fn(e):
            c = e["key"].startswith(p)
            for q in earlier:
                c = c & ~e["key"].startswith(q)
            return c

        return fn

    def _trim_fn(n: int):
        def fn(e):
            return F.struct(
                e["key"].substr(F.lit(n + 1), F.length(e["key"])).alias(
                    "key"
                ),
                e["value"].alias("value"),
            )

        return fn

    def _no_prefix_fn(ps: tuple[str, ...]):
        def fn(e):
            c = e["key"].startswith(ps[0])
            for p in ps[1:]:
                c = c | e["key"].startswith(p)
            return ~c

        return fn

    for idx, (_attribute, prefixes) in enumerate(aggregations):
        rem = F.col("_rem")
        parts = []
        for j, p in enumerate(prefixes):
            parts.append(
                F.transform(
                    F.filter(rem, _match_fn(p, tuple(prefixes[:j]))),
                    _trim_fn(len(p)),
                )
            )
        matched = parts[0] if len(parts) == 1 else F.concat(*parts)
        cur = cur.select(
            "*",
            matched.alias(f"_m{idx}"),
            F.filter(rem, _no_prefix_fn(tuple(prefixes))).alias("_rem2"),
        ).drop("_rem").withColumnRenamed("_rem2", "_rem")

    agg_entries = []
    for idx, (attribute, _prefixes) in enumerate(aggregations):
        rev = F.reverse(F.col(f"_m{idx}"))
        keys = F.transform(rev, lambda e: e["key"])
        # keep the LAST value per trimmed key (PutEmpty overwrite)
        dedup = F.map_from_entries(
            F.reverse(
                F.filter(
                    rev,
                    lambda e, i: F.array_position(keys, e["key"]) == i + 1,
                )
            )
        )
        agg_entries.append(
            F.struct(
                F.lit(attribute).alias("key"),
                F.when(F.size(F.col(f"_m{idx}")) > 0, dedup).alias("value"),
            )
        )
    out = cur.select(
        *passthrough,
        F.map_from_entries(F.col("_rem")).alias("attrs"),
        F.map_from_entries(
            F.filter(
                F.array(*agg_entries), lambda e: e["value"].isNotNull()
            )
        ).alias("aggregated"),
    )
    return out


# ---------------------------------------------------------------------------
# sumologic log_fields_conversion (the full four-field form)
# ---------------------------------------------------------------------------


def _id_hex_or_empty(id_col: Column, nbytes: int) -> Column:
    """spanIDToHexOrEmptyString / traceIDToHexOrEmptyString
    (log_fields_conversion_processor.go:34-50): lowercase hex of the
    binary id, or '' for an empty (all-zero / missing) id."""
    h = F.lower(F.hex(id_col))
    return F.when(
        id_col.isNull() | (h == "0" * (2 * nbytes)), F.lit("")
    ).otherwise(h)


def sumologic_log_fields(
    df: DataFrame,
) -> DataFrame:
    """Sumologic ``field_attributes`` log-fields conversion
    (log_fields_conversion_processor.go:92-114): copy record fields
    into attributes —

    - severity number → level name under ``loglevel``, only when the
      severity is set (≠ UNSPECIFIED) and ``loglevel`` is absent;
    - severity text → ``severitytext`` when absent;
    - span id / trace id → lowercase hex (or '' when the id is empty)
      under ``spanid`` / ``traceid`` when absent.

    Each field is insert-if-missing against the reference's constant
    attribute names. Zero-shuffle map surgery.
    """
    attrs = F.col("attrs")
    sev = F.col("severity_number").cast("int")
    entries = [
        F.when(
            sev.isNotNull()
            & (sev != 0)
            & ~F.map_contains_key(attrs, "loglevel"),
            F.struct(
                F.lit("loglevel").alias("key"),
                sumologic_loglevel(sev).alias("value"),
            ),
        ),
        F.when(
            ~F.map_contains_key(attrs, "severitytext"),
            F.struct(
                F.lit("severitytext").alias("key"),
                F.col("severity_text").alias("value"),
            ),
        ),
        F.when(
            ~F.map_contains_key(attrs, "spanid"),
            F.struct(
                F.lit("spanid").alias("key"),
                _id_hex_or_empty(F.col("span_id"), 8).alias("value"),
            ),
        ),
        F.when(
            ~F.map_contains_key(attrs, "traceid"),
            F.struct(
                F.lit("traceid").alias("key"),
                _id_hex_or_empty(F.col("trace_id"), 16).alias("value"),
            ),
        ),
    ]
    added = F.map_from_entries(
        F.filter(F.array(*entries), lambda e: e.isNotNull())
    )
    passthrough = [c for c in df.columns if c != "attrs"]
    return df.select(
        *passthrough, F.map_concat(attrs, added).alias("attrs")
    )
