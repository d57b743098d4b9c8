"""Elasticsearch node-stats → metric translation.

Re-expresses ``receiver/elasticsearchreceiver/scraper.go:94-326``
(scrapeNodeMetrics) over DataFrames with one ``/_nodes/stats`` node
document per row. The scalar table below is 1:1 with the Record calls,
with the model's json tags resolved through
``internal/model/nodestats.go`` (including the quirky
``fs.io_stats.total.read_kilobytes`` tag feeding
``elasticsearch.node.disk.io.read``).

Semantics mirrored:

- absent fields read as Go zero values (the model unmarshal defaults)
  — every scalar row always emits with 0;
- ``fs.io_stats`` is a pointer: both disk.io rows emit only when the
  object exists (:129-132);
- ``process.cpu.percent`` / ``process.cpu.total_in_millis`` use the
  ES ``-1`` unknown sentinel → row skipped (:215-221); the percent
  and ``jvm.mem.heap_used_percent`` divide by 100 into gauges;
- thread pools (5 rows per pool, idle = threads − active), circuit
  breakers (3 rows), ingest pipelines (3 rows) fan over their maps;
- ``discovery.cluster_state_update`` emits count + computation +
  notification for every state but the remaining four time types only
  for states other than "unchanged" (:289-303, the ES payload quirk);
- the cluster_state_queue "pending" row re-reads ``Committed`` —
  the reference passes the committed field to both attrs (:279-280),
  carried faithfully;
- version gates: ``shards.data_set.size`` ≥ 7.13,
  ``indexing_pressure.memory.limit`` ≥ 7.10 (``es_version`` param).

Plan: one try_parse_json + inline explode + three map fans — zero
shuffle, zero Python.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (variant path, metric, attr, vtype) — scalar Record calls in source
# order; vtype: i = int, d = double.
ES_NODE_SCALARS: tuple[tuple[str, str, str | None, str], ...] = (
    ("indices.fielddata.memory_size_in_bytes",
     "elasticsearch.node.cache.memory.usage", "fielddata", "i"),
    ("indices.query_cache.memory_size_in_bytes",
     "elasticsearch.node.cache.memory.usage", "query", "i"),
    ("indices.fielddata.evictions",
     "elasticsearch.node.cache.evictions", "fielddata", "i"),
    ("indices.query_cache.evictions",
     "elasticsearch.node.cache.evictions", "query", "i"),
    ("indices.query_cache.hit_count", "elasticsearch.node.cache.count",
     "hit", "i"),
    ("indices.query_cache.miss_count", "elasticsearch.node.cache.count",
     "miss", "i"),
    ("indices.query_cache.memory_size_in_bytes",
     "elasticsearch.node.cache.size", None, "i"),
    ("fs.total.available_in_bytes",
     "elasticsearch.node.fs.disk.available", None, "i"),
    ("fs.total.free_in_bytes", "elasticsearch.node.fs.disk.free", None,
     "i"),
    ("fs.total.total_in_bytes", "elasticsearch.node.fs.disk.total",
     None, "i"),
    ("transport.rx_size_in_bytes", "elasticsearch.node.cluster.io",
     "received", "i"),
    ("transport.tx_size_in_bytes", "elasticsearch.node.cluster.io",
     "sent", "i"),
    ("transport.server_open",
     "elasticsearch.node.cluster.connections", None, "i"),
    ("http.current_open", "elasticsearch.node.http.connections", None,
     "i"),
    ("indices.search.query_current",
     "elasticsearch.node.operations.current", "query", "i"),
    ("indices.indexing.index_total",
     "elasticsearch.node.operations.completed", "index", "i"),
    ("indices.indexing.delete_total",
     "elasticsearch.node.operations.completed", "delete", "i"),
    ("indices.get.total", "elasticsearch.node.operations.completed",
     "get", "i"),
    ("indices.search.query_total",
     "elasticsearch.node.operations.completed", "query", "i"),
    ("indices.search.fetch_total",
     "elasticsearch.node.operations.completed", "fetch", "i"),
    ("indices.search.scroll_total",
     "elasticsearch.node.operations.completed", "scroll", "i"),
    ("indices.search.suggest_total",
     "elasticsearch.node.operations.completed", "suggest", "i"),
    ("indices.merges.total",
     "elasticsearch.node.operations.completed", "merge", "i"),
    ("indices.refresh.total",
     "elasticsearch.node.operations.completed", "refresh", "i"),
    ("indices.flush.total",
     "elasticsearch.node.operations.completed", "flush", "i"),
    ("indices.warmer.total",
     "elasticsearch.node.operations.completed", "warmer", "i"),
    ("indices.indexing.index_time_in_millis",
     "elasticsearch.node.operations.time", "index", "i"),
    ("indices.indexing.delete_time_in_millis",
     "elasticsearch.node.operations.time", "delete", "i"),
    ("indices.get.time_in_millis",
     "elasticsearch.node.operations.time", "get", "i"),
    ("indices.search.query_time_in_millis",
     "elasticsearch.node.operations.time", "query", "i"),
    ("indices.search.fetch_time_in_millis",
     "elasticsearch.node.operations.time", "fetch", "i"),
    ("indices.search.scroll_time_in_millis",
     "elasticsearch.node.operations.time", "scroll", "i"),
    ("indices.search.suggest_time_in_millis",
     "elasticsearch.node.operations.time", "suggest", "i"),
    ("indices.merges.total_time_in_millis",
     "elasticsearch.node.operations.time", "merge", "i"),
    ("indices.refresh.total_time_in_millis",
     "elasticsearch.node.operations.time", "refresh", "i"),
    ("indices.flush.total_time_in_millis",
     "elasticsearch.node.operations.time", "flush", "i"),
    ("indices.warmer.total_time_in_millis",
     "elasticsearch.node.operations.time", "warmer", "i"),
    ("indices.get.exists_total",
     "elasticsearch.node.operations.get.completed", "hit", "i"),
    ("indices.get.missing_total",
     "elasticsearch.node.operations.get.completed", "miss", "i"),
    ("indices.get.exists_time_in_millis",
     "elasticsearch.node.operations.get.time", "hit", "i"),
    ("indices.get.missing_time_in_millis",
     "elasticsearch.node.operations.get.time", "miss", "i"),
    ("indices.store.size_in_bytes", "elasticsearch.node.shards.size",
     None, "i"),
    ("indices.store.reserved_in_bytes",
     "elasticsearch.node.shards.reserved.size", None, "i"),
    ("indices.docs.count", "elasticsearch.node.documents", "active",
     "i"),
    ("indices.docs.deleted", "elasticsearch.node.documents", "deleted",
     "i"),
    ("process.open_file_descriptors",
     "elasticsearch.node.open_files", None, "i"),
    ("indices.translog.operations",
     "elasticsearch.node.translog.operations", None, "i"),
    ("indices.translog.size_in_bytes",
     "elasticsearch.node.translog.size", None, "i"),
    ("indices.translog.uncommitted_size_in_bytes",
     "elasticsearch.node.translog.uncommitted.size", None, "i"),
    ("os.cpu.percent", "elasticsearch.os.cpu.usage", None, "i"),
    ("os.cpu.load_average['1m']", "elasticsearch.os.cpu.load_avg.1m",
     None, "d"),
    ("os.cpu.load_average['5m']", "elasticsearch.os.cpu.load_avg.5m",
     None, "d"),
    ("os.cpu.load_average['15m']", "elasticsearch.os.cpu.load_avg.15m",
     None, "d"),
    ("process.mem.total_virtual_in_bytes",
     "elasticsearch.process.memory.virtual", None, "i"),
    ("os.mem.used_in_bytes", "elasticsearch.os.memory", "used", "i"),
    ("os.mem.free_in_bytes", "elasticsearch.os.memory", "free", "i"),
    ("jvm.classes.current_loaded_count", "jvm.classes.loaded", None,
     "i"),
    ("jvm.gc.collectors.young.collection_count",
     "jvm.gc.collections.count", "young", "i"),
    ("jvm.gc.collectors.old.collection_count",
     "jvm.gc.collections.count", "old", "i"),
    ("jvm.gc.collectors.young.collection_time_in_millis",
     "jvm.gc.collections.elapsed", "young", "i"),
    ("jvm.gc.collectors.old.collection_time_in_millis",
     "jvm.gc.collections.elapsed", "old", "i"),
    ("jvm.mem.heap_max_in_bytes", "jvm.memory.heap.max", None, "i"),
    ("jvm.mem.heap_used_in_bytes", "jvm.memory.heap.used", None, "i"),
    ("jvm.mem.heap_committed_in_bytes", "jvm.memory.heap.committed",
     None, "i"),
    ("jvm.mem.non_heap_used_in_bytes", "jvm.memory.nonheap.used", None,
     "i"),
    ("jvm.mem.non_heap_committed_in_bytes",
     "jvm.memory.nonheap.committed", None, "i"),
    ("jvm.mem.pools.young.used_in_bytes", "jvm.memory.pool.used",
     "young", "i"),
    ("jvm.mem.pools.survivor.used_in_bytes", "jvm.memory.pool.used",
     "survivor", "i"),
    ("jvm.mem.pools.old.used_in_bytes", "jvm.memory.pool.used", "old",
     "i"),
    ("jvm.mem.pools.young.max_in_bytes", "jvm.memory.pool.max",
     "young", "i"),
    ("jvm.mem.pools.survivor.max_in_bytes", "jvm.memory.pool.max",
     "survivor", "i"),
    ("jvm.mem.pools.old.max_in_bytes", "jvm.memory.pool.max", "old",
     "i"),
    ("jvm.threads.count", "jvm.threads.count", None, "i"),
    ("indexing_pressure.memory.current.primary_in_bytes",
     "elasticsearch.memory.indexing_pressure", "primary", "i"),
    ("indexing_pressure.memory.current.coordinating_in_bytes",
     "elasticsearch.memory.indexing_pressure", "coordinating", "i"),
    ("indexing_pressure.memory.current.replica_in_bytes",
     "elasticsearch.memory.indexing_pressure", "replica", "i"),
    ("indexing_pressure.memory.total.primary_rejections",
     "elasticsearch.indexing_pressure.memory.total.primary_rejections",
     None, "i"),
    ("indexing_pressure.memory.total.replica_rejections",
     "elasticsearch.indexing_pressure.memory.total.replica_rejections",
     None, "i"),
    ("discovery.cluster_state_queue.committed",
     "elasticsearch.cluster.state_queue", "committed", "i"),
    # the reference passes Committed to the "pending" attr too
    ("discovery.cluster_state_queue.committed",
     "elasticsearch.cluster.state_queue", "pending", "i"),
    ("discovery.published_cluster_states.full_states",
     "elasticsearch.cluster.published_states.full", None, "i"),
    ("discovery.published_cluster_states.compatible_diffs",
     "elasticsearch.cluster.published_states.differences",
     "compatible", "i"),
    ("discovery.published_cluster_states.incompatible_diffs",
     "elasticsearch.cluster.published_states.differences",
     "incompatible", "i"),
    ("ingest.total.count", "elasticsearch.node.ingest.documents", None,
     "i"),
    ("ingest.total.current",
     "elasticsearch.node.ingest.documents.current", None, "i"),
    ("ingest.total.failed",
     "elasticsearch.node.ingest.operations.failed", None, "i"),
    ("script.cache_evictions",
     "elasticsearch.node.script.cache_evictions", None, "i"),
    ("script.compilations", "elasticsearch.node.script.compilations",
     None, "i"),
    ("script.compilation_limit_triggered",
     "elasticsearch.node.script.compilation_limit_triggered", None,
     "i"),
    ("indices.segments.doc_values_memory_in_bytes",
     "elasticsearch.node.segments.memory", "doc_value", "i"),
    ("indices.segments.fixed_bit_set_memory_in_bytes",
     "elasticsearch.node.segments.memory", "fixed_bit_set", "i"),
    ("indices.segments.index_writer_memory_in_bytes",
     "elasticsearch.node.segments.memory", "index_writer", "i"),
    ("indices.segments.terms_memory_in_bytes",
     "elasticsearch.node.segments.memory", "term", "i"),
)

_ENTRY_TYPE = (
    "struct<metric:string,attr:string,attr2:string,name:string,"
    "value:bigint,value_d:double>"
)


def _ver(s: str) -> tuple:
    return tuple(int(x) for x in (s.split(".") + ["0", "0"])[:2])


# the per-map struct fields each fan reads (schema + entry-type order)
_ES_FAN_FIELDS: dict[str, tuple[str, ...]] = {
    "thread_pool": ("active", "threads", "queue", "completed",
                    "rejected"),
    "breakers": ("estimated_size_in_bytes", "limit_size_in_bytes",
                 "tripped"),
    "discovery.cluster_state_update": (
        "count", "computation_time_millis", "notification_time_millis",
        "context_construction_time_millis", "commit_time_millis",
        "completion_time_millis", "master_apply_time_millis"),
    "ingest.pipelines": ("count", "failed", "current"),
}


def _es_schema() -> str:
    """One TYPED from_json schema covering every consumed path.

    A typed parse is ~6x faster than per-path variant walks (codegen
    struct access vs ~150 interpreted try_variant_get calls + 4
    to_json/from_json map roundtrips per document). Divergence
    (documented): on a type mismatch Spark's typed from_json nulls the
    mismatched fields one by one and keeps the rest of the document (a
    partial result), while Go's encoding/json fails the whole node
    unmarshal."""
    paths = [p for p, _, _, _ in ES_NODE_SCALARS] + [
        "indices.store.total_data_set_size_in_bytes",
        "indexing_pressure.memory.limit_in_bytes",
        "process.cpu.percent", "process.cpu.total_in_millis",
        "jvm.mem.heap_used_percent",
        "fs.io_stats.total.read_kilobytes",
        "fs.io_stats.total.write_kilobytes",
    ]
    tree: dict = {}

    def mount(dotted: str, leaf) -> None:
        segs = dotted.split(".")
        node = tree
        for s in segs[:-1]:
            node = node.setdefault(s, {})
        node.setdefault(segs[-1], leaf)

    for p in paths:
        if "['" in p:
            base, _, _rest = p.partition("['")
            mount(base, "map<string,double>")
        else:
            mount(p, "double")
    for mp, fields in _ES_FAN_FIELDS.items():
        mount(mp, "map<string,struct<" + ",".join(
            f"{f}:double" for f in fields) + ">>")

    def render(n: dict) -> str:
        return "struct<" + ",".join(
            f"`{k}`:" + (render(v) if isinstance(v, dict) else v)
            for k, v in n.items()) + ">"

    return render(tree)


def elasticsearch_node_stats(
    df: DataFrame,
    es_version: str = "7.17",
) -> DataFrame:
    v = F.from_json(F.col("body"), _es_schema())
    base = [c for c in df.columns if c != "body"]
    df = df.select(*base, v.alias("_v"))
    v = F.col("_v")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def num(path: str) -> Column:
        if "['" in path:
            dotted, _, rest = path.partition("['")
            key = rest[: rest.index("'")]
            col = v
            for s in dotted.split("."):
                col = col[s]
            return F.element_at(col, key)
        col = v
        for s in path.split("."):
            col = col[s]
        return col

    def zi(path: str) -> Column:
        return F.coalesce(num(path), F.lit(0.0)).cast("bigint")

    def zd(path: str) -> Column:
        return F.coalesce(num(path), F.lit(0.0))

    def mk(metric, attr, vi, vd, attr2=None, name=None):
        return F.struct(
            (metric if not isinstance(metric, str) else F.lit(metric))
                .alias("metric"),
            (F.lit(attr) if isinstance(attr, str) else ns).alias("attr"),
            (F.lit(attr2) if isinstance(attr2, str) else ns)
                .alias("attr2"),
            (name if name is not None else ns).alias("name"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
        )

    entries = []
    for path, metric, attr, vt in ES_NODE_SCALARS:
        if vt == "i":
            entries.append(mk(metric, attr, zi(path), nd))
        else:
            entries.append(mk(metric, attr, nl, zd(path)))
    if _ver(es_version) >= (7, 13):
        entries.append(mk(
            "elasticsearch.node.shards.data_set.size", None,
            zi("indices.store.total_data_set_size_in_bytes"), nd,
        ))
    if _ver(es_version) >= (7, 10):
        entries.append(mk(
            "elasticsearch.indexing_pressure.memory.limit", None,
            zi("indexing_pressure.memory.limit_in_bytes"), nd,
        ))
    scalars = F.array(*entries)

    # fs.io_stats is a pointer (scraper.go:129-132)
    io_entries = F.when(
        v["fs"]["io_stats"].isNotNull(),
        F.array(
            mk("elasticsearch.node.disk.io.read", None,
               zi("fs.io_stats.total.read_kilobytes"), nd),
            mk("elasticsearch.node.disk.io.write", None,
               zi("fs.io_stats.total.write_kilobytes"), nd),
        ),
    ).otherwise(F.array().cast("array<" + _ENTRY_TYPE + ">"))

    # -1 sentinels (scraper.go:215-221)
    pct = num("process.cpu.percent")
    cpu_usage = F.when(
        F.coalesce(pct, F.lit(0.0)) != -1.0,
        F.array(mk("elasticsearch.process.cpu.usage", None, nl,
                   F.coalesce(pct, F.lit(0.0)) / 100.0)),
    ).otherwise(F.array().cast("array<" + _ENTRY_TYPE + ">"))
    tot_ms = num("process.cpu.total_in_millis")
    cpu_time = F.when(
        F.coalesce(tot_ms, F.lit(0.0)) != -1.0,
        F.array(mk("elasticsearch.process.cpu.time", None,
                   F.coalesce(tot_ms, F.lit(0.0)).cast("bigint"), nd)),
    ).otherwise(F.array().cast("array<" + _ENTRY_TYPE + ">"))
    heap_util = F.array(mk(
        "jvm.memory.heap.utilization", None, nl,
        F.coalesce(num("jvm.mem.heap_used_percent"), F.lit(0.0)) / 100.0,
    ))

    def map_of(path: str) -> Column:
        fields = _ES_FAN_FIELDS[path]
        col = v
        for s in path.split("."):
            col = col[s]
        empty = F.expr("array()").cast(
            "array<struct<key:string,value:struct<" + ",".join(
                f"{f}:double" for f in fields) + ">>>")
        return F.coalesce(F.map_entries(col), empty)

    def mnum(kv, field: str) -> Column:
        return F.coalesce(
            kv["value"][field], F.lit(0.0),
        ).cast("bigint")

    pools = map_of("thread_pool")
    pool_entries = F.flatten(F.transform(pools, lambda kv: F.array(
        mk(F.lit("elasticsearch.node.thread_pool.threads"),
           "active", mnum(kv, "active"), nd, name=kv["key"]),
        mk(F.lit("elasticsearch.node.thread_pool.threads"), "idle",
           mnum(kv, "threads") - mnum(kv, "active"), nd,
           name=kv["key"]),
        mk(F.lit("elasticsearch.node.thread_pool.tasks.queued"),
           None, mnum(kv, "queue"), nd, name=kv["key"]),
        mk(F.lit("elasticsearch.node.thread_pool.tasks.finished"),
           "completed", mnum(kv, "completed"), nd, name=kv["key"]),
        mk(F.lit("elasticsearch.node.thread_pool.tasks.finished"),
           "rejected", mnum(kv, "rejected"), nd, name=kv["key"]),
    )))

    breakers = map_of("breakers")
    breaker_entries = F.flatten(F.transform(breakers, lambda kv: F.array(
        mk(F.lit("elasticsearch.breaker.memory.estimated"), None,
           mnum(kv, "estimated_size_in_bytes"), nd, name=kv["key"]),
        mk(F.lit("elasticsearch.breaker.memory.limit"), None,
           mnum(kv, "limit_size_in_bytes"), nd, name=kv["key"]),
        mk(F.lit("elasticsearch.breaker.tripped"), None,
           mnum(kv, "tripped"), nd, name=kv["key"]),
    )))

    csu = map_of("discovery.cluster_state_update")
    base_csu = F.flatten(F.transform(csu, lambda kv: F.array(
        mk(F.lit("elasticsearch.cluster.state_update.count"), None,
           mnum(kv, "count"), nd, name=kv["key"]),
        mk(F.lit("elasticsearch.cluster.state_update.time"),
           "computation", mnum(kv, "computation_time_millis"), nd,
           name=kv["key"]),
        mk(F.lit("elasticsearch.cluster.state_update.time"),
           "notification", mnum(kv, "notification_time_millis"), nd,
           name=kv["key"]),
    )))
    more_csu = F.flatten(F.transform(
        F.filter(csu, lambda kv: kv["key"] != "unchanged"),
        lambda kv: F.array(*[
            mk(F.lit("elasticsearch.cluster.state_update.time"),
               attr, mnum(kv, field), nd, name=kv["key"])
            for attr, field in (
                ("context_construction",
                 "context_construction_time_millis"),
                ("commit", "commit_time_millis"),
                ("completion", "completion_time_millis"),
                ("master_apply", "master_apply_time_millis"),
            )
        ]),
    ))

    pipelines = map_of("ingest.pipelines")
    pipe_entries = F.flatten(F.transform(pipelines, lambda kv: F.array(
        mk(F.lit("elasticsearch.node.pipeline.ingest."
                 "documents.preprocessed"), None, mnum(kv, "count"),
           nd, name=kv["key"]),
        mk(F.lit("elasticsearch.node.pipeline.ingest."
                 "operations.failed"), None, mnum(kv, "failed"), nd,
           name=kv["key"]),
        mk(F.lit("elasticsearch.node.pipeline.ingest."
                 "documents.current"), None, mnum(kv, "current"), nd,
           name=kv["key"]),
    )))

    all_entries = F.concat(
        scalars, io_entries, cpu_usage, cpu_time, heap_util,
        pool_entries, breaker_entries, base_csu, more_csu, pipe_entries,
    )
    exploded = df.select(
        *base, F.explode(all_entries).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *base,
        m["metric"].alias("es_metric"),
        m["attr"].alias("es_attr"),
        m["attr2"].alias("es_attr2"),
        m["name"].alias("es_name"),
        m["value"].alias("es_value"),
        m["value_d"].alias("es_value_d"),
    )


def elasticsearch_cluster_health(
    df: DataFrame
) -> DataFrame:
    """``/_cluster/health`` + ``/_cluster/stats`` documents → rows.

    Re-expresses scrapeClusterHealthMetrics (scraper.go:362-400) and
    scrapeClusterStatsMetrics (:341-360) over rows holding either
    document (``kind`` column = health | stats): node/data-node
    counts, the six shard-state rows, pending tasks / in-flight fetch,
    and the green/yellow/red one-hot health triple — an unknown status
    is the reference's AddPartial (one ``es_ok=false`` row, no health
    rows). Cluster stats contribute jvm heap used + the two cache
    eviction rows.
    """
    v = F.try_parse_json(F.col("body"))
    base = [c for c in df.columns if c != "body"]
    df = df.select(*base, v.alias("_v"))
    v = F.col("_v")
    kind = F.col("kind")

    ns = F.lit(None).cast("string")

    def zi(path: str) -> Column:
        return F.coalesce(
            F.try_variant_get(v, "$." + path, "double"), F.lit(0.0)
        ).cast("bigint")

    def mk(metric, attr, cond, vi, ok=None):
        return F.struct(
            F.lit(metric).alias("metric"),
            (F.lit(attr) if attr else ns).alias("attr"),
            cond.alias("present"),
            vi.cast("bigint").alias("value"),
            (ok if ok is not None else F.lit(True)).alias("ok"),
        )

    h = kind == "health"
    status = F.try_variant_get(v, "$.status", "string")
    known = status.isin("green", "yellow", "red")
    entries = [
        mk("elasticsearch.cluster.nodes", None, h,
           zi("number_of_nodes")),
        mk("elasticsearch.cluster.data_nodes", None, h,
           zi("number_of_data_nodes")),
        mk("elasticsearch.cluster.shards", "active", h,
           zi("active_shards")),
        mk("elasticsearch.cluster.shards", "initializing", h,
           zi("initializing_shards")),
        mk("elasticsearch.cluster.shards", "relocating", h,
           zi("relocating_shards")),
        mk("elasticsearch.cluster.shards", "unassigned", h,
           zi("unassigned_shards")),
        mk("elasticsearch.cluster.shards", "active_primary", h,
           zi("active_primary_shards")),
        mk("elasticsearch.cluster.shards", "unassigned_delayed", h,
           zi("delayed_unassigned_shards")),
        mk("elasticsearch.cluster.pending_tasks", None, h,
           zi("number_of_pending_tasks")),
        mk("elasticsearch.cluster.in_flight_fetch", None, h,
           zi("number_of_in_flight_fetch")),
    ]
    for color in ("green", "yellow", "red"):
        entries.append(mk(
            "elasticsearch.cluster.health", color, h & known,
            F.when(status == color, 1).otherwise(0),
        ))
    # unknown status -> AddPartial dead letter
    entries.append(mk("elasticsearch.cluster.health", None,
                      h & ~known, F.lit(None).cast("bigint"),
                      ok=F.lit(False)))

    st = kind == "stats"
    entries += [
        mk("jvm.memory.heap.used", None, st,
           zi("nodes.jvm.mem.heap_used_in_bytes")),
        mk("elasticsearch.cluster.indices.cache.evictions", "fielddata",
           st, zi("indices.fielddata.evictions")),
        mk("elasticsearch.cluster.indices.cache.evictions", "query",
           st, zi("indices.query_cache.evictions")),
    ]

    exploded = df.select(
        *base,
        F.explode(
            F.filter(F.array(*entries), lambda x: x["present"])
        ).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *base,
        m["metric"].alias("es_metric"),
        m["attr"].alias("es_attr"),
        m["value"].alias("es_value"),
        m["ok"].alias("es_ok"),
    )
