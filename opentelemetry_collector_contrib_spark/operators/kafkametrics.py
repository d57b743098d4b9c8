"""kafkametrics receiver → metric rows.

Re-expresses ``receiver/kafkametricsreceiver`` over sample tables
(one row per observed object per scrape) instead of sarama calls:

- topic scraper (``topic_scraper.go:41-96``): per-topic partition
  count (len of the partition listing), per-partition current/oldest
  offsets + replica counts, each emitted only when its fetch
  succeeded (nullable input = the AddPartial branch); topics are
  filtered by the reference's default ``topic_match`` ``^[^_].*$``
  (internal topics excluded, config.go); topic configs (:97-148):
  replication factor always, min_insync_replicas / retention period (ms ATOI then
  integer ÷1000) / retention size each only when Atoi succeeds
  (try_cast dead letter).
- broker scraper (``broker_scraper.go:37-85``): kafka.brokers =
  count of broker rows per scrape; per-broker log_retention_period =
  Atoi(hours)×3600 where a parse FAILURE still records 0×3600 = 0
  (Go records int64(val*3600) after the AddPartial with val left
  zero, :72-81) — carried faithfully.
- consumer scraper (``consumer_scraper.go:34-145``): group member
  counts for every described group; per (group, topic) the offset/
  lag family is emitted only when the topic ``isConsumed`` (any
  partition block with offset ≠ −1, :108-117); offsets are requested
  only for partitions whose newest-offset fetch succeeded, so group
  blocks inner-join to non-null current offsets; per partition the
  consumer offset is recorded as-is (−1 included) and lag =
  current − consumer when consumer ≠ −1 else −1; offset_sum sums ALL
  block offsets (−1s included), lag_sum only measured lags
  (:118-140). Groups filter by ``group_match`` (default ``.*``).

Plan: per-partition fans are inline explodes; the isConsumed gate is
one window max over (cluster, ts, group, topic); broker/topic counts
are map-side-combined groupBys keyed by scrape — all shuffles keyed
by (cluster, ts, …) so 10^12-row inputs shard evenly.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F



def _row(metric, group=None, topic=None, partition=None, broker=None,
         value=None):
    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    return [
        F.lit(metric).alias("km_metric"),
        (group if group is not None else ns).alias("km_group"),
        (topic if topic is not None else ns).alias("km_topic"),
        (partition.cast("bigint") if partition is not None else nl)
        .alias("km_partition"),
        (broker if broker is not None else ns).alias("km_broker"),
        (value.cast("bigint") if value is not None else nl)
        .alias("km_value"),
    ]


def kafka_metrics(
    df_partitions: DataFrame,
    df_topic_configs: DataFrame,
    df_brokers: DataFrame,
    df_group_members: DataFrame,
    df_group_offsets: DataFrame,
    group_match: str = ".*",
) -> DataFrame:
    """See module docstring for the per-table input columns."""
    key = ["cluster", "ts"]
    t = F.col("topic")

    # ---- topic scraper ------------------------------------------------
    parts = df_partitions.where(t.rlike("^[^_].*$"))
    part_counts = (parts.groupBy(*key, "topic")
                   .agg(F.count("*").alias("_n"))
                   .select(*key, *_row("kafka.topic.partitions",
                                       topic=t, value=F.col("_n"))))
    per_part = []
    for metric, col in [("kafka.partition.current_offset",
                         "current_offset"),
                        ("kafka.partition.oldest_offset",
                         "oldest_offset"),
                        ("kafka.partition.replicas", "replicas"),
                        ("kafka.partition.replicas_in_sync",
                         "in_sync")]:
        per_part.append(F.when(F.col(col).isNotNull(), F.struct(
            *_row(metric, topic=t, partition=F.col("partition"),
                  value=F.col(col)))))
    part_rows = (parts.select(*key, F.explode(
        F.filter(F.array(*per_part), lambda x: x.isNotNull()))
        .alias("_m")).select(*key, "_m.*"))

    cfg = df_topic_configs.where(t.rlike("^[^_].*$"))
    cfg_entries = [
        F.struct(*_row("kafka.topic.replication_factor", topic=t,
                       value=F.col("replication_factor"))),
        F.when(F.col("min_insync_replicas").try_cast("bigint")
               .isNotNull(),
               F.struct(*_row("kafka.topic.min_insync_replicas",
                              topic=t,
                              value=F.col("min_insync_replicas").try_cast("bigint")))),
        F.when(F.col("retention_ms").try_cast("bigint").isNotNull(),
               F.struct(*_row(
                   "kafka.topic.log_retention_period", topic=t,
                   value=(F.col("retention_ms").try_cast("bigint")
                          / 1000).cast("bigint")))),
        F.when(F.col("retention_bytes").try_cast("bigint").isNotNull(),
               F.struct(*_row("kafka.topic.log_retention_size",
                              topic=t,
                              value=F.col("retention_bytes").try_cast("bigint")))),
    ]
    cfg_rows = (cfg.select(*key, F.explode(
        F.filter(F.array(*cfg_entries), lambda x: x.isNotNull()))
        .alias("_m")).select(*key, "_m.*"))

    # ---- broker scraper -----------------------------------------------
    broker_count = (df_brokers.groupBy(*key)
                    .agg(F.count("*").alias("_n"))
                    .select(*key, *_row("kafka.brokers",
                                        value=F.col("_n"))))
    # parse failure records 0 (broker_scraper.go:72-81)
    hours = F.coalesce(
        F.col("log_retention_hours").try_cast("bigint"), F.lit(0))
    broker_rows = df_brokers.where(
        F.col("log_retention_hours").isNotNull()).select(
        *key, *_row("kafka.broker.log_retention_period",
                    broker=F.col("broker_id"), value=hours * 3600))

    # ---- consumer scraper ---------------------------------------------
    g = F.col("group")
    members = df_group_members.where(g.rlike(group_match)).select(
        *key, *_row("kafka.consumer_group.members", group=g,
                    value=F.col("members")))

    # offsets were requested only for matched topics whose newest
    # offset was fetchable → inner join to non-null current offsets
    cur = (df_partitions.where(t.rlike("^[^_].*$"))
           .where(F.col("current_offset").isNotNull())
           .select(*key, "topic", "partition",
                   F.col("current_offset").alias("_cur")))
    blocks = (df_group_offsets.where(g.rlike(group_match))
              .where(t.rlike("^[^_].*$"))
              .join(cur, key + ["topic", "partition"], "inner"))

    w = Window.partitionBy(*key, "group", "topic")
    co = F.col("consumer_offset")
    blocks = (blocks
              .withColumn("_consumed",
                          F.max((co != -1).cast("int")).over(w) == 1)
              .where(F.col("_consumed")))
    lag = F.when(co != -1, F.col("_cur") - co).otherwise(F.lit(-1))
    offset_lag = blocks.select(*key, F.explode(F.array(
        F.struct(*_row("kafka.consumer_group.offset", group=g,
                       topic=t, partition=F.col("partition"),
                       value=co)),
        F.struct(*_row("kafka.consumer_group.lag", group=g, topic=t,
                       partition=F.col("partition"), value=lag)),
    )).alias("_m")).select(*key, "_m.*")
    sums = (blocks.groupBy(*key, "group", "topic")
            .agg(F.sum(co).alias("_osum"),
                 F.sum(F.when(co != -1, F.col("_cur") - co)
                       .otherwise(F.lit(0))).alias("_lsum"))
            .select(*key, F.explode(F.array(
                F.struct(*_row("kafka.consumer_group.offset_sum",
                               group=g, topic=t,
                               value=F.col("_osum"))),
                F.struct(*_row("kafka.consumer_group.lag_sum",
                               group=g, topic=t,
                               value=F.col("_lsum"))),
            )).alias("_m")).select(*key, "_m.*"))

    out = part_counts
    for piece in [part_rows, cfg_rows, broker_count, broker_rows,
                  members, offset_lag, sums]:
        out = out.unionByName(piece)
    return out
