"""Judged CDC reliability / operability queries.

The reference's failure scenarios (``scenarios/01-canonical-reference/failures/*``,
``harness/verifier/verify.mjs``) exercise the operational side of a CDC
pipeline — loss, staleness, snapshot orchestration, poison messages, and
store compaction.  This module turns each of those concerns into a judged
batch query over the same derived feeds the capture/playground queries use:

- ``cdc_wal_compaction``   — Kafka-style log compaction of the C1 WAL
  (latest record per key; tombstones expire after a retention window) —
  what a 100 TB change-log store runs continuously to bound its size.
- ``cdc_offset_gaps``      — consumer-side loss detection: contiguous runs
  of missing offsets per bus partition (the consumer's view of B5 drops),
  the gaps-and-islands dual of ``cdc_bus_drops``'s producer-side counts.
- ``cdc_dlq_routing``      — dead-letter routing: deterministic fault
  injection (keyed on ``hash31(pk:seq)``, no RNG) followed by validation
  rules; each poisoned event is routed with its first failing reason, like
  the sink consumer's error path (``consumer.mjs``'s try/catch per event).
- ``cdc_heartbeat_liveness`` — connector-staleness detection per capture
  lane: emission-tick gaps vs a liveness threshold (the harness verifier's
  10 s cadence check, ``verify.mjs:30``).
- ``cdc_snapshot_chunking`` — incremental-snapshot planning: split the
  source key space into bounded pk-range chunks (the Debezium
  incremental-snapshot watermarking strategy) so the S3 snapshot phase
  can run chunk-parallel on 1000 executors.

Scale notes: every query is one shuffle on its natural key (pk, partition,
method) plus tiny broadcast frames; sequences/prefixes use the two-phase
bucketed pattern from :mod:`..functions.sequence` — no data-sized
unpartitioned windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.functions.sequence import with_global_seq
from lets_talk_cdc_change_feed_playground_spark.operators import playground as pg
from lets_talk_cdc_change_feed_playground_spark.operators.capture import log_capture
from lets_talk_cdc_change_feed_playground_spark.operators.cdc_queries import (
    AUDIT_SQL,
    LANES_SQL,
    POLL_STATE_SQL,
    WAL_SQL,
    _with,
)
from lets_talk_cdc_change_feed_playground_spark.operators.metrics import normalize_lanes
from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
    OPS_SQL,
    hash31,
    hash31_sql,
    ops_feed,
)
from lets_talk_cdc_change_feed_playground_spark.operators.playground_queries import (
    _bus_sql,
)
from lets_talk_cdc_change_feed_playground_spark.operators.shared import memo, scratch_dir

#: Log-compaction tombstone retention (Kafka ``delete.retention.ms`` role):
#: a key whose latest record is a delete keeps its tombstone only while the
#: log head is within this window, then the key vanishes entirely.
RETENTION_MS = 7 * 24 * 3_600_000

#: Liveness: a lane is stale when no emission tick fires for this long.
STALE_GAP_MS = 6 * 3_600_000

#: Snapshot chunk size (rows per incremental-snapshot chunk).
CHUNK_ROWS = 32


# ---------------------------------------------------------------------------
# WAL compaction
# ---------------------------------------------------------------------------


def cdc_wal_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact the C1 WAL: one surviving record per key (the key's latest by
    ``(ts_ms, lsn)``), dropping tombstones older than ``RETENTION_MS`` behind
    the log head.  ``n_superseded`` counts the records compaction reclaimed —
    the space a real log store frees.

    Plan shape: one shuffle on ``pk`` (window + count), then a broadcast of
    the single-row log-head aggregate; compaction of a 100 TB topic is the
    same per-key reduction executed partition-parallel."""
    wal = log_capture(spark, sf_dir)
    wpk = W.partitionBy("pk")
    latest = (
        wal.withColumn(
            "__rn",
            F.row_number().over(wpk.orderBy(F.desc("ts_ms"), F.desc("lsn"))),
        )
        .withColumn("n_superseded", F.count(F.lit(1)).over(wpk) - 1)
        .filter(F.col("__rn") == 1)
    )
    head = wal.agg(F.max("ts_ms").alias("head_ts_ms"))
    return (
        latest.crossJoin(F.broadcast(head))
        .withColumn("is_tombstone", F.col("op") == "d")
        .filter(
            ~F.col("is_tombstone")
            | (F.col("head_ts_ms") - F.col("ts_ms") <= F.lit(RETENTION_MS))
        )
        .select(
            "pk",
            "lsn",
            "op",
            "after_event_type",
            "after_value",
            "after_props",
            "ts_ms",
            "n_superseded",
            "is_tombstone",
        )
        .orderBy("pk")
    )


_WAL_COMPACTION_SQL = (
    _with(WAL_SQL)
    + f"""
, latest AS (
  SELECT * FROM (
    SELECT *,
           row_number() OVER (PARTITION BY pk ORDER BY ts_ms DESC, lsn DESC) AS rn,
           count(*) OVER (PARTITION BY pk) - 1 AS n_superseded
    FROM wal)
  WHERE rn = 1
)
SELECT pk, lsn, op, after_event_type, after_value, after_props, ts_ms,
       CAST(n_superseded AS BIGINT) AS n_superseded,
       op = 'd' AS is_tombstone
FROM latest, (SELECT max(ts_ms) AS head_ts_ms FROM wal) h
WHERE op <> 'd' OR h.head_ts_ms - ts_ms <= {RETENTION_MS}
ORDER BY pk
"""
)


# ---------------------------------------------------------------------------
# Offset-gap detection
# ---------------------------------------------------------------------------

_GAP_BUCKET = 512


def cdc_offset_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-side loss detection: contiguous runs of missing offsets per
    bus partition, reconstructed from the *delivered* stream alone (the
    5%-drop bus feed).  Offsets are dense per partition at publish time
    (B1), so every hole the consumer observes is a dropped event.

    The previous-offset lookup is two-phase — a partitioned ``lag`` within
    ``offset div {B}`` buckets plus a broadcast join of per-bucket maxima —
    so no bus partition's stream ever funnels through one task (real Kafka
    topics hold millions of offsets per partition)."""
    delivered = (
        pg.bus_feed(spark, sf_dir)
        .filter(~F.col("dropped"))
        .select("partition", "offset")
        .withColumn("__bucket", F.expr(f"offset div {_GAP_BUCKET}"))
    )
    # per-bucket maxima -> previous bucket's max (tiny frame, broadcast back)
    bmax = delivered.groupBy("partition", "__bucket").agg(
        F.max("offset").alias("__bmax")
    )
    wb = W.partitionBy("partition").orderBy("__bucket")
    prev_bucket = bmax.select(
        "partition",
        "__bucket",
        F.lag("__bmax").over(wb).alias("__prev_bucket_max"),
    )
    win = W.partitionBy("partition", "__bucket").orderBy("offset")
    gaps = (
        delivered.join(F.broadcast(prev_bucket), ["partition", "__bucket"])
        .withColumn(
            "__prev",
            F.coalesce(
                F.lag("offset").over(win),
                F.col("__prev_bucket_max"),
                F.lit(-1),
            ),
        )
        .filter(F.col("offset") - F.col("__prev") > 1)
        .select(
            "partition",
            (F.col("__prev") + 1).alias("gap_start"),
            (F.col("offset") - 1).alias("gap_end"),
            (F.col("offset") - F.col("__prev") - 1).alias("gap_len"),
        )
    )
    return gaps.orderBy("partition", "gap_start")


_OFFSET_GAPS_SQL = (
    _with(_bus_sql(int(pg.DROP_P * 100)))
    + """
, delivered AS (SELECT "partition", "offset" FROM bus WHERE NOT dropped),
prevs AS (
  SELECT "partition", "offset",
         COALESCE(lag("offset") OVER (PARTITION BY "partition" ORDER BY "offset"), -1) AS prev
  FROM delivered
)
SELECT "partition", prev + 1 AS gap_start, "offset" - 1 AS gap_end,
       "offset" - prev - 1 AS gap_len
FROM prevs
WHERE "offset" - prev > 1
ORDER BY "partition", gap_start
"""
)


# ---------------------------------------------------------------------------
# Dead-letter routing
# ---------------------------------------------------------------------------


def cdc_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poison-message routing: deterministically corrupt ~7.5% of the ops
    feed (``hash31(pk || ':' || seq) % 40`` selects the victim and the fault
    class — reproducible, no RNG, like every fault injection in the
    reference), then validate and route failures to the dead-letter queue
    with their first failing reason.

    Fault classes: negated timestamp, nulled event_type, negative value.
    Validation order (first match wins): ``bad_timestamp`` →
    ``missing_event_type`` → ``negative_value``.  Pure per-row column logic —
    no shuffle at all before the output sort."""
    ops = ops_feed(spark, sf_dir)
    m = hash31(F.concat(F.col("pk"), F.lit(":"), F.col("seq").cast("string"))) % 40
    poisoned = ops.select(
        "seq",
        "pk",
        "op",
        F.when(m == 0, -F.col("t")).otherwise(F.col("t")).alias("t"),
        F.when(m == 1, F.lit(None)).otherwise(F.col("event_type")).alias("event_type"),
        F.when(m == 2, -(F.col("value") + 1)).otherwise(F.col("value")).alias("value"),
    )
    reason = (
        F.when(F.col("t") < 0, F.lit("bad_timestamp"))
        .when(F.col("event_type").isNull(), F.lit("missing_event_type"))
        .when(F.col("value") < 0, F.lit("negative_value"))
    )
    return (
        poisoned.withColumn("reason", reason)
        .filter(F.col("reason").isNotNull())
        .select("seq", "pk", "op", "t", "event_type", "value", "reason")
        .orderBy("seq")
    )


_DLQ_SQL = (
    "WITH "
    + OPS_SQL
    + f"""
, poisoned AS (
  SELECT seq, pk, op,
         CASE WHEN m = 0 THEN -t ELSE t END AS t,
         CASE WHEN m = 1 THEN NULL ELSE event_type END AS event_type,
         CASE WHEN m = 2 THEN -(value + 1) ELSE value END AS value
  FROM (SELECT src.*, ({hash31_sql("pk || ':' || CAST(seq AS VARCHAR)")}) % 40 AS m
        FROM src)
)
SELECT seq, pk, op, t, event_type, value,
       CASE WHEN t < 0 THEN 'bad_timestamp'
            WHEN event_type IS NULL THEN 'missing_event_type'
            WHEN value < 0 THEN 'negative_value' END AS reason
FROM poisoned
WHERE t < 0 OR event_type IS NULL OR value < 0
ORDER BY seq
"""
)


# ---------------------------------------------------------------------------
# Heartbeat / liveness
# ---------------------------------------------------------------------------


def cdc_heartbeat_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector staleness per capture lane: collapse each lane's events to
    its distinct emission ticks (bounded by horizon/interval, so the
    per-lane ordered window below runs over a tiny frame), then measure
    inter-tick gaps against ``STALE_GAP_MS`` and the lane's silence at the
    end of the horizon.  A real deployment alerts on exactly these numbers
    (the harness verifier's cadence check)."""
    from lets_talk_cdc_change_feed_playground_spark.operators.cdc_queries import _lanes

    lanes = _lanes(spark, sf_dir)
    ticks = lanes.groupBy("method", "emitted_at_ms").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    horizon = lanes.agg(F.max("emitted_at_ms").alias("horizon_ms"))
    wlane = W.partitionBy("method").orderBy("emitted_at_ms")
    gaps = ticks.withColumn(
        "gap_ms",
        F.col("emitted_at_ms") - F.lag("emitted_at_ms").over(wlane),
    )
    return (
        gaps.groupBy("method")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.max("gap_ms").alias("max_gap_ms"),
            F.sum((F.col("gap_ms") > STALE_GAP_MS).cast("long")).alias("n_stale_gaps"),
            F.max("emitted_at_ms").alias("last_emit_ms"),
        )
        .crossJoin(F.broadcast(horizon))
        .withColumn("end_silence_ms", F.col("horizon_ms") - F.col("last_emit_ms"))
        .withColumn("stale_at_end", F.col("end_silence_ms") > STALE_GAP_MS)
        .select(
            "method",
            "n_events",
            "n_ticks",
            "max_gap_ms",
            "n_stale_gaps",
            "last_emit_ms",
            "end_silence_ms",
            "stale_at_end",
        )
        .orderBy("method")
    )


_LIVENESS_SQL = (
    _with(WAL_SQL, POLL_STATE_SQL, AUDIT_SQL, LANES_SQL)
    + f"""
, ticks AS (
  SELECT method, emitted_at_ms, count(*) AS n_events
  FROM lanes GROUP BY method, emitted_at_ms
),
gaps AS (
  SELECT *, emitted_at_ms - lag(emitted_at_ms)
              OVER (PARTITION BY method ORDER BY emitted_at_ms) AS gap_ms
  FROM ticks
)
SELECT method,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_ticks,
       max(gap_ms) AS max_gap_ms,
       CAST(COALESCE(sum(CASE WHEN gap_ms > {STALE_GAP_MS} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_stale_gaps,
       max(emitted_at_ms) AS last_emit_ms,
       h.horizon_ms - max(emitted_at_ms) AS end_silence_ms,
       h.horizon_ms - max(emitted_at_ms) > {STALE_GAP_MS} AS stale_at_end
FROM gaps, (SELECT max(emitted_at_ms) AS horizon_ms FROM lanes) h
GROUP BY method, h.horizon_ms
ORDER BY method
"""
)


# ---------------------------------------------------------------------------
# Incremental-snapshot chunk planning
# ---------------------------------------------------------------------------


def cdc_snapshot_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan the S3 snapshot phase as bounded pk-range chunks (the Debezium
    incremental-snapshot watermark strategy): order the source key space,
    cut it every ``CHUNK_ROWS`` keys, and emit each chunk's inclusive pk
    bounds + row count.  Executors then snapshot chunks independently with
    ``WHERE pk BETWEEN low AND high`` range scans.

    The dense key index comes from the two-phase bucketed sequence (buckets
    of the numeric key), so planning a billion-key table stays distributed;
    the plan output itself is one row per chunk."""
    keys = (
        ops_feed(spark, sf_dir)
        .select(F.col("pk").cast("long").alias("pk_num"))
        .distinct()
    )
    idx = with_global_seq(
        keys, F.expr("pk_num div 256"), ["pk_num"], out_col="idx"
    )
    return (
        idx.withColumn("chunk_id", ((F.col("idx") - 1) / CHUNK_ROWS).cast("long"))
        .groupBy("chunk_id")
        .agg(
            F.min("pk_num").alias("low_pk"),
            F.max("pk_num").alias("high_pk"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("chunk_id")
    )


_SNAPSHOT_CHUNK_SQL = (
    "WITH "
    + OPS_SQL
    + f"""
, keys AS (SELECT DISTINCT CAST(pk AS BIGINT) AS pk_num FROM src),
idx AS (SELECT pk_num, row_number() OVER (ORDER BY pk_num) AS idx FROM keys)
SELECT (idx - 1) // {CHUNK_ROWS} AS chunk_id,
       min(pk_num) AS low_pk, max(pk_num) AS high_pk,
       count(*) AS n_rows
FROM idx GROUP BY 1 ORDER BY chunk_id
"""
)


# ---------------------------------------------------------------------------
# Retention expiry (segment GC vs slowest consumer)
# ---------------------------------------------------------------------------

SEG_OFFSETS = 256  # offsets per log segment
_RATE_PER_TICK = 8  # the A6 consumer's sustained rate (events/tick/partition)


def cdc_retention_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-segment retention vs consumer progress — the "slow consumer blocks
    truncation" lesson as a judged query.  Two consumer groups track the
    5%-drop bus: the dedup consumer (A8) keeps up with delivery, the
    rate-limited consumer (A6) may still be draining when the horizon (last
    delivery tick) closes.  A group's committed offset per partition is the
    last offset before its first still-unconsumed delivered event; the safe
    truncation point is the minimum across groups, and only segments of
    ``SEG_OFFSETS`` offsets entirely below it may be reclaimed.

    Per partition: each group's committed offset, the safe offset, segment
    counts reclaimable/retained, and which group is holding retention back.
    Everything is per-partition aggregation over frames the session already
    stages — no new shuffle shapes."""
    bus = pg.bus_feed(spark, sf_dir)
    delivered = bus.filter(~F.col("dropped")).select(
        "partition", "offset", "lsn", "delivery_ts"
    )
    horizon = bus.agg(F.max("delivery_ts").alias("horizon"))
    rate = (
        pg.rate_limited_frame(spark, sf_dir, per_tick=_RATE_PER_TICK)
        .select("lsn", "consume_tick")
        .join(delivered, "lsn")
        .crossJoin(F.broadcast(horizon))
    )
    per_part = (
        rate.groupBy("partition")
        .agg(
            F.max("offset").alias("max_off"),
            F.min(
                F.when(F.col("consume_tick") > F.col("horizon"), F.col("offset"))
            ).alias("first_unconsumed"),
        )
        .select(
            "partition",
            F.col("max_off").alias("committed_dedup"),
            F.coalesce(F.col("first_unconsumed") - 1, F.col("max_off")).alias(
                "committed_rate"
            ),
        )
    )
    return per_part.select(
        "partition",
        "committed_dedup",
        "committed_rate",
        F.least("committed_dedup", "committed_rate").alias("safe_offset"),
        F.expr(f"(committed_dedup + {SEG_OFFSETS}) div {SEG_OFFSETS}").alias(
            "n_segments"
        ),
        F.expr(
            f"(least(committed_dedup, committed_rate) + 1) div {SEG_OFFSETS}"
        ).alias("n_reclaimable"),
        (
            F.expr(f"(committed_dedup + {SEG_OFFSETS}) div {SEG_OFFSETS}")
            - F.expr(
                f"(least(committed_dedup, committed_rate) + 1) div {SEG_OFFSETS}"
            )
        ).alias("n_retained"),
        F.when(F.col("committed_rate") < F.col("committed_dedup"), F.lit("rate"))
        .otherwise(F.lit("none"))
        .alias("blocked_by"),
    ).orderBy("partition")


_RETENTION_SQL = (
    _with(_bus_sql(int(pg.DROP_P * 100)))
    + f"""
, delivered AS (SELECT * FROM bus WHERE NOT dropped),
d AS (
  SELECT *,
         row_number() OVER (PARTITION BY "partition" ORDER BY delivery_ts, lsn) - 1 AS i,
         (delivery_ts // {pg.TICK_MS}) * {_RATE_PER_TICK}
           - (row_number() OVER (PARTITION BY "partition" ORDER BY delivery_ts, lsn) - 1) AS key
  FROM delivered
),
r AS (
  SELECT *,
         ((max(key) OVER (PARTITION BY "partition" ORDER BY delivery_ts, lsn
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + i)
          // {_RATE_PER_TICK}) * {pg.TICK_MS} AS consume_tick
  FROM d
),
pp AS (
  SELECT "partition",
         max("offset") AS committed_dedup,
         COALESCE(min(CASE WHEN consume_tick > h.horizon THEN "offset" END) - 1,
                  max("offset")) AS committed_rate
  FROM r, (SELECT max(delivery_ts) AS horizon FROM bus) h
  GROUP BY "partition"
)
SELECT "partition", committed_dedup, committed_rate,
       least(committed_dedup, committed_rate) AS safe_offset,
       (committed_dedup + {SEG_OFFSETS}) // {SEG_OFFSETS} AS n_segments,
       (least(committed_dedup, committed_rate) + 1) // {SEG_OFFSETS} AS n_reclaimable,
       (committed_dedup + {SEG_OFFSETS}) // {SEG_OFFSETS}
         - (least(committed_dedup, committed_rate) + 1) // {SEG_OFFSETS} AS n_retained,
       CASE WHEN committed_rate < committed_dedup THEN 'rate' ELSE 'none' END AS blocked_by
FROM pp
ORDER BY "partition"
"""
)


# ---------------------------------------------------------------------------
# Consumer-group rebalance
# ---------------------------------------------------------------------------

REB_PARTITIONS = 12
REB_OLD_CONSUMERS = 3
REB_NEW_CONSUMERS = 4


def cdc_consumer_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-group rebalancing when the group scales from
    ``REB_OLD_CONSUMERS`` to ``REB_NEW_CONSUMERS`` — the three assignment
    strategies a Kafka-style consumer group chooses between, computed over a
    ``REB_PARTITIONS``-way key split of the ops feed with real per-partition
    load:

    - *round-robin*: ``partition % n`` before and after (fair but moves many
      partitions);
    - *range*: contiguous blocks of the sorted partition list;
    - *sticky*: keep the old owner unless the partition must move — each old
      consumer cedes its highest-numbered surplus partition(s) to the new
      member, the minimal-movement rule.

    Output per partition: its event load, old/new owner under each strategy,
    and whether each strategy moved it (state that must be re-fetched after
    the rebalance — the cost sticky minimizes).  One aggregation on the
    partition key; the strategy math is pure column arithmetic."""
    ops = ops_feed(spark, sf_dir)
    per = (
        ops.withColumn("p", hash31("pk") % REB_PARTITIONS)
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    rr_old = F.col("p") % REB_OLD_CONSUMERS
    rr_new = F.col("p") % REB_NEW_CONSUMERS
    rng_old = F.floor(F.col("p") * REB_OLD_CONSUMERS / REB_PARTITIONS).cast("long")
    rng_new = F.floor(F.col("p") * REB_NEW_CONSUMERS / REB_PARTITIONS).cast("long")
    wold = W.partitionBy(rr_old)
    sticky_new = F.when(
        F.col("p") == F.max("p").over(wold), F.lit(REB_NEW_CONSUMERS - 1)
    ).otherwise(rr_old)
    return (
        per.select(
            "p",
            "n_events",
            rr_old.alias("rr_old"),
            rr_new.alias("rr_new"),
            rng_old.alias("range_old"),
            rng_new.alias("range_new"),
            sticky_new.alias("sticky_new"),
        )
        .select(
            "*",
            (F.col("rr_old") != F.col("rr_new")).alias("moved_rr"),
            (F.col("range_old") != F.col("range_new")).alias("moved_range"),
            (F.col("rr_old") != F.col("sticky_new")).alias("moved_sticky"),
        )
        .orderBy("p")
    )


_REBALANCE_SQL = (
    "WITH "
    + OPS_SQL
    + f"""
, per AS (
  SELECT ({hash31_sql("pk")}) % {REB_PARTITIONS} AS p, count(*) AS n_events
  FROM src GROUP BY 1
),
s AS (
  SELECT p, n_events,
         p % {REB_OLD_CONSUMERS} AS rr_old,
         p % {REB_NEW_CONSUMERS} AS rr_new,
         CAST(floor(p * {REB_OLD_CONSUMERS} / {REB_PARTITIONS}) AS BIGINT) AS range_old,
         CAST(floor(p * {REB_NEW_CONSUMERS} / {REB_PARTITIONS}) AS BIGINT) AS range_new,
         CASE WHEN p = max(p) OVER (PARTITION BY p % {REB_OLD_CONSUMERS})
              THEN {REB_NEW_CONSUMERS - 1} ELSE p % {REB_OLD_CONSUMERS} END AS sticky_new
  FROM per
)
SELECT *,
       rr_old <> rr_new AS moved_rr,
       range_old <> range_new AS moved_range,
       rr_old <> sticky_new AS moved_sticky
FROM s
ORDER BY p
"""
)


# ---------------------------------------------------------------------------
# DBLog-style watermarked incremental snapshot
# ---------------------------------------------------------------------------

#: Snapshot starts this long after the first WAL record (mid-stream, so real
#: change traffic interleaves with every chunk window).
DBLOG_START_MS = 7 * 24 * 3_600_000
#: One chunk window opens per hour of logical time …
DBLOG_CHUNK_MS = 3_600_000
#: … and the chunk select completes (high watermark) 30 min in.
DBLOG_READ_MS = 1_800_000
#: Keys per snapshot chunk.
DBLOG_CHUNK_KEYS = 32


def cdc_dblog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-based incremental snapshot à la DBLog (Andreadis et al.,
    "DBLog: A Watermark Based Change-Data-Capture Framework", 2020 — the
    algorithm behind Debezium's incremental snapshots): the snapshot runs in
    bounded pk-range chunks *concurrently* with the WAL tail.  Each chunk k
    writes a low watermark ``lw``, selects its rows, and writes a high
    watermark ``hw``; any key of the chunk that also appears in the WAL
    between ``lw`` and ``hw`` is dropped from the chunk buffer (the change
    event is fresher), the rest are emitted as snapshot upserts at ``hw``.

    The query simulates that interleaving on the derived ops feed — chunk k's
    window is anchored ``DBLOG_START_MS + k*DBLOG_CHUNK_MS`` after the first
    WAL record — and proves per chunk that the merged output (snapshot
    upserts + WAL events) converges to the source's final state
    (``harness/verifier/index.js:59-76`` last-op-wins semantics).

    Scale: one shuffle keys→chunks (dense index via the two-phase bucketed
    sequence), one shuffle of ops on pk for the per-key fold, then a per-chunk
    rollup; no data-sized unpartitioned window, no driver collect — exactly
    how the real thing runs chunk-parallel on 1000 executors.
    """
    ops = ops_feed(spark, sf_dir)

    keys = ops.select(F.col("pk").cast("long").alias("pk_num")).distinct()
    idx = with_global_seq(keys, F.expr("pk_num div 256"), ["pk_num"], out_col="idx")
    chunks = idx.select(
        "pk_num",
        ((F.col("idx") - 1) / DBLOG_CHUNK_KEYS).cast("long").alias("chunk_id"),
    )

    t0 = ops.agg(F.min("t").alias("__t0"))
    o = (
        ops.withColumn("pk_num", F.col("pk").cast("long"))
        .join(chunks, "pk_num")
        .crossJoin(F.broadcast(t0))
        .withColumn(
            "lw",
            F.col("__t0") + DBLOG_START_MS + F.col("chunk_id") * DBLOG_CHUNK_MS,
        )
        .withColumn("hw", F.col("lw") + DBLOG_READ_MS)
    )

    img = F.struct("op", "event_type", "value")
    le_hw = F.col("t") <= F.col("hw")
    per_key = o.groupBy("pk_num", "chunk_id", "lw", "hw").agg(
        F.max_by(img, F.col("seq")).alias("fin"),
        F.max_by(F.when(le_hw, img), F.when(le_hw, F.col("seq"))).alias("snap"),
        F.sum(
            F.when((F.col("t") > F.col("lw")) & le_hw, 1).otherwise(0)
        ).alias("in_window"),
        F.sum(F.when(F.col("t") > F.col("hw"), 1).otherwise(0)).alias("after_hw"),
    )

    snap_alive = F.col("snap").isNotNull() & (F.col("snap.op") != "delete")
    superseded = F.col("in_window") > 0
    emitted = snap_alive & ~superseded
    # merged sink row after replaying snapshot upserts + the WAL in order
    merged = F.when(
        (F.col("after_hw") > 0) | superseded, F.col("fin")
    ).otherwise(F.col("snap"))
    src_alive = F.col("fin.op") != "delete"
    merged_alive = merged.isNotNull() & (merged["op"] != "delete")
    converged = (merged_alive == src_alive) & (
        ~src_alive | merged.eqNullSafe(F.col("fin"))
    )

    return (
        per_key.select(
            "chunk_id",
            "lw",
            "hw",
            "pk_num",
            snap_alive.alias("snap_alive"),
            superseded.alias("superseded"),
            emitted.alias("emitted"),
            (F.col("after_hw") > 0).alias("has_tail"),
            converged.alias("converged"),
        )
        .groupBy("chunk_id", F.col("lw").alias("lw_ms"), F.col("hw").alias("hw_ms"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("pk_num").alias("low_pk"),
            F.max("pk_num").alias("high_pk"),
            F.sum(F.col("snap_alive").cast("long")).alias("snapshot_alive"),
            F.sum(F.col("superseded").cast("long")).alias("superseded_keys"),
            F.sum(F.col("emitted").cast("long")).alias("emitted_rows"),
            F.sum(F.col("has_tail").cast("long")).alias("tail_keys"),
            F.sum(F.col("converged").cast("long")).alias("converged_keys"),
        )
        .orderBy("chunk_id")
    )


_DBLOG_SQL = (
    "WITH "
    + OPS_SQL
    + f"""
, keys AS (SELECT DISTINCT CAST(pk AS BIGINT) AS pk_num FROM src),
idx AS (SELECT pk_num, row_number() OVER (ORDER BY pk_num) AS idx FROM keys),
chunks AS (SELECT pk_num, (idx - 1) // {DBLOG_CHUNK_KEYS} AS chunk_id FROM idx),
t0 AS (SELECT min(t) AS t0 FROM src),
o AS (
  SELECT src.*, c.chunk_id,
         t0.t0 + {DBLOG_START_MS} + c.chunk_id * {DBLOG_CHUNK_MS} AS lw,
         t0.t0 + {DBLOG_START_MS} + c.chunk_id * {DBLOG_CHUNK_MS} + {DBLOG_READ_MS} AS hw
  FROM src JOIN chunks c ON CAST(src.pk AS BIGINT) = c.pk_num CROSS JOIN t0
),
per_key AS (
  SELECT CAST(pk AS BIGINT) AS pk_num, chunk_id, lw, hw,
         arg_max(op, seq) AS fin_op,
         arg_max(op, CASE WHEN t <= hw THEN seq END) AS snap_op,
         count(CASE WHEN t <= hw THEN 1 END) AS n_le_hw,
         count(CASE WHEN t > lw AND t <= hw THEN 1 END) AS in_window,
         count(CASE WHEN t > hw THEN 1 END) AS after_hw
  FROM o GROUP BY 1, 2, 3, 4
),
flags AS (
  SELECT chunk_id, lw AS lw_ms, hw AS hw_ms, pk_num,
         (n_le_hw > 0 AND snap_op <> 'delete') AS snap_alive,
         (in_window > 0) AS superseded,
         (n_le_hw > 0 AND snap_op <> 'delete' AND in_window = 0) AS emitted,
         (after_hw > 0) AS has_tail,
         -- merged replay == fin in every branch (snap ≡ fin when no tail);
         -- spelled out so the convergence obligation is explicit
         (CASE WHEN after_hw > 0 OR in_window > 0 THEN fin_op ELSE snap_op END
            IS NOT DISTINCT FROM fin_op
          OR (n_le_hw = 0 AND fin_op = 'delete')) AS converged
  FROM per_key
)
SELECT chunk_id, lw_ms, hw_ms,
       count(*) AS n_keys,
       min(pk_num) AS low_pk, max(pk_num) AS high_pk,
       CAST(sum(CASE WHEN snap_alive THEN 1 ELSE 0 END) AS BIGINT) AS snapshot_alive,
       CAST(sum(CASE WHEN superseded THEN 1 ELSE 0 END) AS BIGINT) AS superseded_keys,
       CAST(sum(CASE WHEN emitted THEN 1 ELSE 0 END) AS BIGINT) AS emitted_rows,
       CAST(sum(CASE WHEN has_tail THEN 1 ELSE 0 END) AS BIGINT) AS tail_keys,
       CAST(sum(CASE WHEN converged THEN 1 ELSE 0 END) AS BIGINT) AS converged_keys
FROM flags
GROUP BY 1, 2, 3
ORDER BY chunk_id
"""
)


# ---------------------------------------------------------------------------
# Transactional outbox relay (at-least-once publish -> exactly-once consume)
# ---------------------------------------------------------------------------

#: Deterministic duplicate injection: an outbox event is relayed twice iff
#: hash31(pk ':' seq) % OUTBOX_DUP_MOD == 0 (the relay crashed after publish,
#: before marking the outbox row sent — the at-least-once failure mode).
OUTBOX_DUP_MOD = 7


def cdc_outbox_relay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional-outbox pattern, end to end.

    The producer writes each business change and an outbox event in one
    transaction (the ops feed *is* that event stream; ``event_id = seq``).
    The relay republishes outbox rows at-least-once (deterministic crash
    duplicates), the consumer dedups on ``event_id``, and the judged output
    proves per key that the deduped delivery converges with the C1 WAL:
    same event count, same final payload.  This is the capture-less CDC
    architecture the reference contrasts with log tailing — and the dedup
    step is exactly A8's exactly-once recovery.

    Plan shape: one shuffle on ``pk`` for the per-key rollups; the duplicate
    union is map-side; WAL join is per-key.
    """
    ops = ops_feed(spark, sf_dir)
    dup_cond = (
        hash31(F.concat(F.col("pk"), F.lit(":"), F.col("seq").cast("string")))
        % OUTBOX_DUP_MOD
        == 0
    )
    relayed = ops.select("pk", "seq", "op", "event_type", "value").withColumn(
        "n_copies", F.when(dup_cond, F.lit(2)).otherwise(F.lit(1))
    )
    per_pk = relayed.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_outbox"),
        F.sum("n_copies").alias("n_relayed"),
        # consumer-side dedup on event_id: one delivery per outbox row
        F.count(F.lit(1)).alias("n_delivered"),
        F.max_by(F.col("event_type"), F.col("seq")).alias("delivered_event_type"),
        # value at the latest NON-delete op: filter via the ordinal (NULL
        # ordinals are skipped by max_by in both engines; a NULL *arg* is
        # kept by Spark but skipped by DuckDB's arg_max, so never rely on it)
        F.max_by(
            F.col("value"), F.when(F.col("op") != "delete", F.col("seq"))
        ).alias("delivered_value"),
        F.max_by(F.col("op") == "delete", F.col("seq")).alias("delivered_deleted"),
    )
    wal = log_capture(spark, sf_dir)
    wal_pk = wal.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_wal"),
        F.max_by(F.col("after_event_type"), F.when(F.col("op") != "d", F.col("lsn"))).alias(
            "wal_event_type"
        ),
        F.max_by(F.col("after_value"), F.when(F.col("op") != "d", F.col("lsn"))).alias(
            "wal_value"
        ),
        F.max_by(F.col("op") == "d", F.col("lsn")).alias("wal_deleted"),
    )
    joined = per_pk.join(wal_pk, "pk", "full_outer")
    conv = (
        (F.col("n_delivered") == F.col("n_wal"))
        & (F.col("delivered_deleted") == F.col("wal_deleted"))
        & (
            F.col("delivered_deleted")
            | (
                F.col("delivered_event_type").eqNullSafe(F.col("wal_event_type"))
                & F.col("delivered_value").eqNullSafe(F.col("wal_value"))
            )
        )
    )
    return joined.select(
        "pk",
        "n_outbox",
        "n_relayed",
        (F.col("n_relayed") - F.col("n_outbox")).alias("n_dup_deliveries"),
        "n_delivered",
        "delivered_deleted",
        "delivered_event_type",
        "delivered_value",
        "n_wal",
        conv.alias("converged"),
    ).orderBy("pk")


_OUTBOX_SQL = (
    _with(WAL_SQL)
    + f"""
, relayed AS (
  SELECT pk, seq, op, event_type, value,
         CASE WHEN {hash31_sql(f"pk || ':' || CAST(seq AS VARCHAR)")} % {OUTBOX_DUP_MOD} = 0
              THEN 2 ELSE 1 END AS n_copies
  FROM src
),
per_pk AS (
  SELECT pk,
         count(*) AS n_outbox,
         sum(n_copies) AS n_relayed,
         count(*) AS n_delivered,
         arg_max(event_type, seq) AS delivered_event_type,
         arg_max(value, CASE WHEN op <> 'delete' THEN seq END) AS delivered_value,
         arg_max(op = 'delete', seq) AS delivered_deleted
  FROM relayed GROUP BY pk
),
wal_pk AS (
  SELECT pk, count(*) AS n_wal,
         arg_max(after_event_type, CASE WHEN op <> 'd' THEN lsn END) AS wal_event_type,
         arg_max(after_value, CASE WHEN op <> 'd' THEN lsn END) AS wal_value,
         arg_max(op = 'd', lsn) AS wal_deleted
  FROM wal GROUP BY pk
)
SELECT p.pk, p.n_outbox, CAST(p.n_relayed AS BIGINT) AS n_relayed,
       CAST(p.n_relayed - p.n_outbox AS BIGINT) AS n_dup_deliveries,
       p.n_delivered, p.delivered_deleted, p.delivered_event_type, p.delivered_value,
       w.n_wal,
       (p.n_delivered = w.n_wal AND p.delivered_deleted = w.wal_deleted
        AND (p.delivered_deleted OR (p.delivered_event_type IS NOT DISTINCT FROM w.wal_event_type
                                     AND p.delivered_value IS NOT DISTINCT FROM w.wal_value)))
         AS converged
FROM per_pk p FULL OUTER JOIN wal_pk w USING (pk)
ORDER BY pk
"""
)


# ---------------------------------------------------------------------------
# Compacted-topic bootstrap (snapshot-free consumer onboarding)
# ---------------------------------------------------------------------------

#: Bootstrap boundary as a fraction of the log head (numerator/denominator —
#: exact integer arithmetic on the max LSN).
BOOTSTRAP_NUM, BOOTSTRAP_DEN = 6, 10


def cdc_compacted_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap a new consumer from a *compacted* topic prefix + live tail.

    A compacted topic keeps only each key's latest record up to the segment
    boundary (tombstones dropped — unlike ``cdc_savepoint_restore``'s full
    state snapshot); the consumer reads that compacted prefix, then tails
    lsn > boundary.  Judged claim: bootstrapped state == the full-WAL replay
    fold for every key, proven per key with both sides' payloads and a
    ``converged`` flag — compaction loses history but never state.

    Plan shape (r09 fusion): ONE shuffle on ``pk``, one descending-lsn sort;
    the segment-latest and tail-latest records are conditional struct maxima
    over the same window (lsn is unique and leads the struct, so the struct
    max IS the latest record on each side of the boundary), and the full
    latest is the window's rank-1 row itself — the r08 form re-scanned the
    WAL in three branches (3 exchanges, 3 sorts) and glued them with two
    full-outer joins.  The boundary stays a broadcast single-row aggregate.
    """
    wal = log_capture(spark, sf_dir)
    head = wal.agg(
        F.expr(f"max(lsn) * {BOOTSTRAP_NUM} div {BOOTSTRAP_DEN}").alias("boundary")
    )
    wpk = W.partitionBy("pk")
    rec = F.struct("lsn", "op", "after_event_type", "after_value")
    one = (
        wal.crossJoin(F.broadcast(head))
        .withColumn("rn", F.row_number().over(wpk.orderBy(F.desc("lsn"))))
        .withColumn(
            "seg", F.max(F.when(F.col("lsn") <= F.col("boundary"), rec)).over(wpk)
        )
        .withColumn(
            "tl", F.max(F.when(F.col("lsn") > F.col("boundary"), rec)).over(wpk)
        )
        .filter("rn = 1")
    )
    # the compacted prefix drops tombstoned keys: its record "exists" only
    # if the segment-latest is a non-delete; the tail keeps deletes
    c_present = F.col("seg").isNotNull() & (F.col("seg.op") != "d")
    t_exists = F.col("tl").isNotNull()
    boot_exists = c_present | t_exists
    boot_present = (
        F.when(t_exists, F.col("tl.op") != "d")
        .when(c_present, F.lit(True))
        .otherwise(F.lit(False))
    )
    live_tail = t_exists & (F.col("tl.op") != "d")
    boot_event_type = F.coalesce(
        F.when(live_tail, F.col("tl.after_event_type")),
        F.when(~t_exists & c_present, F.col("seg.after_event_type")),
    )
    boot_value = F.coalesce(
        F.when(live_tail, F.col("tl.after_value")),
        F.when(~t_exists & c_present, F.col("seg.after_value")),
    )
    # from_compacted is NULL for keys absent from the bootstrap entirely
    # (segment-latest was a tombstone and no tail record) — the full-outer
    # join the fusion replaces produced a NULL there too
    from_compacted = F.when(boot_exists, ~t_exists)
    full_present = F.col("op") != "d"
    full_event_type = F.when(full_present, F.col("after_event_type"))
    full_value = F.when(full_present, F.col("after_value"))
    conv = boot_present.eqNullSafe(full_present) & (
        ~full_present
        | (
            boot_event_type.eqNullSafe(full_event_type)
            & boot_value.eqNullSafe(full_value)
        )
    )
    return one.select(
        "pk",
        boot_present.alias("boot_present"),
        from_compacted.alias("from_compacted"),
        boot_event_type.alias("boot_event_type"),
        boot_value.alias("boot_value"),
        full_present.alias("full_present"),
        full_event_type.alias("full_event_type"),
        full_value.alias("full_value"),
        conv.alias("converged"),
    ).orderBy("pk")


_BOOTSTRAP_SQL = (
    _with(WAL_SQL)
    + f"""
, head AS (SELECT max(lsn) * {BOOTSTRAP_NUM} // {BOOTSTRAP_DEN} AS boundary FROM wal),
seg_latest AS (
  SELECT * FROM (
    SELECT w.*, row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) AS rn
    FROM wal w, head WHERE lsn <= boundary
  ) WHERE rn = 1
),
compacted AS (
  SELECT pk, after_event_type AS c_event_type, after_value AS c_value, lsn AS c_lsn
  FROM seg_latest WHERE op <> 'd'
),
tail_latest AS (
  SELECT pk, op AS t_op, after_event_type AS t_event_type, after_value AS t_value,
         lsn AS t_lsn
  FROM (
    SELECT w.*, row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) AS rn
    FROM wal w, head WHERE lsn > boundary
  ) WHERE rn = 1
),
boot AS (
  SELECT COALESCE(c.pk, t.pk) AS pk,
         CASE WHEN t.t_lsn IS NOT NULL THEN t.t_op <> 'd' ELSE TRUE END AS boot_present,
         COALESCE(CASE WHEN t.t_lsn IS NOT NULL AND t.t_op <> 'd' THEN t.t_event_type END,
                  CASE WHEN t.t_lsn IS NULL THEN c.c_event_type END) AS boot_event_type,
         COALESCE(CASE WHEN t.t_lsn IS NOT NULL AND t.t_op <> 'd' THEN t.t_value END,
                  CASE WHEN t.t_lsn IS NULL THEN c.c_value END) AS boot_value,
         t.t_lsn IS NULL AS from_compacted
  FROM compacted c FULL OUTER JOIN tail_latest t ON c.pk = t.pk
),
fullstate AS (
  SELECT pk, op <> 'd' AS full_present,
         CASE WHEN op <> 'd' THEN after_event_type END AS full_event_type,
         CASE WHEN op <> 'd' THEN after_value END AS full_value
  FROM (
    SELECT w.*, row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) AS rn FROM wal w
  ) WHERE rn = 1
)
SELECT COALESCE(b.pk, f.pk) AS pk,
       COALESCE(b.boot_present, FALSE) AS boot_present,
       b.from_compacted,
       b.boot_event_type, b.boot_value,
       COALESCE(f.full_present, FALSE) AS full_present,
       f.full_event_type, f.full_value,
       (COALESCE(b.boot_present, FALSE) = COALESCE(f.full_present, FALSE)
        AND (NOT COALESCE(f.full_present, FALSE)
             OR (b.boot_event_type IS NOT DISTINCT FROM f.full_event_type
                 AND b.boot_value IS NOT DISTINCT FROM f.full_value)))
         AS converged
FROM boot b FULL OUTER JOIN fullstate f ON b.pk = f.pk
ORDER BY pk
"""
)


# ---------------------------------------------------------------------------
# NDJSON export round-trip (S7 inside the hash gate)
# ---------------------------------------------------------------------------

def cdc_ndjson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 judged end-to-end: the C1 WAL is exported as NDJSON (the
    reference's event-log export, ``src/ui/eventLogExport.ts:112-182``,
    via :func:`..sources.scenario.export_events_ndjson`), read back with an
    explicit schema, and returned — the hash gate proves the round-trip
    preserves every value exactly (doubles included: Spark writes shortest
    round-trip decimal and parses it back to the identical bits).

    Scale shape: the export is a distributed ``df.write.json`` (one file
    per partition, no driver funnel); re-reading is a parallel JSON scan
    with schema projection."""
    from pyspark.sql import types as T

    from lets_talk_cdc_change_feed_playground_spark.sources.scenario import (
        export_events_ndjson,
    )

    def export() -> str:
        path = scratch_dir(spark, "sg_ndjson_")
        wal = log_capture(spark, sf_dir).select(
            "lsn", "op", "pk", "after_event_type", "after_value", "ts_ms", "tx_id"
        )
        export_events_ndjson(wal, path)
        return path

    path = memo(spark, ("ndjson_export", sf_dir), export)
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("pk", T.StringType()),
            T.StructField("after_event_type", T.StringType()),
            T.StructField("after_value", T.DoubleType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("tx_id", T.StringType()),
        ]
    )
    return spark.read.schema(schema).json(path).orderBy("lsn")


_NDJSON_SQL = (
    _with(WAL_SQL)
    + """
SELECT lsn, op, pk, after_event_type, after_value, ts_ms, tx_id
FROM wal ORDER BY lsn
"""
)


# ---------------------------------------------------------------------------
# Debezium emit → parse round-trip (S6 both directions, in the hash gate)
# ---------------------------------------------------------------------------


def cdc_debezium_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 closed loop: the C1 WAL is serialized into Debezium envelopes
    (``emit_debezium`` — what a Kafka Connect source would publish) and
    parsed back by the verifier-side parser (``parse_debezium``); the query
    proves IN-QUERY, per event, that op/pk/ts and the full before/after row
    images survive (map equality via identically-constructed ``to_json``).
    The oracle pins the expected outcome — every row round-trips — plus the
    envelope metadata, so a Spark-side serialization regression (dropped
    key, mangled null, wrong topic) breaks the hash."""
    from lets_talk_cdc_change_feed_playground_spark.sources.debezium import (
        emit_debezium,
        parse_debezium,
    )

    wal = log_capture(spark, sf_dir)
    img = lambda p: F.create_map(  # noqa: E731
        F.lit("event_type"), F.col(f"{p}event_type"),
        F.lit("value"), F.col(f"{p}value").cast("string"),
        F.lit("props"), F.col(f"{p}props"),
    )
    src = wal.select(
        "lsn",
        "op",
        "pk",
        "ts_ms",
        F.when(F.col("op") != "c", img("before_")).alias("before"),
        F.when(F.col("op") != "d", img("after_")).alias("after"),
    )
    records = emit_debezium(src, table="events")
    parsed = parse_debezium(records, passthrough=("lsn",)).select(
        "lsn",
        F.col("tbl"),
        F.col("op").alias("p_op"),
        F.col("pk").alias("p_pk"),
        F.col("ts_ms").alias("p_ts_ms"),
        F.col("before").alias("p_before"),
        F.col("after").alias("p_after"),
    )
    joined = src.join(parsed, "lsn")
    ok = (
        (F.col("op") == F.col("p_op"))
        & (F.col("pk") == F.col("p_pk"))
        & (F.col("ts_ms") == F.col("p_ts_ms"))
        & F.to_json(F.col("before")).eqNullSafe(F.to_json(F.col("p_before")))
        & F.to_json(F.col("after")).eqNullSafe(F.to_json(F.col("p_after")))
    )
    return joined.select(
        "lsn",
        "op",
        "pk",
        "ts_ms",
        "tbl",
        F.coalesce(F.size("p_after"), F.lit(-1)).alias("n_after_keys"),
        ok.alias("roundtrip_ok"),
    ).orderBy("lsn")


_DBZ_ROUNDTRIP_SQL = (
    _with(WAL_SQL)
    + """
SELECT lsn, op, pk, ts_ms,
       'events' AS tbl,
       CASE WHEN op = 'd' THEN -1 ELSE 3 END AS n_after_keys,
       TRUE AS roundtrip_ok
FROM wal ORDER BY lsn
"""
)


QUERIES = {
    "cdc_debezium_roundtrip": cdc_debezium_roundtrip,
    "cdc_ndjson_roundtrip": cdc_ndjson_roundtrip,
    "cdc_outbox_relay": cdc_outbox_relay,
    "cdc_compacted_bootstrap": cdc_compacted_bootstrap,
    "cdc_dblog_snapshot": cdc_dblog_snapshot,
    "cdc_consumer_rebalance": cdc_consumer_rebalance,
    "cdc_retention_expiry": cdc_retention_expiry,
    "cdc_wal_compaction": cdc_wal_compaction,
    "cdc_offset_gaps": cdc_offset_gaps,
    "cdc_dlq_routing": cdc_dlq_routing,
    "cdc_heartbeat_liveness": cdc_heartbeat_liveness,
    "cdc_snapshot_chunking": cdc_snapshot_chunking,
}

ORACLE = {
    "cdc_debezium_roundtrip": _DBZ_ROUNDTRIP_SQL,
    "cdc_ndjson_roundtrip": _NDJSON_SQL,
    "cdc_outbox_relay": _OUTBOX_SQL,
    "cdc_compacted_bootstrap": _BOOTSTRAP_SQL,
    "cdc_dblog_snapshot": _DBLOG_SQL,
    "cdc_consumer_rebalance": _REBALANCE_SQL,
    "cdc_retention_expiry": _RETENTION_SQL,
    "cdc_wal_compaction": _WAL_COMPACTION_SQL,
    "cdc_offset_gaps": _OFFSET_GAPS_SQL,
    "cdc_dlq_routing": _DLQ_SQL,
    "cdc_heartbeat_liveness": _LIVENESS_SQL,
    "cdc_snapshot_chunking": _SNAPSHOT_CHUNK_SQL,
}


# ---------------------------------------------------------------------------
# Cross-cluster mirroring with offset translation (MirrorMaker2 shape)
# ---------------------------------------------------------------------------

MIRROR_HORIZON_NUM, MIRROR_HORIZON_DEN = 3, 5  # checkpoint at 60% of delivery span


def cdc_mirror_maker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-cluster topic replication with offset translation — the
    MirrorMaker2 problem: cluster B re-publishes A's delivered records in
    delivery order, so B's offsets are dense and differ from A's (A has
    gaps where the broker dropped); a consumer failing over from A to B
    must translate its committed offset through the offset-sync table or
    it replays/loses data.

    Per partition the query reports both clusters' high watermarks, the
    consumer group's committed offset on A (last record delivered by the
    60%-of-span checkpoint horizon), its translated resume point on B, and
    proves the handoff: the remaining-record counts AND an order-invariant
    integer checksum of the remaining records match between clusters
    (``handoff_ok``).

    Scale shape: one per-partition dense sequence (two-phase bucketed, the
    B1 pattern), the translation lookup is a same-partition equi-join, and
    the verification is a pair of map-side-combinable aggregates."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    def build_b() -> DataFrame:
        bus = pg.bus_feed(spark, sf_dir)
        a = bus.filter(~F.col("dropped")).select(
            "partition",
            F.col("offset").alias("a_offset"),
            "delivery_ts",
            "pk",
            "op",
        )
        return with_global_seq(
            a,
            F.expr("delivery_ts div 3600000"),
            ["delivery_ts", "a_offset"],
            out_col="b_offset",
            start=0,
            partition_cols=("partition",),
        )

    # the span scalar, the committed-offset agg, and the remaining-record
    # audit all scan this frame — persist the one sequence assignment
    b = shared_df(spark, ("mirror_b", sf_dir), build_b)
    span = b.agg(
        F.min("delivery_ts").alias("d0"), F.max("delivery_ts").alias("d1")
    ).select(
        F.expr(
            f"d0 + ((d1 - d0) * {MIRROR_HORIZON_NUM}) div {MIRROR_HORIZON_DEN}"
        ).alias("horizon")
    )
    bh = b.crossJoin(F.broadcast(span))
    committed = (
        bh.filter(F.col("delivery_ts") <= F.col("horizon"))
        .groupBy("partition")
        .agg(
            F.max("a_offset").alias("committed_a"),
            F.max("b_offset").alias("committed_b"),
        )
    )
    # remaining-record audit on both clusters, keyed by the same checksum
    rem = (
        bh.join(committed, "partition")
        .select(
            "partition",
            "a_offset",
            "b_offset",
            "committed_a",
            "committed_b",
            hash31(F.concat_ws("|", "pk", "op")).alias("ck"),
        )
    )
    # one conditional aggregation pass covers both clusters' audits AND the
    # high watermarks (vs. two filtered aggregates + extra joins)
    rem_agg = rem.groupBy("partition").agg(
        F.max("a_offset").alias("a_high"),
        F.max("b_offset").alias("b_high"),
        F.count(F.lit(1)).cast("long").alias("replicated_n"),
        F.sum(F.when(F.col("a_offset") > F.col("committed_a"), 1).otherwise(0))
        .cast("long")
        .alias("remaining_a"),
        F.sum(F.when(F.col("a_offset") > F.col("committed_a"), F.col("ck")).otherwise(0))
        .cast("long")
        .alias("ck_a"),
        F.sum(F.when(F.col("b_offset") > F.col("committed_b"), 1).otherwise(0))
        .cast("long")
        .alias("remaining_b"),
        F.sum(F.when(F.col("b_offset") > F.col("committed_b"), F.col("ck")).otherwise(0))
        .cast("long")
        .alias("ck_b"),
        # committed_a/b are constant per partition (they came in through the
        # committed join) — folding them out of the same aggregation removes
        # the final re-join, whose broadcast build re-executed the whole
        # committed subtree as a separate job (guide §2.4)
        F.max("committed_a").alias("committed_a"),
        F.max("committed_b").alias("committed_b"),
    )
    return (
        rem_agg
        .select(
            F.col("partition").cast("long").alias("partition"),
            "a_high",
            "b_high",
            "replicated_n",
            "committed_a",
            "committed_b",
            (F.col("committed_b") + 1).alias("resume_b"),
            "remaining_a",
            "remaining_b",
            (
                (F.col("remaining_a") == F.col("remaining_b"))
                & (F.col("ck_a") == F.col("ck_b"))
            ).alias("handoff_ok"),
        )
        .orderBy("partition")
    )


_MIRROR_CK = hash31_sql("pk || '|' || op")

_MIRROR_SQL = (
    _with(_bus_sql(int(pg.DROP_P * 100)))
    + f"""
, a AS (
  SELECT "partition", "offset" AS a_offset, delivery_ts, pk, op
  FROM bus WHERE NOT dropped
),
b AS (
  SELECT a.*, row_number() OVER (PARTITION BY "partition"
                                 ORDER BY delivery_ts, a_offset) - 1 AS b_offset
  FROM a
),
span AS (
  SELECT min(delivery_ts) + ((max(delivery_ts) - min(delivery_ts)) * {MIRROR_HORIZON_NUM})
           // {MIRROR_HORIZON_DEN} AS horizon
  FROM b
),
committed AS (
  SELECT "partition", max(a_offset) AS committed_a, max(b_offset) AS committed_b
  FROM b, span WHERE delivery_ts <= horizon GROUP BY "partition"
),
rem AS (
  SELECT b.*, c.committed_a, c.committed_b, {_MIRROR_CK} AS ck
  FROM b JOIN committed c USING ("partition")
),
rem_agg AS (
  SELECT "partition",
         max(a_offset) AS a_high, max(b_offset) AS b_high,
         CAST(count(*) AS BIGINT) AS replicated_n,
         CAST(sum(CASE WHEN a_offset > committed_a THEN 1 ELSE 0 END) AS BIGINT) AS remaining_a,
         CAST(sum(CASE WHEN a_offset > committed_a THEN ck ELSE 0 END) AS BIGINT) AS ck_a,
         CAST(sum(CASE WHEN b_offset > committed_b THEN 1 ELSE 0 END) AS BIGINT) AS remaining_b,
         CAST(sum(CASE WHEN b_offset > committed_b THEN ck ELSE 0 END) AS BIGINT) AS ck_b
  FROM rem GROUP BY "partition"
)
SELECT CAST(r."partition" AS BIGINT) AS "partition",
       r.a_high, r.b_high, r.replicated_n,
       c.committed_a, c.committed_b, c.committed_b + 1 AS resume_b,
       r.remaining_a, r.remaining_b,
       r.remaining_a = r.remaining_b AND r.ck_a = r.ck_b AS handoff_ok
FROM rem_agg r
JOIN committed c USING ("partition")
ORDER BY "partition"
"""
)

QUERIES["cdc_mirror_maker"] = cdc_mirror_maker
ORACLE["cdc_mirror_maker"] = _MIRROR_SQL


# ---------------------------------------------------------------------------
# Chandy-Lamport aligned-barrier snapshot audit
# ---------------------------------------------------------------------------


def cdc_barrier_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-snapshot (Chandy-Lamport / aligned checkpoint) audit over
    the partitioned bus.

    A barrier is initiated at ``t_b`` (midpoint of the delivery span).  Per
    FIFO channel (bus partition — a key's events always ride one partition,
    ``partitionForKey``, `src/changefeed/model.ts:106-109`):

    - **cut**      = events delivered before the barrier (the consumer's
      process state at barrier arrival),
    - **channel**  = events already published (``available_at <= t_b``) but
      delivered after the barrier — exactly what CL channel recording must
      capture,
    - **post**     = events published after the snapshot started (excluded).

    The audit folds three recovery states against the truth (fold of
    everything published pre-barrier, in LSN order):

    - ``diff_cut_only``        — restore WITHOUT channel state: keys whose
      last pre-barrier write was still in flight (commit drift + tick
      rounding, B4) are stale — why aligned checkpoints need channel state.
    - ``diff_naive_replay``    — restore + blind channel replay: a channel
      event OVERWRITES the cut state even when the cut already holds a
      NEWER lsn for that key (a delivery inversion straddling the barrier,
      the V2 metric surfacing as snapshot corruption).
    - ``diff_versioned_replay``— restore + lsn-conditional apply (the A8
      idempotent-consumer rule): always converges; the judged verdict.

    Scale: zone classification is a projection over the shared bus frame;
    the three recovery folds are ONE groupBy(pk) with zone-conditional
    ``max_by`` aggregates (not three filtered folds full-joined back on the
    same key); output is one row per partition + one verdict row.
    """
    bus = pg.bus_feed(spark, sf_dir, drop_p=0.0)
    tb = bus.selectExpr(
        "min(delivery_ts) + (max(delivery_ts) - min(delivery_ts)) div 2 as t_b"
    )
    cls = bus.crossJoin(F.broadcast(tb)).withColumn(
        "zone",
        F.when(F.col("delivery_ts") <= F.col("t_b"), "cut")
        .when(F.col("available_at") <= F.col("t_b"), "channel")
        .otherwise("post"),
    )

    per_part = cls.groupBy(F.col("partition").cast("long").alias("partition")).agg(
        F.max(F.when(F.col("zone") == "cut", F.col("offset"))).alias("barrier_offset"),
        F.coalesce(F.sum(F.when(F.col("zone") == "cut", 1)), F.lit(0)).cast("long").alias("cut_events"),
        F.coalesce(F.sum(F.when(F.col("zone") == "channel", 1)), F.lit(0)).cast("long").alias("channel_inflight"),
        F.coalesce(F.sum(F.when(F.col("zone") == "post", 1)), F.lit(0)).cast("long").alias("post_events"),
    )

    st = F.struct(
        F.col("op").alias("op"),
        F.col("event_type").alias("et"),
        F.col("value").alias("val"),
        F.col("lsn").alias("lsn"),
    )

    def zone_fold(cond, name: str):
        # max_by ignores rows whose ordering value is NULL, so gating both
        # the struct and the ordering key on the zone predicate folds only
        # that zone's rows; a pk with no such rows yields NULL — exactly the
        # row the former per-zone aggregate + full join produced.
        return F.max_by(F.when(cond, st), F.when(cond, F.col("lsn"))).alias(name)

    # one per-pk master frame carries truth/cut/channel states side by side:
    # ONE groupBy(pk) with zone-conditional folds replaces three filtered
    # aggregates + two pk full joins (same shuffle key three times over);
    # truth spans every non-post row, so its key set covers cut ∪ channel
    # and the conditional folds lose nothing the full joins kept.
    master = (
        cls.filter(F.col("zone") != "post")
        .groupBy("pk")
        .agg(
            F.max_by(st, F.col("lsn")).alias("tst"),
            zone_fold(F.col("zone") == "cut", "cst"),
            zone_fold(F.col("zone") == "channel", "hst"),
        )
        .withColumn("nst", F.coalesce(F.col("hst"), F.col("cst")))
        .withColumn(
            "vst",
            F.when(
                F.col("hst").isNull()
                | (F.col("cst").isNotNull() & (F.col("cst.lsn") > F.col("hst.lsn"))),
                F.col("cst"),
            ).otherwise(F.col("hst")),
        )
    )

    def mismatch(a: str, b: str):
        a_alive = F.col(a).isNotNull() & (F.col(f"{a}.op") != "delete")
        b_alive = F.col(b).isNotNull() & (F.col(f"{b}.op") != "delete")
        return F.when(
            (a_alive != b_alive)
            | (
                a_alive
                & b_alive
                & (
                    ~F.col(f"{a}.et").eqNullSafe(F.col(f"{b}.et"))
                    | ~F.col(f"{a}.val").eqNullSafe(F.col(f"{b}.val"))
                )
            ),
            1,
        )

    diffs = master.agg(
        F.coalesce(F.sum(mismatch("tst", "cst")), F.lit(0)).cast("long").alias("diff_cut_only"),
        F.coalesce(F.sum(mismatch("tst", "nst")), F.lit(0)).cast("long").alias("diff_naive_replay"),
        F.coalesce(F.sum(mismatch("tst", "vst")), F.lit(0)).cast("long").alias("diff_versioned_replay"),
    )
    totals = per_part.agg(
        F.sum("cut_events").cast("long").alias("cut_events"),
        F.sum("channel_inflight").cast("long").alias("channel_inflight"),
        F.sum("post_events").cast("long").alias("post_events"),
    )
    verdict = diffs.crossJoin(totals).select(
        F.lit(-1).cast("long").alias("partition"),
        F.lit(None).cast("long").alias("barrier_offset"),
        "cut_events",
        "channel_inflight",
        "post_events",
        "diff_cut_only",
        "diff_naive_replay",
        "diff_versioned_replay",
        (F.col("diff_versioned_replay") == 0).alias("snapshot_consistent"),
    )
    parts = per_part.select(
        "partition",
        "barrier_offset",
        "cut_events",
        "channel_inflight",
        "post_events",
        F.lit(None).cast("long").alias("diff_cut_only"),
        F.lit(None).cast("long").alias("diff_naive_replay"),
        F.lit(None).cast("long").alias("diff_versioned_replay"),
        F.lit(None).cast("boolean").alias("snapshot_consistent"),
    )
    return parts.unionByName(verdict).orderBy("partition")


_BARRIER_SQL = (
    _with(_bus_sql(0))
    + """
, tb AS (
  SELECT min(delivery_ts) + (max(delivery_ts) - min(delivery_ts)) // 2 AS t_b
  FROM bus
),
cls AS (
  SELECT b.*, CASE WHEN delivery_ts <= t_b THEN 'cut'
                   WHEN available_at <= t_b THEN 'channel'
                   ELSE 'post' END AS zone
  FROM bus b CROSS JOIN tb
),
per_part AS (
  SELECT CAST("partition" AS BIGINT) AS "partition",
         max(CASE WHEN zone = 'cut' THEN "offset" END) AS barrier_offset,
         CAST(count(*) FILTER (WHERE zone = 'cut') AS BIGINT) AS cut_events,
         CAST(count(*) FILTER (WHERE zone = 'channel') AS BIGINT) AS channel_inflight,
         CAST(count(*) FILTER (WHERE zone = 'post') AS BIGINT) AS post_events
  FROM cls GROUP BY 1
),
truth AS (
  SELECT pk, arg_max(op, lsn) AS op, arg_max(event_type, lsn) AS et,
         arg_max(value, lsn) AS val
  FROM cls WHERE zone <> 'post' GROUP BY pk
),
cutf AS (
  SELECT pk, arg_max(op, lsn) AS op, arg_max(event_type, lsn) AS et,
         arg_max(value, lsn) AS val, max(lsn) AS lsn
  FROM cls WHERE zone = 'cut' GROUP BY pk
),
chanf AS (
  SELECT pk, arg_max(op, lsn) AS op, arg_max(event_type, lsn) AS et,
         arg_max(value, lsn) AS val, max(lsn) AS lsn
  FROM cls WHERE zone = 'channel' GROUP BY pk
),
joined AS (
  SELECT COALESCE(c.pk, h.pk) AS pk,
         c.op AS cop, c.et AS cet, c.val AS cval, c.lsn AS clsn,
         h.op AS hop, h.et AS het, h.val AS hval, h.lsn AS hlsn
  FROM cutf c FULL JOIN chanf h ON c.pk = h.pk
),
naive AS (
  SELECT pk,
         CASE WHEN hlsn IS NOT NULL THEN hop ELSE cop END AS op,
         CASE WHEN hlsn IS NOT NULL THEN het ELSE cet END AS et,
         CASE WHEN hlsn IS NOT NULL THEN hval ELSE cval END AS val
  FROM joined
),
versioned AS (
  SELECT pk,
         CASE WHEN hlsn IS NULL OR (clsn IS NOT NULL AND clsn > hlsn) THEN cop ELSE hop END AS op,
         CASE WHEN hlsn IS NULL OR (clsn IS NOT NULL AND clsn > hlsn) THEN cet ELSE het END AS et,
         CASE WHEN hlsn IS NULL OR (clsn IS NOT NULL AND clsn > hlsn) THEN cval ELSE hval END AS val
  FROM joined
),
truth_a AS (SELECT pk, et, val FROM truth WHERE op <> 'delete'),
cut_a AS (SELECT pk, et, val FROM cutf WHERE op <> 'delete'),
naive_a AS (SELECT pk, et, val FROM naive WHERE op <> 'delete'),
vers_a AS (SELECT pk, et, val FROM versioned WHERE op <> 'delete'),
d_cut AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM truth_a t FULL JOIN cut_a b ON t.pk = b.pk
  WHERE t.pk IS NULL OR b.pk IS NULL OR t.et IS DISTINCT FROM b.et OR t.val IS DISTINCT FROM b.val
),
d_naive AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM truth_a t FULL JOIN naive_a b ON t.pk = b.pk
  WHERE t.pk IS NULL OR b.pk IS NULL OR t.et IS DISTINCT FROM b.et OR t.val IS DISTINCT FROM b.val
),
d_vers AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM truth_a t FULL JOIN vers_a b ON t.pk = b.pk
  WHERE t.pk IS NULL OR b.pk IS NULL OR t.et IS DISTINCT FROM b.et OR t.val IS DISTINCT FROM b.val
),
tot AS (
  SELECT CAST(count(*) FILTER (WHERE zone = 'cut') AS BIGINT) AS cut_events,
         CAST(count(*) FILTER (WHERE zone = 'channel') AS BIGINT) AS channel_inflight,
         CAST(count(*) FILTER (WHERE zone = 'post') AS BIGINT) AS post_events
  FROM cls
)
SELECT "partition", barrier_offset, cut_events, channel_inflight, post_events,
       CAST(NULL AS BIGINT) AS diff_cut_only,
       CAST(NULL AS BIGINT) AS diff_naive_replay,
       CAST(NULL AS BIGINT) AS diff_versioned_replay,
       CAST(NULL AS BOOLEAN) AS snapshot_consistent
FROM per_part
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(NULL AS BIGINT),
       cut_events, channel_inflight, post_events,
       d_cut.n, d_naive.n, d_vers.n, d_vers.n = 0
FROM tot, d_cut, d_naive, d_vers
ORDER BY "partition"
"""
)

QUERIES["cdc_barrier_snapshot"] = cdc_barrier_snapshot
ORACLE["cdc_barrier_snapshot"] = _BARRIER_SQL
