"""Operational governance over the change feed: watermark alignment and
right-to-be-forgotten (GDPR erasure) propagation.

- ``cdc_watermark_alignment`` — per-bus-partition event-time watermarks and
  the aligned (global) watermark.  Each partition's watermark is the max
  commit time it has delivered; a multi-partition consumer can only advance
  to the **minimum** of those (Spark's global watermark rule, matching the
  playground's commit floor `src/changefeed/model.ts:208-217`): everything a
  fast partition delivered beyond the aligned watermark is *held back*.
  The query reports per-partition watermark lead and held-back counts plus
  the aligned global row — the skew diagnosis that tells an operator which
  partition is stalling the pipeline.
- ``cdc_gdpr_erasure`` — erasure-request propagation audit across the three
  capture lanes.  A deterministic subset of keys requests erasure at
  ``T_REQ`` (= 3/4 of the timeline); the source applies app-level deletes
  (tombstones) and stops writing those keys; each lane then feeds its sink
  fold and the audit counts the requested keys **still resident** per lane.
  Log and trigger lanes propagate the tombstones and converge to zero
  residents; the polling lane (hard deletes invisible —
  ``sim/engines/PollingEngine.ts:62-84``, metric M3) leaves every requested
  key resident in the sink: query-based CDC cannot honour deletion
  requests downstream.  This is the compliance story behind the
  reference's missed-delete counter.

Scale shape: the watermark query is two aggregations over the session-shared
bus frame (partition-grain rows only); the erasure audit re-runs the three
capture folds over the modified feed — same per-pk shuffles as the judged
lanes — and reduces to 3 rows.  The request set is a broadcast semi/anti
join side (requests are always ≪ corpus).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators import capture, playground as pg
from lets_talk_cdc_change_feed_playground_spark.operators.cdc_queries import (
    AUDIT_SQL,
    POLL_STATE_SQL,
    WAL_SQL,
    _with,
)
from lets_talk_cdc_change_feed_playground_spark.operators.metrics import sort_lanes
from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
    hash31,
    hash31_sql,
    ops_feed,
)
from lets_talk_cdc_change_feed_playground_spark.operators.playground_queries import (
    _PCT,
    _bus_sql,
)
from lets_talk_cdc_change_feed_playground_spark.operators.shared import local_df, shared_df

GDPR_MOD = 7  # ~1/7 of keys request erasure: hash31('gdpr:'||pk) % 7 == 0


def cdc_watermark_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition delivered watermarks, lead over the aligned global
    watermark, and held-back event counts; global row at partition = -1."""
    bus = pg.bus_feed(spark, sf_dir)
    delivered = bus.filter(~F.col("dropped")).select("partition", "commit_ts")
    parts = delivered.groupBy("partition").agg(
        F.count(F.lit(1)).cast("long").alias("delivered_n"),
        F.max("commit_ts").alias("wm_ms"),
    )
    glob = parts.agg(
        F.min("wm_ms").alias("gwm"), F.max("wm_ms").alias("wm_max")
    )
    held = (
        delivered.crossJoin(F.broadcast(glob))
        .filter(F.col("commit_ts") > F.col("gwm"))
        .groupBy("partition")
        .agg(F.count(F.lit(1)).cast("long").alias("held_back"))
    )
    per_part = (
        parts.join(held, "partition", "left")
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("partition").cast("long").alias("partition"),
            "delivered_n",
            "wm_ms",
            (F.col("wm_ms") - F.col("gwm")).alias("wm_lead_ms"),
            F.coalesce("held_back", F.lit(0)).alias("held_back"),
        )
    )
    total = (
        per_part.crossJoin(F.broadcast(glob))
        .groupBy()
        .agg(
            F.lit(-1).cast("long").alias("partition"),
            F.sum("delivered_n").cast("long").alias("delivered_n"),
            F.min(F.col("gwm")).alias("wm_ms"),
            (F.min("wm_max") - F.min("gwm")).alias("wm_lead_ms"),
            F.sum("held_back").cast("long").alias("held_back"),
        )
    )
    return per_part.unionByName(total).orderBy("partition")


_WATERMARK_SQL = _with(_bus_sql(_PCT)) + """
, delivered AS (SELECT "partition", commit_ts FROM bus WHERE NOT dropped),
parts AS (
  SELECT "partition", CAST(count(*) AS BIGINT) AS delivered_n,
         max(commit_ts) AS wm_ms
  FROM delivered GROUP BY "partition"
),
gw AS (SELECT min(wm_ms) AS gwm, max(wm_ms) AS wm_max FROM parts),
held AS (
  SELECT "partition", CAST(count(*) AS BIGINT) AS held_back
  FROM delivered, gw WHERE commit_ts > gwm GROUP BY "partition"
),
per_part AS (
  SELECT CAST(p."partition" AS BIGINT) AS "partition", p.delivered_n, p.wm_ms,
         p.wm_ms - g.gwm AS wm_lead_ms,
         COALESCE(h.held_back, 0) AS held_back
  FROM parts p
  LEFT JOIN held h ON p."partition" = h."partition"
  CROSS JOIN gw g
)
SELECT * FROM per_part
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(sum(delivered_n) AS BIGINT), min(g.gwm),
       min(g.wm_max) - min(g.gwm), CAST(sum(held_back) AS BIGINT)
FROM per_part, gw g
ORDER BY "partition"
"""


def _sub_src(fragment: str) -> str:
    """Retarget a lane CTE fragment from the ``src`` feed to ``src2``."""
    return re.sub(r"\bsrc\b", "src2", fragment)


def cdc_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure propagation across the three lanes (see module docstring)."""
    ops = ops_feed(spark, sf_dir)
    mx = ops.agg(
        F.min("t").alias("tmin"), F.max("t").alias("tmax"), F.max("seq").alias("smax")
    ).select("*", F.expr("tmin + ((tmax - tmin) * 3) div 4").alias("t_req"))

    base = ops.crossJoin(F.broadcast(mx))
    # one aggregation over the hash-matching slice classifies every candidate
    # key: pre-request events make it a requested key, post-request events are
    # the late writes erasure must suppress — the separate requested/late/
    # n_req scans of the feed collapse into this single pass (guide §2.4).
    # Session-staged: the request set feeds the tombstone build, the lane
    # semi-join AND the scalar counters, and each of those broadcast builds
    # would otherwise re-run this full feed scan as its own job.
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    req_stats = shared_df(
        spark,
        ("gdpr_req_stats", sf_dir),
        lambda: (
            base.filter(hash31(F.concat(F.lit("gdpr:"), F.col("pk"))) % GDPR_MOD == 0)
            .groupBy("pk")
            .agg(
                F.sum((F.col("t") <= F.col("t_req")).cast("int")).alias("__pre"),
                F.sum((F.col("t") > F.col("t_req")).cast("int")).alias("__post"),
            )
        ),
    )
    requested = req_stats.filter(F.col("__pre") > 0).select("pk")
    # the request set is tiny — a single-partition window over it is bounded
    tomb = (
        requested.crossJoin(F.broadcast(mx))
        .select(
            (F.col("smax") + F.row_number().over(W.orderBy("pk"))).alias("seq"),
            (F.col("t_req") + 1).alias("t"),
            "pk",
            F.lit("delete").alias("op"),
            F.lit(None).cast("string").alias("event_type"),
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
    )
    cols = ["seq", "t", "pk", "op", "event_type", "value", "props"]
    # single pass over the feed: keep a row unless its key requested erasure
    # AND it is a post-request write (broadcast flag join, no second scan).
    # Session-shared: all three capture lanes below consume this frame, so
    # materialize it once instead of rebuilding per lane.
    req_flag = requested.withColumn("__req", F.lit(True))
    src2 = shared_df(
        spark,
        ("gdpr_src2", sf_dir),
        lambda: (
            base.join(F.broadcast(req_flag), "pk", "left")
            .filter((F.col("t") <= F.col("t_req")) | F.col("__req").isNull())
            .select(*cols)
            .unionByName(tomb)
        ),
    )
    # n_requested and late_writes_suppressed read the SAME classified-key
    # aggregate — no second or third pass over the feed
    req_scalars = req_stats.filter(F.col("__pre") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_requested"),
        F.coalesce(F.sum("__post"), F.lit(0))
        .cast("long")
        .alias("late_writes_suppressed"),
    )

    # the three erased-feed capture lanes are Pandas keyed folds — stage each
    # once per session (same shared-lane design as the primary feed's lanes)
    # so repeated verdict reads don't re-run the folds
    wal = shared_df(
        spark, ("gdpr_wal", sf_dir), lambda: capture.log_capture_ops(src2)
    )
    polled = shared_df(
        spark, ("gdpr_polled", sf_dir), lambda: capture.polling_capture_ops(src2)
    )
    audit = shared_df(
        spark, ("gdpr_audit", sf_dir), lambda: capture.trigger_capture_ops(src2)
    )
    # fused lane verdicts (guide §2.4): one tagged union + a two-phase
    # (method, pk) aggregate replaces three per-lane window+aggregate passes.
    # Per key, max_by(op, ord) is the lane's final op (lsn/audit_seq are
    # unique per lane, so the arg-max is deterministic where it is consumed);
    # resident/tombstone semantics per lane are unchanged: log/trigger count
    # keys whose last op is not a delete, polling (hard deletes invisible)
    # counts every key ever emitted and reports zero tombstones.
    tagged = (
        wal.select(
            "pk", "op", F.col("lsn").cast("long").alias("__ord"),
            F.lit("log").alias("method"),
        )
        .unionByName(
            polled.select(
                "pk", "op", F.col("poll_ts_ms").cast("long").alias("__ord"),
                F.lit("polling").alias("method"),
            )
        )
        .unionByName(
            audit.select(
                "pk", "op", F.col("audit_seq").cast("long").alias("__ord"),
                F.lit("trigger").alias("method"),
            )
        )
    )
    per_pk = (
        tagged.join(F.broadcast(requested), "pk", "semi")
        .groupBy("method", "pk")
        .agg(
            F.sum(F.when(F.col("op") == "d", 1).otherwise(0)).alias("__d"),
            F.max_by("op", "__ord").alias("__last_op"),
        )
    )
    per_method = per_pk.groupBy("method").agg(
        F.sum("__d").alias("__tomb"),
        F.sum(F.when(F.col("__last_op") != "d", 1).otherwise(0)).alias("__res_last"),
        F.count(F.lit(1)).alias("__res_any"),
    )
    # a lane with zero requested-key rows still reports a zero row (the
    # unfused form aggregated each lane globally, so empty input gave zeros)
    methods = local_df(spark,
        [("log",), ("polling",), ("trigger",)], "method string"
    )
    lanes = (
        methods.join(F.broadcast(per_method), "method", "left")
        .select(
            "method",
            F.coalesce(
                F.when(F.col("method") == "polling", F.lit(0)).otherwise(
                    F.col("__tomb")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tombstones_emitted"),
            F.coalesce(
                F.when(F.col("method") == "polling", F.col("__res_any")).otherwise(
                    F.col("__res_last")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("resident_after"),
        )
        .withColumn("erasure_complete", F.col("resident_after") == 0)
    )
    return sort_lanes(
        lanes.crossJoin(F.broadcast(req_scalars))
        .select(
            "method",
            "n_requested",
            "tombstones_emitted",
            "resident_after",
            "erasure_complete",
            "late_writes_suppressed",
        ),
        "method",
    )


_REQ_HASH = hash31_sql("'gdpr:' || pk")

_GDPR_SQL = (
    _with(
        f"""
mx AS (SELECT max(seq) AS smax,
              min(t) + ((max(t) - min(t)) * 3) // 4 AS t_req
       FROM src),
req AS (
  SELECT DISTINCT pk FROM src, mx
  WHERE t <= t_req AND ({_REQ_HASH}) % {GDPR_MOD} = 0
),
tomb AS (
  SELECT mx.smax + row_number() OVER (ORDER BY pk) AS seq,
         mx.t_req + 1 AS t, pk, 'delete' AS op,
         CAST(NULL AS VARCHAR) AS event_type,
         CAST(NULL AS DOUBLE) AS value,
         CAST(NULL AS VARCHAR) AS props
  FROM req, mx
),
src2 AS (
  SELECT s.seq, s.t, s.pk, s.op, s.event_type, s.value, s.props
  FROM src s, mx
  WHERE s.t <= mx.t_req OR s.pk NOT IN (SELECT pk FROM req)
  UNION ALL
  SELECT seq, t, pk, op, event_type, value, props FROM tomb
),
late AS (
  SELECT CAST(count(*) AS BIGINT) AS late_writes_suppressed
  FROM src s, mx WHERE s.t > mx.t_req AND s.pk IN (SELECT pk FROM req)
),
nreq AS (SELECT CAST(count(*) AS BIGINT) AS n_requested FROM req)
""",
        _sub_src(WAL_SQL),
        _sub_src(POLL_STATE_SQL),
        _sub_src(AUDIT_SQL),
        """
log_res AS (
  SELECT CAST(count(*) AS BIGINT) AS resident_after FROM (
    SELECT pk FROM (
      SELECT pk, op, row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) AS rn
      FROM wal WHERE pk IN (SELECT pk FROM req)
    ) WHERE rn = 1 AND op <> 'd'
  )
),
log_tomb AS (
  SELECT CAST(count(*) AS BIGINT) AS tombstones_emitted
  FROM wal WHERE op = 'd' AND pk IN (SELECT pk FROM req)
),
poll_res AS (
  SELECT CAST(count(DISTINCT pk) AS BIGINT) AS resident_after
  FROM polled WHERE pk IN (SELECT pk FROM req)
),
trig_res AS (
  SELECT CAST(count(*) AS BIGINT) AS resident_after FROM (
    SELECT pk FROM (
      SELECT pk, op, row_number() OVER (PARTITION BY pk ORDER BY audit_seq DESC) AS rn
      FROM audit WHERE pk IN (SELECT pk FROM req)
    ) WHERE rn = 1 AND op <> 'd'
  )
),
trig_tomb AS (
  SELECT CAST(count(*) AS BIGINT) AS tombstones_emitted
  FROM audit WHERE op = 'd' AND pk IN (SELECT pk FROM req)
)
""",
    )
    + """
SELECT method, n_requested, tombstones_emitted, resident_after,
       resident_after = 0 AS erasure_complete, late_writes_suppressed
FROM (
  SELECT 'log' AS method, t.tombstones_emitted, r.resident_after
  FROM log_tomb t, log_res r
  UNION ALL
  SELECT 'polling', CAST(0 AS BIGINT), p.resident_after FROM poll_res p
  UNION ALL
  SELECT 'trigger', t.tombstones_emitted, r.resident_after
  FROM trig_tomb t, trig_res r
), nreq, late
ORDER BY method
"""
)


QUERIES = {
    "cdc_watermark_alignment": cdc_watermark_alignment,
    "cdc_gdpr_erasure": cdc_gdpr_erasure,
}

ORACLE = {
    "cdc_watermark_alignment": _WATERMARK_SQL,
    "cdc_gdpr_erasure": _GDPR_SQL,
}


# ---------------------------------------------------------------------------
# Anti-entropy repair: Merkle-bucket divergence detection between replicas
# ---------------------------------------------------------------------------

AE_BUCKETS = 64  # keyspace checksum buckets (the "Merkle leaves")
AE_LOST_MOD = 41  # replica B silently missed these keys' applies
AE_STALE_MOD = 37  # replica B holds a corrupted payload for these keys
AE_GHOST_MOD = 53  # replica B grew phantom rows for these (deleted) keys


def cdc_anti_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy between two replicas the Dynamo/Cassandra way: compare
    ``AE_BUCKETS`` per-bucket (count, checksum) summaries first, then
    drill into the diverged buckets only — at 100 TB you exchange 64
    integers, not the table; the full-outer compare touches only the
    buckets that disagree (the reference's V8 convergence check made
    scale-aware).

    Replica A is the replay-fold of the C1 WAL; replica B is A with three
    deterministic fault injections (missed applies, payload corruption,
    phantom resurrections of deleted keys).  For every diverged bucket
    the query reports both summaries and the drill-down's repair plan:
    upserts for missing/corrupt rows, deletes for phantoms — exactly the
    rows a repair stream would ship."""
    from lets_talk_cdc_change_feed_playground_spark.operators import diffs

    wal = capture.log_capture(spark, sf_dir)
    a = capture.log_replay_state(spark, sf_dir).select(
        "pk", "event_type", "value", "props"
    )
    lost = hash31(F.concat(F.lit("lost:"), F.col("pk"))) % AE_LOST_MOD == 0
    stale = hash31(F.concat(F.lit("stale:"), F.col("pk"))) % AE_STALE_MOD == 0
    b_live = (
        a.filter(~lost)
        .select(
            "pk",
            "event_type",
            "value",
            F.when(stale, F.lit("corrupt")).otherwise(F.col("props")).alias("props"),
        )
    )
    # phantom rows: deleted keys (in the WAL, absent from A) that B resurrected
    deleted = wal.select("pk").distinct().join(a.select("pk"), "pk", "left_anti")
    ghosts = deleted.filter(
        hash31(F.concat(F.lit("ghost:"), F.col("pk"))) % AE_GHOST_MOD == 0
    ).select(
        "pk",
        F.lit("ghost").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    # replica B feeds both the bucket summary and the drill-down scan; its
    # derivation re-runs the deleted-keys anti join per consumer — stage once
    b = shared_df(
        spark, ("ae_replica_b", sf_dir), lambda: b_live.unionByName(ghosts)
    )

    # Both replicas flow through ONE tagged union per phase instead of
    # per-side aggregates stitched with full outer joins: the bucket
    # summary is a single groupBy(bucket) with side-conditional sums, and
    # the drill-down is a single groupBy(bucket, pk) with side-conditional
    # state columns — half the shuffles of the join form, identical rows
    # (a missing side aggregates to NULL exactly where the full join put
    # one).
    def tagged(df: DataFrame, side) -> DataFrame:
        return df.select(
            F.lit(side).alias("side"),
            (hash31(F.concat(F.lit("b:"), F.col("pk"))) % AE_BUCKETS).alias("bucket"),
            "pk",
            "event_type",
            "value",
            "props",
            hash31(
                F.concat_ws(
                    "|", "pk", "event_type", F.col("value").cast("string"), "props"
                )
            ).alias("ck"),
        )

    both = tagged(a, 0).unionByName(tagged(b, 1))
    is_a, is_b = F.col("side") == 0, F.col("side") == 1
    diverged = (
        both.groupBy("bucket")
        .agg(
            F.coalesce(F.sum(is_a.cast("long")), F.lit(0)).alias("a_count"),
            F.coalesce(F.sum(F.when(is_b, 1)), F.lit(0)).alias("b_count"),
            F.coalesce(F.sum(F.when(is_a, F.col("ck"))), F.lit(0)).cast("long").alias("a_ck"),
            F.coalesce(F.sum(F.when(is_b, F.col("ck"))), F.lit(0)).cast("long").alias("b_ck"),
        )
        .filter((F.col("a_count") != F.col("b_count")) | (F.col("a_ck") != F.col("b_ck")))
    )
    # drill-down restricted to diverged buckets (broadcast semi on bucket id)
    drill = (
        both.join(F.broadcast(diverged.select("bucket")), "bucket")
        .groupBy("bucket", "pk")
        .agg(
            F.max(is_a).alias("in_a"),
            F.max(is_b).alias("in_b"),
            F.max(F.when(is_a, F.col("event_type"))).alias("a_et"),
            F.max(F.when(is_b, F.col("event_type"))).alias("b_et"),
            F.max(F.when(is_a, F.col("value"))).alias("a_val"),
            F.max(F.when(is_b, F.col("value"))).alias("b_val"),
            F.max(F.when(is_a, F.col("props"))).alias("a_props"),
            F.max(F.when(is_b, F.col("props"))).alias("b_props"),
        )
        .select(
            "bucket",
            "pk",
            "in_a",
            "in_b",
            (
                F.col("in_a")
                & F.col("in_b")
                & (
                    (F.col("a_et") != F.col("b_et"))
                    | (F.col("a_val") != F.col("b_val"))
                    | ~(F.col("a_props").eqNullSafe(F.col("b_props")))
                )
            ).alias("mismatch"),
        )
    )
    plan = drill.groupBy("bucket").agg(
        F.sum(F.when(F.col("in_a") & ~F.col("in_b"), 1).otherwise(0))
        .cast("long")
        .alias("missing_in_b"),
        F.sum(F.when(~F.col("in_a") & F.col("in_b"), 1).otherwise(0))
        .cast("long")
        .alias("phantom_in_b"),
        F.sum(F.when(F.col("mismatch"), 1).otherwise(0)).cast("long").alias("corrupt_in_b"),
    )
    return (
        diverged.join(plan, "bucket")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "a_count",
            "b_count",
            "missing_in_b",
            "phantom_in_b",
            "corrupt_in_b",
            (F.col("missing_in_b") + F.col("corrupt_in_b")).alias("repair_upserts"),
            F.col("phantom_in_b").alias("repair_deletes"),
        )
        .orderBy("bucket")
    )


def _ae_hash(tag: str, mod: int) -> str:
    expr = "'" + tag + ":' || pk"
    return f"({hash31_sql(expr)}) % {mod}"




_AE_ROW_CK = hash31_sql(
    "pk || '|' || event_type || '|' || CAST(value AS VARCHAR) || '|' || COALESCE(props, '')"
)

_AE_SQL = (
    _with(
        WAL_SQL,
        f"""
a AS (
  SELECT pk, after_event_type AS event_type, after_value AS value, after_props AS props
  FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY ts_ms DESC, lsn DESC) AS rn FROM wal)
  WHERE rn = 1 AND op <> 'd'
),
b AS (
  SELECT pk, event_type, value,
         CASE WHEN {_ae_hash("stale", AE_STALE_MOD)} = 0 THEN 'corrupt' ELSE props END AS props
  FROM a WHERE {_ae_hash("lost", AE_LOST_MOD)} <> 0
  UNION ALL
  SELECT d.pk, 'ghost', 0.0, CAST(NULL AS VARCHAR)
  FROM (SELECT DISTINCT pk FROM wal WHERE pk NOT IN (SELECT pk FROM a)) d
  WHERE {_ae_hash("ghost", AE_GHOST_MOD)} = 0
),
sa AS (
  SELECT ({_ae_hash("b", AE_BUCKETS)}) AS bucket,
         CAST(count(*) AS BIGINT) AS a_count, CAST(sum({_AE_ROW_CK}) AS BIGINT) AS a_ck
  FROM a GROUP BY 1
),
sb AS (
  SELECT ({_ae_hash("b", AE_BUCKETS)}) AS bucket,
         CAST(count(*) AS BIGINT) AS b_count, CAST(sum({_AE_ROW_CK}) AS BIGINT) AS b_ck
  FROM b GROUP BY 1
),
diverged AS (
  SELECT COALESCE(sa.bucket, sb.bucket) AS bucket,
         COALESCE(a_count, 0) AS a_count, COALESCE(b_count, 0) AS b_count,
         COALESCE(a_ck, 0) AS a_ck, COALESCE(b_ck, 0) AS b_ck
  FROM sa FULL JOIN sb ON sa.bucket = sb.bucket
  WHERE COALESCE(a_count, 0) <> COALESCE(b_count, 0) OR COALESCE(a_ck, 0) <> COALESCE(b_ck, 0)
),
abkt AS (
  SELECT ({_ae_hash("b", AE_BUCKETS)}) AS bucket, a.* FROM a
  WHERE ({_ae_hash("b", AE_BUCKETS)}) IN (SELECT bucket FROM diverged)
),
bbkt AS (
  SELECT ({_ae_hash("b", AE_BUCKETS)}) AS bucket, b.* FROM b
  WHERE ({_ae_hash("b", AE_BUCKETS)}) IN (SELECT bucket FROM diverged)
),
drill AS (
  SELECT COALESCE(x.bucket, y.bucket) AS bucket,
         x.event_type IS NOT NULL AS in_a,
         y.event_type IS NOT NULL AS in_b,
         x.event_type IS NOT NULL AND y.event_type IS NOT NULL
           AND (x.event_type <> y.event_type OR x.value <> y.value
                OR COALESCE(x.props, '<null>') <> COALESCE(y.props, '<null>')) AS mismatch
  FROM abkt x FULL JOIN bbkt y ON x.bucket = y.bucket AND x.pk = y.pk
),
plan AS (
  SELECT bucket,
         CAST(sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT) AS missing_in_b,
         CAST(sum(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS phantom_in_b,
         CAST(sum(CASE WHEN mismatch THEN 1 ELSE 0 END) AS BIGINT) AS corrupt_in_b
  FROM drill GROUP BY bucket
)
""",
    )
    + """
SELECT CAST(d.bucket AS BIGINT) AS bucket, d.a_count, d.b_count,
       p.missing_in_b, p.phantom_in_b, p.corrupt_in_b,
       p.missing_in_b + p.corrupt_in_b AS repair_upserts,
       p.phantom_in_b AS repair_deletes
FROM diverged d JOIN plan p ON d.bucket = p.bucket
ORDER BY bucket
"""
)

QUERIES["cdc_anti_entropy"] = cdc_anti_entropy
ORACLE["cdc_anti_entropy"] = _AE_SQL


# ---------------------------------------------------------------------------
# Hash-chained audit-log integrity (tamper-evident WAL)
# ---------------------------------------------------------------------------

CHAIN_SEG_MS = 3_600_000  # chain segment = one hour of WAL
CHAIN_TAMPER_MOD = 997  # deterministic tamper injection: one record flipped


def cdc_wal_hashchain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tamper-evident WAL: every record folds into an hour-segment hash
    chain; segment digests fold into a top-level anchor chain — the
    two-level design that keeps verification parallel (segments verify
    independently, only the digest chain is sequential, and it is one row
    per hour).  A deterministically tampered copy (one record's payload
    flipped) is verified against the clean chain: the audit must flag
    EXACTLY the tampered segment and, because digests chain forward, every
    anchor from that segment on.

    Output: one row per segment — clean digest, tampered digest, per-
    segment match, anchor match (divergence propagates), and the located
    tamper segment flag."""
    wal = capture.log_capture(spark, sf_dir)
    rec = wal.select(
        F.expr(f"ts_ms div {CHAIN_SEG_MS}").alias("seg"),
        "lsn",
        hash31(
            F.concat_ws("|", "pk", "op", F.col("after_value").cast("string")),
            mod=2_147_483_647,
        ).alias("rh"),
    )
    n_rec = rec.agg(F.max("lsn").alias("max_lsn"))
    tampered = rec.crossJoin(F.broadcast(n_rec)).select(
        "seg",
        "lsn",
        F.when(
            F.col("lsn") == F.expr(f"max_lsn div 2 div {CHAIN_TAMPER_MOD} * {CHAIN_TAMPER_MOD} + 1"),
            (F.col("rh") + 1) % 2_147_483_647,
        )
        .otherwise(F.col("rh"))
        .alias("rh"),
    )

    def seg_digest(df: DataFrame, out: str) -> DataFrame:
        # per-segment chain: fold record hashes in LSN order (bounded rows
        # per segment); segments verify in parallel
        return df.groupBy("seg").agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(lsn, rh))),"
                " cast(0 as bigint),"
                " (acc, x) -> (acc * 31 + x.rh) % 2147483647)"
            ).alias(out),
            F.count(F.lit(1)).cast("long").alias(f"{out}_n"),
        )

    clean = seg_digest(rec, "d_clean")
    tamp = seg_digest(tampered, "d_tamp")
    segs = clean.join(tamp, "seg")
    # anchor chain over segment digests — one row per hour, bounded window
    wseg = W.orderBy("seg").rowsBetween(W.unboundedPreceding, 0)
    chained = segs.select(
        "seg",
        "d_clean",
        "d_tamp",
        (F.col("d_clean") == F.col("d_tamp")).alias("segment_ok"),
        F.expr(
            "aggregate(collect_list(struct(seg, d_clean))"
            " over (order by seg rows between unbounded preceding and current row),"
            " cast(0 as bigint), (acc, x) -> (acc * 31 + x.d_clean) % 2147483647)"
        ).alias("anchor_clean"),
        F.expr(
            "aggregate(collect_list(struct(seg, d_tamp))"
            " over (order by seg rows between unbounded preceding and current row),"
            " cast(0 as bigint), (acc, x) -> (acc * 31 + x.d_tamp) % 2147483647)"
        ).alias("anchor_tamp"),
    )
    return chained.select(
        "seg",
        "d_clean",
        "d_tamp",
        "segment_ok",
        (F.col("anchor_clean") == F.col("anchor_tamp")).alias("anchor_ok"),
        (~F.col("segment_ok")).alias("tampered_here"),
    ).orderBy("seg")


# BIGINT-safe 31-fold at the wide modulus (the shared hash31_sql accumulates
# in INT32, which overflows once acc*31 can pass 2^31)
_CHAIN_RH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) "
    "for c in string_split(concat_ws('|', pk, op, CAST(after_value AS VARCHAR)), '')]), "
    "(a, c) -> (a*31 + c) % 2147483647)"
)

_HASHCHAIN_SQL = (
    _with(
        WAL_SQL,
        f"""
rec AS (
  SELECT ts_ms // {CHAIN_SEG_MS} AS seg, lsn, {_CHAIN_RH} AS rh FROM wal
),
mx AS (SELECT max(lsn) AS max_lsn FROM rec),
tampered AS (
  SELECT seg, lsn,
         CASE WHEN lsn = (max_lsn // 2 // {CHAIN_TAMPER_MOD}) * {CHAIN_TAMPER_MOD} + 1
              THEN (rh + 1) % 2147483647 ELSE rh END AS rh
  FROM rec, mx
),
clean AS (
  SELECT seg,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_sort(list(STRUCT_PACK(lsn := lsn, rh := rh))), x -> x.rh)),
           (acc, h) -> (acc * 31 + h) % 2147483647) AS d_clean
  FROM rec GROUP BY seg
),
tamp AS (
  SELECT seg,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_sort(list(STRUCT_PACK(lsn := lsn, rh := rh))), x -> x.rh)),
           (acc, h) -> (acc * 31 + h) % 2147483647) AS d_tamp
  FROM tampered GROUP BY seg
),
segs AS (SELECT c.seg, c.d_clean, t.d_tamp FROM clean c JOIN tamp t USING (seg)),
chained AS (
  SELECT seg, d_clean, d_tamp,
         d_clean = d_tamp AS segment_ok,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_sort(list(STRUCT_PACK(seg := seg, d := d_clean))
             OVER (ORDER BY seg ROWS UNBOUNDED PRECEDING)), x -> x.d)),
           (acc, h) -> (acc * 31 + h) % 2147483647) AS anchor_clean,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_sort(list(STRUCT_PACK(seg := seg, d := d_tamp))
             OVER (ORDER BY seg ROWS UNBOUNDED PRECEDING)), x -> x.d)),
           (acc, h) -> (acc * 31 + h) % 2147483647) AS anchor_tamp
  FROM segs
)
""",
    )
    + """
SELECT seg, d_clean, d_tamp, segment_ok,
       anchor_clean = anchor_tamp AS anchor_ok,
       NOT segment_ok AS tampered_here
FROM chained ORDER BY seg
"""
)

QUERIES["cdc_wal_hashchain"] = cdc_wal_hashchain
ORACLE["cdc_wal_hashchain"] = _HASHCHAIN_SQL
