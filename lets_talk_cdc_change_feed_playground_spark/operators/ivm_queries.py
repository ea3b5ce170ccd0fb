"""Incremental view maintenance (IVM) of a join view from CDC deltas.

The reference's whole pitch is that a change feed lets a consumer keep a
derived table current without re-reading the source (``SURVEY.md §2.4``,
apply/merge in ``src/domain/storage.ts:133-164``).  This module takes the
next step every production CDC consumer eventually needs: maintaining a
**join view** incrementally with the classic counting / Z-set delta rule

    V_new = (R_old + dR) join (S_old + dS)
          = V_old  +  dR join S_old  +  R_old join dS  +  dR join dS

where deltas are weighted multisets (insert = +1, delete = -1, update =
-1 old + +1 new).  The epoch-0 view falls out of the same rule (both
"old" sides empty, so V_0 = dR_0 join dS_0) — no special initialisation.

Setup, derived purely from the driver ``events`` table:

- Time is split into 5-day **epochs** (6 per 30-day feed) — each epoch is
  one maintenance batch of CDC deltas.
- ``R`` (fact side) — the simulated user table maintained by the capture
  feed: key ``pk``, attributes ``(event_type, value)``, alive unless the
  last op was a delete.  Its per-epoch delta is extracted from the raw
  ops with one ``groupBy(pk, epoch)`` + per-pk ``lag`` window (identical
  +1/-1 pairs for no-op updates cancel, exactly as a recompute diff
  would).
- ``S`` (dim side) — "hot event types of the epoch": a type is present
  iff it drew >= 1/5 of the epoch's ops; its attribute is the per-mille
  share.  Presence flips across epochs, so the dim exercises both the
  insert AND delete delta paths.
- ``V = R join S`` on ``event_type`` — "users whose current state points
  at a currently-hot type".

The query applies the delta rule epoch by epoch (set-based: every epoch's
three delta-join terms are computed in one pass, no driver loop) and
emits, per epoch: the gross R/S delta sizes, the net view delta from the
delta RULE, the cumulative view size it implies, an independent
**recomputed** view size, and a convergence flag.  The DuckDB oracle
knows nothing of the delta rule — it recomputes the view per epoch and
diffs counts, so a hash match proves the incremental maintenance exact.

Scale shape: the only event-sized shuffle is ``groupBy(pk)`` (shared with
every capture lane); the dim side is bounded by types x epochs rows and
is broadcast into both asymmetric delta-join terms — the textbook IVM
cost model (|dR| x 1 lookup + |dS| x matching-fact rows), never a
recompute of V.  At 100 TB the recompute column is the audit you run
once; the delta rule is the steady-state path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
    OPS_SQL,
    ops_feed,
)
from lets_talk_cdc_change_feed_playground_spark.operators.shared import (
    local_df,
    memo,
    shared_df,
)

#: Maintenance-batch width (ms): 5 days -> 6 epochs over the 30-day feed.
EPOCH_MS = 432_000_000

#: A type is "hot" in an epoch iff its op count * HOT_DEN >= epoch total.
HOT_DEN = 5


def ivm_meta(spark: SparkSession, sf_dir: str) -> tuple[int, list[tuple]]:
    """Session-staged feed scalars: (t0, per-(epoch, type) op counts) —
    bounded by epochs x types, the exact dim state the streaming twin holds
    in the driver between micro-batches (streaming/stream_queries.py)."""

    def build() -> tuple[int, list[tuple]]:
        ops = ops_feed(spark, sf_dir)
        t0 = ops.agg(F.min("t")).first()[0]
        counts = (
            ops.withColumn("epoch", F.expr(f"(t - {t0}) div {EPOCH_MS}"))
            .groupBy("epoch", "event_type")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        return t0, [(r["epoch"], r["event_type"], r["cnt"]) for r in counts]

    return memo(spark, ("ivm_meta", sf_dir), build)


def cdc_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-rule maintenance of R join S vs per-epoch recompute.

    Fused execution shape (round 8): the dim side S is bounded by
    epochs x types rows BY CONSTRUCTION, so its entire delta machinery —
    hot-set chain, per-epoch S deltas, the as-of-previous hot set — is
    driver arithmetic over one memoized (epoch, type) count table, exactly
    like the streaming twin's driver-held ``s_state``.  The three delta-rule
    terms then collapse onto the two session-persisted fact frames as ONE
    conditional aggregation each:

    - over ``d_r``:   term1 (+ dR against the previous hot set), term3
      (+ dR x dS, via the per-(epoch, type) NET S weight), and the gross
      insert/delete counters — one groupBy(epoch) pass;
    - over ``r_versions``: term2 (R_old x dS) and the recompute audit —
      one validity-range broadcast join + groupBy(epoch) pass.

    Two small shuffles and one action replace the previous 6-8 job chain
    of per-term broadcast builds; the arithmetic, the oracle, and the
    result hash are unchanged."""
    ops = ops_feed(spark, sf_dir)
    t0, count_rows = ivm_meta(spark, sf_dir)

    # ---- dim-side delta machinery, driver arithmetic (epochs x types) ----
    epochs = sorted({e for e, _t, _c in count_rows})
    all_types = sorted({t for _e, t, _c in count_rows})
    cnt = {(e, t): c for e, t, c in count_rows}
    total = {e: sum(c for (e2, _t), c in cnt.items() if e2 == e) for e in epochs}
    # dense S state: present + per-mille bucket per (epoch, type)
    s_state = {
        (e, t): (
            cnt.get((e, t), 0) * HOT_DEN >= total[e],
            cnt.get((e, t), 0) * 1000 // total[e],
        )
        for e in epochs
        for t in all_types
    }
    hot = {e: {t for t in all_types if s_state[(e, t)][0]} for e in epochs}
    prev_of = {e: (epochs[i - 1] if i else None) for i, e in enumerate(epochs)}
    # per-(epoch, type) S deltas vs the previous epoch's state
    d_s_rows: list[tuple] = []  # (epoch, et, w, bucket)
    for e in epochs:
        pe = prev_of[e]
        for t in all_types:
            present, bucket = s_state[(e, t)]
            p_present, p_bucket = s_state[(pe, t)] if pe is not None else (False, None)
            if p_present and present and p_bucket == bucket:
                continue
            if present:
                d_s_rows.append((e, t, 1, bucket))
            if p_present:
                d_s_rows.append((e, t, -1, p_bucket))
    net_ds = {}
    gross_s = {e: [0, 0] for e in epochs}
    for e, t, w, _b in d_s_rows:
        net_ds[(e, t)] = net_ds.get((e, t), 0) + w
        gross_s[e][0 if w == 1 else 1] += 1

    # ---- R deltas: per (pk, epoch) last op -> +1/-1 vs previous state ----
    opse = ops.withColumn("epoch", F.expr(f"(t - {t0}) div {EPOCH_MS}"))
    r_epoch = opse.groupBy("pk", "epoch").agg(
        F.max_by(
            F.struct(
                (F.col("op") != "delete").alias("alive"),
                F.col("event_type").alias("et"),
                F.col("value").alias("val"),
            ),
            F.col("seq"),
        ).alias("st")
    )
    wpk = W.partitionBy("pk").orderBy("epoch")
    r_chain = r_epoch.withColumn("prev", F.lag("st").over(wpk))
    same = (
        F.col("prev").isNotNull()
        & F.col("prev.alive")
        & F.col("st.alive")
        & (F.col("prev.et") == F.col("st.et"))
        & F.col("prev.val").eqNullSafe(F.col("st.val"))
    )
    d_r = r_chain.filter(~same).select(
        "pk",
        "epoch",
        F.when(F.col("st.alive"), F.struct(F.lit(1).alias("w"), F.col("st.et").alias("et"), F.col("st.val").alias("val"))).alias("ins"),
        F.when(
            F.col("prev").isNotNull() & F.col("prev.alive"),
            F.struct(F.lit(-1).alias("w"), F.col("prev.et").alias("et"), F.col("prev.val").alias("val")),
        ).alias("del"),
    )
    d_r_plan = (
        d_r.select("pk", "epoch", F.explode(F.array("ins", "del")).alias("d"))
        .filter(F.col("d").isNotNull())
        .select("pk", "epoch", F.col("d.w").alias("w"), F.col("d.et").alias("et"), F.col("d.val").alias("val"))
    )
    # session-persisted via the shared registry; repeated invocations
    # (bench reps) reuse ONE cache entry instead of stacking persists
    d_r = shared_df(spark, ("ivm_d_r", sf_dir), lambda: d_r_plan)

    # R state versions with validity [epoch, next active epoch) — feeds the
    # R_old join dS term and the per-epoch recompute audit
    r_versions_plan = (
        r_chain.withColumn("valid_to", F.lead("epoch").over(wpk))
        .filter(F.col("st.alive"))
        .select("pk", F.col("epoch").alias("valid_from"), "valid_to", F.col("st.et").alias("et"))
    )
    r_versions = shared_df(spark, ("ivm_r_versions", sf_dir), lambda: r_versions_plan)

    # ---- fact pass 1: every d_r-side quantity in one groupBy(epoch) ----
    # per-(epoch, type) S-side literals: hot-before flag (term1) and net S
    # weight (term3) — a broadcast of epochs x types rows
    sw = local_df(spark,
        [
            (
                e,
                t,
                1 if (prev_of[e] is not None and t in hot[prev_of[e]]) else 0,
                net_ds.get((e, t), 0),
            )
            for e in epochs
            for t in all_types
        ],
        "swe long, swt string, hot_prev long, net long",
    )
    agg_r = (
        d_r.join(
            F.broadcast(sw),
            (F.col("epoch") == F.col("swe")) & (F.col("et") == F.col("swt")),
            "left",
        )
        .groupBy("epoch")
        .agg(
            F.sum(F.when(F.col("w") == 1, 1).otherwise(0)).alias("d_r_ins"),
            F.sum(F.when(F.col("w") == -1, 1).otherwise(0)).alias("d_r_del"),
            F.coalesce(F.sum(F.col("w") * F.coalesce("hot_prev", F.lit(0))), F.lit(0)).alias("t1"),
            F.coalesce(F.sum(F.col("w") * F.coalesce("net", F.lit(0))), F.lit(0)).alias("t3"),
        )
    )

    # ---- fact pass 2: term2 + recompute audit in one validity join ----
    # probe rows: (epoch, the epoch whose R state is consulted, type, tag, w)
    probe_rows = [
        (e, prev_of[e], t, "t2", net_ds.get((e, t), 0))
        for e in epochs
        if prev_of[e] is not None
        for t in all_types
        if net_ds.get((e, t), 0) != 0
    ] + [(e, e, t, "direct", 1) for e in epochs for t in hot[e]]
    probes = local_df(spark,
        probe_rows, "pbe long, check_at long, pbt string, tag string, pw long"
    )
    agg_v = (
        r_versions.join(
            F.broadcast(probes),
            (F.col("et") == F.col("pbt"))
            & (F.col("valid_from") <= F.col("check_at"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("check_at"))),
        )
        .groupBy("pbe")
        .agg(
            F.coalesce(F.sum(F.when(F.col("tag") == "t2", F.col("pw"))), F.lit(0)).alias("t2"),
            F.coalesce(F.sum(F.when(F.col("tag") == "direct", 1)), F.lit(0)).alias(
                "view_rows_direct"
            ),
        )
    )

    # ---- assembly over the literal epoch chain (epochs rows) ----
    ep = local_df(spark,
        [(e, gross_s[e][0], gross_s[e][1]) for e in epochs],
        "be long, d_s_ins long, d_s_del long",
    )
    out = (
        ep.join(agg_r, F.col("be") == agg_r.epoch, "left")
        .drop("epoch")
        .join(agg_v, F.col("be") == agg_v.pbe, "left")
        .drop("pbe")
        .select(
            F.col("be").alias("epoch"),
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
                for c in ("d_r_ins", "d_r_del", "d_s_ins", "d_s_del")
            ],
            (
                F.coalesce(F.col("t1"), F.lit(0))
                + F.coalesce(F.col("t2"), F.lit(0))
                + F.coalesce(F.col("t3"), F.lit(0))
            )
            .cast("long")
            .alias("dv_net"),
            F.coalesce(F.col("view_rows_direct"), F.lit(0)).cast("long").alias("view_rows_direct"),
        )
        .withColumn(
            "view_rows",
            F.sum("dv_net").over(W.orderBy("epoch").rowsBetween(W.unboundedPreceding, 0)),
        )
        .withColumn("converged", F.col("view_rows") == F.col("view_rows_direct"))
        .select(
            "epoch", "d_r_ins", "d_r_del", "d_s_ins", "d_s_del",
            "dv_net", "view_rows", "view_rows_direct", "converged",
        )
        .orderBy("epoch")
    )
    return out


def _ivm_oracle() -> str:
    # The oracle never sees the delta rule: it recomputes R_e, S_e, and the
    # view per epoch and diffs neighbouring epochs.  Hash equality with the
    # Spark side therefore certifies the incremental path.
    return (
        "WITH "
        + OPS_SQL.strip().rstrip()
        + f""",
base AS (SELECT min(t) AS t0 FROM src),
ops AS (
  SELECT s.*, (s.t - b.t0) // {EPOCH_MS} AS epoch FROM src s, base b
),
echain AS (
  SELECT epoch, lag(epoch) OVER (ORDER BY epoch) AS pe
  FROM (SELECT DISTINCT epoch FROM ops)
),
r_state AS (
  SELECT e.epoch, o.pk,
         arg_max(o.op, o.seq) <> 'delete' AS alive,
         arg_max(o.event_type, o.seq) AS et,
         arg_max(o.value, o.seq) AS val
  FROM echain e JOIN ops o ON o.epoch <= e.epoch
  GROUP BY e.epoch, o.pk
),
r_alive AS (SELECT epoch, pk, et, val FROM r_state WHERE alive),
type_counts AS (
  SELECT epoch, event_type AS et, count(*) AS cnt FROM ops GROUP BY 1, 2
),
totals AS (SELECT epoch, sum(cnt) AS total FROM type_counts GROUP BY 1),
s_alive AS (
  SELECT g.epoch, g.et, COALESCE(c.cnt, 0) * 1000 // t.total AS bucket
  FROM (SELECT e.epoch, et FROM echain e, (SELECT DISTINCT event_type AS et FROM ops)) g
  LEFT JOIN type_counts c ON c.epoch = g.epoch AND c.et = g.et
  JOIN totals t ON t.epoch = g.epoch
  WHERE COALESCE(c.cnt, 0) * {HOT_DEN} >= t.total
),
view_e AS (
  SELECT r.epoch, count(*) AS n
  FROM r_alive r JOIN s_alive s ON s.epoch = r.epoch AND s.et = r.et
  GROUP BY r.epoch
),
d_r_ins_t AS (
  SELECT e.epoch, count(*) AS n
  FROM echain e
  JOIN r_alive c ON c.epoch = e.epoch
  LEFT JOIN r_alive p ON p.epoch = e.pe AND p.pk = c.pk
       AND p.et = c.et AND p.val IS NOT DISTINCT FROM c.val
  WHERE p.pk IS NULL
  GROUP BY e.epoch
),
d_r_del_t AS (
  SELECT e.epoch, count(*) AS n
  FROM echain e
  JOIN r_alive p ON p.epoch = e.pe
  LEFT JOIN r_alive c ON c.epoch = e.epoch AND c.pk = p.pk
       AND c.et = p.et AND c.val IS NOT DISTINCT FROM p.val
  WHERE c.pk IS NULL
  GROUP BY e.epoch
),
d_s_ins_t AS (
  SELECT e.epoch, count(*) AS n
  FROM echain e
  JOIN s_alive c ON c.epoch = e.epoch
  LEFT JOIN s_alive p ON p.epoch = e.pe AND p.et = c.et AND p.bucket = c.bucket
  WHERE p.et IS NULL
  GROUP BY e.epoch
),
d_s_del_t AS (
  SELECT e.epoch, count(*) AS n
  FROM echain e
  JOIN s_alive p ON p.epoch = e.pe
  LEFT JOIN s_alive c ON c.epoch = e.epoch AND c.et = p.et AND c.bucket = p.bucket
  WHERE c.et IS NULL
  GROUP BY e.epoch
)
SELECT e.epoch,
       CAST(COALESCE(ri.n, 0) AS BIGINT) AS d_r_ins,
       CAST(COALESCE(rd.n, 0) AS BIGINT) AS d_r_del,
       CAST(COALESCE(si.n, 0) AS BIGINT) AS d_s_ins,
       CAST(COALESCE(sd.n, 0) AS BIGINT) AS d_s_del,
       CAST(COALESCE(v.n, 0) - COALESCE(vp.n, 0) AS BIGINT) AS dv_net,
       CAST(COALESCE(v.n, 0) AS BIGINT) AS view_rows,
       CAST(COALESCE(v.n, 0) AS BIGINT) AS view_rows_direct,
       TRUE AS converged
FROM echain e
LEFT JOIN d_r_ins_t ri ON ri.epoch = e.epoch
LEFT JOIN d_r_del_t rd ON rd.epoch = e.epoch
LEFT JOIN d_s_ins_t si ON si.epoch = e.epoch
LEFT JOIN d_s_del_t sd ON sd.epoch = e.epoch
LEFT JOIN view_e v ON v.epoch = e.epoch
LEFT JOIN view_e vp ON vp.epoch = e.pe
ORDER BY e.epoch
"""
    )


QUERIES = {"cdc_ivm_join": cdc_ivm_join}
ORACLE = {"cdc_ivm_join": _ivm_oracle()}
