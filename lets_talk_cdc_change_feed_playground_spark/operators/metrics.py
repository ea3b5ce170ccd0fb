"""Metrics aggregations over the capture lanes (reference ``src/engine/
metrics.ts:23-139``, ``web/App.tsx:931-1020``, ``assets/app.js:2966-3019``).

All metrics consume the *normalized lane event* frame produced by
:func:`normalize_lanes`: one row per captured event with
``(method, op, pk, ts_ms, commit_ts_ms, emitted_at_ms)`` where
``emitted_at_ms`` is when the lane's tick loop actually delivered the event.
Lag = ``emitted_at - commit_ts`` — the batch analogue of the reference's
``now - commitTs`` sample recorded on consume (``metrics.ts:32-46``).

Everything here is a groupBy over the lane key (3 groups) or a windowed
cumulative over coarse time buckets — map-side-combinable aggregations that
scale linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.functions.sequence import (
    grouped_exact_percentiles,
    percentiles_from_hist,
    with_prefix_aggs,
)


def sort_lanes(summary: DataFrame, *cols: str) -> DataFrame:
    """Final sort of a lane-keyed summary (at most lanes x ops rows): one
    partition sorted in place, so no range-partition sample job runs."""
    return summary.coalesce(1).sortWithinPartitions(*cols)


def normalize_lanes(log: DataFrame, polling: DataFrame, trigger: DataFrame) -> DataFrame:
    """Union the three capture outputs into one (method, op, pk, ts_ms,
    commit_ts_ms, emitted_at_ms) frame."""
    l = log.select(
        "method",
        "op",
        "pk",
        "ts_ms",
        F.col("ts_ms").alias("commit_ts_ms"),
        "emitted_at_ms",
    )
    p = polling.select(
        "method",
        "op",
        "pk",
        "ts_ms",
        F.col("ts_ms").alias("commit_ts_ms"),
        F.col("poll_ts_ms").alias("emitted_at_ms"),
    )
    t = trigger.select(
        "method",
        "op",
        "pk",
        F.col("commit_ts_ms").alias("ts_ms"),
        "commit_ts_ms",
        "emitted_at_ms",
    )
    return l.unionByName(p).unionByName(t)


def lane_metrics(lanes: DataFrame, hist: DataFrame | None = None) -> DataFrame:
    """M1/M2/M5 — per-lane counters, op mix, last event time and exact lag
    percentiles (p50/p95 by linear interpolation, ``metrics.ts:97-139``).

    With ``hist`` (the staged ``(method, op, __v lag, __n, __max_ts)``
    summary — ``cdc_queries._lane_hist``): every counter except the pk
    distinct-count folds out of the histogram rows, and the percentiles run
    on it directly — ONE residual pass over the lane frame (the distinct)
    instead of two full scans.  Without it: the counters aggregate the lane
    frame (whose ``countDistinct`` plans an Expand that doubles the rows
    flowing through every sibling aggregate) and the percentiles run their
    own histogram pass — both the exact weighted-histogram form, NOT the
    single-buffer ``percentile()`` that would hold a lane's full lag vector
    in one task."""
    lag = (F.col("emitted_at_ms") - F.col("commit_ts_ms")).cast("double")
    with_lag = lanes.withColumn("lag_ms", lag)
    counters = with_lag.groupBy("method").agg(
        F.count(F.lit(1)).alias("produced"),
        F.sum((F.col("op") == "c").cast("int")).alias("inserts"),
        F.sum((F.col("op") == "u").cast("int")).alias("updates"),
        F.sum((F.col("op") == "d").cast("int")).alias("deletes"),
        F.countDistinct("pk").alias("distinct_pks"),
        F.max("ts_ms").alias("last_ts_ms"),
        F.max("lag_ms").cast("long").alias("lag_ms_max"),
    )
    if hist is not None:
        pct = percentiles_from_hist(
            hist.filter(F.col("__v").isNotNull())
            .groupBy("method", "__v")
            .agg(F.sum("__n").alias("__n")),
            ["method"],
            {0.5: "__p50", 0.95: "__p95"},
        )
    else:
        pct = grouped_exact_percentiles(
            with_lag, ["method"], "lag_ms", {0.5: "__p50", 0.95: "__p95"}
        )
    return sort_lanes(
        counters.join(F.broadcast(pct), "method", "left")
        .select(
            "method",
            "produced",
            "inserts",
            "updates",
            "deletes",
            "distinct_pks",
            "last_ts_ms",
            F.round("__p50", 3).alias("lag_ms_p50"),
            F.round("__p95", 3).alias("lag_ms_p95"),
            "lag_ms_max",
        ),
        "method",
    )


def recent_lag_metrics(
    lanes: DataFrame, window_size: int = 2000, bucket_ms: int = 3_600_000
) -> DataFrame:
    """M2 sliding-sample fidelity — the reference keeps only the last 2000
    lag samples per lane (``src/engine/metrics.ts:42-44``); this computes the
    percentiles over exactly that window: the ``window_size`` most recently
    emitted events per lane.

    Scale shape: ranking a lane's whole history just to keep its tail would
    single-task the full stream, so a bucket prefilter runs first — per-lane
    per-hour counts (one row per bucket) find the cutoff bucket after which
    fewer than ``window_size`` rows exist; only that bounded tail (≤
    window_size + one bucket) enters the ranking window. Rows in later
    buckets have strictly larger ``emitted_at_ms``, so membership in the
    top-``window_size`` is unchanged."""
    b = lanes.withColumn("__bucket", F.expr(f"emitted_at_ms div {bucket_ms}"))
    counts = b.groupBy("method", "__bucket").agg(F.count(F.lit(1)).alias("__n"))
    wb = (
        W.partitionBy("method")
        .orderBy(F.desc("__bucket"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cutoff = (
        counts.withColumn("__later", F.coalesce(F.sum("__n").over(wb), F.lit(0)))
        .filter(F.col("__later") < window_size)
        .groupBy("method")
        .agg(F.min("__bucket").alias("__cutoff"))
    )
    tail = b.join(F.broadcast(cutoff), "method").filter(
        F.col("__bucket") >= F.col("__cutoff")
    )
    # total order: rows tied on all four keys are fully identical in this
    # projection, so boundary membership is deterministic
    w = W.partitionBy("method").orderBy(
        F.desc("emitted_at_ms"), F.desc("commit_ts_ms"), F.desc("pk"), F.desc("op")
    )
    recent = tail.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= window_size
    )
    lag = (F.col("emitted_at_ms") - F.col("commit_ts_ms")).cast("double")
    return sort_lanes(
        recent.withColumn("lag_ms", lag)
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.expr("percentile(lag_ms, 0.5)"), 3).alias("lag_ms_p50"),
            F.round(F.expr("percentile(lag_ms, 0.95)"), 3).alias("lag_ms_p95"),
        ),
        "method",
    )


def missed_deletes(
    ops: DataFrame, lanes: DataFrame, hist: DataFrame | None = None
) -> DataFrame:
    """M3 — per lane: source hard deletes vs captured ``d`` events
    (``src/modes/queryBased.ts:286-288``). Polling with soft deletes hidden
    misses all of them; log/trigger capture every one."""
    src = ops.filter(F.col("op") == "delete").agg(
        F.count(F.lit(1)).alias("source_deletes")
    )
    captured = (
        (lanes if hist is None else hist)
        .groupBy("method")
        .agg(
            F.sum((F.col("op") == "d").cast("int")).alias("captured_deletes")
            if hist is None
            else F.sum(
                F.when(F.col("op") == "d", F.col("__n")).otherwise(0)
            ).alias("captured_deletes")
        )
    )
    return sort_lanes(
        captured.crossJoin(F.broadcast(src))
        .select(
            "method",
            "source_deletes",
            "captured_deletes",
            (F.col("source_deletes") - F.col("captured_deletes")).alias("missed_deletes"),
        ),
        "method",
    )


def write_amplification(
    ops: DataFrame, lanes: DataFrame, hist: DataFrame | None = None
) -> DataFrame:
    """M4 — ``(source_writes + extra_writes) / source_writes`` per lane
    (``src/engine/metrics.ts:60-73``): the trigger lane writes one audit row
    per source op (``src/modes/triggerBased.ts:217``); log/polling add none.
    """
    n_ops = ops.agg(F.count(F.lit(1)).alias("source_writes"))
    extra = (
        lanes.groupBy("method").agg(
            F.sum((F.col("method") == "trigger").cast("int")).alias("extra_writes")
        )
        if hist is None
        else hist.groupBy("method").agg(
            F.sum(
                F.when(F.col("method") == "trigger", F.col("__n")).otherwise(0)
            ).alias("extra_writes")
        )
    )
    return sort_lanes(
        extra.crossJoin(F.broadcast(n_ops))
        .select(
            "method",
            "source_writes",
            "extra_writes",
            # 4-dp ratio via exact integer floor division — round(double, 4)
            # can disagree across engines at half boundaries
            (
                F.expr("((source_writes + extra_writes) * 10000) div source_writes")
                / 10000.0
            ).alias("write_amplification"),
        ),
        "method",
    )


def cross_lane_summary(
    ops: DataFrame, lanes: DataFrame, hist: DataFrame | None = None
) -> DataFrame:
    """M6 — the comparator's summary panel (``web/App.tsx:985-1020``): which
    lane has the best/worst p95 lag and the spread, the weakest delete
    capture, and the max write amplification. One row.  With ``hist`` the
    delete counts and the exact p95 both fold out of the staged lag
    histogram — no pass over the lane frame at all."""
    lag = (F.col("emitted_at_ms") - F.col("commit_ts_ms")).cast("double")
    with_lag = lanes.withColumn("lag_ms", lag)
    if hist is not None:
        deletes = hist.groupBy("method").agg(
            F.sum(F.when(F.col("op") == "d", F.col("__n")).otherwise(0)).alias(
                "captured_deletes"
            )
        )
        pct = percentiles_from_hist(
            hist.filter(F.col("__v").isNotNull())
            .groupBy("method", "__v")
            .agg(F.sum("__n").alias("__n")),
            ["method"],
            {0.95: "p95"},
        )
    else:
        deletes = with_lag.groupBy("method").agg(
            F.sum((F.col("op") == "d").cast("int")).alias("captured_deletes")
        )
        # two-phase exact p95 — same bounded-state form as lane_metrics
        pct = grouped_exact_percentiles(
            with_lag, ["method"], "lag_ms", {0.95: "p95"}
        )
    per_lane = deletes.join(
        F.broadcast(pct),
        "method",
        "left",
    )
    n_del = ops.filter(F.col("op") == "delete").agg(
        F.count(F.lit(1)).alias("source_deletes")
    )
    j = per_lane.crossJoin(F.broadcast(n_del)).withColumn(
        "delete_pct",
        F.expr("(captured_deletes * 10000) div source_deletes") / 10000.0,
    )
    return j.agg(
        F.min_by("method", "p95").alias("best_lag_method"),
        F.round(F.min("p95"), 3).alias("best_lag_p95_ms"),
        F.max_by("method", "p95").alias("worst_lag_method"),
        F.round(F.max("p95"), 3).alias("worst_lag_p95_ms"),
        F.round(F.max("p95") - F.min("p95"), 3).alias("lag_spread_ms"),
        F.min_by("method", "delete_pct").alias("weakest_delete_method"),
        F.min("delete_pct").alias("min_delete_pct"),
    )


def event_stats(lanes: DataFrame, hist: DataFrame | None = None) -> DataFrame:
    """M8 — per-lane, per-op counts plus each op's share of the lane total
    (``assets/app.js:2966-3019``).  With ``hist`` the (method, op) grain
    folds out of the staged histogram rows."""
    w = W.partitionBy("method")
    per_op = (
        lanes.groupBy("method", "op").agg(
            F.count(F.lit(1)).alias("n"), F.max("ts_ms").alias("last_ts_ms")
        )
        if hist is None
        else hist.groupBy("method", "op").agg(
            F.sum("__n").alias("n"), F.max("__max_ts").alias("last_ts_ms")
        )
    )
    return sort_lanes(
        per_op.withColumn("lane_total", F.sum("n").over(w))
        .withColumn("share", F.expr("(n * 10000) div lane_total") / 10000.0),
        "method",
        "op",
    )


def backlog_timeline(
    ops: DataFrame,
    lanes: DataFrame,
    bucket_ms: int = 3_600_000,
    methods: tuple[str, ...] = ("log", "polling", "trigger"),
) -> DataFrame:
    """M1/M7 — produced/consumed/backlog progression per time bucket and lane:
    cumulative source ops (by commit time) vs cumulative emitted events (by
    delivery time); backlog is the difference (``src/engine/metrics.ts:23-31``,
    ``src/changefeed/model.ts:375-381``).

    Shape: produced and per-lane consumed counts come out of ONE aggregation
    over the UNION of both feeds (conditional sums — the lane set is the
    engine's fixed three), so there is a single shuffle and no outer join.
    The cumulative pass is a direct running sum over the bucket frame: that
    window is unpartitioned but its input is one row per TIME BUCKET — a
    domain-bounded frame (hours of feed horizon, never event-grain), the
    same bounded-state argument as the lag-percentile value histogram — so
    it is not a data-sized single-task window at any volume."""
    zeros = [F.lit(0).alias(f"n_{i}") for i in range(len(methods))]
    u = ops.select(
        (F.expr(f"t div {bucket_ms}") * bucket_ms).alias("bucket_ms"),
        F.lit(1).alias("n_p"),
        *zeros,
    ).unionByName(
        lanes.select(
            (F.expr(f"(emitted_at_ms - 1) div {bucket_ms}") * bucket_ms).alias(
                "bucket_ms"
            ),
            F.lit(0).alias("n_p"),
            *[
                (F.col("method") == m).cast("int").alias(f"n_{i}")
                for i, m in enumerate(methods)
            ],
        )
    )
    counts = u.groupBy("bucket_ms").agg(
        F.sum("n_p").alias("n_produced"),
        *[F.sum(f"n_{i}").alias(f"n_{i}") for i in range(len(methods))],
    )
    run_w = W.orderBy("bucket_ms").rowsBetween(W.unboundedPreceding, 0)
    j = counts.select(
        "bucket_ms",
        F.sum("n_produced").over(run_w).alias("produced"),
        *[
            F.sum(f"n_{i}").over(run_w).alias(f"c_{i}")
            for i in range(len(methods))
        ],
    )
    stack_args = ", ".join(f"'{m}', c_{i}" for i, m in enumerate(methods))
    return (
        j.select(
            "bucket_ms",
            "produced",
            F.expr(f"stack({len(methods)}, {stack_args}) AS (method, consumed)"),
        )
        .select("method", "bucket_ms", "produced", "consumed")
        .withColumn("backlog", F.col("produced") - F.col("consumed"))
        .orderBy("method", "bucket_ms")
    )
