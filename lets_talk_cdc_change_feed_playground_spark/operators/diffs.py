"""Diff / verification analytics — the reference's correctness core.

- **V1 lane diff** (``sim/analysis/diff.ts:64-162``): expected entries from
  source ops and actual entries from captured events are bucketed into
  multisets per ``key = op::pk`` and matched pairwise (i-th with i-th);
  unpaired expected rows are *missing*, unpaired actual rows are *extra*;
  ``lag_ms = max(0, actual_time - expected_time)`` for matched pairs.
  Spark shape: each side's entries carry their occurrence number ``rn``
  (``row_number`` per key, numbered where the entries are built, so the
  session-staged expected side is numbered once for every lane), and a full
  outer join on ``(key, rn)`` pairs them.
- **V2 ordering inversions** (``sim/analysis/diff.ts:164-186``): walk matched
  pairs in actual order and flag pairs whose expected index falls below the
  running max. (An issue row's index is strictly below the running max, so it
  can never raise it — the reference's "only advance on clean rows" loop is
  exactly a running-max window.)
- **V3 top-k lag** (``sim/analysis/diff.ts:188-200``): top 5 matched pairs by
  positive lag, fully tie-broken for determinism.
- **V4 state reduction** (``harness/verifier/index.js:59-76``): fold events
  per key to the final row — here a ``row_number``-last pick since payloads
  are full row images.
- **V5 state diff** (``harness/verifier/index.js:114-167``): full outer join
  of expected vs actual final state per key → ``missing_row`` /
  ``unexpected_row`` / ``field_mismatch`` with per-field detail.

All joins/windows are keyed by pk (or op::pk) — no global shuffles; the only
global windows (expected/actual sequence indexes) go through the bucketed
sequence helper at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.functions.sequence import with_global_seq
from lets_talk_cdc_change_feed_playground_spark.operators.capture import PAYLOAD

#: Bucket width for the scalable global-index assignment (1 h of event time).
_IDX_BUCKET_MS = 3_600_000


def expected_entries(ops: DataFrame) -> DataFrame:
    """Expected multiset entries from the source ops feed
    (``sim/analysis/diff.ts:77-95``): key = op_code::pk, index = op position."""
    code = (
        F.when(F.col("op") == "insert", F.lit("c"))
        .when(F.col("op") == "update", F.lit("u"))
        .otherwise(F.lit("d"))
    )
    df = with_global_seq(
        ops, F.expr(f"t div {_IDX_BUCKET_MS}"), ["t", "seq"], "idx", start=0
    )
    return _keyed(
        df.select(code.alias("op_code"), "pk", "idx", F.col("t").alias("time"))
    )


def actual_entries(events: DataFrame, time_col: str, order_cols: list[str]) -> DataFrame:
    """Actual multiset entries from a lane's captured events
    (``sim/analysis/diff.ts:97-111``); ``order_cols`` must be a total order
    (the lane's deterministic emission order), led by a time-like column that
    the scalable sequence helper can bucket on."""
    df = with_global_seq(
        events, F.expr(f"{order_cols[0]} div {_IDX_BUCKET_MS}"), order_cols, "idx", start=0
    )
    return _keyed(
        df.select(F.col("op").alias("op_code"), "pk", "idx", F.col(time_col).alias("time"))
    )


def _keyed(entries: DataFrame) -> DataFrame:
    """Key entries by ``op_code::pk`` and number each key's occurrences in
    index order (``rn``): the i-th expected entry of a key pairs with its
    i-th actual entry."""
    keyed = entries.withColumn("key", F.concat_ws("::", "op_code", "pk"))
    return keyed.withColumn(
        "rn", F.row_number().over(W.partitionBy("key").orderBy("idx"))
    )


def lane_diff(expected: DataFrame, actual: DataFrame) -> DataFrame:
    """V1 — pairwise multiset match: one row per (key, occurrence)."""
    exp = expected.select(
        "key",
        "rn",
        "op_code",
        "pk",
        F.col("idx").alias("expected_idx"),
        F.col("time").alias("expected_time"),
    )
    act = actual.select(
        "key",
        "rn",
        F.col("op_code").alias("a_op_code"),
        F.col("pk").alias("a_pk"),
        F.col("idx").alias("actual_idx"),
        F.col("time").alias("actual_time"),
    )
    j = exp.join(act, ["key", "rn"], "full_outer")
    return j.select(
        "key",
        F.coalesce("op_code", "a_op_code").alias("op"),
        F.coalesce("pk", "a_pk").alias("pk"),
        "rn",
        F.when(F.col("actual_idx").isNull(), F.lit("missing"))
        .when(F.col("expected_idx").isNull(), F.lit("extra"))
        .otherwise(F.lit("matched"))
        .alias("status"),
        "expected_idx",
        "actual_idx",
        "expected_time",
        "actual_time",
        F.when(
            F.col("expected_idx").isNotNull() & F.col("actual_idx").isNotNull(),
            F.greatest(F.col("actual_time") - F.col("expected_time"), F.lit(0)),
        ).alias("lag_ms"),
    )


def mark_inversions(diff: DataFrame, bucket_size: int = 65536) -> DataFrame:
    """V2 — ``diff`` plus a boolean ``inverted``: true on each matched pair
    whose expected index regresses below the running max of expected indexes
    in actual order, false on every other row.

    The running max over the global actual order is computed in two phases
    (like :func:`..functions.sequence.with_global_seq`): a per-bucket running
    max plus a broadcast cumulative prefix over bucket maxima — no
    unpartitioned data-sized window.  Extra rows carry a NULL
    ``expected_idx`` and missing rows a NULL ``actual_idx`` (one NULL bucket
    of their own), so neither moves the running max."""
    matched = F.col("status") == "matched"
    d = diff.withColumn("__bucket", F.expr(f"actual_idx div {bucket_size}"))
    win = (
        W.partitionBy("__bucket")
        .orderBy("actual_idx")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = d.withColumn("__local_max", F.max("expected_idx").over(win))
    bucket_max = d.filter(matched).groupBy("__bucket").agg(
        F.max("expected_idx").alias("__bmax")
    )
    prefix_w = W.orderBy("__bucket").rowsBetween(W.unboundedPreceding, -1)
    prefix = bucket_max.select(
        "__bucket", F.max("__bmax").over(prefix_w).alias("__prefix_max")
    )
    runmax = F.greatest(
        F.coalesce(F.col("__local_max"), F.lit(-1)),
        F.coalesce(F.col("__prefix_max"), F.lit(-1)),
    )
    return local.join(F.broadcast(prefix), "__bucket", "left").select(
        *diff.columns, (matched & (F.col("expected_idx") < runmax)).alias("inverted")
    )


def ordering_inversions(diff: DataFrame, bucket_size: int = 65536) -> DataFrame:
    """V2 — count of inverted matched pairs (:func:`mark_inversions`).
    Returns a single row ``(ordering_issues)``."""
    return mark_inversions(diff, bucket_size).agg(
        F.coalesce(F.sum(F.col("inverted").cast("int")), F.lit(0)).alias(
            "ordering_issues"
        )
    )


def lag_topk(diff: DataFrame, k: int = 5) -> DataFrame:
    """V3 — top-k matched pairs by lag (> 0), totally ordered for determinism."""
    return (
        diff.filter((F.col("status") == "matched") & (F.col("lag_ms") > 0))
        .select("op", "pk", "expected_time", "actual_time", "lag_ms")
        .orderBy(F.desc("lag_ms"), "expected_time", "pk", "op")
        .limit(k)
    )


def replay_state(events: DataFrame, order_cols: list[str]) -> DataFrame:
    """V4 / A2 — fold change events to the final table state: last event per
    key wins (payloads are full row images), final deletes drop the key
    (``src/domain/storage.ts:245-259``). One shuffle on pk."""
    w = W.partitionBy("pk").orderBy(*[F.desc(c) for c in order_cols])
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "d"))
        .select(
            "pk",
            *[F.col(f"after_{c}").alias(c) for c in PAYLOAD],
            F.col("ts_ms").alias("updated_ts_ms"),
        )
    )


def source_state(ops: DataFrame) -> DataFrame:
    """Expected final state straight from the ops feed: last op per key wins,
    a final delete removes the key (``harness/verifier/index.js:59-76``)."""
    w = W.partitionBy("pk").orderBy(F.desc("t"), F.desc("seq"))
    return (
        ops.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "delete"))
        .select("pk", *PAYLOAD, F.col("t").alias("updated_ts_ms"))
    )


def state_diff(expected: DataFrame, actual: DataFrame) -> DataFrame:
    """V5 — per-key full outer compare of two table states; emits only
    problem rows (missing / unexpected / field mismatch) with per-field
    expected/actual values."""
    e = expected.select(
        "pk", *[F.col(c).alias(f"expected_{c}") for c in PAYLOAD]
    ).withColumn("__e", F.lit(1))
    a = actual.select(
        "pk", *[F.col(c).alias(f"actual_{c}") for c in PAYLOAD]
    ).withColumn("__a", F.lit(1))
    j = e.join(a, "pk", "full_outer")
    fields_differ = None
    for c in PAYLOAD:
        ne = ~(
            F.col(f"expected_{c}").eqNullSafe(F.col(f"actual_{c}"))
        )
        fields_differ = ne if fields_differ is None else (fields_differ | ne)
    status = (
        F.when(F.col("__a").isNull(), F.lit("missing_row"))
        .when(F.col("__e").isNull(), F.lit("unexpected_row"))
        .when(fields_differ, F.lit("field_mismatch"))
        .otherwise(F.lit("match"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status") != "match")
        .select(
            "pk",
            "status",
            *[F.col(f"expected_{c}") for c in PAYLOAD],
            *[F.col(f"actual_{c}") for c in PAYLOAD],
        )
    )
