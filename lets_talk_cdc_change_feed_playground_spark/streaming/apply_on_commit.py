"""A3 streaming — watermark-gated apply-on-commit.

The reference's commit floor — "apply a ready transaction only when its
``commitTs`` is ≤ the min commitTs still in flight" (``src/changefeed/
model.ts:208-217``) — *is* Spark's event-time watermark: once the watermark
passes a commit timestamp, no earlier-committing event can still arrive.

Pipeline shape:

1. upstream: :func:`..streaming.txn.assemble_transactions_bucketed`
   guarantees only complete transactions flow in (partial txns stay in
   keyed state);
2. this stage groups events into ``(commit window, tx_id)`` buckets under a
   watermark on ``commit_ts``; **append output mode emits a bucket only when
   the watermark has passed its window end** — the floor barrier, enforced by
   the engine's state store;
3. the sink applies released transactions ordered by ``(commit_ts, lsn)``
   (``applyReadyTransactions``'s sort) — distributed, as a keyed MERGE per
   micro-batch (``stream_queries._CommitStoreSink``).

Divergence from the reference (documented in SURVEY §2.8): the floor
advances with watermark granularity (per micro-batch, driven by observed
event time) rather than per simulated tick; semantics — no transaction ever
applies before everything that could commit earlier — are identical.

Scale: stage 2 state is keyed by (window, tx_id) — fully partitioned, no
global barrier task; the global ordering guarantee comes from the watermark,
not a single-task sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

COMMIT_EVENT_SCHEMA = StructType(
    [
        StructField("tx_id", StringType()),
        StructField("tx_index", IntegerType()),
        StructField("commit_ts", LongType()),
        StructField("lsn", LongType()),
        StructField("pk", StringType()),
        StructField("op", StringType()),
        StructField("payload", StringType()),
    ]
)


def gate_on_commit_floor(
    events: DataFrame, tick_ms: int = 60_000, delay: str = "0 seconds"
) -> DataFrame:
    """Commit-floor gate: one output row per transaction, released only when
    the watermark (= the floor) has passed its commit window."""
    ev = events.withColumn("commit_dt", F.timestamp_millis(F.col("commit_ts")))
    ev = ev.withWatermark("commit_dt", delay)
    return (
        ev.groupBy(
            F.window("commit_dt", f"{tick_ms} milliseconds").alias("commit_window"),
            "tx_id",
        )
        .agg(
            F.min("commit_ts").alias("commit_ts"),
            F.min("lsn").alias("lsn_min"),
            F.sort_array(
                F.collect_list(F.struct("tx_index", "lsn", "pk", "op", "payload"))
            ).alias("events"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("tx_id", "commit_ts", "lsn_min", "events", "n_events")
    )

