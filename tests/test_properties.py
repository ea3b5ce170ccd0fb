"""Property-based invariant tests for the capture engines.

Port of the reference's seeded property harness (``sim/tests/
property-tests.mjs:54-243``): randomly generated CRUD workloads (every key's
first op is an insert, ≥1 delete guaranteed) run through all three engines,
asserting the cross-engine invariants:

- trigger & log lanes are complete (one event per op) and ordered;
- polling never invents events (≤ 1 per key/poll window, never more than ops);
- delete capture: trigger/log == source deletes, polling ≤ source;
- per-lane emission lag bounded by the tick interval;
- replaying the log lane reproduces the source's final state.

Deterministic: hypothesis with ``derandomize=True`` plays a fixed seed corpus
(the analogue of ``sim/tests/seeds.json``).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators import capture, diffs
from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
    EXTRACT_MS,
    FETCH_MS,
    OVERHEAD_MS,
    POLL_MS,
)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from lets_talk_cdc_change_feed_playground_spark import get_spark

        _spark = get_spark("props", master="local[4]", shuffle_partitions=4)
    return _spark


# a workload = per-op (key index, op selector); ops spaced ~20 min apart so
# several fall inside one poll hour (forcing collapses)
workloads = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 5)),
    min_size=6,
    max_size=24,
)


def _build_ops(spark, raw):
    rows, seen = [], set()
    has_delete = False
    for i, (k, sel) in enumerate(raw):
        pk = str(k)
        if pk not in seen:
            op = "insert"
            seen.add(pk)
        elif sel >= 4:
            op = "delete"
            has_delete = True
        else:
            op = "update"
        rows.append(
            (
                i,
                1_200_000 * (i + 1),
                pk,
                op,
                ("signup", "click", "view", "purchase", "error")[sel % 5],
                float(i * 3 + sel) / 4.0,
                '{"k": %d}' % (i % 7),
            )
        )
    if not has_delete and len(seen) > 0:
        i = len(rows)
        rows.append((i, 1_200_000 * (i + 1), next(iter(seen)), "delete", "error", 0.0, "{}"))
    return spark.createDataFrame(
        rows, "seq long, t long, pk string, op string, event_type string, value double, props string"
    )


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(workloads)
def test_capture_engine_invariants(raw):
    spark = _get_spark()
    ops = _build_ops(spark, raw).cache()
    log = capture.log_capture_ops(ops).cache()
    trig = capture.trigger_capture_ops(ops).cache()
    poll = capture.polling_capture_ops(ops, include_soft_deletes=True).cache()
    try:
        _assert_invariants(ops, log, trig, poll)
    finally:
        for df in (ops, log, trig, poll):
            df.unpersist()


def _assert_invariants(ops, log, trig, poll):
    n_ops = ops.count()
    n_del = ops.filter(F.col("op") == "delete").count()

    # completeness + dense ordered LSNs
    assert log.count() == n_ops
    assert trig.count() == n_ops
    lo, hi, n = log.agg(F.min("lsn"), F.max("lsn"), F.countDistinct("lsn")).first()
    assert (lo, hi, n) == (1, n_ops, n_ops)
    disorder = (
        log.withColumn("prev", F.lag("ts_ms").over(W.orderBy("lsn")))
        .filter(F.col("ts_ms") < F.col("prev"))
        .count()
    )
    assert disorder == 0

    # polling never invents
    assert poll.count() <= n_ops
    assert poll.groupBy("pk", "poll_ts_ms").count().filter(F.col("count") > 1).count() == 0

    # delete capture bounds
    assert log.filter(F.col("op") == "d").count() == n_del
    assert trig.filter(F.col("op") == "d").count() == n_del
    assert poll.filter(F.col("op") == "d").count() <= n_del

    # lag bounds
    assert (
        log.filter(F.col("emitted_at_ms") - F.col("ts_ms") > FETCH_MS).count() == 0
    )
    assert (
        trig.filter(
            F.col("emitted_at_ms") - F.col("commit_ts_ms") > EXTRACT_MS + OVERHEAD_MS
        ).count()
        == 0
    )
    assert poll.filter(F.col("poll_ts_ms") - F.col("ts_ms") > POLL_MS).count() == 0

    # log replay == source fold
    replayed = diffs.replay_state(log, ["ts_ms", "lsn"]).drop("updated_ts_ms")
    source = diffs.source_state(ops).drop("updated_ts_ms")
    assert diffs.state_diff(source, replayed).count() == 0
