"""CDC capture/diff/metrics invariants.

Mirrors the reference's seeded property-test assertions
(``sim/tests/property-tests.mjs:207-243``): log and trigger lanes are
complete and ordered, polling is lossy-but-never-inventive, delete capture
bounds, and per-lane lag bounds tied to the tick intervals.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators import capture, diffs
from lets_talk_cdc_change_feed_playground_spark.operators.cdc_queries import (
    QUERIES,
    cdc_verdict,
)
from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
    EXTRACT_MS,
    FETCH_MS,
    OVERHEAD_MS,
    POLL_MS,
    ops_feed,
)


# the feed and the lanes are registry frames (operators/shared.py), cached
# once per session already: caching them again would hold a second copy
@pytest.fixture(scope="module")
def ops(spark, sf_dir):
    return ops_feed(spark, sf_dir)


@pytest.fixture(scope="module")
def lanes(spark, sf_dir):
    return {
        "log": capture.log_capture(spark, sf_dir),
        "polling": capture.polling_capture(spark, sf_dir),
        "polling_soft": capture.polling_capture(
            spark, sf_dir, include_soft_deletes=True
        ),
        "trigger": capture.trigger_capture(spark, sf_dir),
    }


def test_ops_feed_shape(ops):
    rows = ops.count()
    assert rows > 0
    # every pk starts with exactly one insert
    per_pk = ops.groupBy("pk").agg(
        F.sum((F.col("op") == "insert").cast("int")).alias("ins"),
        F.min(F.struct("t", "seq", "op")).alias("first"),
    )
    bad = per_pk.filter((F.col("ins") != 1) | (F.col("first.op") != "insert")).count()
    assert bad == 0


def test_log_lane_complete_and_ordered(ops, lanes):
    """Log capture is lossless: one WAL record per op, LSN dense in (t, seq)
    order, ts non-decreasing in LSN order."""
    log = lanes["log"]
    n_ops = ops.count()
    assert log.count() == n_ops
    lsns = log.agg(F.min("lsn"), F.max("lsn"), F.countDistinct("lsn")).first()
    assert lsns == (1, n_ops, n_ops)
    disorder = (
        log.select("lsn", "ts_ms")
        .withColumn("prev", F.lag("ts_ms").over(W.orderBy("lsn")))
        .filter(F.col("ts_ms") < F.col("prev"))
        .count()
    )
    assert disorder == 0


def test_log_before_images(lanes):
    """Inserts have no before image; updates carry the prior full row."""
    log = lanes["log"]
    assert log.filter((F.col("op") == "c") & F.col("before_event_type").isNotNull()).count() == 0
    # an update directly after an insert sees the insert's payload
    upd_missing_before = log.filter(
        (F.col("op") == "u") & F.col("before_event_type").isNull()
    )
    # before is NULL for updates only when the previous op was a delete
    w = W.partitionBy("pk").orderBy("lsn")
    prev_op = log.withColumn("prev_op", F.lag("op").over(w))
    bad = prev_op.filter(
        (F.col("op") == "u")
        & F.col("before_event_type").isNull()
        & (F.col("prev_op") != "d")
    ).count()
    assert bad == 0
    assert upd_missing_before.count() == prev_op.filter(
        (F.col("op") == "u") & (F.col("prev_op") == "d")
    ).count()


def test_polling_never_invents_events(ops, lanes):
    """Polling emits at most one event per (pk, poll window) and never more
    events than source ops (property-tests.mjs: no extra events)."""
    p = lanes["polling_soft"]
    assert p.count() <= ops.count()
    dup = p.groupBy("pk", "poll_ts_ms").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_polling_collapses_updates(ops, lanes):
    """Lossy by design: strictly fewer events than the log lane at this data
    density (426 multi-event user-hours at sf0.01)."""
    assert lanes["polling_soft"].count() < lanes["log"].count()


def test_delete_capture_bounds(ops, lanes):
    """trigger/log capture every source delete; polling captures none when
    soft deletes are hidden and at most source-many when visible."""
    n_del = ops.filter(F.col("op") == "delete").count()
    assert lanes["log"].filter(F.col("op") == "d").count() == n_del
    assert lanes["trigger"].filter(F.col("op") == "d").count() == n_del
    assert lanes["polling"].filter(F.col("op") == "d").count() == 0
    assert lanes["polling_soft"].filter(F.col("op") == "d").count() <= n_del


def test_lag_bounds(lanes):
    """Emission lag bounded by each lane's tick interval (the batch analogue
    of property-tests.mjs:238-239 lag invariants)."""
    log_max = lanes["log"].agg(F.max(F.col("emitted_at_ms") - F.col("ts_ms"))).first()[0]
    assert 0 < log_max <= FETCH_MS
    trig_max = (
        lanes["trigger"].agg(F.max(F.col("emitted_at_ms") - F.col("commit_ts_ms"))).first()[0]
    )
    assert 0 < trig_max <= EXTRACT_MS + OVERHEAD_MS
    poll_max = (
        lanes["polling_soft"].agg(F.max(F.col("poll_ts_ms") - F.col("ts_ms"))).first()[0]
    )
    assert 0 < poll_max <= POLL_MS


def test_trigger_commit_overhead(ops, lanes):
    """Every audit row commits exactly overhead_ms after its source op."""
    t = lanes["trigger"]
    assert t.count() == ops.count()
    mism = t.select((F.col("commit_ts_ms") - OVERHEAD_MS).alias("t0")).subtract(
        ops.select(F.col("t").alias("t0"))
    )
    assert mism.count() == 0


def test_verdict(spark, sf_dir):
    """Log and trigger lanes pass the pipeline verdict; polling fails it
    (missing events) — the reference's headline comparison."""
    rows = {r["method"]: r for r in cdc_verdict(spark, sf_dir).collect()}
    assert rows["log"]["pass"] and rows["log"]["missing"] == 0 and rows["log"]["extra"] == 0
    assert rows["trigger"]["pass"]
    assert not rows["polling"]["pass"] and rows["polling"]["missing"] > 0
    assert rows["polling"]["extra"] == 0


def _inversion_diff():
    """A hand-built ~40-row lane diff: 30 matched pairs whose actual order
    swaps expected indexes up to 6 apart (so inversions straddle the edges
    of 4-row buckets), 5 extra rows (NULL ``expected_idx``) interleaved
    with them, and 5 missing rows (NULL ``actual_idx``) whose expected
    indexes exceed every matched one."""
    rng = random.Random(12)
    order = list(range(30))
    for _ in range(10):
        i = rng.randrange(len(order) - 6)
        j = i + rng.randrange(1, 7)
        order[i], order[j] = order[j], order[i]
    seq = list(order)
    for _ in range(5):
        seq.insert(rng.randrange(len(seq) + 1), None)
    rows = [
        (f"k{a}", "matched" if e is not None else "extra", e, a)
        for a, e in enumerate(seq)
    ]
    rows += [(f"m{e}", "missing", e, None) for e in range(30, 35)]
    return rows


def _running_max_flags(rows, bucket_size=None):
    """Brute-force V2 in actual order; with ``bucket_size`` the running max
    restarts at each bucket edge (what the flag would be without the
    cross-bucket prefix)."""
    flags, run, bucket = {}, -1, None
    for key, status, e, a in sorted((r for r in rows if r[3] is not None), key=lambda r: r[3]):
        if bucket_size is not None and a // bucket_size != bucket:
            run, bucket = -1, a // bucket_size
        if status == "matched":
            flags[key] = e < run
            run = max(run, e)
    return {r[0]: flags.get(r[0], False) for r in rows}


def test_mark_inversions_across_buckets(spark):
    """The two-phase running max (per-bucket window plus broadcast prefix of
    bucket maxima) flags exactly what a single running max in actual order
    flags, with inversions that only the cross-bucket prefix can see."""
    rows = _inversion_diff()
    diff = spark.createDataFrame(
        rows, "key string, status string, expected_idx long, actual_idx long"
    )
    want = _running_max_flags(rows)
    in_bucket = _running_max_flags(rows, bucket_size=4)
    assert {k for k, v in want.items() if v and not in_bucket[k]}, (
        "no inversion straddles a bucket edge: the prefix goes unchecked"
    )
    for bucket_size in (4, 1 << 30):
        got = {
            r["key"]: r["inverted"]
            for r in diffs.mark_inversions(diff, bucket_size=bucket_size).collect()
        }
        assert got == want, bucket_size
    n = diffs.ordering_inversions(diff, bucket_size=4).first()["ordering_issues"]
    assert n == sum(want.values())


def test_replay_state_matches_source_fold(spark, sf_dir, ops):
    """A2: folding the log lane reproduces the source's final state exactly."""
    replayed = diffs.replay_state(capture.log_capture(spark, sf_dir), ["ts_ms", "lsn"])
    source = diffs.source_state(ops)
    assert diffs.state_diff(
        source.drop("updated_ts_ms"), replayed.drop("updated_ts_ms")
    ).count() == 0


def test_all_cdc_queries_return_rows(spark, sf_dir):
    for name, fn in QUERIES.items():
        assert fn(spark, sf_dir).count() > 0, name


def test_incremental_agg_converges(spark, sf_dir):
    """IVM: delta-maintained aggregate equals the replay-fold recompute for
    every group (the telescoping-sum invariant of +after/-before deltas)."""
    from lets_talk_cdc_change_feed_playground_spark.operators.cdc_queries import (
        cdc_incremental_agg,
    )

    rows = cdc_incremental_agg(spark, sf_dir).collect()
    assert rows and all(r["converged"] for r in rows)


def test_scd2_intervals_tile(spark, sf_dir, ops, cached):
    """SCD2: per key the version chain is dense from 1, intervals are
    half-open and non-overlapping (valid_to = next valid_from), and exactly
    the keys alive at the end carry an open current version."""
    from lets_talk_cdc_change_feed_playground_spark.operators.cdc_queries import (
        cdc_scd2_history,
    )

    hist = cached(cdc_scd2_history(spark, sf_dir))
    # versions dense per pk
    bad_chain = (
        hist.groupBy("pk")
        .agg(F.min("version").alias("lo"), F.max("version").alias("hi"), F.count("*").alias("n"))
        .filter((F.col("lo") != 1) | (F.col("hi") != F.col("n")))
        .count()
    )
    assert bad_chain == 0
    # no overlaps: next version's valid_from >= this version's valid_to
    w = W.partitionBy("pk").orderBy("version")
    overlaps = (
        hist.withColumn("nxt_from", F.lead("valid_from_ms").over(w))
        .filter(F.col("nxt_from").isNotNull() & (F.col("nxt_from") < F.col("valid_from_ms")))
        .count()
    )
    assert overlaps == 0
    # current rows == final alive state
    alive = diffs.source_state(ops).count()
    assert hist.filter("is_current").count() == alive


def test_slo_budget_accounting(spark):
    from lets_talk_cdc_change_feed_playground_spark.operators.cdc_queries import (
        SLO_GOOD_BP,
        cdc_slo_budget,
    )

    r = cdc_slo_budget(spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 <= r["hours_bad"] <= r["hours_total"]
    assert r["budget_hours"] == r["hours_total"] * (10000 - SLO_GOOD_BP) // 10000
    met = 10000 * (r["hours_total"] - r["hours_bad"]) // r["hours_total"] >= SLO_GOOD_BP
    assert r["slo_met"] == met
    if r["budget_hours"] > 0:
        assert r["burn_bp"] == 10000 * r["hours_bad"] // r["budget_hours"]


def test_replica_promotion_rpo_accounting(spark):
    from lets_talk_cdc_change_feed_playground_spark.operators.replication_queries import (
        cdc_replica_promotion,
    )

    r = cdc_replica_promotion(spark, "/root/testdata/sf0.01").collect()[0]
    assert r["replica_lsn"] <= r["primary_lsn"]
    assert r["rpo_events"] == r["primary_lsn"] - r["replica_lsn"]  # dense LSNs
    assert r["rpo_keys"] <= r["rpo_events"]
    assert r["zero_loss"] == (r["rpo_events"] == 0)
    # with an hour of jitter against minutes of event spacing, the async
    # replica genuinely trails at failover
    assert r["rpo_events"] > 0 and r["rpo_ms"] > 0
