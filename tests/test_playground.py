"""Atomicity-playground invariants (reference
``src/test/unit/changefeed-playground.test.ts:12-75`` and
``src/changefeed/model.ts`` semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators import playground as pg


# both buses are registry frames (operators/shared.py), cached once per
# session already: caching them again would hold a second copy
@pytest.fixture(scope="module")
def bus(spark, sf_dir):
    return pg.bus_feed(spark, sf_dir)


@pytest.fixture(scope="module")
def bus_nodrop(spark, sf_dir):
    return pg.bus_feed(spark, sf_dir, drop_p=0.0)


def test_same_key_same_partition(bus):
    """B3 ordering invariant: a pk never spans partitions."""
    assert bus.groupBy("pk").agg(
        F.countDistinct("partition").alias("n")
    ).filter(F.col("n") > 1).count() == 0


def test_offsets_dense_per_partition(bus):
    """B1: offsets are 0..n-1 within each partition."""
    per = bus.groupBy("partition").agg(
        F.min("offset").alias("lo"), F.max("offset").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    bad = per.filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)).count()
    assert bad == 0


def test_drift_delays_bounded(bus):
    """B4: availability is the enqueue clock plus 0 or 50 ms."""
    d = bus.select((F.col("available_at") - F.col("commit_ts") + pg.COMMIT_DELAY_MS).alias("dms"))
    vals = {r["dms"] for r in d.distinct().collect()}
    assert vals <= {0, 50}


def test_drop_rate_plausible(bus):
    """B5: deterministic drops land near the configured probability."""
    n = bus.count()
    dropped = bus.filter("dropped").count()
    assert 0 < dropped < n
    assert abs(dropped / n - pg.DROP_P) < 0.03


def test_apply_on_commit_drop_free(bus_nodrop, cached):
    """A3 with no faults: every txn completes and applies; apply ticks are
    non-decreasing in (commit_ts, lsn) order and never precede completion."""
    led = cached(pg.txn_ledger(bus_nodrop))
    assert led.filter(~F.col("applied")).count() == 0
    assert led.filter(F.col("apply_tick") < F.col("complete_tick")).count() == 0
    w = W.orderBy("commit_ts", "txn_id")
    regress = (
        led.withColumn("prev", F.lag("apply_tick").over(w))
        .filter(F.col("apply_tick") < F.col("prev"))
        .count()
    )
    assert regress == 0


def test_apply_on_commit_floor_blocks(bus, cached):
    """A3 with drops: a dropped event blocks its txn forever, and the commit
    floor blocks every later-committing txn behind the first incomplete one."""
    led = cached(pg.txn_ledger(bus))
    incomplete = led.filter(F.col("complete_tick").isNull())
    assert incomplete.count() > 0
    floor_ts = incomplete.agg(F.min("commit_ts")).first()[0]
    assert led.filter(F.col("applied") & (F.col("commit_ts") > floor_ts)).count() == 0
    assert led.filter((F.col("n_dropped") > 0) & F.col("applied")).count() == 0


def test_atomicity_torn_transactions(bus, cached):
    """A4 tears multi-event txns across ticks under drift; A3 never applies a
    torn txn partially (applied txns are complete by definition)."""
    chk = cached(pg.atomicity_check(bus, pg.txn_ledger(bus)))
    assert chk.filter(F.col("torn_as_polled")).count() > 0
    assert chk.filter(F.col("applied_on_commit") & (F.col("n_dropped") > 0)).count() == 0


def test_consumer_timeline_monotone(bus_nodrop, cached):
    """M7: delivered/applied are non-decreasing, backlog is non-negative and
    ends at zero in a drop-free run."""
    tl = cached(pg.consumer_timeline(bus_nodrop, pg.txn_ledger(bus_nodrop)))
    assert tl.filter(F.col("backlog") < 0).count() == 0
    last = tl.orderBy(F.desc("tick_ms")).first()
    assert last["backlog"] == 0 and last["delivered"] == last["applied"]
    w = W.orderBy("tick_ms")
    bad = (
        tl.withColumn("pd", F.lag("delivered").over(w))
        .withColumn("pa", F.lag("applied").over(w))
        .filter((F.col("delivered") < F.col("pd")) | (F.col("applied") < F.col("pa")))
        .count()
    )
    assert bad == 0


def test_offset_dedup_exactly_once(bus):
    """A8: every simulated redelivery is dropped by (partition, offset) dedup."""
    res = pg.offset_dedup(bus).collect()
    assert sum(r["duplicates_dropped"] for r in res) > 0
    for r in res:
        assert r["received"] - r["duplicates_dropped"] == r["distinct_offsets"]


def test_rate_limited_consume(bus, cached):
    """A6: at most per_tick events consumed per (partition, tick); consume
    never precedes delivery; FIFO order preserved within a partition."""
    rl = cached(pg.rate_limited_consume(bus, per_tick=8))
    over = (
        rl.groupBy("partition", "consume_tick").count().filter(F.col("count") > 8).count()
    )
    assert over == 0
    assert rl.filter(F.col("consume_tick") < F.col("delivery_ts")).count() == 0
    assert rl.filter(F.col("queue_delay_ms") < 0).count() == 0
    # FIFO: consume_tick non-decreasing in delivery order per partition
    w = W.partitionBy("partition").orderBy("delivery_ts", "lsn")
    bad = (
        rl.withColumn("prev", F.lag("consume_tick").over(w))
        .filter(F.col("consume_tick") < F.col("prev"))
        .count()
    )
    assert bad == 0


def test_rate_limit_queues_bursts(spark):
    """A6: a 20-event burst at one tick drains at 8/tick — rows 8-15 slip one
    tick, rows 16-19 two."""
    rows = [(i + 1, i, str(i), 0, False, pg.TICK_MS) for i in range(20)]
    burst = spark.createDataFrame(
        rows, "lsn long, txn_id long, pk string, partition int, dropped boolean, delivery_ts long"
    )
    rl = pg.rate_limited_consume(burst, per_tick=8).orderBy("lsn").collect()
    ticks = [r["consume_tick"] // pg.TICK_MS for r in rl]
    assert ticks == [1] * 8 + [2] * 8 + [3] * 4
    assert all(r["queue_delay_ms"] >= 0 for r in rl)
