"""Invariants of the delta-rule incremental view maintenance query.

The oracle gate already proves the epoch-by-epoch numbers equal an
independent recompute; these tests pin the structural properties that make
the query an IVM demonstration at all.
"""

from __future__ import annotations

from lets_talk_cdc_change_feed_playground_spark.operators.ivm_queries import (
    cdc_ivm_join,
)


def test_ivm_converges_every_epoch(spark, sf_dir):
    rows = cdc_ivm_join(spark, sf_dir).collect()
    assert len(rows) >= 4  # 30-day feed / 5-day epochs
    epochs = [r["epoch"] for r in rows]
    assert epochs == sorted(epochs)
    for r in rows:
        # the whole point: delta-rule cumulative size == recomputed size
        assert r["converged"], r
        assert r["view_rows"] == r["view_rows_direct"]
        assert r["view_rows"] >= 0


def test_ivm_delta_rule_is_incremental(spark, sf_dir):
    rows = cdc_ivm_join(spark, sf_dir).collect()
    # epoch 0 bootstraps purely from dR x dS (both "old" sides empty):
    # every key inserts, nothing deletes
    first = rows[0]
    assert first["d_r_ins"] > 0 and first["d_r_del"] == 0
    assert first["d_s_ins"] > 0 and first["d_s_del"] == 0
    assert first["view_rows"] == first["dv_net"]
    # cumulative sum identity over the emitted net deltas
    run = 0
    for r in rows:
        run += r["dv_net"]
        assert r["view_rows"] == run
    # later epochs exercise both delta signs somewhere (update churn on R,
    # hot-set churn on S)
    assert any(r["d_r_del"] > 0 for r in rows[1:])
    assert any(r["d_s_del"] > 0 for r in rows[1:])


def test_fk_ordering_holdback_eliminates_violations(spark, sf_dir):
    from lets_talk_cdc_change_feed_playground_spark.operators.integrity_queries import (
        cdc_fk_ordering,
    )

    rows = cdc_fk_ordering(spark, sf_dir).collect()
    assert rows
    total_viol = sum(r["n_violations"] for r in rows)
    # independent drifts make SOME children beat their parent to the sink
    assert total_viol > 0
    for r in rows:
        assert 0 <= r["n_violations"] <= r["n_children"]
        assert r["n_violations_after_holdback"] == 0  # the fix is total
        # hold time is only ever paid for actual violations
        assert (r["sum_hold_ms"] > 0) == (r["n_violations"] > 0)
        assert r["viol_bp"] == r["n_violations"] * 10000 // r["n_children"]


def test_delivery_guarantees_semantics(spark, sf_dir):
    from lets_talk_cdc_change_feed_playground_spark.operators.integrity_queries import (
        cdc_delivery_guarantees,
    )

    by = {r["strategy"]: r for r in cdc_delivery_guarantees(spark, sf_dir).collect()}
    assert set(by) == {"at_least_once", "at_most_once", "exactly_once"}
    n = by["exactly_once"]["n_events"]
    alo, amo, eo = by["at_least_once"], by["at_most_once"], by["exactly_once"]
    # ALO: crashes cause real duplicates, nothing lost, dedup recovers
    assert alo["n_duplicates"] > 0 and alo["n_lost"] == 0
    assert alo["n_deliveries"] == n + alo["n_duplicates"]
    assert not alo["exactly_once"] and alo["converges_after_dedup"]
    # AMO: crashes cause real loss, no duplicates, unrecoverable
    assert amo["n_lost"] > 0 and amo["n_duplicates"] == 0
    assert amo["n_unique_delivered"] == n - amo["n_lost"]
    assert not amo["exactly_once"] and not amo["converges_after_dedup"]
    # EO: clean
    assert eo["exactly_once"] and eo["n_deliveries"] == n


def test_stream_ivm_redelivered_epoch_is_noop(spark, sf_dir):
    """Crash-restart re-delivery guard (advisor finding, round 7): when a
    micro-batch is delivered AGAIN (sink committed, checkpoint didn't), the
    already-maintained epoch must be skipped — without the guard the epoch
    appends twice to the result (duplicate rows, double-counted view_rows).
    Simulated end-to-end: the first staged chunk file is copied into the
    feed with a later mtime, so its epoch re-arrives as the FINAL
    micro-batch of a fresh run; the output must equal the clean run's."""
    import os
    import shutil
    import time

    from lets_talk_cdc_change_feed_playground_spark.streaming import (
        stream_queries as SQ,
    )

    clean = SQ.stream_ivm_join(spark, sf_dir).collect()
    flat = SQ._ivm_chunks(spark, sf_dir)
    first = sorted(f for f in os.listdir(flat) if f.endswith(".parquet"))[0]
    dup = os.path.join(flat, "zz_redelivered.parquet")
    shutil.copy(os.path.join(flat, first), dup)
    late = time.time() + 10_000
    os.utime(dup, (late, late))
    try:
        replayed = SQ.stream_ivm_join(spark, sf_dir).collect()
    finally:
        os.remove(dup)
    assert replayed == clean
