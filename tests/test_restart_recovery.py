"""S9 crash-recovery: the checkpointed upsert sink survives a kill in either
half of the batch lifecycle and converges exactly-once.

The reference's connector-restart failure scenario
(``scenarios/01-canonical-reference/failures/``) kills the consumer mid-run
and requires the Postgres sink to converge after restart, with offset dedup
(``sink/consumer.mjs:122-143``) preventing double application. Spark
mapping: foreachBatch re-delivers the same batch_id after a checkpointed
restart; a ``VersionedStore`` with ``dedup_batches=True`` (``UpsertSink``,
the SCD2 dimension sink) commits state via atomic rename with a
``_batch_{id}`` ledger marker inside the version, so:

- crash AFTER the sink commit, BEFORE the stream checkpoint commit → the
  re-delivered batch is skipped (no double application);
- crash BEFORE the sink commit → the re-delivered batch applies normally.

Both orders must end with the store equal to the batch replay fold.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.streaming.apply import UpsertSink
from lets_talk_cdc_change_feed_playground_spark.streaming.capture import (
    OPS_SCHEMA,
    log_capture_stream,
)
from lets_talk_cdc_change_feed_playground_spark.streaming.stream_queries import (
    _Scd2Sink,
)
from lets_talk_cdc_change_feed_playground_spark.streaming.workload import (
    ops_from_counter,
)


@pytest.fixture()
def chunks_dir(spark, tmp_path):
    """Three time-ordered chunk files of deterministic workload ops."""
    import time

    flat = tmp_path / "flat"
    flat.mkdir()
    base = int(time.time())
    for i, (lo, hi) in enumerate([(0, 120), (120, 240), (240, 360)]):
        cdir = str(tmp_path / f"c{i}")
        ops_from_counter(spark.range(lo, hi), counter="id").coalesce(1).write.parquet(cdir)
        part = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
        dst = str(flat / f"{i:02d}.parquet")
        os.rename(os.path.join(cdir, part), dst)
        os.utime(dst, (base + i, base + i))
    return str(flat)


def _expected_state(spark, chunks_dir):
    """Batch replay fold over the full feed: last non-delete image per pk."""
    ops = spark.read.parquet(chunks_dir)
    w_last = F.struct("t", "seq")
    last = ops.groupBy("pk").agg(
        F.max_by(F.struct("op", "event_type", "value", "props"), w_last).alias("st")
    )
    return (
        last.filter(F.col("st.op") != "delete")
        .select(
            "pk",
            F.col("st.event_type").alias("event_type"),
            F.col("st.value").alias("value"),
            F.col("st.props").alias("props"),
        )
    )


def _start(spark, chunks_dir, wrapper, ckpt, files_per_trigger=1):
    src = spark.readStream.schema(OPS_SCHEMA)
    if files_per_trigger is not None:
        src = src.option("maxFilesPerTrigger", files_per_trigger)
    return (
        log_capture_stream(src.parquet(chunks_dir))
        .writeStream.outputMode("append")
        .foreachBatch(wrapper)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _drive(spark, chunks_dir, wrapper, ckpt):
    q = _start(spark, chunks_dir, wrapper, ckpt)
    crashed = False
    try:
        q.processAllAvailable()
    except StreamingQueryException:
        crashed = True
    finally:
        q.stop()
    assert crashed, "injected crash did not fire"
    q = _start(spark, chunks_dir, wrapper, ckpt)  # restart from the SAME checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _drain(spark, chunks_dir, sink, ckpt):
    """An uncrashed run over the whole feed, every chunk in one batch."""
    q = _start(spark, chunks_dir, sink, ckpt, files_per_trigger=None)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _assert_converged(spark, sink, chunks_dir):
    got = sink.current().select("pk", "event_type", "value", "props")
    want = _expected_state(spark, chunks_dir)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


@pytest.mark.parametrize("store_cls", [UpsertSink, _Scd2Sink], ids=lambda c: c.__name__)
def test_crash_after_sink_commit_is_not_applied_twice(
    spark, chunks_dir, tmp_path, store_cls
):
    """Kill between the sink's atomic commit and the stream's checkpoint
    commit: restart re-delivers the batch, the ledger skips it, every batch
    ends applied exactly once, and the store equals an uncrashed run's."""
    sink = store_cls(spark, str(tmp_path / "store"), dedup_batches=True)
    effective: list[int] = []

    class Wrapper:
        fired = False

        def __call__(self, bdf, bid):
            before = sink.applied_batches()
            sink(bdf, bid)
            if bid not in before:
                effective.append(bid)
            if bid == 1 and not Wrapper.fired:
                Wrapper.fired = True
                # the sink HAS committed batch 1 at this point — provably:
                assert 1 in sink.applied_batches()
                raise RuntimeError("kill: sink committed, checkpoint not")

    _drive(spark, chunks_dir, Wrapper(), str(tmp_path / "ckpt"))
    # batch 1 was delivered twice but applied once; 3 batches, 3 commits
    assert sorted(effective) == [0, 1, 2]
    assert sink.applied_batches() == {0, 1, 2}
    assert len(sink._versions()) == 3
    clean = store_cls(spark, str(tmp_path / "clean"), dedup_batches=True)
    _drain(spark, chunks_dir, clean, str(tmp_path / "clean_ckpt"))
    got, want = sink.current(), clean.current()
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    if store_cls is UpsertSink:
        _assert_converged(spark, sink, chunks_dir)


def test_crash_before_sink_commit_reapplies_on_restart(spark, chunks_dir, tmp_path):
    """Kill BEFORE the sink sees batch 1: nothing was committed, so the
    restart must re-deliver AND apply it."""
    sink = UpsertSink(spark, str(tmp_path / "store"), dedup_batches=True)

    class Wrapper:
        fired = False

        def __call__(self, bdf, bid):
            if bid == 1 and not Wrapper.fired:
                Wrapper.fired = True
                assert 1 not in sink.applied_batches()
                raise RuntimeError("kill: before sink commit")
            sink(bdf, bid)

    _drive(spark, chunks_dir, Wrapper(), str(tmp_path / "ckpt"))
    assert sorted(sink.applied_batches()) == [0, 1, 2]
    assert len(sink._versions()) == 3
    _assert_converged(spark, sink, chunks_dir)


def test_ledger_parses_legacy_version_dirs(spark, tmp_path):
    """Pre-ledger directories (plain v=N) still read as versions."""
    store = str(tmp_path / "store")
    sink = UpsertSink(spark, store, dedup_batches=True)
    df = spark.createDataFrame(
        [("p1", "c", "seed", 1.0, "{}", 10, 0)],
        "pk string, op string, after_event_type string, after_value double,"
        " after_props string, ts_ms long, seq long",
    )
    os.makedirs(store)
    from lets_talk_cdc_change_feed_playground_spark.streaming.apply import merge_batch

    merge_batch(None, df).write.parquet(os.path.join(store, "v=0"))
    assert sink._versions() == [0]
    assert sink.applied_batches() == set()
    sink(df, 7)  # commits v=1 with a _batch_7 marker on top of the legacy dir
    assert sink._versions() == [0, 1]
    assert sink.applied_batches() == {7}
    assert sink.current().count() == 1


# ---------------------------------------------------------------------------
# Concurrent-writer fencing (the Delta optimistic-concurrency property the
# versioned-parquet stand-in claims to imitate)
# ---------------------------------------------------------------------------


def _ev(spark, rows):
    return spark.createDataFrame(
        rows,
        "pk string, op string, after_event_type string, after_value double,"
        " after_props string, ts_ms long, seq long",
    )


def test_concurrent_commit_of_same_version_is_rejected(spark, tmp_path):
    """Two sinks on one store that both read version N-1 cannot both commit
    version N: the fixed per-version rename target serializes them — the
    second rename raises, its staging is discarded, and the store still
    reads the winner's state."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.apply import (
        ConcurrentWriteError,
        merge_batch,
    )

    store = str(tmp_path / "store")
    a = UpsertSink(spark, store, dedup_batches=True)
    b = UpsertSink(spark, store, dedup_batches=True)
    a(_ev(spark, [("p1", "c", "seed", 1.0, "{}", 10, 0)]), 0)  # v=0

    # both writers read the store at version 0 ...
    base_a = a.current()
    base_b = b.current()
    m_a = merge_batch(base_a, _ev(spark, [("p2", "c", "from-a", 2.0, "{}", 20, 1)]))
    m_b = merge_batch(base_b, _ev(spark, [("p3", "c", "from-b", 3.0, "{}", 30, 2)]))

    # ... writer B publishes version 1 first; writer A's in-flight commit of
    # the SAME version must be rejected, not silently double-published
    b._commit(m_b, nxt=1, batch_id=2)
    with pytest.raises(ConcurrentWriteError):
        a._commit(m_a, nxt=1, batch_id=1)

    # the store holds exactly the winner's state; no staging garbage left
    assert a._versions() == [0, 1]
    pks = {r["pk"] for r in a.current().collect()}
    assert pks == {"p1", "p3"}
    assert not [d for d in os.listdir(store) if d.startswith("_staging")]

    # the rejected writer retries against the re-read store and lands on
    # version 2 with BOTH writers' rows present — the Delta retry contract
    a(_ev(spark, [("p2", "c", "from-a", 2.0, "{}", 20, 1)]), 1)
    assert a._versions() == [0, 1, 2]
    pks = {r["pk"] for r in a.current().collect()}
    assert pks == {"p1", "p2", "p3"}
    assert a.applied_batches() == {0, 1, 2}


def test_interleaved_writers_without_race_serialize(spark, tmp_path):
    """Non-overlapping interleaved writers (each reads after the other's
    commit) serialize naturally into consecutive versions."""
    store = str(tmp_path / "store")
    a = UpsertSink(spark, store, dedup_batches=True)
    b = UpsertSink(spark, store, dedup_batches=True)
    a(_ev(spark, [("p1", "c", "e1", 1.0, "{}", 10, 0)]), 0)
    b(_ev(spark, [("p2", "c", "e2", 2.0, "{}", 20, 1)]), 1)
    a(_ev(spark, [("p1", "u", "e1b", 1.5, "{}", 30, 2)]), 2)
    b(_ev(spark, [("p2", "d", None, None, None, 40, 3)]), 3)
    assert a._versions() == [0, 1, 2, 3]
    rows = {r["pk"]: r["event_type"] for r in a.current().collect()}
    assert rows == {"p1": "e1b"}
    # both sinks read one shared ledger
    assert b.applied_batches() == {0, 1, 2, 3}


def test_threaded_writers_race_one_commit_wins(spark, tmp_path):
    """TRUE concurrency: two sinks commit from two driver threads with no
    coordination. Allowed outcomes: they serialize (consecutive versions)
    or the loser raises ConcurrentWriteError — never a silent lost update,
    never a duplicate version, never staging garbage."""
    import threading

    from lets_talk_cdc_change_feed_playground_spark.streaming.apply import (
        ConcurrentWriteError,
    )

    store = str(tmp_path / "store")
    a = UpsertSink(spark, store, dedup_batches=True)
    b = UpsertSink(spark, store, dedup_batches=True)
    a(_ev(spark, [("p1", "c", "seed", 1.0, "{}", 10, 0)]), 0)  # v=0

    errors: list[Exception] = []
    barrier = threading.Barrier(2)

    def run(sink, rows, bid):
        df = _ev(spark, rows)
        barrier.wait()
        try:
            sink(df, bid)
        except ConcurrentWriteError as e:
            errors.append(e)

    t1 = threading.Thread(
        target=run, args=(a, [("p2", "c", "from-a", 2.0, "{}", 20, 1)], 1)
    )
    t2 = threading.Thread(
        target=run, args=(b, [("p3", "c", "from-b", 3.0, "{}", 30, 2)], 2)
    )
    t1.start(); t2.start(); t1.join(); t2.join()

    assert len(errors) <= 1  # at most one loser
    vs = a._versions()
    assert vs == list(range(len(vs)))  # consecutive, no duplicate versions
    assert not [d for d in os.listdir(store) if d.startswith("_staging")]
    pks = {r["pk"] for r in a.current().collect()}
    if errors:
        # exactly one committed on top of v=0; the loser's row is absent
        # and a retry lands it
        assert len(vs) == 2 and len(pks) == 2 and "p1" in pks
        loser_rows = {"p2", "p3"} - pks
        (missing,) = loser_rows
        rows = {
            "p2": [("p2", "c", "from-a", 2.0, "{}", 20, 1)],
            "p3": [("p3", "c", "from-b", 3.0, "{}", 30, 2)],
        }[missing]
        (a if missing == "p2" else b)(_ev(spark, rows), 3)
        pks = {r["pk"] for r in a.current().collect()}
    assert pks == {"p1", "p2", "p3"}
