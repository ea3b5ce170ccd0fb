"""Structured Streaming semantics: incremental capture == batch replay.

The ops feed is split into three time-ordered parquet chunks consumed one
file per micro-batch — keyed state must carry row images across batch
boundaries for before-images to match the batch WAL."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators import capture, diffs
from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import ops_feed
from lets_talk_cdc_change_feed_playground_spark.streaming.apply import UpsertSink
from lets_talk_cdc_change_feed_playground_spark.streaming.capture import (
    OPS_SCHEMA,
    log_capture_stream,
)
from lets_talk_cdc_change_feed_playground_spark.streaming.workload import ops_from_counter


class OrderedApplySink:
    """``foreachBatch`` target: apply released transactions in
    ``(commit_ts, lsn)`` order, recording the apply sequence.

    An ordering probe: it collects each micro-batch (already reduced to
    watermark-released transactions) to assert ordering.  The judged path
    applies the same batch distributed (``stream_queries._CommitStoreSink``
    over ``apply.UpsertSink``); the released-txn frame is partitionable by
    pk because per-key apply order equals (commit_ts, lsn) order."""

    def __init__(self):
        self.applied: list[dict] = []
        self.tables: dict[str, dict] = {}
        self._batches: int = 0

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.orderBy("commit_ts", "lsn_min").collect()
        self._batches += 1
        for tx in rows:
            for ev in sorted(tx["events"], key=lambda e: e["tx_index"]):
                if ev["op"] == "delete":
                    self.tables.pop(ev["pk"], None)
                else:
                    self.tables[ev["pk"]] = ev["payload"]
            self.applied.append(
                {
                    "tx_id": tx["tx_id"],
                    "commit_ts": tx["commit_ts"],
                    "batch": self._batches,
                }
            )


@pytest.fixture(scope="module")
def ops_chunks_dir(spark, sf_dir, tmp_path_factory):
    """The sf0.001 ops feed written as 3 time-ordered parquet chunk files."""
    out = str(tmp_path_factory.mktemp("ops_chunks"))
    ops = ops_feed(spark, sf_dir).orderBy("t", "seq").collect()
    n = len(ops)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        chunk = spark.createDataFrame(ops[cuts[i] : cuts[i + 1]], schema=OPS_SCHEMA)
        chunk.coalesce(1).write.parquet(os.path.join(out, f"chunk{i}"))
    # flatten part files into one dir with deterministic lexicographic order
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    for i in range(3):
        d = os.path.join(out, f"chunk{i}")
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
    return flat


def _run_stream(spark, src_df, sink_fn=None, out_name=None):
    if sink_fn is not None:
        q = src_df.writeStream.outputMode("append").foreachBatch(sink_fn).start()
    else:
        q = (
            src_df.writeStream.outputMode("append")
            .format("memory")
            .queryName(out_name)
            .start()
        )
    q.processAllAvailable()
    q.stop()


def test_streaming_log_capture_matches_batch(spark, sf_dir, ops_chunks_dir):
    """C1 streaming: events emitted across 3 micro-batches equal the batch
    WAL (op codes + before/after images), proving state carries over."""
    src = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(ops_chunks_dir)
    )
    _run_stream(spark, log_capture_stream(src), out_name="stream_events")
    got = spark.table("stream_events")

    want = capture.log_capture(spark, sf_dir)
    cols = [
        "op",
        "pk",
        "before_event_type",
        "before_value",
        "before_props",
        "after_event_type",
        "after_value",
        "after_props",
        "ts_ms",
        "tx_id",
    ]
    assert got.count() == want.count()
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0


def test_streaming_upsert_sink_converges(spark, sf_dir, ops_chunks_dir, tmp_path):
    """A1/S9 streaming: the foreachBatch upsert store ends equal to the batch
    replay fold of the full log."""
    store = str(tmp_path / "store")
    src = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(ops_chunks_dir)
    )
    sink = UpsertSink(spark, store)
    _run_stream(spark, log_capture_stream(src), sink_fn=sink)

    got = sink.current().select("pk", "event_type", "value", "props")
    want = diffs.replay_state(capture.log_capture(spark, sf_dir), ["ts_ms", "lsn"]).select(
        "pk", "event_type", "value", "props"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_workload_generator_deterministic(spark):
    """S4: same counter range ⇒ identical ops; op mix is 4:1:1."""
    a = ops_from_counter(spark.range(600), counter="id").collect()
    b = ops_from_counter(spark.range(600), counter="id").collect()
    assert a == b
    ops = [r["op"] for r in a]
    assert ops.count("insert") == 400
    assert ops.count("update") == 100
    assert ops.count("delete") == 100
    assert all(0 <= int(r["pk"]) < 50 for r in a)


@pytest.fixture(scope="module")
def commit_chunks_dir(spark, tmp_path_factory):
    """Txn-complete events with commit drift across micro-batches: TX-C
    commits earlier than TX-B but arrives a batch later."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.apply_on_commit import (
        COMMIT_EVENT_SCHEMA,
    )

    out = str(tmp_path_factory.mktemp("commit_chunks"))
    chunks = [
        [  # batch 1
            ("TX-A", 0, 60_000, 1, "p1", "insert", "a"),
            ("TX-B", 0, 300_000, 2, "p2", "insert", "b0"),
            ("TX-B", 1, 300_000, 3, "p3", "insert", "b1"),
        ],
        [  # batch 2: TX-C drifted late but commits BEFORE TX-B
            ("TX-C", 0, 240_000, 4, "p2", "update", "c0"),
            ("TX-D", 0, 600_000, 5, "p4", "insert", "d0"),
        ],
        [  # batch 3: heartbeat pushes the watermark past everything real
            ("TX-E", 0, 1_000_000, 6, "p5", "insert", "e0"),
        ],
    ]
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, COMMIT_EVENT_SCHEMA).coalesce(1).write.parquet(
            os.path.join(out, f"c{i}")
        )
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    for i in range(len(chunks)):
        d = os.path.join(out, f"c{i}")
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
    return flat


def test_apply_on_commit_stream(spark, commit_chunks_dir):
    """A3 streaming: the watermark floor holds drifted transactions until
    nothing earlier can arrive; apply order is (commit_ts, lsn) regardless of
    arrival order."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.apply_on_commit import (
        COMMIT_EVENT_SCHEMA,
        gate_on_commit_floor,
    )

    src = (
        spark.readStream.schema(COMMIT_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(commit_chunks_dir)
    )
    gated = gate_on_commit_floor(src, tick_ms=60_000, delay="2 minutes")
    sink = OrderedApplySink()
    q = gated.writeStream.outputMode("append").foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    order = [a["tx_id"] for a in sink.applied]
    # TX-E's window never closes (watermark stops at 880k): floor holds it
    assert "TX-E" not in order
    assert set(order) == {"TX-A", "TX-B", "TX-C", "TX-D"}
    # commit order respected: drift-late TX-C applies before TX-B
    commits = [a["commit_ts"] for a in sink.applied]
    assert commits == sorted(commits)
    assert order.index("TX-C") < order.index("TX-B")
    # final state: TX-C's update to p2 won (applied after TX-B? no — C
    # commits earlier, so B's insert of p2 wins)
    assert sink.tables["p2"] == "b0"


def test_cdc_pipeline_lifecycle(spark, sf_dir, ops_chunks_dir, tmp_path):
    """C5: IDLE → SNAPSHOTTING → TAILING → PAUSED → TAILING → STOPPED, with
    the snapshot batch applied before the stream and snapshot_rows counted."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.controller import (
        PAUSED,
        STOPPED,
        TAILING,
        CDCPipeline,
    )

    store = str(tmp_path / "ctl_store")
    snapshot = spark.createDataFrame(
        [("999999", "c", None, None, None, "seed", 1.0, "{}", 0, "snapshot-999999")],
        "pk string, op string, before_event_type string, before_value double, "
        "before_props string, after_event_type string, after_value double, "
        "after_props string, ts_ms long, tx_id string",
    ).withColumn("seq", F.lit(-1).cast("long"))
    sink = UpsertSink(spark, store)

    def stream_factory():
        src = (
            spark.readStream.schema(OPS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(ops_chunks_dir)
        )
        return log_capture_stream(src)

    pipe = CDCPipeline(snapshot, stream_factory, sink)
    pipe.start()
    assert pipe.state == TAILING
    assert pipe.metrics["snapshot_rows"] == 1
    pipe.drain()
    pipe.pause()
    assert pipe.state == PAUSED
    pipe.resume()
    pipe.drain()
    pipe.stop()
    assert pipe.state == STOPPED
    assert pipe.metrics["starts"] == 2

    # snapshot row survived (no later op touches pk 999999) and stream applied
    final = sink.current()
    assert final.filter(F.col("pk") == "999999").count() == 1
    assert final.count() > 1


def test_streaming_polling_capture_matches_batch(spark, sf_dir, ops_chunks_dir):
    """C2 streaming: emitted poll events equal the batch polling capture
    minus each key's final (still-pending) poll window — the reference's
    lastSync semantics carried across micro-batches."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.polling import (
        polling_capture_stream,
    )

    src = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(ops_chunks_dir)
    )
    _run_stream(
        spark,
        polling_capture_stream(src, include_soft_deletes=True),
        out_name="stream_polls",
    )
    got = spark.table("stream_polls")

    # a pending window flushes when ANY later-window op for the key arrives
    # (even a no-op update advances the clock), so the expected set is the
    # batch events in windows strictly before the key's last op's window
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
        POLL_MS,
        ops_feed,
    )

    batch = capture.polling_capture(spark, sf_dir, include_soft_deletes=True)
    last_any = (
        ops_feed(spark, sf_dir)
        .groupBy("pk")
        .agg(F.max(F.expr(f"t div {POLL_MS}")).alias("__last_w"))
    )
    want = (
        batch.join(last_any, "pk")
        .filter(F.expr(f"poll_ts_ms div {POLL_MS}") - 1 < F.col("__last_w"))
        .drop("__last_w")
    )

    cols = [c for c in want.columns]
    assert got.count() == want.count()
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0


def test_streaming_trigger_capture_matches_batch(spark, sf_dir, ops_chunks_dir):
    """C3 streaming: audit events equal the batch trigger capture (modulo
    audit_seq/emitted_at, which belong to the extract schedule)."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.polling import (
        trigger_capture_stream,
    )

    src = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(ops_chunks_dir)
    )
    _run_stream(spark, trigger_capture_stream(src), out_name="stream_audit")
    got = spark.table("stream_audit")

    want = capture.trigger_capture(spark, sf_dir)
    cols = [
        "op", "pk",
        "before_event_type", "before_value", "before_props",
        "after_event_type", "after_value", "after_props",
        "commit_ts_ms", "tx_id",
    ]
    assert got.count() == want.count()
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0


def test_checkpointed_pause_resume_exactly_once(spark, tmp_path):
    """A7/A8 with a checkpoint: pause mid-stream, new files arrive while
    stopped, resume picks up from committed offsets — every op processed
    exactly once, no replay of the pre-pause batches."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.controller import CDCPipeline
    from lets_talk_cdc_change_feed_playground_spark.streaming.workload import ops_from_counter

    src_dir = str(tmp_path / "live_ops")
    os.makedirs(src_dir)
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")

    def write_chunk(name, lo, hi):
        ops_from_counter(spark.range(lo, hi), counter="id").coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    write_chunk("a", 0, 120)

    seen_batches = []
    sink = UpsertSink(spark, store)

    def counting_sink(df, batch_id):
        seen_batches.append((batch_id, df.count()))
        sink(df, batch_id)

    def factory():
        src = (
            spark.readStream.schema(OPS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return log_capture_stream(src)

    pipe = CDCPipeline(None, factory, counting_sink, checkpoint=ckpt)
    pipe.start()
    pipe.drain()
    pipe.pause()
    n_before = sum(n for _, n in seen_batches)
    assert n_before == 120

    write_chunk("b", 120, 200)  # arrives while paused
    pipe.resume()
    pipe.drain()
    pipe.stop()

    total = sum(n for _, n in seen_batches)
    assert total == 200  # no replay of the first 120 ops
    # final store equals a full batch replay of the same generated workload
    want = diffs.replay_state(
        capture.log_capture_ops(ops_from_counter(spark.range(200), counter="id")),
        ["ts_ms", "lsn"],
    ).select("pk", "event_type", "value", "props")
    got = sink.current().select("pk", "event_type", "value", "props")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_full_txn_pipeline_chained(spark, tmp_path):
    """A5 + A3 in ONE streaming query: txn assembly (keyed state) feeds the
    watermark commit-floor gate directly; a txn that completes late but
    commits early still applies in commit order, and partial/unfinalized
    txns never reach the sink."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.apply_on_commit import (
        gate_on_commit_floor,
    )
    from lets_talk_cdc_change_feed_playground_spark.streaming.txn import (
        TXN_EVENT_SCHEMA,
        assemble_transactions,
    )

    src_dir = str(tmp_path / "chain_src")
    os.makedirs(src_dir)
    chunks = [
        [  # batch 1: A complete, B partial
            ("TX-A", 0, 2, 100_000, "p1", "insert", "a0"),
            ("TX-A", 1, 2, 100_000, "p2", "insert", "a1"),
            ("TX-B", 0, 2, 300_000, "p3", "insert", "b0"),
        ],
        [  # batch 2: B completes; C commits BEFORE B but arrives later
            ("TX-B", 1, 2, 300_000, "p4", "insert", "b1"),
            ("TX-C", 0, 1, 200_000, "p1", "update", "c0"),
        ],
        [  # batch 3: heartbeat advances the watermark past A/B/C
            ("TX-Z", 0, 1, 2_000_000, "p9", "insert", "z0"),
        ],
    ]
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, TXN_EVENT_SCHEMA).coalesce(1).write.parquet(
            os.path.join(src_dir, f"c{i}")
        )
    flat = os.path.join(src_dir, "flat")
    os.makedirs(flat)
    for i in range(len(chunks)):
        d = os.path.join(src_dir, f"c{i}")
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))

    src = (
        spark.readStream.schema(TXN_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    assembled = assemble_transactions(src)
    events = assembled.select(
        "tx_id",
        "tx_index",
        (F.col("t") + 100).alias("commit_ts"),
        F.col("t").alias("lsn"),
        "pk",
        "op",
        "payload",
    )
    gated = gate_on_commit_floor(events, tick_ms=60_000, delay="2 minutes")
    sink = OrderedApplySink()
    q = gated.writeStream.outputMode("append").foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    order = [a["tx_id"] for a in sink.applied]
    assert set(order) == {"TX-A", "TX-B", "TX-C"}  # Z held by the floor
    commits = [a["commit_ts"] for a in sink.applied]
    assert commits == sorted(commits)
    assert order.index("TX-C") < order.index("TX-B")
    # C (commit 200100) applied after A's insert: p1 ends at c0
    assert sink.tables["p1"] == "c0"
    assert sink.tables["p4"] == "b1"


def test_judged_stream_queries_match_batch(spark, sf_dir):
    """The two judged streaming entries agree with their batch equivalents."""
    from lets_talk_cdc_change_feed_playground_spark.streaming import stream_queries as sq
    from lets_talk_cdc_change_feed_playground_spark.plans.relational import dsum

    wal = sq.stream_log_capture(spark, sf_dir)
    batch = capture.log_capture(spark, sf_dir)
    assert wal.count() == batch.count()
    cols = ["op", "pk", "before_value", "after_value", "ts_ms", "tx_id"]
    assert wal.select(*cols).exceptAll(batch.select(*cols)).count() == 0

    hourly = sq.stream_hourly_stats(spark, sf_dir)
    want = (
        ops_feed(spark, sf_dir)
        .groupBy(
            F.date_format(F.timestamp_millis((F.col("t") / 3600000).cast("long") * 3600000),
                          "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
    )
    assert hourly.count() == want.count()
    assert hourly.exceptAll(want).count() == 0


def test_bucketed_assembler_equals_per_key(spark, tmp_path):
    """The bucket-keyed A5 variant releases exactly the per-key operator's
    set — including a txn that straddles micro-batches — and never emits a
    partial transaction."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.txn import (
        TXN_EVENT_SCHEMA,
        assemble_transactions,
        assemble_transactions_bucketed,
    )

    src_dir = str(tmp_path / "bkt_src")
    chunks = [
        [
            ("TX-A", 0, 2, 100_000, "p1", "insert", "a0"),
            ("TX-A", 1, 2, 100_000, "p2", "insert", "a1"),
            ("TX-B", 0, 3, 300_000, "p3", "insert", "b0"),
        ],
        [
            ("TX-B", 1, 3, 300_000, "p4", "insert", "b1"),
            ("TX-C", 0, 1, 200_000, "p1", "update", "c0"),
        ],
        [
            ("TX-B", 2, 3, 300_000, "p5", "delete", "b2"),
            ("TX-D", 0, 2, 400_000, "p6", "insert", "d0"),  # stays partial
        ],
    ]
    flat = os.path.join(src_dir, "flat")
    os.makedirs(flat)
    for i, rows in enumerate(chunks):
        d = os.path.join(src_dir, f"c{i}")
        spark.createDataFrame(rows, TXN_EVENT_SCHEMA).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))

    results = []
    for op in (assemble_transactions, assemble_transactions_bucketed):
        src = (
            spark.readStream.schema(TXN_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )
        out = str(tmp_path / f"out_{op.__name__}")
        ck = str(tmp_path / f"ck_{op.__name__}")
        q = (
            op(src)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = sorted(
            tuple(r) for r in spark.read.parquet(out).collect()
        )
        results.append(rows)

    assert results[0] == results[1]
    released = {r[0] for r in results[0]}
    assert released == {"TX-A", "TX-B", "TX-C"}  # D incomplete, withheld


def test_stream_sessionize_state_spans_batches(spark, sf_dir):
    """Sessions open at a chunk boundary must absorb the next micro-batch's
    events: every op lands in exactly one emitted session."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.stream_queries import (
        stream_sessionize,
    )
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import ops_feed

    sessions = stream_sessionize(spark, sf_dir)
    agg = sessions.agg(
        F.sum("n_events").alias("n"), F.count(F.lit(1)).alias("s")
    ).first()
    n_ops = ops_feed(spark, sf_dir).count()
    assert agg.n == n_ops
    assert 0 < agg.s < n_ops


def test_streams_run_in_the_stream_session(spark, tmp_path):
    """A stream started through the family runner runs its micro-batches in
    the stream session at ``STREAM_PARTS`` shuffle partitions, while the
    caller's session keeps its own partition count throughout."""
    from lets_talk_cdc_change_feed_playground_spark.streaming import (
        stream_queries as SQ,
    )
    from lets_talk_cdc_change_feed_playground_spark.streaming.runtime import (
        STREAM_PARTS,
        read_chunks,
    )

    key = "spark.sql.shuffle.partitions"
    own = spark.conf.get(key)
    feed = str(tmp_path / "feed")
    spark.range(10).coalesce(1).write.parquet(feed)
    seen = []

    def record(bdf: DataFrame, bid: int) -> None:
        seen.append((spark.conf.get(key), bdf.sparkSession.conf.get(key)))

    def start():
        src = read_chunks(spark, "id LONG", feed, 1)
        return src.writeStream.foreachBatch(record).start(), {}

    SQ._run_streams([start])
    assert seen == [(own, str(STREAM_PARTS))]
    assert spark.conf.get(key) == own


def test_streams_checkpoint_under_the_session_root(spark, sf_dir, monkeypatch):
    """The memory-sink aggregations (``stream_hourly_stats``,
    ``stream_sessionize``) and the ``stream_backpressure`` audit stream each
    start with a ``checkpointLocation`` under the session scratch root.  A
    stream without one makes Spark create a temporary checkpoint under
    ``java.io.tmpdir``, outside the root that ``clear_shared()`` deletes."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from lets_talk_cdc_change_feed_playground_spark.operators.shared import (
        scratch_dir,
    )
    from lets_talk_cdc_change_feed_playground_spark.streaming import (
        stream_queries as SQ,
    )
    from lets_talk_cdc_change_feed_playground_spark.streaming.runtime import (
        read_chunks,
    )

    root = os.path.dirname(scratch_dir(spark, "sg_probe_"))
    options: dict[int, dict] = {}
    started: list[dict] = []
    option, start = DataStreamWriter.option, DataStreamWriter.start

    def record_option(self, key, value):
        options.setdefault(id(self), {})[key] = value
        return option(self, key, value)

    def record_start(self, *args, **kwargs):
        started.append({**options.get(id(self), {}), **kwargs})
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "option", record_option)
    monkeypatch.setattr(DataStreamWriter, "start", record_start)

    chunks = SQ._ops_chunks(spark, sf_dir)
    for agg in (SQ._hourly_agg, SQ._sessionize_agg):
        q, _table = SQ._start_complete(
            agg(read_chunks(spark, OPS_SCHEMA, chunks, None))
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    SQ.stream_backpressure(spark, sf_dir)
    assert len(started) == 3
    for opts in started:
        ckpt = opts.get("checkpointLocation", "")
        assert ckpt.startswith(root + os.sep), opts
