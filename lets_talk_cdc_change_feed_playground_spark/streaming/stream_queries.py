"""Judged Structured Streaming queries — the streaming engine hash-checked.

Every other streaming proof in this repo lives in pytest; the 21 judged
streams here (every ``stream_*`` query plus ``cdc_restart_convergence``) put
REAL streaming jobs inside the oracle correctness gate: each feed is
staged once as a chunk feed (time-split parquet chunk files, the contract in
``streaming/runtime.py``), consumed a few files per micro-batch (the
micro-batch trigger playing the reference's fetch-interval role,
``sim/engines/LogEngine.ts:10``), pushed through streaming stateful
operators, and the final sink table is returned for the DuckDB hash compare.
Two examples:

- ``stream_log_capture`` — C1 incrementally: per-key row-image state crosses
  micro-batch boundaries (``applyInPandasWithState``), so before-images are
  only correct if state carryover works. Oracle = the batch WAL SQL.
- ``stream_hourly_stats`` — stateful windowed aggregation (1-hour tumbling
  event-time windows) accumulated across micro-batches, complete output mode
  so the emitted result equals the batch aggregation exactly. (Append-mode
  watermark emission — where late windows are withheld until the watermark
  passes — is exercised in ``tests/test_streaming.py``; its emission set
  depends on micro-batch boundaries, which would make a hash oracle encode
  chunking internals rather than query semantics.)

Scale notes: staging time-split chunks is the local stand-in for a Kafka
topic (per-partition time order) — at 100 TB the same queries read
``spark.readStream.format("kafka")`` and the memory sinks become Delta
tables; nothing else changes. The chunk staging itself is distributed (a
chunk id per row + one partitioned write), never a driver collect.
"""

from __future__ import annotations

import functools
import itertools
import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators.shared import (
    local_df,
    memo,
    scratch_dir,
)
from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
    OPS_SQL,
    ops_feed,
)
from lets_talk_cdc_change_feed_playground_spark.streaming import runtime
from lets_talk_cdc_change_feed_playground_spark.streaming.apply import (
    UpsertSink,
    VersionedStore,
)
from lets_talk_cdc_change_feed_playground_spark.streaming.capture import (
    OPS_SCHEMA,
    log_capture_stream,
)
from lets_talk_cdc_change_feed_playground_spark.streaming.runtime import (
    chunk_feed,
    quantile_chunks,
    read_chunks,
    stream_session,
)
from lets_talk_cdc_change_feed_playground_spark.streaming.schema_stream import (
    STREAM_SCHEMA_EVOLUTION_SQL,
    stream_schema_evolution,
)

# The batching knobs N_CHUNKS and MAX_FILES_PER_TRIGGER are read as
# ``runtime.<knob>`` at call time, so the batching fuzz's patches reach them.

# stream_ivm_join stages one file per maintenance epoch and takes three per
# trigger (two triggers for six epochs): epochs still fold one at a time
# inside its sink and state still crosses a batch boundary, but the stream
# machinery (trigger planning, checkpoint commit, source listing) runs per
# TRIGGER — six triggers' worth of it was a third of the query's wall time
_IVM_FILES_PER_TRIGGER = 3


_sink_ids = itertools.count()


@chunk_feed("ops", order=["t", "seq"])
def _ops_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ops feed as time-split chunks, oldest first, so the file source
    replays them in event-time order (per-key order across batches — the
    same guarantee a keyed Kafka topic gives per partition)."""
    return quantile_chunks(ops_feed(spark, sf_dir), "t")


# ---------------------------------------------------------------------------
# Shared streaming family runs
#
# The reference harness runs ONE consumer loop feeding ALL verification
# queries (``harness/verifier/index.js:248-285``) — it never replays the
# topic once per metric.  The Spark twin: judged streaming jobs that share a
# staged feed share one streaming pass.  Three families:
#
# - ``ops``    — the ops-feed consumers.  The keyed-state C1 capture runs
#   ONCE and its WAL micro-batches fan out to every sink that consumes them
#   (WAL table, upsert MERGE, SCD2 dimension); the other ops-feed streams
#   (polling/trigger capture, windowed aggs, KMV state, ack join) are
#   independent stateful operators, started together so the engine drives
#   them concurrently — one harness pass, not nine topic replays.
# - ``commit`` — the commit-floor gate runs ONCE; its released micro-batches
#   fan out to the release table and the keyed MERGE store.
# - ``solo``   — streams on private feeds with nothing to share but the
#   pass itself (txn assembly, watermark dedup, rate limit, docs dedup,
#   index maintenance, erasure); started together, drained together.
#
# Every feed is a chunk feed (the contract in ``streaming/runtime.py``).  A
# family builds every member's stream frame, which stages its feed, before
# it starts any query.  A family's artifacts (output dirs, sink objects) are
# staged once per session in the registry (operators/shared.py), keyed by
# every input they depend on: the feed, the chunk count and the files per
# trigger.  Each judged query assembles its result from its member's
# artifact.  The batching-invariance fuzz varies the two batching inputs, so
# each of its variants runs the whole family — fan-out and all — once, beside
# the judged run: the fuzz covers the judged path itself.
# ---------------------------------------------------------------------------


def _start_append(stream_df: DataFrame, prefix: str):
    """Start an append-mode stream into a parquet sink; returns (query, dir)."""
    out = scratch_dir(stream_df.sparkSession, f"{prefix}_out_")
    ckpt = scratch_dir(stream_df.sparkSession, f"{prefix}_ckpt_")
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    return q, out


def _start_complete(stream_df: DataFrame):
    """Start a complete-mode aggregation into a memory sink; returns
    (query, table_name) — complete-mode state is one row per group,
    driver-sized by construction.  The table is a view of the stream
    session: read it through ``stream_session(spark)``."""
    name = f"sg_stream_sink_{next(_sink_ids)}"
    ckpt = scratch_dir(stream_df.sparkSession, f"{name}_ckpt_")
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    return q, name


def _start_store(sink_cls, name: str, stream_df: DataFrame):
    """Start a checkpointed stream (a capture or a plain feed) into a fresh
    ``sink_cls`` store on the batch-id ledger; returns (query, sink)."""
    spark = stream_df.sparkSession
    store = scratch_dir(spark, f"sg_{name}_store_")
    sink = sink_cls(spark, store, dedup_batches=True)
    q = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", scratch_dir(spark, f"sg_{name}_ckpt_"))
        .foreachBatch(sink)
        .start()
    )
    return q, sink


def _member(name: str, start, *args):
    """A family start for one member: runs ``start(*args)`` (returning
    ``(query, artifact)``) and names the artifact."""

    def run():
        q, art = start(*args)
        return q, {name: art}

    return run


def _run_streams(starts: list) -> dict:
    """Run a family's streams to completion CONCURRENTLY.

    Each ``start`` callable starts one streaming query and returns
    ``(query, {member: artifact})``.  The streaming engine drives every
    started query on its own thread, so N members cost ~max(member walls),
    not their sum; ``processAllAvailable`` is then a sequential drain
    barrier over already-running queries."""
    qs, arts = [], {}
    try:
        for start in starts:
            q, frag = start()
            qs.append(q)
            arts.update(frag)
        for q in qs:
            q.processAllAvailable()
    finally:
        for q in qs:
            try:
                q.stop()
            except Exception:
                pass
    return arts


def _family(spark: SparkSession, sf_dir: str, fam: str) -> dict:
    """Every member artifact of family ``fam``, from its one session pass."""
    key = ("family", sf_dir, fam, runtime.N_CHUNKS, runtime.MAX_FILES_PER_TRIGGER)
    return memo(spark, key, lambda: _FAMILY_RUNNERS[fam](spark, sf_dir))


def _ops_family(spark: SparkSession, sf_dir: str) -> dict:
    """One pass over the staged ops feed for its nine judged consumers."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.polling import (
        polling_capture_stream,
        trigger_capture_stream,
    )

    chunks = _ops_chunks(spark, sf_dir)

    def src() -> DataFrame:
        return read_chunks(spark, OPS_SCHEMA, chunks, runtime.MAX_FILES_PER_TRIGGER)

    def start_wal_fanout(capture: DataFrame):
        # the C1 keyed-state capture runs ONCE; each WAL micro-batch fans
        # out to every consumer of the capture stream
        ss = stream_session(spark)
        wal_dir = scratch_dir(spark, "sg_fam_wal_")
        upsert_dir = scratch_dir(spark, "sg_upsert_store_")
        upsert = UpsertSink(ss, upsert_dir, dedup_batches=True)
        scd2 = _Scd2Sink(ss, scratch_dir(spark, "sg_scd2_store_"), dedup_batches=True)

        def fanout(bdf: DataFrame, bid: int) -> None:
            bdf.persist()
            try:
                bdf.write.mode("append").parquet(wal_dir)
                upsert(bdf, bid)
                scd2(bdf, bid)
            finally:
                bdf.unpersist()

        q = (
            capture.writeStream.outputMode("append")
            .option("checkpointLocation", scratch_dir(spark, "sg_fam_wal_ckpt_"))
            .foreachBatch(fanout)
            .start()
        )
        return q, {"wal_dir": wal_dir, "upsert_sink": upsert, "scd2_sink": scd2}

    return _run_streams(
        [
            functools.partial(start_wal_fanout, log_capture_stream(src())),
            _member(
                "poll_dir",
                _start_append,
                polling_capture_stream(src(), include_soft_deletes=True),
                "sg_fam_poll",
            ),
            _member(
                "trig_dir", _start_append, trigger_capture_stream(src()), "sg_fam_trig"
            ),
            _member("hourly_table", _start_complete, _hourly_agg(src())),
            _member("sess_table", _start_complete, _sessionize_agg(src())),
            _member(
                "kmv_dir", _start_append, _kmv_stream(spark, sf_dir), "sg_fam_kmv"
            ),
            _member(
                "enrich_dir",
                _start_append,
                _enrich_stream(spark, sf_dir),
                "sg_fam_enrich",
            ),
        ]
    )


def _commit_family(spark: SparkSession, sf_dir: str) -> dict:
    """One pass of the commit-floor gate for both its judged consumers."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.apply_on_commit import (
        COMMIT_EVENT_SCHEMA,
        gate_on_commit_floor,
    )

    chunks = _commit_chunks(spark, sf_dir)

    def start():
        src = read_chunks(
            spark, COMMIT_EVENT_SCHEMA, chunks, runtime.MAX_FILES_PER_TRIGGER
        )
        gated = gate_on_commit_floor(
            src, tick_ms=_GATE_TICK_MS, delay=f"{_GATE_DELAY_MS} milliseconds"
        )
        rel_dir = scratch_dir(spark, "sg_fam_rel_")
        sink = _CommitStoreSink(
            stream_session(spark), scratch_dir(spark, "sg_commit_store_")
        )

        def fanout(bdf: DataFrame, bid: int) -> None:
            bdf.persist()
            try:
                bdf.write.mode("append").parquet(rel_dir)
                sink(bdf, bid)
            finally:
                bdf.unpersist()

        q = (
            gated.writeStream.outputMode("append")
            .option("checkpointLocation", scratch_dir(spark, "sg_fam_commit_ckpt_"))
            .foreachBatch(fanout)
            .start()
        )
        return q, {"released_dir": rel_dir, "commit_store_sink": sink}

    return _run_streams([start])


def _solo_family(spark: SparkSession, sf_dir: str) -> dict:
    """Streams on private feeds: nothing to share but the harness pass —
    started together so the engine drives them concurrently."""
    mfpt = runtime.MAX_FILES_PER_TRIGGER
    return _run_streams(
        [
            _member("txn_dir", _start_append, _txn_stream(spark, sf_dir), "sg_fam_txn"),
            _member(
                "dedup_dir", _start_append, _dedup_stream(spark, sf_dir), "sg_fam_dedup"
            ),
            _member(
                "rate_dir", _start_append, _rate_stream(spark, sf_dir), "sg_fam_rate"
            ),
            _member(
                "docs_dedup_dir",
                _start_append,
                _docs_dedup_stream(spark, sf_dir),
                "sg_fam_docsdedup",
            ),
            _member(
                "index_sink",
                _start_store,
                _IndexSink,
                "index",
                read_chunks(
                    spark,
                    "doc_id BIGINT, norm STRING",
                    _doc_text_chunks(spark, sf_dir),
                    mfpt,
                ),
            ),
            _member(
                "erasure_sink",
                _start_store,
                UpsertSink,
                "erasure",
                log_capture_stream(
                    read_chunks(spark, OPS_SCHEMA, _erasure_chunks(spark, sf_dir), mfpt)
                ),
            ),
        ]
    )


_FAMILY_RUNNERS = {
    "ops": _ops_family,
    "commit": _commit_family,
    "solo": _solo_family,
}


def warm_families(spark: SparkSession, sf_dir: str) -> None:
    """Stage every family's shared streaming pass now (bench warmup hook):
    the cost lands in the reported ``staging_sec`` — which since r09 is part
    of the bench's end-to-end headline — so per-query walls are steady-state
    assembly latencies, the same contract as the batch shared-frame warmup
    in bench.py.

    The three families run CONCURRENTLY (one driver thread each): their
    streams are independent (disjoint feeds/sinks) and the streaming engine
    already drives every started query on its own thread, so the warmup wall
    is max(family walls), not their sum (guide §2.6 — overlap independent
    jobs)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(_FAMILY_RUNNERS)) as pool:
        for fu in [
            pool.submit(_family, spark, sf_dir, fam) for fam in _FAMILY_RUNNERS
        ]:
            fu.result()


def stream_log_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 as a streaming job: micro-batches through the keyed-state capture
    operator; the WAL it emits must equal the batch WAL (before-images prove
    state survived the batch boundaries).  One member of the shared ops
    family — the capture pass runs once, its WAL fans out to every
    consumer."""
    wal = spark.read.parquet(_family(spark, sf_dir, "ops")["wal_dir"])
    return wal.select(
        "seq",
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
    ).orderBy("seq")


STREAM_LOG_SQL = (
    "WITH "
    + OPS_SQL
    + """
SELECT seq,
       CASE op WHEN 'insert' THEN 'c' WHEN 'update' THEN 'u' ELSE 'd' END AS op,
       pk,
       CASE WHEN op = 'insert' THEN NULL ELSE lag(CASE WHEN op <> 'delete' THEN event_type END) OVER w END AS before_event_type,
       CASE WHEN op = 'insert' THEN NULL ELSE lag(CASE WHEN op <> 'delete' THEN value END) OVER w END AS before_value,
       CASE WHEN op = 'insert' THEN NULL ELSE lag(CASE WHEN op <> 'delete' THEN props END) OVER w END AS before_props,
       CASE WHEN op <> 'delete' THEN event_type END AS after_event_type,
       CASE WHEN op <> 'delete' THEN value END AS after_value,
       CASE WHEN op <> 'delete' THEN props END AS after_props,
       t AS ts_ms,
       'tx-' || t AS tx_id
FROM src
WINDOW w AS (PARTITION BY pk ORDER BY t, seq)
ORDER BY seq
"""
)


def _hourly_agg(src: DataFrame) -> DataFrame:
    return (
        src.withColumn("ts", F.timestamp_millis(F.col("t")))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


def stream_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful tumbling-window aggregation as a streaming job: hour windows
    accumulate counts/sums across micro-batches; complete mode emits
    the converged state, which must hash-equal the batch GROUP BY."""
    table = _family(spark, sf_dir, "ops")["hourly_table"]
    res = stream_session(spark).table(table)
    return res.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        "sum_value",
    ).orderBy("hour", "event_type")


STREAM_HOURLY_SQL = (
    "WITH "
    + OPS_SQL
    + """
SELECT strftime(to_timestamp(t // 3600000 * 3600), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value
FROM src
GROUP BY 1, 2
ORDER BY hour, event_type
"""
)


def stream_polling_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 as a streaming job — the subtlest engine semantics hash-checked:
    the per-key soft-delete row store lives in keyed state, and a key's
    poll-window event is emitted only when a later-window op proves the
    clock passed the boundary (the reference's ``lastSync`` behaviour), so
    each key's final window stays pending forever. The oracle is therefore
    the batch polling lane MINUS each key's last-op window — expressed
    directly in SQL, not by replaying chunk boundaries."""
    polls = spark.read.parquet(_family(spark, sf_dir, "ops")["poll_dir"])
    return polls.select(
        "poll_ts_ms",
        "op",
        "pk",
        "after_event_type",
        "after_value",
        "after_props",
        "ts_ms",
        "tx_id",
        "method",
    ).orderBy("poll_ts_ms", "pk")


def _stream_poll_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.operators.cdc_queries import (
        POLL_STATE_SQL,
    )
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import POLL_MS

    return (
        "WITH "
        + OPS_SQL
        + ","
        + POLL_STATE_SQL
        + f"""
SELECT p.poll_ts_ms, p.op, p.pk, p.after_event_type, p.after_value,
       p.after_props, p.ts_ms, p.tx_id, p.method
FROM polled_soft p
JOIN (SELECT pk, max(t // {POLL_MS}) AS lw FROM src GROUP BY pk) l USING (pk)
WHERE p.poll_ts_ms // {POLL_MS} - 1 < l.lw
ORDER BY p.poll_ts_ms, p.pk
"""
    )


def stream_trigger_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 as a streaming job — completes the capture-engine trio in both
    execution modes: the audit trigger emits synchronously per op with
    ``commit_ts = t + overhead`` and the trigger before-image rules (deleted
    rows keep data, updates revive). Keyed state carries the row image so
    before-images survive micro-batch boundaries. Oracle = the batch audit
    lane minus ``audit_seq``/``emitted_at_ms``, which belong to the extract
    schedule, not the capture semantics."""
    audit = spark.read.parquet(_family(spark, sf_dir, "ops")["trig_dir"])
    return audit.select(
        "seq",
        "op",
        "pk",
        "before_event_type",
        "before_value",
        "before_props",
        "after_event_type",
        "after_value",
        "after_props",
        "commit_ts_ms",
        "tx_id",
        "method",
    ).orderBy("seq")


def _stream_trigger_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
        OVERHEAD_MS,
    )

    return (
        "WITH "
        + OPS_SQL
        + f"""
SELECT seq,
       CASE op WHEN 'insert' THEN 'c' WHEN 'update' THEN 'u' ELSE 'd' END AS op,
       pk,
       CASE WHEN op = 'insert' THEN NULL ELSE last_value(CASE WHEN op <> 'delete' THEN event_type END IGNORE NULLS) OVER wprev END AS before_event_type,
       CASE WHEN op = 'insert' THEN NULL ELSE last_value(CASE WHEN op <> 'delete' THEN value END IGNORE NULLS) OVER wprev END AS before_value,
       CASE WHEN op = 'insert' THEN NULL ELSE last_value(CASE WHEN op <> 'delete' THEN props END IGNORE NULLS) OVER wprev END AS before_props,
       CASE WHEN op <> 'delete' THEN event_type END AS after_event_type,
       CASE WHEN op <> 'delete' THEN value END AS after_value,
       CASE WHEN op <> 'delete' THEN props END AS after_props,
       t + {OVERHEAD_MS} AS commit_ts_ms,
       'tx-' || (t + {OVERHEAD_MS}) AS tx_id,
       'trigger' AS method
FROM src
WINDOW wprev AS (PARTITION BY pk ORDER BY t, seq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
ORDER BY seq
"""
    )


def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/A1 as a streaming job — the MERGE sink materialization
    hash-checked: the chunked ops stream runs through the keyed-state log
    capture into the ``foreachBatch`` upsert sink (versioned-parquet MERGE, a
    miniature of Delta commit versioning, idempotent per batch); the sink's
    final table must equal the batch replay fold of the full WAL."""
    sink = _family(spark, sf_dir, "ops")["upsert_sink"]
    return (
        sink.current()
        .select("pk", "event_type", "value", "props")
        .orderBy("pk")
    )


def _stream_upsert_sql() -> str:
    return (
        "WITH "
        + OPS_SQL
        + """
SELECT pk,
       CASE WHEN op <> 'delete' THEN event_type END AS event_type,
       CASE WHEN op <> 'delete' THEN value END AS value,
       CASE WHEN op <> 'delete' THEN props END AS props
FROM (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY t DESC, seq DESC) AS rn
  FROM src
)
WHERE rn = 1 AND op <> 'delete'
ORDER BY pk
"""
    )


_HB_TX = "__heartbeat__"
_GATE_TICK_MS = 60_000
_GATE_DELAY_MS = 3_600_000  # >> the bus's max commit-vs-arrival inversion


@chunk_feed("commit", order=["delivery_ts", "lsn"], drop=["delivery_ts"], tail=True)
def _commit_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drop-free bus feed as arrival-ordered chunks (split on
    ``delivery_ts``, so drift-late events cross micro-batch boundaries),
    plus a heartbeat tail that drives the final watermark past every real
    commit window. The heartbeat's own window stays withheld forever — only
    real transactions are ever released."""
    from lets_talk_cdc_change_feed_playground_spark.operators import playground as pg

    bus = pg.bus_feed(spark, sf_dir, drop_p=0.0)
    ev = bus.select(
        "tx_id",
        F.col("tx_idx").cast("int").alias("tx_index"),
        "commit_ts",
        "lsn",
        "pk",
        "op",
        F.col("event_type").alias("payload"),
        "delivery_ts",
    )
    heartbeat = ev.agg(
        (F.max("commit_ts") + _GATE_DELAY_MS + 2 * _GATE_TICK_MS).alias("commit_ts")
    ).select(
        F.lit(_HB_TX).alias("tx_id"),
        F.lit(0).alias("tx_index"),
        "commit_ts",
        F.lit(-1).cast("long").alias("lsn"),
        F.lit("-").alias("pk"),
        F.lit("c").alias("op"),
        F.lit("-").alias("payload"),
        F.lit(None).cast("long").alias("delivery_ts"),
        F.lit(runtime.N_CHUNKS).alias("__chunk"),
    )
    return quantile_chunks(ev, "delivery_ts").unionByName(heartbeat)


def stream_apply_on_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 as a streaming job — the commit-floor barrier hash-checked: the
    drop-free bus stream (drift-late events crossing micro-batch boundaries)
    runs through the watermark-gated commit-window state op
    (:func:`..streaming.apply_on_commit.gate_on_commit_floor`); a
    transaction is released only when the watermark — the floor — proves
    nothing earlier-committing can still arrive.

    The released *set* is chunking-independent (the watermark delay exceeds
    the bus's worst commit-vs-arrival inversion, so nothing is ever
    late-dropped), and the apply schedule over it is the deterministic
    (commit_ts, lsn) order the sink uses — assigned with the two-phase
    global sequence, never a single-task window. Oracle = per-transaction
    grouping of the same bus feed in SQL."""
    from lets_talk_cdc_change_feed_playground_spark.functions.sequence import (
        with_global_seq,
    )

    released = spark.read.parquet(
        _family(spark, sf_dir, "commit")["released_dir"]
    ).filter(F.col("tx_id") != _HB_TX)
    seq = with_global_seq(
        released.select("tx_id", "commit_ts", "lsn_min", "n_events"),
        F.expr("commit_ts div 3600000"),
        ["commit_ts", "lsn_min", "tx_id"],
        out_col="apply_seq",
    )
    return seq.select(
        "apply_seq", "tx_id", "commit_ts", "lsn_min", "n_events"
    ).orderBy("apply_seq")


def _stream_apply_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.operators.playground_queries import (
        _bus_sql,
    )

    return (
        "WITH "
        + OPS_SQL
        + ","
        + _bus_sql(0)
        + """
, txg AS (
  SELECT tx_id, min(commit_ts) AS commit_ts, CAST(min(lsn) AS BIGINT) AS lsn_min,
         count(*) AS n_events
  FROM bus GROUP BY tx_id
)
SELECT row_number() OVER (ORDER BY commit_ts, lsn_min, tx_id) AS apply_seq,
       tx_id, commit_ts, lsn_min, n_events
FROM txg
ORDER BY apply_seq
"""
    )


class _CommitStoreSink(UpsertSink):
    """``foreachBatch`` target for the DISTRIBUTED apply-on-commit path: the
    watermark-released transactions of each micro-batch are exploded to row
    events and merged into the versioned-parquet keyed store of
    :class:`..streaming.apply.UpsertSink` — no ``collect()`` anywhere in the
    applied path (the collecting ``OrderedApplySink`` in
    ``tests/test_streaming.py`` is a unit-test ordering probe only).

    Ordering audit (the reason a per-batch sort is unnecessary): the
    commit-floor gate releases whole commit windows in watermark order, so
    consecutive batches carry disjoint, increasing commit ranges — asserted
    here as two scalars per batch (min/max commit_ts vs the driver-held
    floor); WITHIN a batch the merge fold orders per key by
    ``(commit_ts, lsn)``.  Together: per-key apply order == global
    ``(commit_ts, lsn)`` order, distributed."""

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, path)
        self.floor: int | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        ev = (
            batch_df.filter(F.col("tx_id") != _HB_TX)
            .select("commit_ts", F.explode("events").alias("e"))
            .select(
                F.col("e.pk").alias("pk"),
                F.when(F.col("e.op") == "delete", F.lit("d"))
                .otherwise(F.lit("u"))
                .alias("op"),
                F.col("e.payload").alias("after_event_type"),
                F.lit(None).cast("double").alias("after_value"),
                F.lit(None).cast("string").alias("after_props"),
                F.col("commit_ts").alias("ts_ms"),
                F.col("e.lsn").alias("seq"),
            )
        )
        # NOTE: folding these two scalars into the merge write as an
        # Observation deadlocks — merge_batch consumes the batch frame in
        # several plan branches, so the CollectMetrics node is not executed
        # exactly once. One cheap dedicated action per batch stays.
        bounds = ev.agg(
            F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi")
        ).first()
        if bounds["lo"] is None:
            return  # heartbeat-only / empty release
        if self.floor is not None and bounds["lo"] <= self.floor:
            raise RuntimeError(
                f"commit floor violated: batch {batch_id} released "
                f"commit_ts {bounds['lo']} <= applied floor {self.floor}"
            )
        super().__call__(ev, batch_id)
        self.floor = int(bounds["hi"])


def stream_apply_commit_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A1 end-to-end, fully distributed: the watermark-gated commit-floor
    release feeds :class:`_CommitStoreSink`, which MERGEs every released
    transaction's row events into a versioned keyed store
    (:func:`..streaming.apply.merge_batch` — the S9 sink) ordered by
    ``(commit_ts, lsn)``; the judged output is the FINAL MATERIALIZED TABLE,
    which must equal the batch last-writer-wins fold of the drop-free bus.

    This is the production shape of apply-on-commit (reference:
    ``src/changefeed/model.ts:208-217`` floor + ``src/domain/storage.ts:
    133-164`` apply): the floor is the watermark, the apply is a keyed MERGE
    per micro-batch, ordering is guaranteed by floor monotonicity ACROSS
    batches (audited, scalar per batch) and the merge sort WITHIN them —
    never a driver-side sort or collect."""
    sink = _family(spark, sf_dir, "commit")["commit_store_sink"]
    store = sink.current()
    return store.select(
        "pk",
        F.col("event_type").alias("payload"),
        F.col("ts_ms").alias("commit_ts"),
        F.col("seq").alias("lsn"),
    ).orderBy("pk")


def _stream_apply_store_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.operators.playground_queries import (
        _bus_sql,
    )

    return (
        "WITH "
        + OPS_SQL
        + ","
        + _bus_sql(0)
        + """
, ev AS (
  SELECT pk, op, event_type, commit_ts, CAST(lsn AS BIGINT) AS lsn FROM bus
),
r AS (
  SELECT ev.*, row_number() OVER (PARTITION BY pk ORDER BY commit_ts DESC, lsn DESC) AS rn
  FROM ev
)
SELECT pk, event_type AS payload, commit_ts, lsn
FROM r WHERE rn = 1 AND op <> 'delete'
ORDER BY pk
"""
    )


@chunk_feed("docs", order=["doc_id"])
def _docs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` as doc_id-range chunks (hash precomputed JVM-side) —
    the arrival order of an ingestion stream."""
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("content_hash"),
    )
    return quantile_chunks(d, "doc_id")


def _docs_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed-state first-seen dedup stream (see stream_docs_dedup)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    in_schema = StructType(
        [StructField("doc_id", LongType()), StructField("content_hash", StringType())]
    )
    out_schema = StructType(
        [
            StructField("content_hash", StringType()),
            StructField("keeper_doc_id", LongType()),
        ]
    )
    state_schema = StructType([StructField("seen", LongType())])

    def first_seen(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            return iter(())
        keeper = None
        for pdf in pdf_iter:
            lo = int(pdf["doc_id"].min())
            keeper = lo if keeper is None else min(keeper, lo)
        state.update((1,))
        return iter(
            [pd.DataFrame({"content_hash": [key[0]], "keeper_doc_id": [keeper]})]
        )

    src = read_chunks(
        spark, in_schema, _docs_chunks(spark, sf_dir), runtime.MAX_FILES_PER_TRIGGER
    )
    return src.groupBy("content_hash").applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_docs_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time exact dedup as a streaming job — the keyed-state
    first-seen filter a 100 TB training-data pipeline runs at intake:
    content hashes arrive across micro-batches; per-hash state admits only
    the first batch that presents the hash (keeper = its lowest doc_id) and
    suppresses every later duplicate, across batch boundaries.

    Deterministic because the chunks are doc_id ranges replayed in order, so
    the first batch holding a hash also holds its global minimum doc_id; the
    oracle is the batch ``GROUP BY`` min."""
    res = spark.read.parquet(_family(spark, sf_dir, "solo")["docs_dedup_dir"])
    return res.orderBy("content_hash")


def _stream_docs_dedup_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        NORM_SQL,
    )

    return f"""
SELECT content_hash, CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM (SELECT doc_id, md5({NORM_SQL}) AS content_hash FROM documents)
GROUP BY content_hash
ORDER BY content_hash
"""


@chunk_feed("txn", order=["delivery_ts", "lsn"], drop=["delivery_ts", "lsn"])
def _txn_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drop-free bus as *arrival-ordered* chunks shaped for the A5
    assembler (tx metadata + payload).  Splitting on ``delivery_ts`` means
    drift-late transactions straddle micro-batch boundaries — the
    assembler's keyed buffer must carry them across batches."""
    from lets_talk_cdc_change_feed_playground_spark.operators import playground as pg

    bus = pg.bus_feed(spark, sf_dir, drop_p=0.0)
    ev = bus.select(
        "tx_id",
        F.col("tx_idx").cast("int").alias("tx_index"),
        F.col("tx_total").cast("int").alias("tx_total"),
        F.col("commit_ts").alias("t"),
        "pk",
        "op",
        F.col("event_type").alias("payload"),
        "delivery_ts",
        "lsn",
    )
    return quantile_chunks(ev, "delivery_ts")


def _txn_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lets_talk_cdc_change_feed_playground_spark.streaming.txn import (
        TXN_EVENT_SCHEMA,
        assemble_transactions_bucketed,
    )

    src = read_chunks(
        spark,
        TXN_EVENT_SCHEMA,
        _txn_chunks(spark, sf_dir),
        runtime.MAX_FILES_PER_TRIGGER,
    )
    return assemble_transactions_bucketed(src)


def stream_txn_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 as a judged streaming job: the drop-free bus replays in *arrival*
    order (drift-late transactions cross micro-batch boundaries) through the
    keyed-state assembler
    (:func:`..streaming.txn.assemble_transactions_bucketed`) —
    a transaction's events surface only once its buffer is complete, in
    index order, never torn.  With no drops every transaction eventually
    completes, so the released set is chunking-independent and the oracle is
    the per-transaction SQL grouping of the same bus feed."""
    assembled = spark.read.parquet(_family(spark, sf_dir, "solo")["txn_dir"])
    return assembled.select(
        "tx_id", "tx_index", "tx_total", "t", "pk", "op", "payload", "n_events"
    ).orderBy("tx_id", "tx_index")


def _stream_txn_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.operators.playground_queries import (
        _bus_sql,
    )

    return (
        "WITH "
        + OPS_SQL
        + ","
        + _bus_sql(0)
        + """
SELECT tx_id,
       CAST(tx_idx AS INT) AS tx_index,
       CAST(tx_total AS INT) AS tx_total,
       commit_ts AS t, pk, op,
       event_type AS payload,
       CAST(tx_total AS INT) AS n_events
FROM bus
ORDER BY tx_id, tx_index
"""
    )


_BP_CHUNKS = 5


@chunk_feed("bp", order=["rn"], drop=["rn"], count=lambda spark, sf_dir: _BP_CHUNKS)
def _equal_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ops feed as ``_BP_CHUNKS`` *equal-row-count* chunks (the
    per-trigger intake quantum), replayed one per micro-batch."""
    from lets_talk_cdc_change_feed_playground_spark.functions.sequence import (
        with_global_seq,
    )

    ops = with_global_seq(
        ops_feed(spark, sf_dir), F.expr("t div 3600000"), ["t", "seq"], out_col="rn"
    )
    cap = (ops.count() + _BP_CHUNKS - 1) // _BP_CHUNKS
    return ops.withColumn("__chunk", F.expr(f"cast((rn - 1) div {cap} as int)"))


def stream_backpressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backpressure as a judged streaming job: intake is paced to one chunk
    file per micro-batch (``maxFilesPerTrigger`` — the file-source analogue
    of Kafka's ``maxOffsetsPerTrigger`` / the reference's ``maxApplyPerTick``
    cap, ``src/changefeed/model.ts:249``), and ``foreachBatch`` audits what
    each trigger actually consumed.  The output is the drain timeline — per
    batch: consumed rows, the cap, cumulative progress, remaining backlog,
    and whether the trigger respected the cap.  The oracle derives the same
    timeline arithmetically from the total row count; the streaming run must
    land on it exactly for the hash to match."""
    path = _equal_chunks(spark, sf_dir)
    counts: list[tuple[int, int]] = []

    def audit(batch_df: DataFrame, batch_id: int) -> None:
        counts.append((batch_id, batch_df.count()))

    # pinned to 1, NOT runtime.MAX_FILES_PER_TRIGGER: one equal-row chunk per
    # trigger IS the backpressure cap being judged (the oracle derives the
    # timeline from that quantum) — an execution knob elsewhere, semantics here
    src = read_chunks(spark, OPS_SCHEMA, path, 1)
    q = (
        src.writeStream.outputMode("append")
        .option("checkpointLocation", scratch_dir(spark, "sg_bp_ckpt_"))
        .foreachBatch(audit)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    nonzero = [c for _, c in sorted(counts) if c > 0]
    total = sum(nonzero)
    cap = (total + _BP_CHUNKS - 1) // _BP_CHUNKS
    rows, cum = [], 0
    for i, c in enumerate(nonzero):
        cum += c
        rows.append((i, c, cap, cum, total - cum, c <= cap))
    return local_df(
        spark,
        rows,
        "batch_seq long, consumed long, cap long, cum_consumed long, "
        "backlog_after long, within_cap boolean",
    ).orderBy("batch_seq")


def _stream_backpressure_sql() -> str:
    return (
        "WITH "
        + OPS_SQL
        + f"""
, tot AS (
  SELECT count(*) AS n,
         CAST((count(*) + {_BP_CHUNKS - 1}) // {_BP_CHUNKS} AS BIGINT) AS cap
  FROM src
)
SELECT CAST(i AS BIGINT) AS batch_seq,
       CAST(least(cap, n - i*cap) AS BIGINT) AS consumed,
       cap,
       CAST(least((i+1)*cap, n) AS BIGINT) AS cum_consumed,
       CAST(n - least((i+1)*cap, n) AS BIGINT) AS backlog_after,
       TRUE AS within_cap
FROM tot, generate_series(0, {_BP_CHUNKS - 1}) g(i)
WHERE n - i*cap > 0
ORDER BY batch_seq
"""
    )


def _sessionize_agg(src: DataFrame) -> DataFrame:
    return (
        src.withColumn("ts", F.timestamp_millis(F.col("t")))
        .groupBy(F.session_window("ts", "2 hours").alias("win"), "pk")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("session_value"),
        )
    )


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session windows as a streaming job: ``session_window`` with
    a 2 h inactivity gap merges per-key sessions whose state spans the three
    micro-batches (a session open at a chunk boundary must absorb the next
    chunk's events).  Complete mode emits the converged session set, which
    must hash-equal the batch gaps-and-islands segmentation — Spark merges a
    new event into an open session iff ``t - last_t <= gap`` (window end is
    inclusive, verified empirically), exactly the batch rule's complement
    ``new_session = diff > gap`` (``plans/relational.py:events_sessionize``).

    At 100 TB the same query reads a keyed Kafka topic and runs in append
    mode with a watermark; session state is per-key and merge-on-overlap, so
    partitioning and state size are unchanged — only the emission schedule
    (watermark-gated vs final) differs, which is why the judged variant pins
    the converged set, not the emission timeline."""
    table = _family(spark, sf_dir, "ops")["sess_table"]
    res = stream_session(spark).table(table)
    return res.select(
        "pk",
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        "session_value",
    ).orderBy("pk", "session_start")


STREAM_SESSIONIZE_SQL = (
    "WITH "
    + OPS_SQL
    + """
, g AS (
  SELECT pk, seq, t, value,
         CASE WHEN t - lag(t) OVER w > 7200000
                   OR lag(t) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM src
  WINDOW w AS (PARTITION BY pk ORDER BY t, seq)
),
s AS (
  SELECT pk, t, value,
         sum(new_session) OVER (PARTITION BY pk ORDER BY t, seq
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT pk,
       strftime(to_timestamp(min(t) // 1000), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS session_value
FROM s
GROUP BY pk, sid
ORDER BY pk, session_start
"""
)


# ---------------------------------------------------------------------------
# Stream-stream enrichment join (watermarked interval join)
# ---------------------------------------------------------------------------

#: Deterministic ack latency: 1 s base + hash-spread, max < _ACK_MAX_MS.
_ACK_BASE_MS = 1_000
_ACK_SPREAD_MS = 5_000
_ACK_MAX_MS = _ACK_BASE_MS + _ACK_SPREAD_MS


def _ack_ms_col():
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import hash31

    return F.col("t") + _ACK_BASE_MS + hash31(
        F.concat(F.col("pk"), F.lit("@"), F.col("seq").cast("string"))
    ) % _ACK_SPREAD_MS


@chunk_feed("acks", order=["ack_ms", "ack_seq"])
def _ack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delivery-ack stream: one ack per op at ``t + latency``, chunked
    by ACK time against the same cut points as the ops chunks — so acks for
    each chunk's tail ops arrive one micro-batch AFTER the op and the join
    must hold those ops in state across the batch boundary."""
    ops = ops_feed(spark, sf_dir)
    acks = ops.select(F.col("seq").alias("ack_seq"), _ack_ms_col().alias("ack_ms"))
    return quantile_chunks(acks, "ack_ms", cuts_from=(ops, "t"))


def _enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    ops = (
        read_chunks(
            spark, OPS_SCHEMA, _ops_chunks(spark, sf_dir), runtime.MAX_FILES_PER_TRIGGER
        )
        .withColumn("ts", F.timestamp_millis(F.col("t")))
        .withWatermark("ts", "10 seconds")
    )
    ack_schema = StructType(
        [StructField("ack_seq", LongType()), StructField("ack_ms", LongType())]
    )
    acks = (
        read_chunks(
            spark, ack_schema, _ack_chunks(spark, sf_dir), runtime.MAX_FILES_PER_TRIGGER
        )
        .withColumn("ack_ts", F.timestamp_millis(F.col("ack_ms")))
        .withWatermark("ack_ts", "10 seconds")
    )
    return ops.join(
        acks,
        F.expr(
            f"seq = ack_seq AND ack_ts >= ts AND ack_ts <= ts + interval {_ACK_MAX_MS} milliseconds"
        ),
        "inner",
    ).select(
        "seq",
        "pk",
        "event_type",
        F.col("t").alias("t_ms"),
        "ack_ms",
        (F.col("ack_ms") - F.col("t")).alias("latency_ms"),
    )


def stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: ops enriched with their
    delivery acks.

    The ack stream is chunked by ACK time, so every chunk-tail op's ack
    lands in the NEXT micro-batch — the join only converges if the ops side
    is buffered in join state across batch boundaries and released by the
    watermark, never by batch alignment.  Both watermarks lag further than
    the max ack latency, so no pair can be dropped as late: the emitted set
    is exactly one enriched row per op, independent of chunking — which is
    what the DuckDB oracle (a plain batch join) hash-checks."""
    return spark.read.parquet(
        _family(spark, sf_dir, "ops")["enrich_dir"]
    ).orderBy("seq")


def _stream_enrich_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import hash31_sql

    h = hash31_sql("pk || '@' || CAST(seq AS VARCHAR)")
    ack = f"t + {_ACK_BASE_MS} + {h} % {_ACK_SPREAD_MS}"
    return (
        "WITH "
        + OPS_SQL
        + f"""
SELECT seq, pk, event_type, t AS t_ms,
       {ack} AS ack_ms,
       ({ack}) - t AS latency_ms
FROM src
ORDER BY seq
"""
    )


# ---------------------------------------------------------------------------
# Watermarked streaming dedup (dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------


@chunk_feed("dups", order=["t", "seq"])
def _dup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-least-once delivery stream: every op once in its own time
    chunk, plus a re-delivery of the outbox-duplicated ops (same payload,
    same event time) in the NEXT chunk — cross-batch duplicates, the case
    in-batch ``dropDuplicates`` cannot fix."""
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import hash31
    from lets_talk_cdc_change_feed_playground_spark.operators.reliability_queries import (
        OUTBOX_DUP_MOD,
    )

    n = runtime.N_CHUNKS
    base = quantile_chunks(ops_feed(spark, sf_dir), "t")
    dup_cond = (
        hash31(F.concat(F.col("pk"), F.lit(":"), F.col("seq").cast("string")))
        % OUTBOX_DUP_MOD
        == 0
    )
    # the outbox-duplicated ops re-deliver into the NEXT chunk (cross-batch
    # duplicates); duplicates of the last chunk have no next chunk — except
    # in the single-chunk degenerate case, where they re-deliver in place
    dups = base.filter(dup_cond).withColumn(
        "__chunk", F.col("__chunk") + (0 if n == 1 else 1)
    ).filter(F.col("__chunk") <= n - 1)
    return base.unionByName(dups)


def _dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        read_chunks(
            spark, OPS_SCHEMA, _dup_chunks(spark, sf_dir), runtime.MAX_FILES_PER_TRIGGER
        )
        .withColumn("ts", F.timestamp_millis(F.col("t")))
        .withWatermark("ts", "20 days")
    )
    return src.dropDuplicatesWithinWatermark(["seq"]).select(
        "seq", "pk", "op", "event_type", "value", F.col("t").alias("t_ms")
    )


def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once delivery via ``dropDuplicatesWithinWatermark``: the
    at-least-once stream re-delivers the outbox-duplicated ops one
    micro-batch later (same ``seq``, same event time), and the watermarked
    dedup state suppresses them across the batch boundary.  The watermark
    delay exceeds one chunk's time span, so no dedup key is evicted before
    its re-delivery arrives — the emitted set is the canonical once-only
    feed, which is exactly what the oracle (the plain ops feed) checks."""
    return spark.read.parquet(
        _family(spark, sf_dir, "solo")["dedup_dir"]
    ).orderBy("seq")


STREAM_DEDUP_SQL = (
    "WITH "
    + OPS_SQL
    + """
SELECT seq, pk, op, event_type, value, t AS t_ms
FROM src
ORDER BY seq
"""
)


# ---------------------------------------------------------------------------
# Streaming KMV distinct sketch (incremental mergeable summary)
# ---------------------------------------------------------------------------


def _kmv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-day keyed-state KMV update stream (see stream_kmv_sketch)."""
    import json as _json

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from lets_talk_cdc_change_feed_playground_spark.functions.sketch_queries import (
        DAY_MS,
        KMV_K,
        KMV_P,
    )
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import hash31

    keyed_schema = StructType(
        [StructField("day", LongType()), StructField("h", LongType())]
    )
    out_schema = StructType(
        [
            StructField("day", LongType()),
            StructField("version", IntegerType()),
            StructField("hashes_json", StringType()),
        ]
    )
    state_schema = StructType(
        [StructField("version", IntegerType()), StructField("hashes_json", StringType())]
    )

    def update(key, pdf_iter, state: "GroupState"):
        (day,) = key
        if state.exists:
            version, hj = state.get
            hs = set(_json.loads(hj))
        else:
            version, hs = 0, set()
        for pdf in pdf_iter:
            hs.update(int(x) for x in pdf["h"])
            hs = set(sorted(hs)[:KMV_K])  # K-min lattice: prune eagerly
        keep = sorted(hs)[:KMV_K]
        state.update((version + 1, _json.dumps(keep)))
        yield pd.DataFrame(
            [{"day": day, "version": version + 1, "hashes_json": _json.dumps(keep)}]
        )

    src = read_chunks(
        spark, OPS_SCHEMA, _ops_chunks(spark, sf_dir), runtime.MAX_FILES_PER_TRIGGER
    )
    keyed = src.select(
        F.expr(f"t div {DAY_MS}").alias("day"),
        hash31(F.concat(F.col("pk"), F.lit(":"), F.col("event_type")), mod=KMV_P).alias("h"),
    )
    return keyed.groupBy("day").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV distinct sketch maintained *incrementally*: per-day keyed
    state holds the K smallest distinct hashes across micro-batches (K-min
    is a semilattice merge, so arrival order and batching cannot change the
    result), and the final state must equal the batch sketch —
    ``events_kmv_distinct``'s oracle verbatim.  This is the streaming face
    of the mergeable-summaries suite: the same sketch a 100 TB ingest
    pipeline keeps per partition and merges at query time."""
    from lets_talk_cdc_change_feed_playground_spark.functions.sketch_queries import (
        KMV_K,
        KMV_P,
    )

    got = spark.read.parquet(_family(spark, sf_dir, "ops")["kmv_dir"])

    # Final sketch per day = the last emitted state version; everything
    # below operates on sketch rows (K per day), mirroring the batch query.
    wlast = W.partitionBy("day").orderBy(F.desc("version"))
    final = (
        got.withColumn("rn", F.row_number().over(wlast))
        .filter("rn = 1")
        .select(
            "day",
            F.explode(F.from_json("hashes_json", "array<long>")).alias("h"),
        )
    )
    merged = (
        final.select("h")
        .distinct()
        .withColumn("rk", F.row_number().over(W.orderBy("h")))
        .filter(F.col("rk") <= KMV_K)
        .select(F.lit(-1).cast("long").alias("day"), "h")
    )
    union = final.unionByName(merged)
    est = union.groupBy("day").agg(
        F.count(F.lit(1)).alias("kmv_n"), F.max("h").alias("kth_min")
    )
    return est.select(
        "day",
        "kmv_n",
        "kth_min",
        F.when(F.col("kmv_n") >= KMV_K, F.expr(f"{(KMV_K - 1) * KMV_P}L div kth_min"))
        .otherwise(F.col("kmv_n").cast("long"))
        .alias("est_distinct"),
    ).orderBy("day")


def _stream_kmv_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.functions.sketch_queries import _KMV_SQL

    # identical semantics, but keyed off the ops feed's (pk, event_type) —
    # which IS (user_id, event_type); the batch oracle applies verbatim.
    return _KMV_SQL


@chunk_feed("rate", order=["delivery_ts", "lsn"])
def _rate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delivered bus events as chunks split on ``delivery_ts`` —
    per-partition delivery order is preserved across micro-batch boundaries
    (every chunk holds a contiguous delivery-time range), the property the
    rate-limit recurrence needs, and the same one a keyed Kafka topic gives
    per partition."""
    from lets_talk_cdc_change_feed_playground_spark.operators import playground as pg

    ev = (
        pg.bus_feed(spark, sf_dir)
        .filter(~F.col("dropped"))
        .select("lsn", "txn_id", "pk", "partition", "delivery_ts")
    )
    return quantile_chunks(ev, "delivery_ts")


_RATE_PER_TICK = 8  # service slots per tick — matches the batch A6 query


def _rate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 as a REAL streaming job: the token-bucket consumer rate limit runs
    as per-partition keyed state across micro-batches.

    The batch query (``cdc_rate_limited_consume``) computes the service-queue
    closed form ``slot_i = i + max_{j<=i}(tick_j·R − j)`` with two-phase
    bucketed windows; streaming keeps ONE number per bus partition — the last
    assigned service slot ``u`` — and applies the recurrence the closed form
    solves, ``u_i = max(u_{i-1} + 1, tick_i·R)``, event by event inside
    ``applyInPandasWithState``.  A chunk boundary mid-burst means the queue
    carry-over (``u`` ahead of the next event's tick) must survive in state
    for the timeline to match; the emitted (consume_tick, queue_delay_ms) per
    event must hash-equal the batch closed form exactly.

    Scale: state is one long per bus partition; per-batch work is the sorted
    fold over that partition's new events — the same shape a production
    rate-limited consumer has (per-partition FIFO + O(1) state)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from lets_talk_cdc_change_feed_playground_spark.operators import playground as pg

    tick_ms = pg.TICK_MS
    in_schema = StructType(
        [
            StructField("lsn", LongType()),
            StructField("txn_id", LongType()),
            StructField("pk", StringType()),
            StructField("partition", LongType()),
            StructField("delivery_ts", LongType()),
        ]
    )
    out_schema = StructType(
        [
            *in_schema.fields,
            StructField("consume_tick", LongType()),
            StructField("queue_delay_ms", LongType()),
        ]
    )
    state_schema = StructType([StructField("u", LongType())])
    cols = [f.name for f in out_schema.fields]

    def drain(key, pdf_iter, state: "GroupState"):
        (part,) = key
        u = state.get[0] if state.exists else None
        out: list[dict] = []
        # Arrow delivers a key's batch slice as MULTIPLE frames once it
        # exceeds maxRecordsPerBatch — sort the whole slice, never per frame
        # (per-frame sorting silently breaks the running-max recurrence the
        # first time a group passes ~10k rows; found by the sf0.1 sweep).
        pdfs = list(pdf_iter)
        if not pdfs:  # timeout invocations deliver an empty iterator
            return
        whole = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        for pdf in [whole]:
            pdf = pdf.sort_values(["delivery_ts", "lsn"])
            for row in pdf.itertuples(index=False):
                base = (row.delivery_ts // tick_ms) * _RATE_PER_TICK
                u = base if u is None else max(u + 1, base)
                ct = (u // _RATE_PER_TICK) * tick_ms
                out.append(
                    {
                        "lsn": row.lsn,
                        "txn_id": row.txn_id,
                        "pk": row.pk,
                        "partition": part,
                        "delivery_ts": row.delivery_ts,
                        "consume_tick": ct,
                        "queue_delay_ms": ct - row.delivery_ts,
                    }
                )
        state.update((int(u),))
        yield pd.DataFrame(out, columns=cols)

    src = read_chunks(
        spark, in_schema, _rate_chunks(spark, sf_dir), runtime.MAX_FILES_PER_TRIGGER
    )
    return src.groupBy("partition").applyInPandasWithState(
        drain, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged face of :func:`_rate_stream` — the emitted per-event
    (consume_tick, queue_delay_ms) timeline must hash-equal the batch
    closed form exactly."""
    return spark.read.parquet(_family(spark, sf_dir, "solo")["rate_dir"]).orderBy(
        "partition", "consume_tick", "lsn"
    )


def _stream_rate_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.operators import (
        playground_queries as pq,
    )

    return pq.ORACLE["cdc_rate_limited_consume"]


def _ivm_feed(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list, list]:
    """The ops feed tagged with its maintenance epoch, plus the sorted epoch
    list and type vocabulary — derived from the feed scalars ``cdc_ivm_join``
    already stages, so the stream pays no collect of its own."""
    from lets_talk_cdc_change_feed_playground_spark.operators import ivm_queries as IVM

    t0, count_rows = IVM.ivm_meta(spark, sf_dir)
    opse = ops_feed(spark, sf_dir).withColumn(
        "epoch", F.expr(f"(t - {t0}) div {IVM.EPOCH_MS}")
    )
    return (
        opse,
        sorted({e for e, _t, _c in count_rows}),
        sorted({t for _e, t, _c in count_rows}),
    )


@chunk_feed(
    "ivm",
    order=["t", "seq"],
    count=lambda spark, sf_dir: len(_ivm_feed(spark, sf_dir)[1]),
)
def _ivm_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One chunk per maintenance epoch, oldest first (chunk id = the
    epoch's index).  maintain()'s re-delivery guard is keyed on epoch alone,
    which is only sound because an epoch never straddles two staged files
    (half an epoch in a later trigger would be silently skipped) — the
    chunk writer asserts exactly one file per chunk."""
    opse, epochs, _types = _ivm_feed(spark, sf_dir)
    epoch_list = F.array(*[F.lit(int(e)) for e in epochs])
    return opse.withColumn(
        "__chunk", (F.array_position(epoch_list, F.col("epoch")) - 1).cast("int")
    )


def stream_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-rule incremental view maintenance as a STREAMING job.

    The batch twin (``operators/ivm_queries.py:cdc_ivm_join``) computes all
    maintenance epochs set-based; here each epoch arrives as one micro-batch
    (epoch-aligned staged chunks, ``_IVM_FILES_PER_TRIGGER`` per trigger) and
    ``foreachBatch`` applies the counting delta rule
    ``dV = dR join S_old + R_old join dS + dR join dS`` against
    parquet-versioned R/S state tables — the production shape of a
    streaming materialized view: per-batch state read, delta joins, state
    write, monitoring row out.  The emitted per-epoch stats must equal the
    batch query exactly (same oracle), which proves the maintained state
    never drifts from the recomputed truth across batch boundaries.

    Scale notes: the fact-side R state lives in parquet keyed by the same
    column the batch variant shuffles on (pk) and is read ONCE per batch
    (persisted across its three consumers); the dim side S is one row per
    event type — bounded, not data-sized — so it rides in the driver between
    batches exactly like a broadcast variable, and its deltas enter the
    delta-rule joins as broadcasts.  Only scalar stats reach the driver.  At
    100 TB the R state dir becomes a Delta table and the memory accumulators
    a metrics sink — the foreachBatch body is unchanged."""
    from lets_talk_cdc_change_feed_playground_spark.operators import ivm_queries as IVM

    opse, _epochs, all_types = _ivm_feed(spark, sf_dir)
    chunks = _ivm_chunks(spark, sf_dir)

    state_root = scratch_dir(spark, "sg_ivm_state_")
    # Per-epoch bookkeeping for DEFERRED stats: during the stream each BATCH
    # runs exactly ONE action — a single ``partitionBy(version)`` write that
    # commits EVERY epoch's state version at once, carrying each epoch's
    # recompute audit as an observed metric (commit batching, guide §5: the
    # r08 form ran one multi-stage write query per epoch, ~7 jobs and a
    # persist/unpersist round-trip each — the dominant cost was job/plan
    # machinery, not data).  The delta-rule stats are reconstructed AFTER
    # the stream from the immutable on-disk state versions — d_R is the
    # null-safe set difference of consecutive versions (provably the same
    # rows the in-flight delta join produced) and the S deltas are
    # driver-known — so six per-epoch collect() round-trips become one
    # batched aggregate at the end.
    epochs_meta: list[dict] = []
    # The dim side S is tiny by construction (one row per event type), so its
    # state rides in the driver between batches exactly like a broadcast
    # variable — only the arbitrarily large fact side R is parquet-versioned.
    running = {"r_dir": None, "s_state": {}}

    r_schema = "pk string, et string, val double"
    s_schema = "et string, present boolean, bucket long"

    def maintain(bdf: DataFrame, bid: int) -> None:
        # A micro-batch may carry SEVERAL maintenance epochs (delivery
        # batching is an operational knob; the delta rule is batching-
        # invariant — the same oracle pins the per-epoch stats whatever the
        # trigger granularity). Epochs apply sequentially DRIVER-side (the
        # bounded S state folds epoch by epoch), but their R state versions
        # commit in one distributed action.
        from pyspark.sql import Observation

        sp = bdf.sparkSession
        bdf = bdf.persist()
        try:
            count_rows = (
                bdf.groupBy("epoch", "event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            by_epoch: dict[int, dict[str, int]] = {}
            for r in count_rows:
                by_epoch.setdefault(r["epoch"], {})[r["event_type"]] = r["n"]
            # re-delivery guard (UpsertSink's batch-id ledger idea): a crash
            # between sink commit and checkpoint commit re-delivers the
            # batch — without this the same epoch would append twice to
            # epochs_meta (duplicate result rows, double-counted view_rows)
            # while by_epoch_stats silently kept one entry
            seen = {m["epoch"] for m in epochs_meta}
            versions = [e for e in sorted(by_epoch) if e not in seen]
            if not versions:
                return
            r_old_dir = running["r_dir"]
            olds = running["s_state"]

            # -- S deltas for every epoch, oldest first: driver arithmetic
            # over the per-type counts (no executor work), folded
            # sequentially so each epoch sees the S state its predecessor
            # left.  hot_new per epoch feeds the per-version recompute audit
            # observed on the single write below.
            metas: list[dict] = []
            for epoch in versions:
                counts = by_epoch[epoch]
                total = sum(counts.values())
                s_new_rows = [
                    (
                        et,
                        counts.get(et, 0) * IVM.HOT_DEN >= total,
                        counts.get(et, 0) * 1000 // total,
                    )
                    for et in sorted(all_types)
                ]
                ds_rows = []
                for et, present, bucket in s_new_rows:
                    p_present, p_bucket = olds.get(et, (False, None))
                    if p_present and present and p_bucket == bucket:
                        continue
                    if present:
                        ds_rows.append((et, 1, bucket))
                    if p_present:
                        ds_rows.append((et, -1, p_bucket))
                metas.append(
                    {
                        "epoch": int(epoch),
                        "r_old_dir": r_old_dir,
                        "r_new_dir": os.path.join(
                            state_root, f"b{bid}", f"v={epoch}"
                        ),
                        "hot_old": sorted(
                            et for et, (present, _b) in olds.items() if present
                        ),
                        "net_ds": {
                            et: sum(w for e2, w, _b in ds_rows if e2 == et)
                            for et in {e2 for e2, _w, _b in ds_rows}
                        },
                        "d_s_ins": sum(1 for r in ds_rows if r[1] == 1),
                        "d_s_del": sum(1 for r in ds_rows if r[1] == -1),
                        "hot_new": [et for et, present, _b in s_new_rows if present],
                    }
                )
                olds = {et: (present, bucket) for et, present, bucket in s_new_rows}
                r_old_dir = metas[-1]["r_new_dir"]

            # -- R state advance, ALL epochs in one pass: version v's state
            # is the pre-batch base minus keys first touched at or before v,
            # plus each touched key's latest ALIVE image among epochs <= v —
            # exactly the sequential anti-join ∪ last fold, associatively
            # flattened (last-writer-wins per pk).  partitionBy(version)
            # commits every epoch's immutable state dir in ONE job.
            base = (
                # explicit schema: a leaf version dir needs no footer job
                sp.read.schema(r_schema).parquet(running["r_dir"])
                if running["r_dir"]
                else sp.createDataFrame([], r_schema)
            )
            varr = F.array(*[F.lit(int(e)) for e in versions])
            per_pk = bdf.filter(F.col("epoch").isin([int(e) for e in versions])).groupBy(
                "pk", "epoch"
            ).agg(
                F.max_by(
                    F.struct(
                        (F.col("op") != "delete").alias("alive"),
                        F.col("event_type").alias("et"),
                        F.col("value").alias("val"),
                    ),
                    F.col("seq"),
                ).alias("st")
            )
            over = (
                per_pk.select(
                    "pk",
                    "epoch",
                    "st",
                    F.explode(F.filter(varr, lambda v: v >= F.col("epoch"))).alias(
                        "__v"
                    ),
                )
                .groupBy("pk", "__v")
                .agg(F.max_by("st", "epoch").alias("st"))
            )
            batch_part = over.filter("st.alive").select(
                "pk",
                F.col("st.et").alias("et"),
                F.col("st.val").alias("val"),
                "__v",
            )
            # first-touch epoch per key, bounded by the trigger's key count —
            # broadcast so the accumulated base is scanned, never shuffled
            ft = per_pk.groupBy("pk").agg(F.min("epoch").alias("__ft")).select(
                F.col("pk").alias("__fpk"), "__ft"
            )
            base_part = (
                base.join(
                    F.broadcast(ft), base["pk"].eqNullSafe(F.col("__fpk")), "left"
                )
                .select(
                    "pk",
                    "et",
                    "val",
                    F.explode(
                        F.when(
                            F.col("__ft").isNull(), varr
                        ).otherwise(F.filter(varr, lambda v: v < F.col("__ft")))
                    ).alias("__v"),
                )
            )
            all_rows = base_part.unionByName(batch_part).withColumnRenamed(
                "__v", "v"
            )
            # per-version recompute audit ("recount the view from scratch"),
            # observed on the single write — one conditional sum per epoch
            # over its driver-known hot set
            obs = Observation()
            audit_cols = []
            for m in metas:
                hot = m["hot_new"]
                cond = (F.col("v") == m["epoch"]) & (
                    F.col("et").isin(hot) if hot else F.lit(False)
                )
                audit_cols.append(
                    F.coalesce(F.sum(cond.cast("long")), F.lit(0)).alias(
                        f"direct_{m['epoch']}"
                    )
                )
            batch_root = os.path.join(state_root, f"b{bid}")
            all_rows.observe(obs, *audit_cols).write.partitionBy("v").parquet(
                batch_root
            )
            audits = obs.get
            for m in metas:
                m["direct"] = int(audits[f"direct_{m['epoch']}"])
                m.pop("hot_new")
                # an epoch whose state is entirely empty writes no partition
                # dir — materialize an empty (schema-ful) version so the
                # next batch's base read and the deferred stats union still
                # resolve the path
                if not os.path.isdir(m["r_new_dir"]):
                    sp.createDataFrame([], r_schema).repartition(1).write.parquet(
                        m["r_new_dir"]
                    )
                epochs_meta.append(m)
            running["r_dir"] = metas[-1]["r_new_dir"]
            running["s_state"] = olds
        finally:
            bdf.unpersist()

    # the per-batch state joins touch keyed state only, so they run in the
    # stream session at its partition count
    src = read_chunks(spark, opse.schema, chunks, _IVM_FILES_PER_TRIGGER)
    q = (
        src.writeStream.outputMode("append")
        .option("checkpointLocation", scratch_dir(spark, "sg_ivm_ckpt_"))
        .foreachBatch(maintain)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # -- deferred delta-rule stats: ONE batched action over the immutable
    # on-disk state versions. d_R of an epoch is the null-safe row set
    # difference of its two versions (exactly the rows the in-flight delta
    # join would have produced: a touched key contributes its old row to the
    # minus side and its new row to the plus side unless both are identical,
    # i.e. the `same` case); terms 1 and 3 fold the driver-known S-side
    # literals over it, term 2 folds them over the old version.

    # One tagged union over all state versions instead of two anti-joins per
    # epoch: pk is unique within a version, so a row (pk, et, val) appears in
    # a SET of versions; d_R of epoch j is exactly the membership transition
    # between version j-1 and j (plus when it appears, minus when it
    # vanishes — value changes produce one of each via two distinct rows,
    # identical to the null-safe set difference).  The per-epoch S-side
    # literals (hot set before the epoch, net per-type weight change) join in
    # as one tiny broadcast frame.  N_epochs scans, ONE shuffle, one collect.
    by_epoch_stats: dict[int, dict] = {}
    if epochs_meta:
        # Each batch committed its versions under ONE partitioned root
        # (b{bid}/v=<epoch>), so the whole version history reads as a few
        # partition-discovered scans (explicit schema: no footer-inference
        # job per dir) instead of one union leg per epoch.
        epoch_to_j = {m["epoch"]: j for j, m in enumerate(epochs_meta)}
        batch_roots = sorted({os.path.dirname(m["r_new_dir"]) for m in epochs_meta})
        jmap = F.create_map(
            *[F.lit(int(x)) for kv in epoch_to_j.items() for x in kv]
        )
        tagged = functools.reduce(
            DataFrame.unionByName,
            [
                spark.read.schema(r_schema + ", v long").parquet(root)
                for root in batch_roots
            ],
        ).select("pk", "et", "val", jmap[F.col("v").cast("int")].alias("__v"))
        memb = tagged.groupBy("pk", "et", "val").agg(
            F.collect_set("__v").alias("__vs")
        )
        ex = (
            memb.select(
                "et",
                "__vs",
                F.explode(F.sequence(F.lit(0), F.lit(len(epochs_meta) - 1))).alias(
                    "__j"
                ),
            )
            .withColumn("__in_new", F.array_contains("__vs", F.col("__j")).cast("int"))
            .withColumn(
                "__in_old",
                F.when(
                    F.col("__j") > 0, F.array_contains("__vs", F.col("__j") - 1)
                )
                .otherwise(F.lit(False))
                .cast("int"),
            )
            .withColumn("__w", F.col("__in_new") - F.col("__in_old"))
        )
        # driver-known S-side weights per (epoch, type): hot-before flag and
        # net weight change (null et never matches a weight row — left join +
        # coalesce 0 reproduces the isin/element_at null behavior)
        wrows = [
            (j, et, int(et in set(m["hot_old"])), int(m["net_ds"].get(et, 0)))
            for j, m in enumerate(epochs_meta)
            for et in all_types
        ]
        wdf = local_df(spark,
            wrows, "__wj int, __wet string, __hot long, __net long"
        )
        stats = (
            ex.join(
                F.broadcast(wdf),
                (F.col("__j") == F.col("__wj")) & (F.col("et") == F.col("__wet")),
                "left",
            )
            .withColumn("__hot", F.coalesce("__hot", F.lit(0)))
            .withColumn("__net", F.coalesce("__net", F.lit(0)))
            .groupBy("__j")
            .agg(
                F.coalesce(F.sum(F.when(F.col("__w") == 1, 1)), F.lit(0)).alias("i"),
                F.coalesce(F.sum(F.when(F.col("__w") == -1, 1)), F.lit(0)).alias("d"),
                F.coalesce(F.sum(F.col("__w") * F.col("__hot")), F.lit(0))
                .cast("long")
                .alias("t1"),
                F.coalesce(F.sum(F.col("__in_old") * F.col("__net")), F.lit(0))
                .cast("long")
                .alias("t2"),
                F.coalesce(F.sum(F.col("__w") * F.col("__net")), F.lit(0))
                .cast("long")
                .alias("t3"),
            )
        )
        by_epoch_stats = {
            epochs_meta[int(r["__j"])]["epoch"]: r for r in stats.collect()
        }

    _zero = {"i": 0, "d": 0, "t1": 0, "t2": 0, "t3": 0}
    results: list[tuple] = []
    view_rows = 0
    for m in epochs_meta:
        # an epoch absent from the stats frame touched no state rows at all
        s = by_epoch_stats.get(m["epoch"], _zero)
        dv_net = int(s["t1"]) + int(s["t2"]) + int(s["t3"])
        view_rows += dv_net
        results.append(
            (
                m["epoch"], int(s["i"]), int(s["d"]), m["d_s_ins"], m["d_s_del"],
                dv_net, view_rows, m["direct"], view_rows == m["direct"],
            )
        )
    return local_df(
        spark,
        results,
        "epoch long, d_r_ins long, d_r_del long, d_s_ins long, d_s_del long,"
        " dv_net long, view_rows long, view_rows_direct long, converged boolean",
    ).orderBy("epoch")


QUERIES = {
    "stream_ivm_join": stream_ivm_join,
    "stream_rate_limit": stream_rate_limit,
    "stream_kmv_sketch": stream_kmv_sketch,
    "stream_enrich_join": stream_enrich_join,
    "stream_dedup_watermark": stream_dedup_watermark,
    "stream_sessionize": stream_sessionize,
    "stream_txn_assembly": stream_txn_assembly,
    "stream_backpressure": stream_backpressure,
    "stream_log_capture": stream_log_capture,
    "stream_hourly_stats": stream_hourly_stats,
    "stream_polling_capture": stream_polling_capture,
    "stream_trigger_capture": stream_trigger_capture,
    "stream_upsert_sink": stream_upsert_sink,
    "stream_apply_on_commit": stream_apply_on_commit,
    "stream_apply_commit_store": stream_apply_commit_store,
    "stream_docs_dedup": stream_docs_dedup,
}

def _stream_ivm_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.operators import ivm_queries as IVM

    return IVM.ORACLE["cdc_ivm_join"]


ORACLE = {
    "stream_ivm_join": _stream_ivm_sql(),
    "stream_rate_limit": _stream_rate_sql(),
    "stream_kmv_sketch": _stream_kmv_sql(),
    "stream_enrich_join": _stream_enrich_sql(),
    "stream_dedup_watermark": STREAM_DEDUP_SQL,
    "stream_sessionize": STREAM_SESSIONIZE_SQL,
    "stream_txn_assembly": _stream_txn_sql(),
    "stream_backpressure": _stream_backpressure_sql(),
    "stream_docs_dedup": _stream_docs_dedup_sql(),
    "stream_log_capture": STREAM_LOG_SQL,
    "stream_hourly_stats": STREAM_HOURLY_SQL,
    "stream_polling_capture": _stream_poll_sql(),
    "stream_trigger_capture": _stream_trigger_sql(),
    "stream_upsert_sink": _stream_upsert_sql(),
    "stream_apply_on_commit": _stream_apply_sql(),
    "stream_apply_commit_store": _stream_apply_store_sql(),
}


# ---------------------------------------------------------------------------
# Streaming SCD2 dimension maintenance
# ---------------------------------------------------------------------------


class _Scd2Sink(VersionedStore):
    """``foreachBatch`` target maintaining an SCD type-2 dimension as a
    :class:`..streaming.apply.VersionedStore` (staged-rename commits plus
    the batch-id ledger).

    Per batch: the dimension's open version for every key touched in the
    batch is closed at the key's first batch change; the batch's non-delete
    records open new versions numbered from the key's prior version count
    (state carried across micro-batches — the incremental twin of the
    batch ``cdc_scd2_history`` window fold)."""

    def fold(self, prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        b = batch_df.select(
            "pk", "seq", "op",
            F.col("after_event_type").alias("event_type"),
            F.col("after_value").alias("value"),
            F.col("after_props").alias("props"),
            F.col("ts_ms").alias("valid_from_ms"),
        )
        wb = W.partitionBy("pk").orderBy("valid_from_ms", "seq")
        new_rows = (
            b.select(
                "*",
                F.sum(F.when(F.col("op") != "d", 1).otherwise(0))
                .over(wb)
                .cast("long")
                .alias("dv"),
                F.lead("valid_from_ms").over(wb).alias("valid_to_ms"),
            )
            .filter(F.col("op") != "d")
        )
        if prior is None:
            return new_rows.select(
                "pk",
                F.col("dv").alias("version"),
                "event_type", "value", "props", "valid_from_ms", "valid_to_ms",
                F.col("valid_to_ms").isNull().alias("is_current"),
            )
        else:
            firsts = b.groupBy("pk").agg(F.min("valid_from_ms").alias("__first_ts"))
            closed = prior.join(F.broadcast(firsts), "pk", "left").select(
                "pk", "version", "event_type", "value", "props", "valid_from_ms",
                F.when(
                    F.col("is_current") & F.col("__first_ts").isNotNull(),
                    F.col("__first_ts"),
                )
                .otherwise(F.col("valid_to_ms"))
                .alias("valid_to_ms"),
                (F.col("is_current") & F.col("__first_ts").isNull()).alias("is_current"),
            )
            counts = prior.groupBy("pk").agg(F.max("version").alias("__base"))
            opened = (
                new_rows.join(F.broadcast(counts), "pk", "left")
                .select(
                    "pk",
                    (F.coalesce("__base", F.lit(0)) + F.col("dv")).cast("long").alias("version"),
                    "event_type", "value", "props", "valid_from_ms", "valid_to_ms",
                    F.col("valid_to_ms").isNull().alias("is_current"),
                )
            )
        return closed.unionByName(opened)


def stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history maintained INCREMENTALLY by a streaming job: the
    chunked ops stream runs through the keyed-state C1 capture
    (``applyInPandasWithState``) into a ``foreachBatch`` dimension sink
    that closes open versions and opens new ones per micro-batch.  The
    final dimension must hash-equal the batch ``cdc_scd2_history`` window
    fold over the full WAL (oracle reused) — version numbering, interval
    tiling and current flags must all survive keys whose change chains
    cross micro-batch boundaries.

    Scale notes: the sink's per-batch work is keyed on pk (broadcast of the
    batch's touched-key set against the dimension), exactly a Delta MERGE
    over the SCD2 table; state is parquet-versioned like the upsert sink.
    """
    sink = _family(spark, sf_dir, "ops")["scd2_sink"]
    return (
        sink.current()
        .select(
            "pk", "version", "event_type", "value", "props",
            "valid_from_ms", "valid_to_ms", "is_current",
        )
        .orderBy("pk", "version")
    )


def _stream_scd2_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.operators import cdc_queries as CQ

    return CQ.ORACLE["cdc_scd2_history"]


QUERIES["stream_scd2"] = stream_scd2
ORACLE["stream_scd2"] = _stream_scd2_sql()


# ---------------------------------------------------------------------------
# Streaming inverted-index maintenance
# ---------------------------------------------------------------------------


@chunk_feed("doctext", order=["doc_id"])
def _doc_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents (id + normalized text) as doc_id-range arrival chunks."""
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("norm"),
    )
    return quantile_chunks(d, "doc_id")


class _IndexSink(VersionedStore):
    """``foreachBatch`` target maintaining term statistics (df, total tf) as
    a :class:`..streaming.apply.VersionedStore` — incremental inverted-index
    maintenance: each batch contributes per-term deltas (docs are immutable,
    so deltas only add), merged into the running index by a term-keyed
    aggregate."""

    def fold(self, prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        from lets_talk_cdc_change_feed_playground_spark.functions import textops as T

        tok = batch_df.select(
            "doc_id", F.explode(F.split("norm", " ")).alias("term")
        ).filter((F.length("term") >= 3) & ~F.col("term").isin(*T.STOPWORDS))
        delta = (
            tok.groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .groupBy("term")
            .agg(
                F.count(F.lit(1)).cast("long").alias("df"),
                F.sum("tf").cast("long").alias("total_tf"),
            )
        )
        if prior is None:
            return delta
        return (
            prior.unionByName(delta)
            .groupBy("term")
            .agg(
                F.sum("df").cast("long").alias("df"),
                F.sum("total_tf").cast("long").alias("total_tf"),
            )
        )


def stream_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted index maintained INCREMENTALLY by a streaming job: doc
    chunks arrive one micro-batch at a time; ``foreachBatch`` merges each
    batch's per-term (df, tf) deltas into the versioned index state.  The
    final index must hash-equal the batch postings aggregation over the
    whole corpus — document frequencies only compose across batches if no
    doc is double-counted and no term delta is lost.

    Scale notes: per batch one term-keyed aggregate (map-side combinable)
    + a term-keyed merge with the prior state — exactly a Delta MERGE on
    the index table; state commits through
    :class:`..streaming.apply.VersionedStore`."""
    sink = _family(spark, sf_dir, "solo")["index_sink"]
    return sink.current().select("term", "df", "total_tf").orderBy("term")


def _stream_index_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        DOCS_T_SQL,
        _STOP_LIST,
    )

    return f"""
WITH {DOCS_T_SQL},
tok AS (
  SELECT doc_id, t.term FROM docs_t, UNNEST(toks) AS t(term)
  WHERE length(t.term) >= 3 AND t.term NOT IN ({_STOP_LIST})
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
FROM tf GROUP BY term ORDER BY term
"""


QUERIES["stream_index_maintenance"] = stream_index_maintenance
ORACLE["stream_index_maintenance"] = _stream_index_sql()


# ---------------------------------------------------------------------------
# Streaming erasure propagation (GDPR tombstones through the live path)
# ---------------------------------------------------------------------------


@chunk_feed("erasure", order=["t", "seq"], tail=True)
def _erasure_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The erased feed (pre-request ops + erasure tombstones, the same
    modified feed as the batch ``cdc_gdpr_erasure``) as time-split chunks,
    cut at quantiles of the pre-request ops; the tombstones arrive as the
    tail, their own final micro-batch."""
    from lets_talk_cdc_change_feed_playground_spark.operators.governance_queries import (
        GDPR_MOD,
    )
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import hash31

    ops = ops_feed(spark, sf_dir)
    mx = ops.agg(
        F.min("t").alias("tmin"), F.max("t").alias("tmax"), F.max("seq").alias("smax")
    ).select("*", F.expr("tmin + ((tmax - tmin) * 3) div 4").alias("t_req"))
    base = ops.crossJoin(F.broadcast(mx))
    requested = (
        base.filter(
            (hash31(F.concat(F.lit("gdpr:"), F.col("pk"))) % GDPR_MOD == 0)
            & (F.col("t") <= F.col("t_req"))
        )
        .select("pk")
        .distinct()
    )
    tomb = requested.crossJoin(F.broadcast(mx)).select(
        (F.col("smax") + F.row_number().over(W.orderBy("pk"))).alias("seq"),
        (F.col("t_req") + 1).alias("t"),
        "pk",
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("string").alias("props"),
        F.lit(runtime.N_CHUNKS).alias("__chunk"),
    )
    cols = ["seq", "t", "pk", "op", "event_type", "value", "props"]
    req_flag = requested.withColumn("__req", F.lit(True))
    kept = (
        base.join(F.broadcast(req_flag), "pk", "left")
        .filter((F.col("t") <= F.col("t_req")) | F.col("__req").isNull())
        .select(*cols)
    )
    t_req = mx.select("t_req").first()["t_req"]
    pre = kept.filter(F.col("t") <= t_req)
    return quantile_chunks(kept, "t", cuts_from=(pre, "t")).unionByName(tomb)


def stream_erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erasure through the LIVE path (18th judged streaming job): the
    erased feed streams through the keyed-state C1 capture into the
    ``foreachBatch`` upsert sink; the tombstone micro-batch arrives last
    and must purge every requested key from the materialized state — the
    streaming counterpart of the batch ``cdc_gdpr_erasure`` log-lane
    verdict.  The final sink table must hash-equal the batch replay fold
    of the erased feed (no requested key present), which only holds if
    per-key state ordering and the MERGE's delete branch both work across
    micro-batch boundaries."""
    sink = _family(spark, sf_dir, "solo")["erasure_sink"]
    return (
        sink.current()
        .select("pk", "event_type", "value", "props")
        .orderBy("pk")
    )


def _stream_erasure_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.operators.governance_queries import (
        GDPR_MOD,
        _REQ_HASH,
    )

    return (
        "WITH "
        + OPS_SQL
        + f"""
, mx AS (SELECT max(seq) AS smax,
              min(t) + ((max(t) - min(t)) * 3) // 4 AS t_req
       FROM src),
req AS (
  SELECT DISTINCT pk FROM src, mx
  WHERE t <= t_req AND ({_REQ_HASH}) % {GDPR_MOD} = 0
),
src2 AS (
  SELECT s.seq, s.t, s.pk, s.op, s.event_type, s.value, s.props
  FROM src s, mx
  WHERE s.t <= mx.t_req OR s.pk NOT IN (SELECT pk FROM req)
  UNION ALL
  SELECT mx.smax + row_number() OVER (ORDER BY pk), mx.t_req + 1, pk, 'delete',
         CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
  FROM req, mx
)
SELECT pk,
       CASE WHEN op <> 'delete' THEN event_type END AS event_type,
       CASE WHEN op <> 'delete' THEN value END AS value,
       CASE WHEN op <> 'delete' THEN props END AS props
FROM (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY t DESC, seq DESC) AS rn
  FROM src2
)
WHERE rn = 1 AND op <> 'delete'
ORDER BY pk
"""
    )


QUERIES["stream_erasure_propagation"] = stream_erasure_propagation
ORACLE["stream_erasure_propagation"] = _stream_erasure_sql()


# ---------------------------------------------------------------------------
# Streaming schema-change capture (C4-live) — streaming/schema_stream.py
# ---------------------------------------------------------------------------

QUERIES["stream_schema_evolution"] = stream_schema_evolution
ORACLE["stream_schema_evolution"] = STREAM_SCHEMA_EVOLUTION_SQL


# ---------------------------------------------------------------------------
# S9 crash-recovery: kill mid-run, restart from checkpoint, converge
# ---------------------------------------------------------------------------


class _CrashAfterCommit:
    """foreachBatch wrapper that raises ONCE, immediately after the sink has
    committed ``crash_batch`` but BEFORE Spark records the batch in the
    stream checkpoint — the worst-ordered crash window (state written,
    offsets not): on restart Spark re-delivers the same batch_id and the
    sink's batch-id ledger must make the re-delivery a no-op (the reference
    connector-restart failure scenario,
    ``scenarios/01-canonical-reference/failures/``; dedup rule
    ``sink/consumer.mjs:122-143``)."""

    def __init__(self, sink, crash_batch: int):
        self.sink = sink
        self.crash_batch = crash_batch
        self.fired = False
        self.applies: list[int] = []

    def __call__(self, bdf: DataFrame, bid: int) -> None:
        before = self.sink.applied_batches()
        self.sink(bdf, bid)
        if bid not in before:
            self.applies.append(bid)
        if bid == self.crash_batch and not self.fired:
            self.fired = True
            raise RuntimeError("injected crash: sink committed, checkpoint not")


def cdc_restart_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 crash-recovery, judged: the checkpointed log-capture → upsert-sink
    stream is killed right after batch 1's sink commit (before the stream
    checkpoint records it), restarted from the same checkpoint, and run to
    completion. The restart re-delivers batch 1; the sink's batch-id ledger
    skips it (exactly-once application — enforced here by raising if any
    batch id commits twice), and the final table must STILL equal the batch
    replay fold of the full WAL — the same oracle as the uncrashed
    ``stream_upsert_sink``."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    chunks = _ops_chunks(spark, sf_dir)
    sink = UpsertSink(
        stream_session(spark),
        scratch_dir(spark, "sg_restart_store_"),
        dedup_batches=True,
    )
    wrapper = _CrashAfterCommit(sink, crash_batch=1)
    ckpt = scratch_dir(spark, "sg_restart_ckpt_")

    def start(files_per_trigger: int | None):
        src = read_chunks(spark, OPS_SCHEMA, chunks, files_per_trigger)
        return (
            log_capture_stream(src)
            .writeStream.outputMode("append")
            .foreachBatch(wrapper)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # one file per trigger pins the crash at batch 1; the restart replays
    # the crashed batch exactly as the offset log recorded it, then takes
    # every remaining chunk in ONE batch (the cap is a source option, not
    # checkpoint state) — same re-delivery + dedup proof, fewer triggers
    q = start(files_per_trigger=1)
    try:
        q.processAllAvailable()
        raise AssertionError("injected crash did not fire")
    except StreamingQueryException:
        pass  # the injected mid-run death
    finally:
        q.stop()
    q = start(files_per_trigger=None)  # restart from the SAME checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    if not wrapper.fired:
        raise AssertionError("crash batch never delivered")
    if sorted(wrapper.applies) != sorted(set(wrapper.applies)):
        raise AssertionError(f"a batch applied twice: {wrapper.applies}")
    return (
        sink.current()
        .select("pk", "event_type", "value", "props")
        .orderBy("pk")
    )


QUERIES["cdc_restart_convergence"] = cdc_restart_convergence
ORACLE["cdc_restart_convergence"] = _stream_upsert_sql()
