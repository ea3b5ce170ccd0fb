"""Judged Structured Streaming queries — the streaming engine hash-checked.

Every other streaming proof in this repo lives in pytest; these two entries
put a REAL streaming job inside the driver's correctness gate: the ops feed
is staged once as time-split parquet chunk files, consumed one file per
micro-batch (the micro-batch trigger playing the reference's fetch-interval
role, ``sim/engines/LogEngine.ts:10``), pushed through a streaming stateful
operator, and the final memory-sink table is returned for the DuckDB hash
compare.

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
topic (per-partition time order) — at 100 TB the same two queries read
``spark.readStream.format("kafka")`` and the memory sink becomes a Delta
table; nothing else changes. The chunk staging itself is distributed (range
split on ``t`` + filtered writes), never a driver collect.
"""

from __future__ import annotations

import functools
import itertools
import os
import time

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
from lets_talk_cdc_change_feed_playground_spark.streaming.capture import (
    OPS_SCHEMA,
    log_capture_stream,
)

from lets_talk_cdc_change_feed_playground_spark.streaming.runtime import (  # noqa: E402
    STREAM_PARTS as _STREAM_PARTS,
)

_N_CHUNKS = 3
# intake granularity for every file-source readStream below, in staged chunk
# files per micro-batch.  The judged default is 2: with 3 staged chunks that
# is the minimum honest streaming shape — state still provably crosses a
# micro-batch boundary — at two triggers' machinery instead of three (the
# outputs are proven batching-invariant by tests/test_stream_fuzz.py, which
# varies both knobs at CALL time, including the 1-file-per-trigger extreme).
# stream_backpressure pins its own cap to 1: there the per-trigger quantum
# IS the judged semantics (the drain timeline), not an execution knob.
_MAX_FILES_PER_TRIGGER = 2


def _chunk_feed(kind: str, count=lambda: _N_CHUNKS):
    """Memoise a chunk-feed stager in the session registry.  The key names
    the chunk count, read at call time, so the batching fuzz stages its own
    feeds beside the judged ones instead of clearing them."""

    def deco(build):
        @functools.wraps(build)
        def stage(spark: SparkSession, sf_dir: str) -> str:
            key = (f"{kind}_chunks", sf_dir, count())
            return memo(spark, key, lambda: build(spark, sf_dir))

        return stage

    return deco


def _split_qs() -> list[float]:
    """Quantile cut points that split a feed into ``_N_CHUNKS`` chunks."""
    return [i / _N_CHUNKS for i in range(1, _N_CHUNKS)]


def _mfpt() -> int:
    return _MAX_FILES_PER_TRIGGER

def _pin_chunk(src_path: str, dst_path: str, order: int) -> None:
    """Move a staged chunk file into place with a PINNED strictly-increasing
    mtime. FileStreamSource orders files by modification time (path only
    breaks ties) and os.rename preserves the task-write mtime — two chunks
    written within the same millisecond would otherwise rely on the
    path-order tiebreak for their delivery order."""
    os.rename(src_path, dst_path)
    base = int(_PIN_BASE)
    os.utime(dst_path, (base + order, base + order))


_PIN_BASE = time.time()


def _chunk_id(order_col, cuts: list) -> "F.Column":
    """Chunk index of an order value against quantile cut points = number of
    cuts strictly below it — identical to the (lo, hi] range filters the
    per-chunk writers used."""
    cid = F.lit(0)
    for c in cuts:
        cid = cid + F.when(order_col > F.lit(c), 1).otherwise(0)
    return cid


def _write_split_chunks(df: DataFrame, n_chunks: int, prefix: str) -> str:
    """Write a chunk-tagged frame (int ``__chunk`` in [0, n_chunks)) as one
    pinned-mtime file per chunk in ONE distributed job (repartition on the
    chunk id + dynamic partitioning) instead of one filtered scan+write per
    chunk — the per-chunk writers re-scanned their feed frame n_chunks
    times and serialized n_chunks job round-trips (guide §2.4/§1.2).
    Repartitioning BY the id puts each chunk's rows in exactly one task, so
    every partition dir holds exactly one file; a quantile-degenerate EMPTY
    chunk falls back to a single empty (schema-ful) file, matching what the
    per-chunk writer produced.  Returns the flat chunk dir."""
    sp = df.sparkSession
    out = scratch_dir(sp, prefix)
    pdir = os.path.join(out, "parts")
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    schema = df.drop("__chunk").schema
    df.repartition("__chunk").write.partitionBy("__chunk").parquet(pdir)
    for i in range(n_chunks):
        cdir = os.path.join(pdir, f"__chunk={i}")
        parts = (
            sorted(f for f in os.listdir(cdir) if f.endswith(".parquet"))
            if os.path.isdir(cdir)
            else []
        )
        if not parts:
            cdir = os.path.join(out, f"empty{i}")
            sp.createDataFrame([], schema).coalesce(1).write.parquet(cdir)
            parts = sorted(f for f in os.listdir(cdir) if f.endswith(".parquet"))
        if len(parts) != 1:
            raise AssertionError(
                f"chunk staging: chunk {i} holds {len(parts)} files; "
                "mtime-ordered delivery requires exactly one"
            )
        _pin_chunk(
            os.path.join(cdir, parts[0]), os.path.join(flat, f"{i:02d}.parquet"), i
        )
    return flat


_sink_ids = itertools.count()


@_chunk_feed("ops")
def _ops_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the ops feed as ``_N_CHUNKS`` time-split parquet files, written
    oldest-first so the file source's modification-time ordering replays them
    in event-time order (per-key order across batches — the same guarantee a
    keyed Kafka topic gives per partition)."""
    ops = ops_feed(spark, sf_dir)
    cuts = ops.approxQuantile("t", _split_qs(), 0.001)
    flat = _write_split_chunks(
        ops.withColumn("__chunk", _chunk_id(F.col("t"), cuts)),
        _N_CHUNKS,
        "sg_ops_chunks_",
    )
    return flat


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
# Artifacts (output dirs / sink objects) are staged per session in the
# registry (operators/shared.py); each judged query assembles its result
# from its artifact.
# The batching-invariance fuzz sets ``_FAMILY_ENABLED = False`` to run any
# single member standalone (fresh artifacts, no cache) — exactly the
# pre-family per-query path, so invariance coverage is unchanged.
# ---------------------------------------------------------------------------

_FAMILY_ENABLED = True


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
    driver-sized by construction."""
    name = f"sg_stream_sink_{next(_sink_ids)}"
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    return q, name


def _run_streams(spark: SparkSession, starts: list) -> dict:
    """Run a family's streams to completion CONCURRENTLY.

    Each ``start`` callable starts one streaming query and returns
    ``(query, {member: artifact})``.  The streaming engine drives every
    started query on its own thread, so N members cost ~max(member walls),
    not their sum; ``processAllAvailable`` is then a sequential drain
    barrier over already-running queries."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STREAM_PARTS))
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
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return arts


def _fam_art(spark: SparkSession, sf_dir: str, fam: str, member: str):
    """Artifact for ``member`` of family ``fam`` — the family runs once per
    session (first touch) and every member query assembles from its cached
    artifact.  With families disabled (batching-invariance fuzz), the runner
    executes JUST this member, uncached — the standalone per-query path."""
    if not _FAMILY_ENABLED:
        return _FAMILY_RUNNERS[fam](spark, sf_dir, only=member)[member]
    return _family(spark, sf_dir, fam)[member]


def _family(spark: SparkSession, sf_dir: str, fam: str) -> dict:
    """Every member artifact of family ``fam``, from its one session pass."""
    return memo(
        spark, ("family", sf_dir, fam), lambda: _FAMILY_RUNNERS[fam](spark, sf_dir)
    )


def _ops_family(spark: SparkSession, sf_dir: str, only: str | None = None) -> dict:
    """One pass over the staged ops feed for its nine judged consumers."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.apply import UpsertSink
    from lets_talk_cdc_change_feed_playground_spark.streaming.polling import (
        polling_capture_stream,
        trigger_capture_stream,
    )

    chunks = _ops_chunks(spark, sf_dir)

    def src() -> DataFrame:
        return (
            spark.readStream.schema(OPS_SCHEMA)
            .option("maxFilesPerTrigger", _mfpt())
            .parquet(chunks)
        )

    fanout_members = {"wal_dir", "upsert_sink", "scd2_sink"}
    wanted = {only} if only else fanout_members | {
        "poll_dir",
        "trig_dir",
        "hourly_table",
        "sess_table",
        "kmv_dir",
        "enrich_dir",
    }

    def start_wal_fanout():
        # the C1 keyed-state capture runs ONCE; each WAL micro-batch fans
        # out to every consumer of the capture stream
        want = wanted & fanout_members
        wal_dir = scratch_dir(spark, "sg_fam_wal_") if "wal_dir" in want else None
        upsert = (
            UpsertSink(spark, scratch_dir(spark, "sg_upsert_store_"))
            if "upsert_sink" in want
            else None
        )
        scd2 = (
            _Scd2Sink(spark, scratch_dir(spark, "sg_scd2_store_"))
            if "scd2_sink" in want
            else None
        )

        def fanout(bdf: DataFrame, bid: int) -> None:
            multi = (wal_dir is not None) + (upsert is not None) + (scd2 is not None) > 1
            if multi:
                bdf.persist()
            try:
                if wal_dir is not None:
                    bdf.write.mode("append").parquet(wal_dir)
                if upsert is not None:
                    upsert(bdf, bid)
                if scd2 is not None:
                    scd2(bdf, bid)
            finally:
                if multi:
                    bdf.unpersist()

        q = (
            log_capture_stream(src())
            .writeStream.outputMode("append")
            .option("checkpointLocation", scratch_dir(spark, "sg_fam_wal_ckpt_"))
            .foreachBatch(fanout)
            .start()
        )
        arts = {"wal_dir": wal_dir, "upsert_sink": upsert, "scd2_sink": scd2}
        return q, {k: v for k, v in arts.items() if v is not None}

    singles = {
        "poll_dir": lambda: _start_append(
            polling_capture_stream(src(), include_soft_deletes=True), "sg_fam_poll"
        ),
        "trig_dir": lambda: _start_append(trigger_capture_stream(src()), "sg_fam_trig"),
        "hourly_table": lambda: _start_complete(_hourly_agg(src())),
        "sess_table": lambda: _start_complete(_sessionize_agg(src())),
        "kmv_dir": lambda: _start_append(_kmv_stream(spark, sf_dir), "sg_fam_kmv"),
        "enrich_dir": lambda: _start_append(
            _enrich_stream(spark, sf_dir), "sg_fam_enrich"
        ),
    }
    starts = []
    if wanted & fanout_members:
        starts.append(start_wal_fanout)
    for m, s in singles.items():
        if m in wanted:
            starts.append(lambda m=m, s=s: (lambda q_art: (q_art[0], {m: q_art[1]}))(s()))
    return _run_streams(spark, starts)


def _commit_family(spark: SparkSession, sf_dir: str, only: str | None = None) -> dict:
    """One pass of the commit-floor gate for both its judged consumers."""
    from lets_talk_cdc_change_feed_playground_spark.streaming.apply_on_commit import (
        COMMIT_EVENT_SCHEMA,
        gate_on_commit_floor,
    )

    wanted = {only} if only else {"released_dir", "commit_store_sink"}
    chunks = _commit_chunks(spark, sf_dir)

    def start():
        src = (
            spark.readStream.schema(COMMIT_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", _mfpt())
            .parquet(chunks)
        )
        gated = gate_on_commit_floor(
            src, tick_ms=_GATE_TICK_MS, delay=f"{_GATE_DELAY_MS} milliseconds"
        )
        rel_dir = (
            scratch_dir(spark, "sg_fam_rel_") if "released_dir" in wanted else None
        )
        sink = (
            _CommitStoreSink(spark, scratch_dir(spark, "sg_commit_store_"))
            if "commit_store_sink" in wanted
            else None
        )

        def fanout(bdf: DataFrame, bid: int) -> None:
            both = rel_dir is not None and sink is not None
            if both:
                bdf.persist()
            try:
                if rel_dir is not None:
                    bdf.write.mode("append").parquet(rel_dir)
                if sink is not None:
                    sink(bdf, bid)
            finally:
                if both:
                    bdf.unpersist()

        q = (
            gated.writeStream.outputMode("append")
            .option("checkpointLocation", scratch_dir(spark, "sg_fam_commit_ckpt_"))
            .foreachBatch(fanout)
            .start()
        )
        arts = {"released_dir": rel_dir, "commit_store_sink": sink}
        return q, {k: v for k, v in arts.items() if v is not None}

    return _run_streams(spark, [start])


def _solo_family(spark: SparkSession, sf_dir: str, only: str | None = None) -> dict:
    """Streams on private feeds: nothing to share but the harness pass —
    started together so the engine drives them concurrently."""
    members = {
        "txn_dir": lambda: _start_append(_txn_stream(spark, sf_dir), "sg_fam_txn"),
        "dedup_dir": lambda: _start_append(_dedup_stream(spark, sf_dir), "sg_fam_dedup"),
        "rate_dir": lambda: _start_append(_rate_stream(spark, sf_dir), "sg_fam_rate"),
        "docs_dedup_dir": lambda: _start_append(
            _docs_dedup_stream(spark, sf_dir), "sg_fam_docsdedup"
        ),
        "index_sink": lambda: _start_index_sink(spark, sf_dir),
        "erasure_sink": lambda: _start_erasure_sink(spark, sf_dir),
    }
    wanted = {only} if only else set(members)
    # pre-stage each member's chunk feed, so every start only starts its
    # query (starts run one after another on this thread)
    for m in wanted:
        _SOLO_PRESTAGE[m](spark, sf_dir)
    starts = [
        (lambda m=m, s=s: (lambda q_art: (q_art[0], {m: q_art[1]}))(s()))
        for m, s in members.items()
        if m in wanted
    ]
    return _run_streams(spark, starts)


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
    jobs).  The shuffle-partition override is hoisted around all three so a
    finishing family's conf restore can't flip partitions mid-run for the
    others (each runner's own save/restore then round-trips the same
    value)."""
    if not _FAMILY_ENABLED:
        return
    from concurrent.futures import ThreadPoolExecutor

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STREAM_PARTS))
    try:
        with ThreadPoolExecutor(max_workers=len(_FAMILY_RUNNERS)) as pool:
            for fu in [
                pool.submit(_family, spark, sf_dir, fam) for fam in _FAMILY_RUNNERS
            ]:
                fu.result()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def stream_log_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 as a streaming job: micro-batches through the keyed-state capture
    operator; the WAL it emits must equal the batch WAL (before-images prove
    state survived the batch boundaries).  One member of the shared ops
    family — the capture pass runs once, its WAL fans out to every
    consumer."""
    wal = spark.read.parquet(_fam_art(spark, sf_dir, "ops", "wal_dir"))
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
    res = spark.table(_fam_art(spark, sf_dir, "ops", "hourly_table"))
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
    polls = spark.read.parquet(_fam_art(spark, sf_dir, "ops", "poll_dir"))
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
    audit = spark.read.parquet(_fam_art(spark, sf_dir, "ops", "trig_dir"))
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
    sink = _fam_art(spark, sf_dir, "ops", "upsert_sink")
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


@_chunk_feed("commit")
def _commit_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the drop-free bus feed as 3 arrival-ordered chunk files (split
    on ``delivery_ts``, so drift-late events cross micro-batch boundaries)
    plus a heartbeat chunk that drives the final watermark past every real
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
    max_commit = ev.agg(F.max("commit_ts")).first()[0]
    cuts = ev.approxQuantile("delivery_ts", _split_qs(), 0.001)
    flat = _write_split_chunks(
        ev.withColumn("__chunk", _chunk_id(F.col("delivery_ts"), cuts)).drop(
            "delivery_ts"
        ),
        _N_CHUNKS,
        "sg_commit_chunks_",
    )
    out = os.path.dirname(flat)
    hb = local_df(spark,
        [
            (
                _HB_TX,
                0,
                int(max_commit) + _GATE_DELAY_MS + 2 * _GATE_TICK_MS,
                -1,
                "-",
                "c",
                "-",
            )
        ],
        "tx_id string, tx_index int, commit_ts long, lsn long, pk string, "
        "op string, payload string",
    )
    hdir = os.path.join(out, "hb")
    hb.coalesce(1).write.parquet(hdir)
    part = next(f for f in os.listdir(hdir) if f.endswith(".parquet"))
    _pin_chunk(os.path.join(hdir, part), os.path.join(flat, "99.parquet"), 99)
    return flat


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
        _fam_art(spark, sf_dir, "commit", "released_dir")
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


class _CommitStoreSink:
    """``foreachBatch`` target for the DISTRIBUTED apply-on-commit path: the
    watermark-released transactions of each micro-batch are exploded to row
    events and merged into a versioned-parquet keyed store via
    :class:`..streaming.apply.UpsertSink` — no ``collect()`` anywhere in the
    applied path (the collecting :class:`..streaming.apply_on_commit.
    OrderedApplySink` remains a unit-test ordering probe only,
    ``tests/test_streaming.py``).

    Ordering audit (the reason a per-batch sort is unnecessary): the
    commit-floor gate releases whole commit windows in watermark order, so
    consecutive batches carry disjoint, increasing commit ranges — asserted
    here as two scalars per batch (min/max commit_ts vs the driver-held
    floor); WITHIN a batch the merge fold orders per key by
    ``(commit_ts, lsn)``.  Together: per-key apply order == global
    ``(commit_ts, lsn)`` order, distributed."""

    def __init__(self, spark: SparkSession, path: str):
        from lets_talk_cdc_change_feed_playground_spark.streaming.apply import (
            UpsertSink,
        )

        self._upsert = UpsertSink(spark, path)
        self.floor: int | None = None

    def current(self):
        return self._upsert.current()

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
        self._upsert(ev, batch_id)
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
    sink = _fam_art(spark, sf_dir, "commit", "commit_store_sink")
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


@_chunk_feed("docs")
def _docs_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage ``documents`` as 3 doc_id-range chunk files (hash precomputed
    JVM-side) — the arrival order of an ingestion stream."""
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("content_hash"),
    )
    cuts = d.approxQuantile("doc_id", _split_qs(), 0.001)
    flat = _write_split_chunks(
        d.withColumn("__chunk", _chunk_id(F.col("doc_id"), cuts)),
        _N_CHUNKS,
        "sg_docs_chunks_",
    )
    return flat


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

    src = (
        spark.readStream.schema(in_schema)
        .option("maxFilesPerTrigger", _mfpt())
        .parquet(_docs_chunks(spark, sf_dir))
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
    res = spark.read.parquet(_fam_art(spark, sf_dir, "solo", "docs_dedup_dir"))
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


@_chunk_feed("txn")
def _txn_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the drop-free bus as 3 *arrival-ordered* chunk files shaped for
    the A5 assembler (tx metadata + payload).  Splitting on ``delivery_ts``
    means drift-late transactions straddle micro-batch boundaries — the
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
    cuts = ev.approxQuantile("delivery_ts", _split_qs(), 0.001)
    flat = _write_split_chunks(
        ev.withColumn("__chunk", _chunk_id(F.col("delivery_ts"), cuts)).drop(
            "delivery_ts", "lsn"
        ),
        _N_CHUNKS,
        "sg_txn_chunks_",
    )
    return flat


def _txn_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lets_talk_cdc_change_feed_playground_spark.streaming.txn import (
        TXN_EVENT_SCHEMA,
        assemble_transactions_bucketed,
    )

    src = (
        spark.readStream.schema(TXN_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", _mfpt())
        .parquet(_txn_chunks(spark, sf_dir))
    )
    return assemble_transactions_bucketed(src)


def stream_txn_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 as a judged streaming job: the drop-free bus replays in *arrival*
    order (drift-late transactions cross micro-batch boundaries) through the
    keyed-state assembler (:func:`..streaming.txn.assemble_transactions`) —
    a transaction's events surface only once its buffer is complete, in
    index order, never torn.  With no drops every transaction eventually
    completes, so the released set is chunking-independent and the oracle is
    the per-transaction SQL grouping of the same bus feed."""
    assembled = spark.read.parquet(_fam_art(spark, sf_dir, "solo", "txn_dir"))
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


@_chunk_feed("bp", lambda: _BP_CHUNKS)
def _equal_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the ops feed as ``_BP_CHUNKS`` *equal-row-count* parquet files
    (the per-trigger intake quantum), mtime-spaced so the file source's
    modification-time ordering replays them one per micro-batch."""
    from lets_talk_cdc_change_feed_playground_spark.functions.sequence import (
        with_global_seq,
    )

    ops = with_global_seq(
        ops_feed(spark, sf_dir), F.expr("t div 3600000"), ["t", "seq"], out_col="rn"
    )
    n = ops.count()
    cap = (n + _BP_CHUNKS - 1) // _BP_CHUNKS
    flat = _write_split_chunks(
        ops.withColumn(
            "__chunk", F.expr(f"cast((rn - 1) div {cap} as int)")
        ).drop("rn"),
        _BP_CHUNKS,
        "sg_bp_chunks_",
    )
    return flat


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

    src = (
        spark.readStream.schema(OPS_SCHEMA)
        # pinned to 1, NOT _mfpt(): one equal-row chunk per trigger IS the
        # backpressure cap being judged (the oracle derives the timeline
        # from that quantum) — an execution knob elsewhere, semantics here
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = src.writeStream.outputMode("append").foreachBatch(audit).start()
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
    res = spark.table(_fam_art(spark, sf_dir, "ops", "sess_table"))
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


@_chunk_feed("acks")
def _ack_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the delivery-ack stream: one ack per op at ``t + latency``,
    chunked by ACK time against the same cut points as the ops chunks — so
    acks for each chunk's tail ops arrive one micro-batch AFTER the op and
    the join must hold those ops in state across the batch boundary."""
    ops = ops_feed(spark, sf_dir)
    qs = _split_qs()
    cuts = ops.approxQuantile("t", qs, 0.001)
    acks = ops.select(
        F.col("seq").alias("ack_seq"), _ack_ms_col().alias("ack_ms")
    )
    flat = _write_split_chunks(
        acks.withColumn("__chunk", _chunk_id(F.col("ack_ms"), cuts)),
        _N_CHUNKS,
        "sg_ack_chunks_",
    )
    return flat


def _enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    ops = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", _mfpt())
        .parquet(_ops_chunks(spark, sf_dir))
        .withColumn("ts", F.timestamp_millis(F.col("t")))
        .withWatermark("ts", "10 seconds")
    )
    ack_schema = StructType(
        [StructField("ack_seq", LongType()), StructField("ack_ms", LongType())]
    )
    acks = (
        spark.readStream.schema(ack_schema)
        .option("maxFilesPerTrigger", _mfpt())
        .parquet(_ack_chunks(spark, sf_dir))
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
        _fam_art(spark, sf_dir, "ops", "enrich_dir")
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


@_chunk_feed("dups")
def _dup_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the at-least-once delivery stream: every op once in its own
    time chunk, plus a re-delivery of the outbox-duplicated ops (same
    payload, same event time) written into the NEXT chunk — cross-batch
    duplicates, the case in-batch ``dropDuplicates`` cannot fix."""
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import hash31
    from lets_talk_cdc_change_feed_playground_spark.operators.reliability_queries import (
        OUTBOX_DUP_MOD,
    )

    ops = ops_feed(spark, sf_dir)
    dup_cond = (
        hash31(F.concat(F.col("pk"), F.lit(":"), F.col("seq").cast("string")))
        % OUTBOX_DUP_MOD
        == 0
    )
    cuts = ops.approxQuantile("t", _split_qs(), 0.001)
    cid = _chunk_id(F.col("t"), cuts)
    base = ops.withColumn("__chunk", cid)
    # the outbox-duplicated ops re-deliver into the NEXT chunk (cross-batch
    # duplicates); duplicates of the last chunk have no next chunk — except
    # in the single-chunk degenerate case, where they re-deliver in place
    dups = ops.filter(dup_cond).withColumn(
        "__chunk", cid + (0 if _N_CHUNKS == 1 else 1)
    ).filter(F.col("__chunk") <= _N_CHUNKS - 1)
    flat = _write_split_chunks(
        base.unionByName(dups), _N_CHUNKS, "sg_dup_chunks_"
    )
    return flat


def _dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", _mfpt())
        .parquet(_dup_chunks(spark, sf_dir))
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
        _fam_art(spark, sf_dir, "solo", "dedup_dir")
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

    src = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", _mfpt())
        .parquet(_ops_chunks(spark, sf_dir))
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

    got = spark.read.parquet(_fam_art(spark, sf_dir, "ops", "kmv_dir"))

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


@_chunk_feed("rate")
def _rate_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the delivered bus events as 3 chunk files split on
    ``delivery_ts`` — per-partition delivery order is preserved across
    micro-batch boundaries (every chunk holds a contiguous delivery-time
    range), the property the rate-limit recurrence needs, and the same one a
    keyed Kafka topic gives per partition."""
    from lets_talk_cdc_change_feed_playground_spark.operators import playground as pg

    ev = (
        pg.bus_feed(spark, sf_dir)
        .filter(~F.col("dropped"))
        .select("lsn", "txn_id", "pk", "partition", "delivery_ts")
    )
    cuts = ev.approxQuantile("delivery_ts", _split_qs(), 0.001)
    flat = _write_split_chunks(
        ev.withColumn("__chunk", _chunk_id(F.col("delivery_ts"), cuts)),
        _N_CHUNKS,
        "sg_rate_chunks_",
    )
    return flat


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

    src = (
        spark.readStream.schema(in_schema)
        .option("maxFilesPerTrigger", _mfpt())
        .parquet(_rate_chunks(spark, sf_dir))
    )
    return src.groupBy("partition").applyInPandasWithState(
        drain, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged face of :func:`_rate_stream` — the emitted per-event
    (consume_tick, queue_delay_ms) timeline must hash-equal the batch
    closed form exactly."""
    return spark.read.parquet(_fam_art(spark, sf_dir, "solo", "rate_dir")).orderBy(
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


def _ivm_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage one chunk file per maintenance epoch, oldest-first — a single
    partitionBy pass (one scan) instead of one filtered scan per epoch."""

    def build() -> str:
        opse, epochs, _types = _ivm_feed(spark, sf_dir)
        out = scratch_dir(spark, "sg_ivm_chunks_")
        flat = os.path.join(out, "flat")
        os.makedirs(flat)
        pdir = os.path.join(out, "by_epoch")
        # partitionBy lifts its column out of the data files, so write a
        # throwaway copy and keep `epoch` itself inside every row
        (
            opse.withColumn("epoch_dir", F.col("epoch"))
            .repartition("epoch_dir")
            .write.partitionBy("epoch_dir")
            .parquet(pdir)
        )
        # FileStreamSource orders files by modification time (path only breaks
        # ties), and os.rename preserves each part file's task-write mtime —
        # parallel task completions spanning >1ms would deliver epochs out of
        # order into the order-sensitive maintenance fold. Pin oldest-first
        # delivery explicitly with strictly increasing synthetic mtimes.
        base = int(time.time())
        n = 0
        for i, e in enumerate(epochs):
            cdir = os.path.join(pdir, f"epoch_dir={e}")
            parts = sorted(f for f in os.listdir(cdir) if f.endswith(".parquet"))
            # maintain()'s re-delivery guard is keyed on epoch alone, which
            # is only sound if an epoch never straddles two staged files
            # (half an epoch in a later trigger would be silently skipped).
            # repartition("epoch_dir") + partitionBy guarantees one file per
            # epoch today — assert it so a staging change can't break the
            # guard without tripping here first.
            if len(parts) != 1:
                raise AssertionError(
                    f"ivm staging: epoch {e} spans {len(parts)} files; the "
                    "epoch-keyed re-delivery guard requires exactly one"
                )
            for j, part in enumerate(parts):
                dst = os.path.join(flat, f"{i:02d}_{j}.parquet")
                os.rename(os.path.join(cdir, part), dst)
                os.utime(dst, (base + n, base + n))
                n += 1
        return flat

    return memo(spark, ("ivm_chunks", sf_dir), build)


def stream_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-rule incremental view maintenance as a STREAMING job.

    The batch twin (``operators/ivm_queries.py:cdc_ivm_join``) computes all
    maintenance epochs set-based; here each epoch arrives as one micro-batch
    (epoch-aligned staged chunks, ``maxFilesPerTrigger=1``) and
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

    # three epoch files per trigger (two triggers for six epochs): epochs
    # still fold one-at-a-time inside maintain() (sequential S fold, same
    # per-epoch stats — batching-invariant by the delta rule) and state still
    # provably crosses a batch boundary, but the stream machinery (trigger
    # planning, checkpoint commit, source listing) runs per TRIGGER — six
    # triggers' worth of it was a third of the query's wall time
    src = (
        spark.readStream.schema(opse.schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(chunks)
    )
    ckpt = scratch_dir(spark, "sg_ivm_ckpt_")
    # per-batch state joins touch keyed state only — 32 shuffle partitions
    # would spend the whole batch on task scheduling
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            src.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(maintain)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

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


class _Scd2Sink:
    """``foreachBatch`` target maintaining an SCD type-2 dimension as
    versioned parquet (same commit-versioning miniature as ``UpsertSink``).

    Per batch: the dimension's open version for every key touched in the
    batch is closed at the key's first batch change; the batch's non-delete
    records open new versions numbered from the key's prior version count
    (state carried across micro-batches — the incremental twin of the
    batch ``cdc_scd2_history`` window fold)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(d.split("=")[1])
            for d in os.listdir(self.path)
            if d.startswith("v=") and d.split("=")[1].isdigit()
        )

    def current(self) -> DataFrame | None:
        vs = self._versions()
        if not vs:
            return None
        return self.spark.read.parquet(os.path.join(self.path, f"v={vs[-1]}"))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
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
        prior = self.current()
        if prior is None:
            out = new_rows.select(
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
            out = closed.unionByName(opened)
        vs = self._versions()
        nxt = (vs[-1] + 1) if vs else 0
        out.write.mode("overwrite").parquet(os.path.join(self.path, f"v={nxt}"))


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
    sink = _fam_art(spark, sf_dir, "ops", "scd2_sink")
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


@_chunk_feed("doctext")
def _doc_text_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents (id + normalized text) as 3 arrival chunks."""
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("norm"),
    )
    cuts = d.approxQuantile("doc_id", _split_qs(), 0.001)
    flat = _write_split_chunks(
        d.withColumn("__chunk", _chunk_id(F.col("doc_id"), cuts)),
        _N_CHUNKS,
        "sg_doctext_chunks_",
    )
    return flat


class _IndexSink:
    """``foreachBatch`` target maintaining term statistics (df, total tf) as
    versioned parquet — incremental inverted-index maintenance: each batch
    contributes per-term deltas (docs are immutable, so deltas only add),
    merged into the running index by a term-keyed aggregate."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(d.split("=")[1])
            for d in os.listdir(self.path)
            if d.startswith("v=") and d.split("=")[1].isdigit()
        )

    def current(self) -> DataFrame | None:
        vs = self._versions()
        if not vs:
            return None
        return self.spark.read.parquet(os.path.join(self.path, f"v={vs[-1]}"))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
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
        prior = self.current()
        if prior is not None:
            delta = (
                prior.unionByName(delta)
                .groupBy("term")
                .agg(
                    F.sum("df").cast("long").alias("df"),
                    F.sum("total_tf").cast("long").alias("total_tf"),
                )
            )
        vs = self._versions()
        nxt = (vs[-1] + 1) if vs else 0
        delta.write.mode("overwrite").parquet(os.path.join(self.path, f"v={nxt}"))


def stream_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted index maintained INCREMENTALLY by a streaming job: doc
    chunks arrive one micro-batch at a time; ``foreachBatch`` merges each
    batch's per-term (df, tf) deltas into the versioned index state.  The
    final index must hash-equal the batch postings aggregation over the
    whole corpus — document frequencies only compose across batches if no
    doc is double-counted and no term delta is lost.

    Scale notes: per batch one term-keyed aggregate (map-side combinable)
    + a term-keyed merge with the prior state — exactly a Delta MERGE on
    the index table; state versioning is the upsert-sink miniature."""
    sink = _fam_art(spark, sf_dir, "solo", "index_sink")
    return sink.current().select("term", "df", "total_tf").orderBy("term")


def _start_index_sink(spark: SparkSession, sf_dir: str):
    src = (
        spark.readStream.schema("doc_id BIGINT, norm STRING")
        .option("maxFilesPerTrigger", _mfpt())
        .parquet(_doc_text_chunks(spark, sf_dir))
    )
    sink = _IndexSink(spark, scratch_dir(spark, "sg_index_store_"))
    ckpt = scratch_dir(spark, "sg_index_ckpt_")
    q = (
        src.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .start()
    )
    return q, sink


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


@_chunk_feed("erasure")
def _erasure_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the erased feed (pre-request ops + erasure tombstones, the
    same modified feed as the batch ``cdc_gdpr_erasure``) as time-split
    chunks; the tombstones land in the final chunk."""
    from lets_talk_cdc_change_feed_playground_spark.operators.governance_queries import (
        GDPR_MOD,
    )
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
        hash31,
        ops_feed,
    )

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
    )
    cols = ["seq", "t", "pk", "op", "event_type", "value", "props"]
    req_flag = requested.withColumn("__req", F.lit(True))
    kept = (
        base.join(F.broadcast(req_flag), "pk", "left")
        .filter((F.col("t") <= F.col("t_req")) | F.col("__req").isNull())
        .select(*cols)
    )
    t_req = mx.select("t_req").first()["t_req"]
    cuts = kept.filter(F.col("t") <= t_req).approxQuantile("t", _split_qs(), 0.001)
    flat = _write_split_chunks(
        kept.withColumn("__chunk", _chunk_id(F.col("t"), cuts)),
        _N_CHUNKS,
        "sg_erasure_chunks_",
    )
    # erasure tombstones arrive as their own final micro-batch
    out = os.path.dirname(flat)
    tdir = os.path.join(out, "t")
    tomb.coalesce(1).write.parquet(tdir)
    part = next(f for f in os.listdir(tdir) if f.endswith(".parquet"))
    _pin_chunk(os.path.join(tdir, part), os.path.join(flat, "99.parquet"), 99)
    return flat


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
    sink = _fam_art(spark, sf_dir, "solo", "erasure_sink")
    return (
        sink.current()
        .select("pk", "event_type", "value", "props")
        .orderBy("pk")
    )


def _start_erasure_sink(spark: SparkSession, sf_dir: str):
    from lets_talk_cdc_change_feed_playground_spark.streaming.apply import UpsertSink

    src = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", _mfpt())
        .parquet(_erasure_chunks(spark, sf_dir))
    )
    sink = UpsertSink(spark, scratch_dir(spark, "sg_erasure_store_"))
    ckpt = scratch_dir(spark, "sg_erasure_ckpt_")
    q = (
        log_capture_stream(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .start()
    )
    return q, sink


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

from lets_talk_cdc_change_feed_playground_spark.streaming.schema_stream import (  # noqa: E402
    STREAM_SCHEMA_EVOLUTION_SQL,
    stream_schema_evolution,
)

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

    from lets_talk_cdc_change_feed_playground_spark.streaming.apply import (
        UpsertSink,
    )

    chunks = _ops_chunks(spark, sf_dir)
    sink = UpsertSink(
        spark, scratch_dir(spark, "sg_restart_store_"), dedup_batches=True
    )
    wrapper = _CrashAfterCommit(sink, crash_batch=1)
    ckpt = scratch_dir(spark, "sg_restart_ckpt_")

    def start(files_per_trigger: int | None):
        src = spark.readStream.schema(OPS_SCHEMA)
        if files_per_trigger is not None:
            src = src.option("maxFilesPerTrigger", files_per_trigger)
        return (
            log_capture_stream(src.parquet(chunks))
            .writeStream.outputMode("append")
            .foreachBatch(wrapper)
            .option("checkpointLocation", ckpt)
            .start()
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STREAM_PARTS))
    try:
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
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

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


# chunk feeds each solo-family member consumes — pre-staged before the starts
_SOLO_PRESTAGE = {
    "txn_dir": _txn_chunks,
    "dedup_dir": _dup_chunks,
    "rate_dir": _rate_chunks,
    "docs_dedup_dir": _docs_chunks,
    "index_sink": _doc_text_chunks,
    "erasure_sink": _erasure_chunks,
}
