"""Shared runtime for the judged streaming jobs: the stream session and the
chunk feeds they read.

Every judged stream runs in ONE session per Spark application,
:func:`stream_session` — a ``newSession()`` child of the caller's session
with ``spark.sql.shuffle.partitions = STREAM_PARTS``.  Its own SQL conf means
no stream ever rewrites the caller's: batch queries running beside a stream
keep their partition count, and concurrent streams never race on a
save/set/restore of a session-wide setting.  Streaming frames, memory-sink
views and the ``foreachBatch`` sinks' merge jobs live in the stream session;
staged inputs (chunk feeds, the ops feed, shared frames) stay on the
caller's session.

Why a partition count of its own: every stateful operator pays a
per-PARTITION state-store open/commit per trigger, so at judged data sizes
the partition count is overhead, not parallelism.  Before the keyed folds
were bucketed (``capture.CAPTURE_BUCKETS``) 16 partitions won (the per-key
Python groups needed spreading); with bucketed state the measured sweet spot
at sf0.1 moved to 4 (full stream family: 16 → 92.8 s, 8 → 83.5 s,
4 → 73.2 s; 2 loses — per-batch join parallelism starts to starve).  A real
topic with real volume raises it via ``SPARK_GRAFT_STREAM_PARTS`` — the
operator logic is partition-count-agnostic, and state scales out with
partitions exactly like any keyed Spark state.

Chunk feeds — the local stand-in for a topic.  A feed is a directory of
parquet files, one file per chunk, named ``00.parquet``, ``01.parquet``, …
in delivery order.  Every file's rows are sorted on the feed's order
columns, so a restage writes the same bytes, and every file's modification
time is pinned one second after its predecessor's: the file source orders
files by modification time, so the names, the mtimes and the delivery
order agree.  A feed with a tail (a heartbeat, tombstones) delivers it as
its last chunk.  :func:`chunk_feed` declares a feed from a frame tagged with
an int ``__chunk`` column and stages it once per session; :func:`read_chunks`
opens it as a stream.
"""

from __future__ import annotations

import functools
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators.shared import (
    memo,
    scratch_dir,
)

STREAM_PARTS = int(os.environ.get("SPARK_GRAFT_STREAM_PARTS", "4"))

# Both knobs are read at call time (the batching fuzz patches them here).
N_CHUNKS = 3
# intake granularity for every file-source readStream, in staged chunk
# files per micro-batch.  The judged default is 2: with 3 staged chunks that
# is the minimum honest streaming shape — state still provably crosses a
# micro-batch boundary — at two triggers' machinery instead of three (the
# outputs are proven batching-invariant by tests/test_stream_fuzz.py, which
# varies both knobs, including the 1-file-per-trigger extreme).
# stream_backpressure pins its own cap to 1: there the per-trigger quantum
# IS the judged semantics (the drain timeline), not an execution knob.
MAX_FILES_PER_TRIGGER = 2

# every staged chunk file's mtime is this base plus its chunk index
_PIN_BASE = int(time.time())


def stream_session(spark: SparkSession) -> SparkSession:
    """The one session the judged streams of ``spark``'s application run in.

    A new session inherits the application's static conf but none of the
    caller's runtime conf, so the confs the judged queries depend on (UTC
    timezone, ``LAST_WIN`` map keys) are applied here as well."""
    from lets_talk_cdc_change_feed_playground_spark.registry import _REQUIRED_CONF

    def build() -> SparkSession:
        session = spark.newSession()
        conf = {**_REQUIRED_CONF, "spark.sql.shuffle.partitions": str(STREAM_PARTS)}
        for k, v in conf.items():
            session.conf.set(k, v)
        return session

    return memo(spark, ("stream_session",), build)


def read_chunks(
    spark: SparkSession, schema, path: str, files_per_trigger: int | None
) -> DataFrame:
    """Open a file-source stream over a staged chunk directory in the stream
    session, ``files_per_trigger`` chunk files per micro-batch (``None``:
    every file available)."""
    reader = stream_session(spark).readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(path)


def quantile_chunks(
    df: DataFrame, col: str, cuts_from: tuple[DataFrame, str] | None = None
) -> DataFrame:
    """Tag ``df`` with ``__chunk``: its index among ``N_CHUNKS`` ranges of
    ``col`` split at approximate quantiles (a value's chunk is the number of
    cut points strictly below it).  The cut points are quantiles of
    ``cuts_from`` — a (frame, column) pair — when given, else of ``col``
    in ``df``."""
    src, src_col = cuts_from or (df, col)
    qs = [i / N_CHUNKS for i in range(1, N_CHUNKS)]
    cid = F.lit(0)
    for c in src.approxQuantile(src_col, qs, 0.001):
        cid = cid + F.when(F.col(col) > F.lit(c), 1).otherwise(0)
    return df.withColumn("__chunk", cid)


def chunk_feed(kind: str, order: list[str], drop=(), count=None, tail=False):
    """Declare a chunk feed from a frame definition ``(spark, sf_dir) ->
    frame`` whose int ``__chunk`` column tags each row's chunk.

    The feed holds ``count(spark, sf_dir)`` chunks (default ``N_CHUNKS``),
    plus one when ``tail`` is set: the frame tags its tail rows with that
    count, so the tail is the last file.  Each chunk is sorted on ``order``
    (the column its cut points split plus a unique tiebreak); the ``drop``
    columns are sort keys only.  The staged directory is memoised in the
    session registry under ``(<kind>_chunks, sf_dir, count)``: the key names
    the chunk count, so the batching fuzz stages its own feeds beside the
    judged ones.  ``__wrapped__`` restages without the memo."""

    def deco(frame):
        def n_chunks(spark: SparkSession, sf_dir: str) -> int:
            return N_CHUNKS if count is None else count(spark, sf_dir)

        def build(spark: SparkSession, sf_dir: str) -> str:
            return _write_chunks(
                frame(spark, sf_dir),
                n_chunks(spark, sf_dir) + tail,
                f"sg_{kind}_chunks_",
                order,
                drop,
            )

        @functools.wraps(frame)
        def stage(spark: SparkSession, sf_dir: str) -> str:
            key = (f"{kind}_chunks", sf_dir, n_chunks(spark, sf_dir))
            return memo(spark, key, lambda: build(spark, sf_dir))

        stage.__wrapped__ = build
        return stage

    return deco


def _write_chunks(
    df: DataFrame, n_chunks: int, prefix: str, order: list[str], drop
) -> str:
    """Write a chunk-tagged frame (int ``__chunk`` in [0, n_chunks)) as one
    pinned-mtime file per chunk in ONE distributed job (repartition on the
    chunk id + dynamic partitioning), so the feed is scanned once whatever
    the chunk count.  Repartitioning BY the id puts each chunk's rows in
    exactly one task, so every partition dir holds exactly one file; a
    quantile-degenerate EMPTY chunk falls back to a single empty
    (schema-ful) file.  ``os.rename`` keeps the task-write mtime, and two
    chunks written within the same millisecond would otherwise rely on the
    path-order tiebreak for their delivery order, so each mtime is pinned.
    Returns the flat chunk dir."""
    sp = df.sparkSession
    out = scratch_dir(sp, prefix)
    pdir = os.path.join(out, "parts")
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    schema = df.drop("__chunk", *drop).schema
    # the chunk id leads the sort key, so the partitioned writer's required
    # ordering is already met and it adds no sort of its own
    (
        df.repartition("__chunk")
        .sortWithinPartitions("__chunk", *order)
        .drop(*drop)
        .write.partitionBy("__chunk")
        .parquet(pdir)
    )
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
        dst = os.path.join(flat, f"{i:02d}.parquet")
        os.rename(os.path.join(cdir, parts[0]), dst)
        os.utime(dst, (_PIN_BASE + i, _PIN_BASE + i))
    return flat
