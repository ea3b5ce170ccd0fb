"""Shared runtime for the judged streaming jobs: the stream session.

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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

STREAM_PARTS = int(os.environ.get("SPARK_GRAFT_STREAM_PARTS", "4"))


def stream_session(spark: SparkSession) -> SparkSession:
    """The one session the judged streams of ``spark``'s application run in.

    A new session inherits the application's static conf but none of the
    caller's runtime conf, so the confs the judged queries depend on (UTC
    timezone, ``LAST_WIN`` map keys) are applied here as well."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import memo
    from lets_talk_cdc_change_feed_playground_spark.registry import _REQUIRED_CONF

    def build() -> SparkSession:
        session = spark.newSession()
        conf = {**_REQUIRED_CONF, "spark.sql.shuffle.partitions": str(STREAM_PARTS)}
        for k, v in conf.items():
            session.conf.set(k, v)
        return session

    return memo(spark, ("stream_session",), build)
