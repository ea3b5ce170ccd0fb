"""Streaming consumer apply: idempotent upsert sink via ``foreachBatch``.

A1/S9 in streaming form (``src/domain/storage.ts:133-164``,
``scenarios/01-canonical-reference/sink/consumer.mjs:292-356``): every
micro-batch of change events is merged into a keyed table — deletes remove
the key, creates/updates replace the row (full row images).  In a Delta
deployment this is ``MERGE INTO target USING batch ON pk WHEN MATCHED AND
op='d' THEN DELETE WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED AND
op<>'d' THEN INSERT *``; this dependency-free stand-in keeps identical
semantics with a read-union-reduce-overwrite cycle per batch, which is the
same idempotent last-write-wins merge (re-delivered batches converge).

Every versioned ``foreachBatch`` store in the package (this upsert sink, the
SCD2, index, commit-floor and evolving-schema stores) commits through
:class:`VersionedStore` and defines only its per-batch ``fold``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

STORE_ORDER = ["ts_ms", "seq"]


class ConcurrentWriteError(RuntimeError):
    """A second writer committed the contended store version first — the
    optimistic-concurrency conflict a Delta MERGE surfaces on a lost commit
    race.  The losing transaction was NOT applied; retry by re-reading."""


def merge_batch(store_df: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Fold a batch of change events into the current store state.

    Incremental: only keys the batch touches enter the last-write-wins
    window (their stored row replays as a create at its materialized
    (ts, seq)); every untouched store row passes through via an anti join —
    per-batch fold work is O(batch), not O(accumulated state), which is
    what lets the store outlive a long-running stream."""
    events = batch_df.select(
        "pk",
        "op",
        "after_event_type",
        "after_value",
        "after_props",
        "ts_ms",
        "seq",
    )
    passthrough = None
    if store_df is not None:
        # null-safe key match: a NULL pk must route its stored row INTO the
        # fold (plain = never matches NULL, which would duplicate the key —
        # pass-through + a separately folded batch row). <=> still plans as
        # a hash-join key, so this costs nothing over the plain equi-join.
        # broadcast the batch key-set (bounded by the trigger size): the
        # anti/semi probes scan the accumulated store without shuffling it
        keys = F.broadcast(batch_df.select(F.col("pk").alias("__bpk")))
        on = F.col("pk").eqNullSafe(F.col("__bpk"))
        passthrough = store_df.join(keys, on, "left_anti")
        events = store_df.join(keys, on, "left_semi").select(
            "pk",
            F.lit("c").alias("op"),
            F.col("event_type").alias("after_event_type"),
            F.col("value").alias("after_value"),
            F.col("props").alias("after_props"),
            "ts_ms",
            "seq",
        ).unionByName(events)
    w = W.partitionBy("pk").orderBy(*[F.desc(c) for c in STORE_ORDER])
    folded = (
        events.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "d"))
        .select(
            "pk",
            F.col("after_event_type").alias("event_type"),
            F.col("after_value").alias("value"),
            F.col("after_props").alias("props"),
            "ts_ms",
            "seq",
        )
    )
    return folded if passthrough is None else folded.unionByName(passthrough)


def _marker_batch(version_dir: str) -> int | None:
    """Batch id recorded inside a committed version (``_batch_{id}`` file)."""
    try:
        for f in os.listdir(version_dir):
            tag = f[len("_batch_"):]
            if f.startswith("_batch_") and tag.isdigit():
                return int(tag)
    except OSError:
        pass
    return None


def list_versions(path: str) -> list[tuple[int, int | None]]:
    """Committed ``v=N`` directories under ``path``: sorted
    ``[(version, batch_id | None)]``.  ``_staging-*`` directories and
    anything else not named ``v=<int>`` are ignored; a version without a
    ``_batch_{id}`` marker reads with batch id ``None``."""
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        ver = d[len("v="):]
        if d.startswith("v=") and ver.isdigit():
            out.append((int(ver), _marker_batch(os.path.join(path, d))))
    return sorted(out)


class VersionedStore:
    """``foreachBatch`` target maintaining a table as versioned parquet with
    EXACTLY-ONCE batch application across crash/restart.

    Each batch reads the latest committed version directory, folds the batch
    into it (:meth:`fold`, the one method a store defines) and writes the
    result as the next version (a miniature of Delta's commit versioning).
    Two mechanisms make a crash anywhere in the batch lifecycle safe — the
    reference sink's offset-dedup rule (``scenarios/01-canonical-reference/
    sink/consumer.mjs:122-143``) mapped onto Spark's batch-id re-delivery
    contract:

    - **Atomic commit**: the folded state is written to a ``_staging-*``
      directory and ``os.rename``d to the FIXED per-version name ``v={n}`` —
      a crash mid-write leaves only ignorable staging garbage; the rename IS
      the transaction commit (Delta's _delta_log append analog).
    - **Concurrent-writer fencing**: because the commit target name is
      contended (one ``v={n}`` per version), POSIX rename onto an existing
      non-empty directory fails — two writers that both read version n-1
      cannot both commit version n; the loser's rename raises
      :class:`ConcurrentWriteError` and its staging is discarded, exactly
      Delta's optimistic-concurrency conflict on a lost commit race.  A
      rejected writer retries by re-reading the store (its next attempt
      folds against the winner's state).
    - **Batch-id ledger** (``dedup_batches=True``): each commit carries an
      underscore-prefixed ``_batch_{id}`` marker file (invisible to
      parquet readers, riding inside the atomic rename); when a crash lands
      between the sink's commit and the stream's checkpoint commit, the
      restarted query re-delivers the SAME batch_id and ``__call__`` skips
      it — no double application.  Only sound under a checkpointed stream
      (batch ids reset on checkpoint-less restarts), hence opt-in; without
      it a re-delivered batch is folded again.  Plain ``v={n}`` directories
      without a marker still read as versions.

    The store lists its versions once per batch.
    """

    def __init__(self, spark: SparkSession, path: str, dedup_batches: bool = False):
        self.spark = spark
        self.path = path
        self.dedup_batches = dedup_batches

    def fold(self, prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        """The next version's state from the current one (``None`` before
        the first commit) and one micro-batch."""
        raise NotImplementedError

    def _versions(self) -> list[int]:
        return [v for v, _b in list_versions(self.path)]

    def applied_batches(self) -> set[int]:
        return {b for _v, b in list_versions(self.path) if b is not None}

    def _read(self, version: int) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, f"v={version}"))

    def current(self) -> DataFrame | None:
        vs = self._versions()
        return self._read(vs[-1]) if vs else None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> int | None:
        """Fold and commit one batch; returns the committed version, or
        ``None`` when the ledger already holds ``batch_id``."""
        entries = list_versions(self.path)
        if self.dedup_batches and any(b == batch_id for _v, b in entries):
            # crash-restart re-delivery: already committed — skip the fold,
            # but still run every partition so upstream stateful operators'
            # state stores commit (Spark validates all-partition processing
            # inside foreachBatch; an early return fails the batch)
            batch_df.write.format("noop").mode("overwrite").save()
            return None
        prior = self._read(entries[-1][0]) if entries else None
        nxt = (entries[-1][0] + 1) if entries else 0
        self._commit(self.fold(prior, batch_df), nxt, batch_id)
        return nxt

    def _commit(self, merged: DataFrame, nxt: int, batch_id: int) -> None:
        """Write + atomically publish version ``nxt`` (the fencing point)."""
        staging = os.path.join(self.path, f"_staging-{nxt}-{batch_id}")
        merged.write.mode("overwrite").parquet(staging)
        # batch-id ledger marker rides INSIDE the commit: underscore files
        # are invisible to parquet readers, and the rename publishes state
        # and ledger entry together
        open(os.path.join(staging, f"_batch_{batch_id}"), "w").close()
        target = os.path.join(self.path, f"v={nxt}")
        try:
            os.rename(staging, target)
        except OSError as e:
            # another writer committed version ``nxt`` between our store
            # read and our rename: the fixed per-version target makes the
            # rename the serialization point (rename onto a non-empty
            # directory fails) — reject the losing commit, Delta-style
            shutil.rmtree(staging, ignore_errors=True)
            raise ConcurrentWriteError(
                f"version {nxt} was committed by a concurrent writer; "
                "re-read the store and retry the merge"
            ) from e


class UpsertSink(VersionedStore):
    """Keyed last-write-wins table (the S9 sink): each batch's change events
    are folded in by :func:`merge_batch` and committed through the
    :class:`VersionedStore` protocol."""

    def fold(self, prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        return merge_batch(prior, batch_df)


def has_delta() -> bool:
    """True when ``delta-spark`` is importable (not in this sandbox)."""
    import importlib.util

    return importlib.util.find_spec("delta") is not None


class DeltaUpsertSink:
    """The same keyed merge as :class:`UpsertSink` against a REAL Delta
    table — the production S9 sink the reference applies to Postgres
    (``scenarios/01-canonical-reference/sink/consumer.mjs:292-356``), here as
    ``MERGE INTO target USING batch ON pk WHEN MATCHED AND op='d' THEN
    DELETE WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED AND op<>'d' THEN
    INSERT *``.  Delta's transaction log supplies what the parquet stand-in
    hand-builds: atomic commits (the _delta_log append) and the
    ``txnAppId``/``txnVersion`` idempotent-writer ledger standing in for the
    ``_batch_{id}`` ledger markers.

    Gated on ``delta-spark`` being installed (it is not in this sandbox —
    ``tests/test_delta_sink.py`` is skip-marked and runs the identical
    scenario as the parquet twin wherever the dependency exists).
    """

    def __init__(self, spark: SparkSession, path: str, app_id: str = "sg-upsert"):
        if not has_delta():  # fail loudly at construction, not first batch
            raise ImportError("delta-spark is not installed; use UpsertSink")
        self.spark = spark
        self.path = path
        self.app_id = app_id

    def current(self) -> DataFrame | None:
        from delta.tables import DeltaTable

        if not DeltaTable.isDeltaTable(self.spark, self.path):
            return None
        return self.spark.read.format("delta").load(self.path)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from delta.tables import DeltaTable

        # MERGE needs unique source keys: reduce the batch to one final
        # event per pk first (same (ts_ms, seq) last-writer-wins order as
        # merge_batch) — the reduction is the map-side half of the fold, the
        # MERGE is the store half
        w = W.partitionBy("pk").orderBy(*[F.desc(c) for c in STORE_ORDER])
        src = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "pk",
                "op",
                F.col("after_event_type").alias("event_type"),
                F.col("after_value").alias("value"),
                F.col("after_props").alias("props"),
                "ts_ms",
                "seq",
            )
        )
        cols = ["pk", "event_type", "value", "props", "ts_ms", "seq"]
        if not DeltaTable.isDeltaTable(self.spark, self.path):
            (
                src.filter(F.col("op") != "d")
                .select(*cols)
                .write.format("delta")
                .option("txnAppId", self.app_id)
                .option("txnVersion", batch_id)
                .save(self.path)
            )
            return
        target = DeltaTable.forPath(self.spark, self.path)
        updates = {c: f"s.{c}" for c in cols}
        (
            target.alias("t")
            .merge(src.alias("s"), "t.pk = s.pk")
            .whenMatchedDelete(condition="s.op = 'd'")
            .whenMatchedUpdate(set=updates)
            .whenNotMatchedInsert(condition="s.op <> 'd'", values=updates)
            .execute()
        )
