"""C4-live — schema-change capture through the STREAMING path.

The reference emits ``SCHEMA_ADD_COL`` control events inline with the data
stream in all three live capture modes (``src/modes/logBased.ts:103-134``,
``queryBased.ts:109-138``) and its sink sniffs unknown payload columns and
ALTERs the target table mid-stream (``scenarios/01-canonical-reference/
sink/consumer.mjs:179-232``).  Spark-first mapping:

- **Schema registry** (:class:`SchemaRegistry`): per micro-batch, the new
  columns are detected with a *distributed* aggregation (explode payload
  keys → min-struct first occurrence) and merged into a driver-held
  ``{table: {column: version}}`` map.  The registry is bounded by the live
  schema size (tables × columns), never by data volume — the same shape as
  a schema-registry service beside a production pipeline.  Each batch's
  fresh introductions become ``op='s'`` control rows, version-numbered
  incrementally; because the stream's micro-batches are time-split, the
  incremental numbering provably equals the batch twin
  (:func:`..operators.schema_evolution.schema_change_events`), and the
  DuckDB oracle pins that equality.
- **Evolving sink** (:class:`EvolvingUpsertSink`): a keyed versioned-parquet
  store (same commit-versioning stand-in as :mod:`.apply`) whose MAP state
  composes across batches with the consumer merge fold, and which ALSO
  materializes a WIDE per-table projection whose parquet schema literally
  gains a column when the registry does — the ALTER TABLE ADD COLUMN
  analogue, testable by diffing v0 vs v_last schemas.

The judged query ``stream_schema_evolution`` runs the evolving-schema ops
feed (same derivation as the batch ``cdc_schema_evolution`` /
``cdc_replay_fold`` queries) through 3 micro-batches and returns the
captured control rows UNION the sink's final state — both must hash-equal
the batch-computed truth via one oracle.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from lets_talk_cdc_change_feed_playground_spark.operators.shared import (
    local_df,
    memo,
    scratch_dir,
)
from lets_talk_cdc_change_feed_playground_spark.operators.schema_evolution import (  # noqa: E402
    _TYPE_BOOL as _TYPE_BOOL_RE,
    _TYPE_NUM as _TYPE_NUM_RE,
)

#: storage.ts:35-43 value-shape type inference — Python twin of
#: operators/schema_evolution.infer_type, compiled from the SAME regex
#: constants so the two can't drift (first-occurrence value decides).
_TYPE_BOOL = re.compile(_TYPE_BOOL_RE)
_TYPE_NUM = re.compile(_TYPE_NUM_RE)


def _infer_type(column: str, value: str | None) -> str:
    if value is not None and _TYPE_BOOL.match(value):
        return "bool"
    if value is not None and _TYPE_NUM.match(value):
        return "number"
    if re.search(r"(_ts|timestamp)$", column):
        return "timestamp"
    return "string"


def _concurrently(fn, items) -> None:
    """Run independent Spark actions (one per item) from worker threads —
    the scheduler interleaves jobs submitted concurrently, so N small writes
    cost ~1 job round-trip instead of N. Exceptions re-raise in the caller."""
    if not items:
        return
    if len(items) == 1:
        fn(items[0])
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, len(items))) as pool:
        for f in [pool.submit(fn, it) for it in items]:
            f.result()


OPS_SCHEMA = StructType(
    [
        StructField("table", StringType()),
        StructField("pk", StringType()),
        StructField("t", LongType()),
        StructField("seq", LongType()),
        StructField("op", StringType()),
        StructField("after", MapType(StringType(), StringType())),
    ]
)


class SchemaRegistry:
    """Driver-held (bounded: live tables × columns) incremental registry.

    ``observe(batch_df)`` detects the batch's first-seen columns with one
    distributed aggregation and returns the new ``op='s'`` control rows in
    deterministic (t, seq, column) order, version-numbered per table."""

    def __init__(self) -> None:
        self.known: dict[str, dict[str, int]] = {}
        self.events: list[tuple] = []

    def observe(self, batch_df: DataFrame) -> list[tuple]:
        # distributed: one explode + min-struct agg; only (table, column)
        # grain rows reach the driver
        intros = (
            batch_df.filter(F.col("after").isNotNull())
            .select("table", "t", "seq", F.explode("after").alias("column", "value"))
            .groupBy("table", "column")
            .agg(F.min(F.struct("t", "seq", "value")).alias("f"))
            .collect()
        )
        fresh = [
            r
            for r in intros
            if r["column"] not in self.known.get(r["table"], {})
        ]
        # same tiebreak as the batch twin: (t, seq, column) per table
        fresh.sort(key=lambda r: (r["table"], r["f"]["t"], r["f"]["seq"], r["column"]))
        out = []
        for r in fresh:
            cols = self.known.setdefault(r["table"], {})
            ver = len(cols) + 1
            cols[r["column"]] = ver
            out.append(
                (
                    r["table"],
                    "s",
                    int(r["f"]["t"]),
                    int(r["f"]["seq"]),
                    "add_column",
                    r["column"],
                    _infer_type(r["column"], r["f"]["value"]),
                    ver - 1,
                    ver,
                )
            )
        self.events.extend(out)
        return out

    def columns(self, table: str) -> list[str]:
        """Known columns of ``table`` in introduction (version) order."""
        return sorted(self.known.get(table, {}), key=self.known[table].get)


class EvolvingUpsertSink:
    """Versioned keyed store whose schema grows mid-stream.

    State (``state/v=N``) is the consumer fold over MAP payloads —
    ``(table, pk, data, updated_t)`` — composed batch-over-batch exactly like
    the reference's row store (``src/domain/storage.ts:133-164``): a delete
    drops the key, later updates override only the columns they carry.

    Each batch also rewrites the WIDE projection ``tables/<table>/v=N`` with
    one real parquet column per registry-known column: when the registry
    learns a column mid-stream, the next projection version's parquet schema
    gains it — the ALTER TABLE ADD COLUMN analogue the reference sink
    performs (``sink/consumer.mjs:179-232``)."""

    def __init__(self, spark: SparkSession, path: str, registry: SchemaRegistry):
        self.spark = spark
        self.path = path
        self.registry = registry

    def _versions(self, sub: str) -> list[int]:
        d = os.path.join(self.path, sub)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(v.split("=")[1])
            for v in os.listdir(d)
            if v.startswith("v=") and v.split("=")[1].isdigit()
        )

    def current(self) -> DataFrame | None:
        vs = self._versions("state")
        if not vs:
            return None
        return self.spark.read.parquet(
            os.path.join(self.path, "state", f"v={vs[-1]}")
        )

    def apply(
        self,
        batch_df: DataFrame,
        batch_id: int,
        altered_tables: set[str] | None = None,
    ) -> None:
        prev = self.current()
        # okey: lexicographic (t, seq) event order inside the fold — a struct,
        # NOT t*K+seq arithmetic, which overflows BIGINT at epoch-ms t values.
        # The prev state replays at (-1, -1), strictly before every real event
        # of this time-split batch.
        ev = batch_df.select(
            "table",
            "pk",
            "op",
            "after",
            F.struct("t", "seq").alias("okey"),
            F.col("t").alias("ut"),
        )
        passthrough = None
        if prev is not None:
            # incremental fold: only keys this batch touches re-enter the
            # fold (their prev row replays at okey (-1,-1), strictly before
            # every real event); every untouched key's state row passes
            # through unchanged — per-batch fold work is O(batch), not
            # O(accumulated state)
            # no distinct: semi/anti join semantics dedup the probe side.
            # Null-safe match (<=>): a NULL table/pk must route its state row
            # into the fold, not silently pass through next to a separately
            # folded batch row; <=> still plans as a hash-join key.
            # broadcast the batch key-set: it is bounded by the trigger size
            # (maxFilesPerTrigger / maxOffsetsPerTrigger), so both the anti
            # and semi probe become broadcast joins — the accumulated state
            # is scanned, never shuffled
            keys = F.broadcast(
                batch_df.select(
                    F.col("table").alias("__bt"), F.col("pk").alias("__bpk")
                )
            )
            on = F.col("table").eqNullSafe(F.col("__bt")) & F.col("pk").eqNullSafe(
                F.col("__bpk")
            )
            prev = prev.persist()
            passthrough = prev.join(keys, on, "left_anti")
            ev = (
                prev.join(keys, on, "left_semi")
                .select(
                    "table",
                    "pk",
                    F.lit("update").alias("op"),
                    F.col("data").alias("after"),
                    F.struct(
                        F.lit(-1).cast("long").alias("t"),
                        F.lit(-1).cast("long").alias("seq"),
                    ).alias("okey"),
                    F.col("updated_t").alias("ut"),
                )
                .unionByName(ev)
            )

        # row-store reset boundaries (``src/domain/storage.ts:133-164``):
        # a delete DROPS the row (events strictly after it contribute) and an
        # insert REPLACES it (the insert itself and later events contribute).
        # Window marks, not groupBy+join — one (table, pk) shuffle that the
        # per-key fold below then reuses (same clustering, no re-exchange).
        from pyspark.sql import Window as _W

        w_key = _W.partitionBy("table", "pk")
        ups = (
            ev.withColumn(
                "__dk", F.max(F.when(F.col("op") == "delete", F.col("okey"))).over(w_key)
            )
            .withColumn(
                "__ik", F.max(F.when(F.col("op") == "insert", F.col("okey"))).over(w_key)
            )
            .filter(F.col("op") != "delete")
            .filter(F.col("__dk").isNull() | (F.col("okey") > F.col("__dk")))
            .filter(F.col("__ik").isNull() | (F.col("okey") >= F.col("__ik")))
        )
        # the {**cur, **patch} fold per key as RELATIONAL last-writer-wins
        # per column: explode map entries, max_by(okey) per (table, pk, col),
        # re-assemble the map sorted by key.  Replaces a collect_list +
        # interpreted higher-order merge fold that was the batch's hottest
        # stage (~0.7 s CPU per micro-batch, single task — profiled r09);
        # both groupBys cluster on a prefix of the window's (table, pk)
        # partitioning, so the explode costs NO additional exchange.
        # ``explode_outer`` keeps empty-map events alive: they carry no
        # columns but must still advance updated_t and keep the key present
        # (the fold of zero entries is the empty map).  A column written
        # NULL stays in the map as NULL — the reference store hides it from
        # the render but a later merge must still see the write — hence the
        # struct wrap (bare max_by would skip NULL values).
        ex = ups.select(
            "table", "pk", "okey", "ut", F.explode_outer("after").alias("ck", "cv")
        )
        colvals = ex.groupBy("table", "pk", "ck").agg(
            F.max_by(F.struct("cv"), "okey").alias("v"),
            F.max("ut").alias("ut_c"),
        )
        merged = colvals.groupBy("table", "pk").agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("ck").isNotNull(),
                            F.struct(
                                F.col("ck").alias("key"), F.col("v.cv").alias("value")
                            ),
                        )
                    )
                )
            ).alias("data"),
            F.max("ut_c").alias("updated_t"),
        )
        if passthrough is not None:
            merged = merged.unionByName(passthrough)

        nv = (self._versions("state") or [-1])[-1] + 1
        merged.write.mode("overwrite").parquet(
            os.path.join(self.path, "state", f"v={nv}")
        )
        if prev is not None:
            prev.unpersist()

        # the ALTER: rewrite a table's wide projection with the registry's
        # CURRENT column set — new columns appear as real parquet columns.
        # Only tables whose schema CHANGED this batch are rewritten (the
        # ALTER event); row-level churn lives in the map state, which is the
        # actual store — projection versions mark schema changes, exactly
        # like the reference sink's ALTER TABLE moments
        # (``sink/consumer.mjs:179-232``). ``altered_tables=None`` rewrites
        # everything (batch callers without a registry signal).
        targets = (
            sorted(self.registry.known)
            if altered_tables is None
            else sorted(altered_tables)
        )
        # one read of the just-committed version, persisted across the
        # projection writes (each write would otherwise rescan it).
        state = self.current().persist() if targets else None
        try:
            self._write_projections(targets, nv, state)
        finally:
            if state is not None:
                state.unpersist()

    def _write_projections(self, tables, nv: int, state) -> None:
        """Rewrite the wide projections of ``tables`` from ``state`` as
        version ``nv``.  Tables sharing a column list are written in ONE
        ``partitionBy("table")`` job and the partition dirs moved into the
        per-table layout — an ALTER batch touching 8 tables otherwise pays 8
        serial-ish job round-trips (profiled ~0.9 s/batch at sf0.1).  Groups
        with distinct column lists (different parquet schemas) stay separate
        jobs, submitted concurrently."""
        import shutil
        from collections import defaultdict

        groups: dict[tuple, list[str]] = defaultdict(list)
        for t in tables:
            groups[tuple(self.registry.columns(t))].append(t)

        def _write_single(tbl: str, cols) -> None:
            state.filter(F.col("table") == tbl).select(
                "pk",
                *[F.element_at("data", c).alias(c) for c in cols],
                "updated_t",
            ).write.mode("overwrite").parquet(
                os.path.join(self.path, "tables", tbl, f"v={nv}")
            )

        def _write_group(item) -> None:
            i, (cols, tbls) = item
            if len(tbls) == 1:
                _write_single(tbls[0], cols)
                return
            # staged inside the sink's own directory, so the renames below
            # never cross a filesystem
            tmp = os.path.join(self.path, "_staging", f"v={nv}_g{i}")
            try:
                state.filter(F.col("table").isin(list(tbls))).select(
                    "table",
                    "pk",
                    *[F.element_at("data", c).alias(c) for c in cols],
                    "updated_t",
                ).write.partitionBy("table").mode("overwrite").parquet(tmp)
                for tbl in tbls:
                    src = os.path.join(tmp, f"table={tbl}")
                    dst = os.path.join(self.path, "tables", tbl, f"v={nv}")
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    if os.path.isdir(dst):
                        shutil.rmtree(dst)
                    if os.path.isdir(src):
                        os.rename(src, dst)
                    else:
                        # a registry-known table with zero live state rows
                        # gets no partition dir — write its (empty,
                        # schema-ful) version the single-table way so
                        # readers still resolve
                        _write_single(tbl, cols)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

        _concurrently(_write_group, list(enumerate(sorted(groups.items()))))

    def finalize_tables(self) -> None:
        """Refresh every table's wide projection from the final state — one
        write per table, once, when the stream drains (between ALTERs the
        live store is the map state; this materializes the final read
        surface)."""
        nv = (self._versions("state") or [0])[-1]
        state = self.current()
        if state is None:
            return
        stale = [
            tbl
            for tbl in sorted(self.registry.known)
            if not os.path.isdir(os.path.join(self.path, "tables", tbl, f"v={nv}"))
        ]  # already-current tables were rewritten by this batch's ALTER
        state = state.persist()
        try:
            self._write_projections(stale, nv, state)
        finally:
            state.unpersist()

    def table_versions(self, table: str) -> list[int]:
        return self._versions(os.path.join("tables", table))

    def read_table(self, table: str, version: int) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.path, "tables", table, f"v={version}")
        )


def evolving_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evolving-schema ops feed — same derivation as the batch
    ``cdc_schema_evolution`` / ``cdc_replay_fold`` queries: every event
    carries (value, event_type); ``k`` appears only on ``event_id % 3 = 0``
    rows and boolean ``flag`` only on ``event_id % 7 = 0`` rows; every 11th
    event is a delete."""
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    return ev.select(
        F.col("event_type").alias("table"),
        F.col("user_id").cast("string").alias("pk"),
        F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("t"),
        F.col("event_id").alias("seq"),
        F.expr("CASE WHEN event_id % 11 = 0 THEN 'delete' ELSE 'update' END").alias("op"),
        F.expr(
            """
            map_concat(
              map('value', CAST(value AS STRING), 'event_type', event_type),
              CASE WHEN event_id % 3 = 0
                   THEN map('k', get_json_object(props, '$.k')) ELSE map() END,
              CASE WHEN event_id % 7 = 0
                   THEN map('flag', CASE WHEN value > 50 THEN 'true' ELSE 'false' END)
                   ELSE map() END
            )
            """
        ).alias("after"),
    )


from lets_talk_cdc_change_feed_playground_spark.streaming.runtime import (  # noqa: E402
    STREAM_PARTS as _STREAM_PARTS,
)


def _evolving_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the evolving ops feed as time-split chunk files with strictly
    increasing synthetic mtimes (FileStreamSource delivery order is mtime)."""
    # chunk-count knob shared with the other judged streams so the
    # batching-invariance fuzz varies every staged feed in one place
    from lets_talk_cdc_change_feed_playground_spark.streaming import (
        stream_queries as _sq,
    )

    def build() -> str:
        ops = evolving_ops(spark, sf_dir)
        cuts = ops.approxQuantile("t", _sq._split_qs(), 0.001)
        return _sq._write_split_chunks(
            ops.withColumn("__chunk", _sq._chunk_id(F.col("t"), cuts)),
            _sq._N_CHUNKS,
            "sg_schema_evo_",
        )

    return memo(spark, ("schema_evo_chunks", sf_dir, _sq._N_CHUNKS), build)


def run_ops_stream(
    spark: SparkSession, flat_dir: str, finalize: bool = True
) -> tuple[SchemaRegistry, EvolvingUpsertSink]:
    """Drive a staged OPS_SCHEMA chunk directory through micro-batches:
    registry observation (op='s' rows out) then evolving-sink apply, per
    batch — the live consume loop.

    ``finalize=False`` skips the end-of-stream wide-projection refresh
    (``finalize_tables``): between ALTERs the live store is the map state,
    and callers that only read the state + registry (the judged
    ``stream_schema_evolution``) don't pay one parquet write per table for
    a read surface nothing consumes.  The mid-stream ALTER writes (the
    actual schema-gain moments) are unaffected."""
    registry = SchemaRegistry()
    sink = EvolvingUpsertSink(spark, scratch_dir(spark, "sg_evo_sink_"), registry)

    def handle(bdf: DataFrame, bid: int) -> None:
        bdf.persist()
        try:
            fresh = registry.observe(bdf)  # control rows FIRST (DDL precedes data)
            sink.apply(bdf, bid, altered_tables={e[0] for e in fresh})
        finally:
            bdf.unpersist()

    from lets_talk_cdc_change_feed_playground_spark.streaming import (
        stream_queries as _sq,
    )

    src = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", _sq._mfpt())
        .parquet(flat_dir)
    )
    ckpt = scratch_dir(spark, "sg_evo_ckpt_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STREAM_PARTS))
    try:
        q = (
            src.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if finalize:
            sink.finalize_tables()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return registry, sink


def run_schema_evolution_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[SchemaRegistry, EvolvingUpsertSink]:
    """The judged pipeline: stage the evolving ops feed, run the live loop
    (no final projection refresh — the judged output reads state+registry)."""
    return run_ops_stream(spark, _evolving_chunks(spark, sf_dir), finalize=False)


def stream_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-live + A9 — schema changes captured and applied THROUGH the
    streaming path. Output: the incrementally-captured ``op='s'`` control
    rows (kind='schema') UNION the evolved sink's final state
    (kind='state'), both of which must equal the batch-computed truth —
    one oracle pins both."""
    registry, sink = run_schema_evolution_stream(spark, sf_dir)

    schema_rows = local_df(spark,
        [
            (tbl, "schema", col, col_type, int(next_ver))
            for (tbl, _op, _t, _seq, _act, col, col_type, _pv, next_ver) in registry.events
        ],
        "table string, kind string, key string, info string, ord long",
    )
    final = sink.current()
    state_rows = final.select(
        "table",
        F.lit("state").alias("kind"),
        F.col("pk").alias("key"),
        F.array_join(
            F.transform(
                F.array_sort(F.map_entries("data")),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            ),
            ",",
        ).alias("info"),
        F.col("updated_t").alias("ord"),
    )
    return schema_rows.unionByName(state_rows).orderBy("kind", "table", "key")


STREAM_SCHEMA_EVOLUTION_SQL = r"""
WITH ev AS (
  SELECT event_id, epoch_ms(ts) AS t, event_type, CAST(user_id AS VARCHAR) AS pk,
         CAST(value AS VARCHAR) AS value_s,
         json_extract_string(props, '$.k') AS k_s,
         CASE WHEN value > 50 THEN 'true' ELSE 'false' END AS flag_s
  FROM events
), cols AS (
  SELECT event_type AS tbl, t, event_id AS seq, 'value' AS col, value_s AS val FROM ev
  UNION ALL SELECT event_type, t, event_id, 'event_type', event_type FROM ev
  UNION ALL SELECT event_type, t, event_id, 'k', k_s FROM ev WHERE event_id % 3 = 0
  UNION ALL SELECT event_type, t, event_id, 'flag', flag_s FROM ev WHERE event_id % 7 = 0
), first AS (
  SELECT tbl, col, val, t, seq FROM (
    SELECT *, row_number() OVER (PARTITION BY tbl, col ORDER BY t, seq) AS rn FROM cols
  ) WHERE rn = 1
), schema_rows AS (
  SELECT tbl AS "table", 'schema' AS kind, col AS key,
         CASE WHEN regexp_matches(val, '^(true|false)$') THEN 'bool'
              WHEN regexp_matches(val, '^-?[0-9]+(\.[0-9]+)?$') THEN 'number'
              WHEN regexp_matches(col, '(_ts|timestamp)$') THEN 'timestamp'
              ELSE 'string' END AS info,
         CAST(row_number() OVER (PARTITION BY tbl ORDER BY t, seq, col) AS BIGINT) AS ord
  FROM first
), base AS (
  SELECT event_type AS tbl, pk, t, event_id AS seq,
         CAST(t AS HUGEINT) * 10000000 + event_id AS okey,
         CASE WHEN event_id % 11 = 0 THEN 'delete' ELSE 'update' END AS op,
         value_s, k_s, flag_s, event_id
  FROM ev
), dels AS (
  SELECT tbl, pk, max(okey) AS dk FROM base WHERE op = 'delete' GROUP BY tbl, pk
), ups AS (
  SELECT b.* FROM (
    SELECT b0.*, COALESCE(d.dk, -1) AS dk
    FROM base b0 LEFT JOIN dels d USING (tbl, pk)
  ) b WHERE b.op = 'update' AND b.okey > b.dk
), colvals AS (
  -- struct-wrapped arg_max: bare arg_max(val, okey) IGNORES NULL vals, but
  -- the engine's last-write-wins keeps a NULL write (it hides the column
  -- from the rendered string) — wrap so the latest row wins even when NULL
  SELECT tbl, pk, col, struct_extract(arg_max({'v': val}, okey), 'v') AS val FROM (
    SELECT tbl, pk, okey, 'value' AS col, value_s AS val FROM ups
    UNION ALL SELECT tbl, pk, okey, 'event_type', tbl FROM ups
    UNION ALL SELECT tbl, pk, okey, 'k', k_s FROM ups WHERE event_id % 3 = 0
    UNION ALL SELECT tbl, pk, okey, 'flag', flag_s FROM ups WHERE event_id % 7 = 0
  ) GROUP BY tbl, pk, col
), state AS (
  SELECT tbl, pk, string_agg(col || '=' || val, ',' ORDER BY col) AS data_str
  FROM colvals GROUP BY tbl, pk
), upd AS (
  SELECT tbl, pk, max(t) AS updated_t
  FROM base b
  WHERE okey > (SELECT COALESCE(max(dk), -1) FROM dels d WHERE d.tbl = b.tbl AND d.pk = b.pk)
  GROUP BY tbl, pk
), state_rows AS (
  SELECT s.tbl AS "table", 'state' AS kind, s.pk AS key, s.data_str AS info,
         CAST(u.updated_t AS BIGINT) AS ord
  FROM state s JOIN upd u ON s.tbl = u.tbl AND s.pk = u.pk
)
SELECT * FROM schema_rows
UNION ALL
SELECT * FROM state_rows
ORDER BY kind, "table", key
"""
