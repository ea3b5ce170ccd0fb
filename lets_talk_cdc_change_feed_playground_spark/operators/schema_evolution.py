"""C4 / A9 / A10 / V6 — dynamic schemas over MAP payloads.

The reference evolves table schemas at runtime: explicit ADD/DROP COLUMN
events bump a per-table ``schemaVersion`` (``src/modes/logBased.ts:103-134``)
and the sink *sniffs* unknown payload columns, inferring their type and
extending the table (``scenarios/01-canonical-reference/sink/consumer.mjs:
179-232``).  With ``MAP<STRING,STRING>`` payloads this becomes pure
DataFrame work:

- ``schema_versions``: every (table, column) introduction point is the min
  op position that carries the column; an op's ``schema_version`` is the
  count of introductions at or before it — payload-sniffed evolution as a
  window over the exploded key set.
- ``schema_change_events``: the introductions themselves as ``op='s'``
  control rows carrying ``{action, column, type, previous/next version}``.
- ``replay_fold``: the consumer fold (``src/domain/storage.ts:133-164``):
  delete removes the key, insert/update merge ``{**existing, **after}`` —
  an ordered ``aggregate`` over each key's events with LAST_WIN map merge.
- ``replay_fold(drop_columns=...)`` (A10): the fold with drifted columns
  dropped from every payload.
- ``canon_value`` (V6): type-coercing canonicalisation for comparisons
  (numeric strings → canonical number form, trimmed strings otherwise).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

#: storage.ts:35-43 — value-shape based column type inference.
_TYPE_BOOL = r"^(true|false)$"
_TYPE_NUM = r"^-?[0-9]+(\.[0-9]+)?$"


def infer_type(col_name: Column, value: Column) -> Column:
    return (
        F.when(value.rlike(_TYPE_BOOL), F.lit("bool"))
        .when(value.rlike(_TYPE_NUM), F.lit("number"))
        .when(col_name.rlike(r"(_ts|timestamp)$"), F.lit("timestamp"))
        .otherwise(F.lit("string"))
    )


def column_introductions(ops: DataFrame) -> DataFrame:
    """First op position where each (table, column) appears, with the value's
    inferred type — the payload-sniffed ADD COLUMN stream."""
    keys = ops.filter(F.col("after").isNotNull()).select(
        "table",
        "t",
        "seq",
        F.explode(F.col("after")).alias("column", "value"),
    )
    # first occurrence via min(struct) — a map-side-combinable aggregation;
    # a per-(table, column) row_number window would push every occurrence of
    # a column (i.e. most of the stream) through single tasks. (t, seq) is a
    # total order, so the struct min never compares the value field.
    first = keys.groupBy("table", "column").agg(
        F.min(F.struct("t", "seq", "value")).alias("__f")
    )
    return first.select(
        "table",
        "column",
        infer_type(F.col("column"), F.col("__f.value")).alias("col_type"),
        F.col("__f.t").alias("t"),
        F.col("__f.seq").alias("seq"),
    )


def schema_versions(ops: DataFrame) -> DataFrame:
    """Attach ``schema_version`` to every op: 1 + count of columns introduced
    strictly before it (the version the op was written under)."""
    marks = (
        column_introductions(ops)
        .groupBy("table", "t", "seq")
        .agg(F.count(F.lit(1)).alias("__n_intro"))
    )
    joined = ops.join(marks, ["table", "t", "seq"], "left").fillna(0, ["__n_intro"])
    # running count per table via the two-phase prefix pass — a per-table
    # window would funnel each table's whole op stream through one task.
    from lets_talk_cdc_change_feed_playground_spark.functions.sequence import (
        with_prefix_aggs,
    )

    joined = with_prefix_aggs(
        joined,
        F.expr("t div 3600000"),
        ["t", "seq"],
        sums={"__cum_intro": "__n_intro"},
        partition_cols=("table",),
    )
    return (
        joined.withColumn("schema_version", F.col("__cum_intro").cast("int"))
        .drop("__n_intro", "__cum_intro")
    )


def schema_change_events(ops: DataFrame) -> DataFrame:
    """C4 — ``op='s'`` control rows, ordered with the data stream
    (``SCHEMA_ADD_COL``, ``src/modes/logBased.ts:238-260``)."""
    intro = column_introductions(ops)
    # column name as the final tiebreak: one op can introduce several columns
    # at the same (t, seq), and version numbering must be deterministic
    w = W.partitionBy("table").orderBy("t", "seq", "column")
    ver = F.row_number().over(w)
    return intro.select(
        "table",
        F.lit("s").alias("op"),
        "t",
        "seq",
        F.lit("add_column").alias("action"),
        "column",
        "col_type",
        (ver - 1).alias("previous_version"),
        ver.alias("next_version"),
    )


def schema_change_events_polled(ops: DataFrame, poll_ms: int) -> DataFrame:
    """C4 under QUERY-BASED capture: the polling engine only notices schema
    drift at poll boundaries (``src/modes/queryBased.ts:109-138``) — a column
    introduced mid-window surfaces at the NEXT poll tick, and all changes
    inside one window coalesce into one version-bump batch ordered by column
    name (the poll compares snapshots; intra-window op order is invisible to
    it)."""
    intro = column_introductions(ops)
    polled = intro.withColumn(
        "emitted_at_ms", (F.expr(f"t div {poll_ms}") + 1) * poll_ms
    )
    w = W.partitionBy("table").orderBy("emitted_at_ms", "column")
    ver = F.row_number().over(w)
    return polled.select(
        "table",
        F.lit("s").alias("op"),
        "emitted_at_ms",
        F.lit("add_column").alias("action"),
        "column",
        "col_type",
        (ver - 1).alias("previous_version"),
        ver.alias("next_version"),
    )


def replay_fold(ops: DataFrame, drop_columns: tuple[str, ...] = ()) -> DataFrame:
    """A1/A2 over MAP payloads with *partial* updates: ordered merge fold per
    key. ``drop_columns`` implements the A10 schema-drift projection toggle.

    The merge is the conf-independent object spread
    (:func:`..functions.maps.merge_maps`) — correct under any caller's
    ``mapKeyDedupPolicy``."""
    # Relational form of the ordered merge fold (guide §2.3 "aggregate
    # before you shuffle" / §4.1 built-ins over interpreted lambdas).  The
    # fold's observable state is fully determined by two facts per key —
    # (a) the last delete resets the row, so only updates AFTER it
    # contribute, and (b) within those, the LAST write per column wins
    # (object-spread merge).  So instead of collect_list-ing every event
    # into one aggregation buffer and running an interpreted
    # array_sort + aggregate fold per key (state sized by the key's event
    # count — the unbounded-buffer antipattern), this computes, in ONE pass
    # over the input (the payload-construction expressions upstream are
    # often the dominant per-row cost, so the earlier 3-consumer shape —
    # key-stats aggregate, exploded updates, final join — re-ran them 3×):
    #   1. payload entries exploded to (key, column, value) rows — deletes
    #      and empty update payloads keep a single null-entry row, so every
    #      event still carries its (t, seq) into step 2;
    #   2. per (table, pk): last event time + last delete time as window
    #      maxima over the key partition (the shuffle this window pins is
    #      the ONLY exchange: both downstream aggregations group on
    #      supersets of (table, pk) and reuse its partitioning);
    #   3. per (table, pk, column): max_by(value, (t, seq)) over post-
    #      delete update rows — the merge;
    #   4. per (table, pk): map_from_entries over the ≤ schema-width
    #      surviving columns (buffer bounded by table width, not data).
    # explode_outer keeps keys whose post-delete updates carry an empty
    # payload map: the fold yields an EMPTY (non-null) row for those,
    # and only keys with no update after their last delete are dropped.
    events = ops.select("table", "pk", "t", "seq", "op", "after")
    empty = F.create_map().cast("map<string,string>")
    entries = events.select(
        "table",
        "pk",
        "t",
        "seq",
        "op",
        F.explode_outer(
            F.map_entries(
                F.when(F.col("op") == "delete", empty).otherwise(
                    _project(F.col("after"), drop_columns)
                )
            )
        ).alias("kv"),
    )
    w_key = W.partitionBy("table", "pk")
    stats = entries.select(
        "*",
        F.max(F.struct("t", "seq")).over(w_key).alias("__last"),
        F.max(F.when(F.col("op") == "delete", F.struct("t", "seq")))
        .over(w_key)
        .alias("__dl"),
    )
    alive = stats.filter(
        (F.col("op") != "delete")
        & (F.col("__dl").isNull() | (F.struct("t", "seq") > F.col("__dl")))
    )
    colv = alive.groupBy("table", "pk", F.col("kv.key").alias("__k")).agg(
        F.max_by(F.col("kv.value"), F.struct("t", "seq")).alias("__v"),
        F.max("__last").alias("__l"),
    )
    return colv.groupBy("table", "pk").agg(
        F.map_from_entries(
            F.array_sort(
                F.filter(
                    F.collect_list(F.struct(F.col("__k"), F.col("__v"))),
                    lambda e: e["__k"].isNotNull(),
                )
            )
        ).alias("data"),
        F.max("__l").alias("__last"),
    ).select("table", "pk", "data", F.col("__last.t").alias("updated_t"))


def _drop_key(col_name: str):
    return lambda k, _v: k != F.lit(col_name)


def _project(after: Column, drop_columns: tuple[str, ...]) -> Column:
    out = F.coalesce(after, F.create_map().cast("map<string,string>"))
    for c in drop_columns:
        out = F.map_filter(out, _drop_key(c))
    return out


def canon_value(v: Column) -> Column:
    """V6 — type-coercing canonical form (``harness/verifier/index.js:
    78-112``): numeric strings through double and back (``"1.50"`` ==
    ``"1.5"``), everything else trimmed."""
    num = v.cast("double")
    as_int = num.cast("long")
    return (
        F.when(v.isNull(), F.lit(None))
        .when(
            v.rlike(_TYPE_NUM),
            F.when(num == as_int.cast("double"), as_int.cast("string")).otherwise(
                num.cast("string")
            ),
        )
        .otherwise(F.trim(v))
    )


def states_equal_coercive(a: Column, b: Column) -> Column:
    """Compare two MAP payloads under V6 coercion: same key set and every
    value canonically equal."""
    ka, kb = F.map_keys(a), F.map_keys(b)
    same_keys = (F.size(F.array_except(ka, kb)) == 0) & (
        F.size(F.array_except(kb, ka)) == 0
    )
    vals_ok = F.forall(
        ka,
        lambda k: canon_value(F.element_at(a, k)).eqNullSafe(
            canon_value(F.element_at(b, k))
        ),
    )
    return same_keys & vals_ok
