"""Judged CDC query surface: capture engines, replay, diff/verify, metrics.

Each entry pairs the Spark operator (``QUERIES``) with a DuckDB oracle SQL
twin (``ORACLE``) over the same derived ops feed — see
:mod:`..operators.ops_feed` for the feed contract and
:mod:`..operators.capture` / :mod:`..operators.diffs` /
:mod:`..operators.metrics` for the reference semantics being checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators import capture, diffs, metrics
from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
    EXTRACT_MS,
    FETCH_MS,
    OPS_SQL,
    OVERHEAD_MS,
    POLL_MS,
    ops_feed,
)

# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments (composable CTE bodies mirroring capture.py)
# ---------------------------------------------------------------------------

_PAYLOAD = capture.PAYLOAD


def _cases(template: str, alias_prefix: str) -> str:
    return ",\n    ".join(
        template.format(c=c, out=f"{alias_prefix}{c}") for c in _PAYLOAD
    )


def wal_sql(fetch_ms: int = FETCH_MS) -> str:
    """The C1 WAL fragment with a parameterizable fetch tick — the tick-phase
    fuzz (tests/test_tick_phase_fuzz.py) rebuilds the oracle at odd
    intervals; the judged default is baked into ``WAL_SQL`` below."""
    return f"""
wal AS (
  SELECT
    row_number() OVER (ORDER BY t, seq) AS lsn,
    CASE op WHEN 'insert' THEN 'c' WHEN 'update' THEN 'u' ELSE 'd' END AS op,
    pk,
    {_cases("CASE WHEN op = 'insert' THEN NULL ELSE lag(CASE WHEN op <> 'delete' THEN {c} END) OVER w END AS {out}", "before_")},
    {_cases("CASE WHEN op <> 'delete' THEN {c} END AS {out}", "after_")},
    t AS ts_ms,
    'tx-' || t AS tx_id,
    ((t // {fetch_ms}) + 1) * {fetch_ms} AS emitted_at_ms,
    'log' AS method
  FROM src
  WINDOW w AS (PARTITION BY pk ORDER BY t, seq)
)
"""


WAL_SQL = wal_sql()


# polling: effective ops -> cumulative soft-delete row state -> per-poll last
def poll_state_sql(poll_ms: int = POLL_MS) -> str:
    return f"""
eff AS (
  SELECT * FROM (
    SELECT src.*,
           min(CASE WHEN op = 'delete' THEN seq END) OVER (PARTITION BY pk) AS first_del
    FROM src
  )
  WHERE op <> 'update' OR first_del IS NULL OR seq < first_del
),
pstate AS (
  SELECT seq, t, pk,
         t // {poll_ms} AS poll_id,
         max(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) OVER w AS deleted,
         sum(CASE WHEN op <> 'delete' THEN 1 ELSE 0 END) OVER w AS version,
         {_cases("last_value(CASE WHEN op <> 'delete' THEN {c} END IGNORE NULLS) OVER w AS data_{c}", "")}
  FROM eff
  WINDOW w AS (PARTITION BY pk ORDER BY t, seq)
),
polled_all AS (
  SELECT ((poll_id + 1) * {poll_ms}) AS poll_ts_ms,
         CASE WHEN deleted = 1 THEN 'd' WHEN version > 1 THEN 'u' ELSE 'c' END AS op,
         pk,
         {_cases("CASE WHEN deleted = 0 THEN data_{c} END AS {out}", "after_")},
         t AS ts_ms,
         'tx-' || t AS tx_id,
         'polling' AS method,
         deleted
  FROM (
    SELECT *, row_number() OVER (PARTITION BY pk, poll_id ORDER BY t DESC, seq DESC) AS rn
    FROM pstate
  )
  WHERE rn = 1
),
polled AS (
  SELECT poll_ts_ms, op, pk, after_event_type, after_value, after_props, ts_ms, tx_id, method
  FROM polled_all WHERE deleted = 0
),
polled_soft AS (
  SELECT poll_ts_ms, op, pk, after_event_type, after_value, after_props, ts_ms, tx_id, method
  FROM polled_all
)
"""


POLL_STATE_SQL = poll_state_sql()


def audit_sql(extract_ms: int = EXTRACT_MS) -> str:
    return f"""
audit AS (
  SELECT
    row_number() OVER (ORDER BY t, seq) AS audit_seq,
    CASE op WHEN 'insert' THEN 'c' WHEN 'update' THEN 'u' ELSE 'd' END AS op,
    pk,
    {_cases("CASE WHEN op = 'insert' THEN NULL ELSE last_value(CASE WHEN op <> 'delete' THEN {c} END IGNORE NULLS) OVER wprev END AS {out}", "before_")},
    {_cases("CASE WHEN op <> 'delete' THEN {c} END AS {out}", "after_")},
    t + {OVERHEAD_MS} AS commit_ts_ms,
    'tx-' || (t + {OVERHEAD_MS}) AS tx_id,
    ((t // {extract_ms}) + 1) * {extract_ms} AS emitted_at_ms,
    'trigger' AS method
  FROM src
  WINDOW wprev AS (PARTITION BY pk ORDER BY t, seq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
"""


AUDIT_SQL = audit_sql()

# normalized three-lane event stream (metrics.normalize_lanes twin)
LANES_SQL = """
lanes AS (
  SELECT method, op, pk, ts_ms, ts_ms AS commit_ts_ms, emitted_at_ms FROM wal
  UNION ALL
  SELECT method, op, pk, ts_ms, ts_ms AS commit_ts_ms, poll_ts_ms AS emitted_at_ms FROM polled
  UNION ALL
  SELECT method, op, pk, commit_ts_ms AS ts_ms, commit_ts_ms, emitted_at_ms FROM audit
)
"""

EXPECTED_SQL = """
expected AS (
  SELECT (CASE op WHEN 'insert' THEN 'c' WHEN 'update' THEN 'u' ELSE 'd' END) || '::' || pk AS key,
         CASE op WHEN 'insert' THEN 'c' WHEN 'update' THEN 'u' ELSE 'd' END AS op_code,
         pk,
         row_number() OVER (ORDER BY t, seq) - 1 AS idx,
         t AS time
  FROM src
)
"""


def _actual_sql(rel: str, time_col: str, order_by: str) -> str:
    return f"""
actual AS (
  SELECT op || '::' || pk AS key,
         op AS op_code,
         pk,
         row_number() OVER (ORDER BY {order_by}) - 1 AS idx,
         {time_col} AS time
  FROM {rel}
)
"""


DIFF_SQL = """
diff AS (
  SELECT COALESCE(e.key, a.key) AS key,
         COALESCE(e.op_code, a.op_code) AS op,
         COALESCE(e.pk, a.pk) AS pk,
         COALESCE(e.rn, a.rn) AS rn,
         CASE WHEN a.key IS NULL THEN 'missing'
              WHEN e.key IS NULL THEN 'extra'
              ELSE 'matched' END AS status,
         e.idx AS expected_idx,
         a.idx AS actual_idx,
         e.time AS expected_time,
         a.time AS actual_time,
         CASE WHEN e.key IS NOT NULL AND a.key IS NOT NULL
              THEN greatest(a.time - e.time, 0) END AS lag_ms
  FROM (SELECT *, row_number() OVER (PARTITION BY key ORDER BY idx) AS rn FROM expected) e
  FULL OUTER JOIN (SELECT *, row_number() OVER (PARTITION BY key ORDER BY idx) AS rn FROM actual) a
    ON e.key = a.key AND e.rn = a.rn
)
"""

#: Deterministic emission order per lane (used for actual-entry indexes).
_LANE_ORDER = {
    "log": ("wal", "ts_ms", "emitted_at_ms, lsn"),
    "polling": ("polled", "ts_ms", "poll_ts_ms, ts_ms, pk"),
    "trigger": ("audit", "commit_ts_ms", "emitted_at_ms, audit_seq"),
}


# ---------------------------------------------------------------------------
# Spark-side lane builders shared by the query entries
# ---------------------------------------------------------------------------


def _lanes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized 3-lane event frame, materialized once per session — seven
    metric queries aggregate over it (see :mod:`.shared`)."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    return shared_df(
        spark,
        ("lanes_norm", sf_dir),
        lambda: metrics.normalize_lanes(
            capture.log_capture(spark, sf_dir),
            capture.polling_capture(spark, sf_dir),
            capture.trigger_capture(spark, sf_dir),
        ),
    )


def _lane_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(method, op, lag_ms) value histogram over the normalized lanes, one
    row per distinct triple with its count and max commit ts — the mergeable
    summary five metric queries read instead of each re-scanning the lane
    frame (guide §2.4: two ops keyed the same way share one pass).  Bounded
    by (3 lanes × 3 ops × lag-value domain), never by event volume — lag is
    an integer ms delta capped by the delivery delay, the same bounded-
    domain argument as the exact-percentile histogram it generalizes."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    def build() -> DataFrame:
        lanes = _lanes(spark, sf_dir)
        return lanes.groupBy(
            "method",
            "op",
            (F.col("emitted_at_ms") - F.col("commit_ts_ms"))
            .cast("double")
            .alias("__v"),
        ).agg(
            F.count(F.lit(1)).alias("__n"),
            F.max("ts_ms").alias("__max_ts"),
        )

    return shared_df(spark, ("lane_hist", sf_dir), build)


def _lane_actual(spark: SparkSession, sf_dir: str, method: str) -> DataFrame:
    if method == "log":
        ev = capture.log_capture(spark, sf_dir)
        return diffs.actual_entries(ev, "ts_ms", ["emitted_at_ms", "lsn"])
    if method == "polling":
        ev = capture.polling_capture(spark, sf_dir)
        return diffs.actual_entries(ev, "ts_ms", ["poll_ts_ms", "ts_ms", "pk"])
    ev = capture.trigger_capture(spark, sf_dir)
    return diffs.actual_entries(ev, "commit_ts_ms", ["emitted_at_ms", "audit_seq"])


def _expected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected multiset entries, materialized once per session (all three
    lane diffs compare against the same expected side)."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    return shared_df(
        spark,
        ("expected_entries", sf_dir),
        lambda: diffs.expected_entries(ops_feed(spark, sf_dir)),
    )


def _lane_diff(spark: SparkSession, sf_dir: str, method: str) -> DataFrame:
    """V1 diff frame for one lane with each row's V2 ``inverted`` flag,
    materialized once per session (consumed by the diff listing, top-k lag
    and the verdict, which then reduces it with no window of its own)."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    return shared_df(
        spark,
        ("lane_diff", sf_dir, method),
        lambda: diffs.mark_inversions(
            diffs.lane_diff(
                _expected(spark, sf_dir),
                _lane_actual(spark, sf_dir, method),
            )
        ),
    )


# ---------------------------------------------------------------------------
# Query entries
# ---------------------------------------------------------------------------


def cdc_log_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return capture.log_capture(spark, sf_dir)


def cdc_polling_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return capture.polling_capture(spark, sf_dir)


def cdc_polling_capture_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    return capture.polling_capture(spark, sf_dir, include_soft_deletes=True)


def cdc_trigger_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return capture.trigger_capture(spark, sf_dir)


def cdc_replay_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return capture.log_replay_state(spark, sf_dir)


def cdc_lane_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lane_diff(spark, sf_dir, "polling").drop("inverted")


def cdc_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V7 — per-lane pipeline verdict over all three lanes.

    Unions the session-staged V1 diff frames (one per lane — the same frames
    the diff listing and top-k lag queries read), each carrying its rows' V2
    ``inverted`` flag, and reduces them in ONE ``groupBy(method)``:
    missing, extra, inversions and max lag (the reference computes the
    verdict in one ``evaluate()`` pass,
    ``harness/verifier/index.js:169-205``).  A warm call runs no job while
    it builds and no window, broadcast or range-partition sample."""
    d = None
    for m in ("log", "polling", "trigger"):
        dm = _lane_diff(spark, sf_dir, m).withColumn("method", F.lit(m))
        d = dm if d is None else d.unionByName(dm)
    return metrics.sort_lanes(
        d.groupBy("method")
        .agg(
            F.sum((F.col("status") == "missing").cast("int")).alias("missing"),
            F.sum((F.col("status") == "extra").cast("int")).alias("extra"),
            F.sum(F.col("inverted").cast("int")).alias("ordering_issues"),
            F.coalesce(F.max("lag_ms"), F.lit(0)).alias("max_lag_ms"),
        )
        .select(
            "method",
            "missing",
            "extra",
            "ordering_issues",
            "max_lag_ms",
            (
                (F.col("missing") == 0)
                & (F.col("extra") == 0)
                & (F.col("ordering_issues") == 0)
            ).alias("pass"),
        ),
        "method",
    )


def cdc_lag_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return diffs.lag_topk(_lane_diff(spark, sf_dir, "polling"))


def cdc_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    expected = diffs.source_state(ops_feed(spark, sf_dir))
    actual = diffs.replay_state(
        capture.polling_capture(spark, sf_dir), ["poll_ts_ms", "ts_ms"]
    )
    return diffs.state_diff(expected, actual).orderBy("pk")


def cdc_convergence_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 — source/sink convergence summary (``scenarios/01-canonical-
    reference/verifier/verify.mjs:59-221``): row counts both sides, pk set
    differences, value mismatches on the common keys, and a PASS/WARN/FAIL
    status.  Source = fold of the ops feed; sink = polling-lane materialized
    state (the lossy lane, so the check has something to find)."""
    expected = diffs.source_state(ops_feed(spark, sf_dir))
    actual = diffs.replay_state(
        capture.polling_capture(spark, sf_dir), ["poll_ts_ms", "ts_ms"]
    )
    d = diffs.state_diff(expected, actual)
    agg = d.agg(
        F.coalesce(
            F.sum((F.col("status") == "missing_row").cast("int")), F.lit(0)
        ).alias("missing_rows"),
        F.coalesce(
            F.sum((F.col("status") == "unexpected_row").cast("int")), F.lit(0)
        ).alias("orphan_rows"),
        F.coalesce(
            F.sum((F.col("status") == "field_mismatch").cast("int")), F.lit(0)
        ).alias("field_mismatches"),
    )
    e_cnt = expected.agg(F.count(F.lit(1)).alias("source_rows"))
    a_cnt = actual.agg(F.count(F.lit(1)).alias("sink_rows"))
    j = e_cnt.crossJoin(a_cnt).crossJoin(agg)
    status = (
        F.when(
            (F.col("missing_rows") == 0)
            & (F.col("orphan_rows") == 0)
            & (F.col("field_mismatches") == 0),
            F.lit("PASS"),
        )
        .when((F.col("missing_rows") == 0) & (F.col("orphan_rows") == 0), F.lit("WARN"))
        .otherwise(F.lit("FAIL"))
    )
    return j.select(
        F.lit("users").alias("tbl"),
        "source_rows",
        "sink_rows",
        "missing_rows",
        "orphan_rows",
        "field_mismatches",
        status.alias("status"),
    )


def cdc_lane_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metrics.lane_metrics(_lanes(spark, sf_dir), hist=_lane_hist(spark, sf_dir))


def cdc_cross_lane_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — best/worst lag lanes, spread, weakest delete capture."""
    return metrics.cross_lane_summary(
        ops_feed(spark, sf_dir), _lanes(spark, sf_dir), hist=_lane_hist(spark, sf_dir)
    )


def cdc_recent_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — lag percentiles over each lane's last-2000 emitted events (the
    reference's sliding sample buffer)."""
    return metrics.recent_lag_metrics(_lanes(spark, sf_dir))


def cdc_missed_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metrics.missed_deletes(
        ops_feed(spark, sf_dir), _lanes(spark, sf_dir), hist=_lane_hist(spark, sf_dir)
    )


def cdc_write_amplification(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metrics.write_amplification(
        ops_feed(spark, sf_dir), _lanes(spark, sf_dir), hist=_lane_hist(spark, sf_dir)
    )


def cdc_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metrics.event_stats(_lanes(spark, sf_dir), hist=_lane_hist(spark, sf_dir))


def cdc_backlog_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metrics.backlog_timeline(ops_feed(spark, sf_dir), _lanes(spark, sf_dir))


def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — payload-sniffed ADD COLUMN control stream over an evolving-schema
    ops feed derived from ``events``: every event carries (value, event_type);
    a ``k`` column appears only on ``event_id % 3 = 0`` rows and a boolean
    ``flag`` column only on ``event_id % 7 = 0`` rows, so each event_type
    table grows columns mid-stream. Runs the real MAP-payload sniffing path
    (explode → first-occurrence aggregate → typed ``op='s'`` rows)."""
    from lets_talk_cdc_change_feed_playground_spark.operators import schema_evolution
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    ops = ev.select(
        F.col("event_type").alias("table"),
        F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("t"),
        F.col("event_id").alias("seq"),
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
    return schema_evolution.schema_change_events(ops).orderBy("table", "next_version")


#: poll window for the query-based schema-drift variant (1 h, like C2's poll)
SCHEMA_POLL_MS = 3_600_000


def cdc_schema_polled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 under QUERY-BASED capture (``src/modes/queryBased.ts:109-138``):
    the same evolving-schema feed as ``cdc_schema_evolution``, but drift is
    only visible at poll boundaries — a column introduced mid-window
    surfaces at the NEXT poll tick and intra-window introductions coalesce,
    version-ordered by (poll tick, column name) since the poll compares
    snapshots and cannot see intra-window op order."""
    from lets_talk_cdc_change_feed_playground_spark.operators import schema_evolution
    from lets_talk_cdc_change_feed_playground_spark.streaming.schema_stream import (
        evolving_ops,
    )

    return schema_evolution.schema_change_events_polled(
        evolving_ops(spark, sf_dir), SCHEMA_POLL_MS
    ).orderBy("table", "next_version")


def cdc_replay_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A9/A10 over MAP payloads — the consumer merge fold with partial
    updates, deletes that reset the row, payload-sniffed columns appearing
    mid-stream, and the A10 drift toggle dropping ``event_type``. The final
    per-(table, pk) state ships as a sorted ``k=v`` string so the DuckDB twin
    can rebuild it column-relationally (last value per column after the last
    delete)."""
    from lets_talk_cdc_change_feed_playground_spark.operators import schema_evolution
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    ops = ev.select(
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
    folded = schema_evolution.replay_fold(ops, drop_columns=("event_type",))
    return folded.select(
        "table",
        "pk",
        F.array_join(
            F.transform(
                F.array_sort(F.map_entries("data")),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            ),
            ",",
        ).alias("data_str"),
        "updated_t",
    ).orderBy("table", "pk")


def cdc_multitable_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 across tables — the topic-per-table model (``dbserver1.public.
    <table>``): the ops feed splits into per-event-type tables, each table's
    WAL gets its own dense LSN (per-topic offsets are independent in Kafka;
    ``src/domain/types.ts:39-55`` carries topic+offset per event). The LSN is
    the two-phase bucketed sequence partitioned BY TABLE — a global sequence
    across tables would serialize unrelated topics at scale."""
    from lets_talk_cdc_change_feed_playground_spark.functions.sequence import (
        with_global_seq,
    )
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    ops = ev.select(
        F.col("event_type").alias("tbl"),
        F.col("event_id").alias("seq"),
        F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("t"),
        F.col("user_id").cast("string").alias("pk"),
        "value",
    )
    wal = with_global_seq(
        ops, F.expr("t div 3600000"), ["t", "seq"], out_col="lsn",
        partition_cols=("tbl",),
    )
    return wal.select(
        "tbl",
        "lsn",
        F.concat(F.lit("dbserver1.public."), F.col("tbl")).alias("topic"),
        "pk",
        F.col("t").alias("ts_ms"),
        "value",
    ).orderBy("tbl", "lsn")


CDC_MULTITABLE_SQL = """
SELECT event_type AS tbl,
       row_number() OVER (PARTITION BY event_type ORDER BY epoch_ms(ts), event_id) AS lsn,
       'dbserver1.public.' || event_type AS topic,
       CAST(user_id AS VARCHAR) AS pk,
       epoch_ms(ts) AS ts_ms,
       value
FROM events
ORDER BY tbl, lsn
"""


def cdc_debezium_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — Debezium envelope parsing on Kafka-shaped records. Events become
    ``(topic, key, value)`` rows with a real JSON envelope (via ``to_json``),
    run through the actual ``parse_debezium`` path (``from_json`` + topic
    stripping + rcud filtering — snapshot 'r' reads are injected and must be
    dropped), then flatten to oracle-stable scalars."""
    from lets_talk_cdc_change_feed_playground_spark.sources.debezium import (
        parse_debezium,
    )
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    rec = ev.select(
        F.concat(F.lit("dbserver1.public."), F.col("event_type")).alias("topic"),
        F.col("user_id").cast("string").alias("key"),
        F.to_json(
            F.struct(
                F.struct(
                    F.expr(
                        """
                        CASE WHEN event_id % 13 = 0 THEN 'r'
                             WHEN event_type = 'error' THEN 'd'
                             WHEN event_id % 2 = 0 THEN 'c'
                             ELSE 'u' END
                        """
                    ).alias("op"),
                    F.lit(None).cast("map<string,string>").alias("before"),
                    F.expr(
                        "map('value', CAST(value AS STRING),"
                        " 'k', get_json_object(props, '$.k'))"
                    ).alias("after"),
                    F.expr("CAST(unix_micros(cast(ts as timestamp)) div 1000 AS STRING)").alias("ts_ms"),
                    F.struct(F.col("event_type").alias("table")).alias("source"),
                ).alias("payload")
            )
        ).alias("value"),
    )
    parsed = parse_debezium(rec)
    return parsed.select(
        "tbl",
        "pk",
        "op",
        "ts_ms",
        F.array_join(
            F.transform(
                F.array_sort(F.map_entries("after")),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            ),
            ",",
        ).alias("after_str"),
    ).orderBy("tbl", "ts_ms", "pk", "op")


def cdc_value_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 — type-coercing canonical equality: '6.550' ≡ '6.55', '37.0' ≡ '37',
    padded strings trim-equal; full MAP payload comparison must accept
    coercible maps and reject key-set drift. The booleans are computed by the
    real coercion path — the oracle pins the canonical string forms and the
    expected verdicts."""
    from lets_talk_cdc_change_feed_playground_spark.operators import schema_evolution as se
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    a = F.col("value").cast("string")
    c = F.concat(F.lit("  "), F.col("event_type"), F.lit(" "))
    m1 = F.expr(
        "map('value', CAST(value AS STRING), 'name', concat('  ', event_type, ' '))"
    )
    m2 = F.expr(
        "map('value', concat(CAST(value AS STRING), '0'), 'name', event_type)"
    )
    m3 = F.expr("map('value', CAST(value AS STRING))")
    return ev.select(
        "event_id",
        se.canon_value(a).alias("canon_num"),
        se.canon_value(c).alias("canon_str"),
        se.states_equal_coercive(m1, m2).alias("maps_equal"),
        se.states_equal_coercive(m1, m3).alias("maps_differ_keys"),
    ).orderBy("event_id")


def cdc_harness_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — harness-history aggregation: markdown report-table lines (with
    injected header/separator/placeholder noise that the parser must drop)
    are parsed by the real ``parse_harness_history`` path and rolled up per
    (scenario, status)."""
    from lets_talk_cdc_change_feed_playground_spark.functions.filters import (
        parse_harness_history,
    )
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    lines = ev.select(
        F.expr(
            """
            CASE WHEN event_id % 50 = 0 THEN '| Date | Scenario | Status |'
                 WHEN event_id % 50 = 1 THEN '|---|---|---|'
                 WHEN event_id % 97 = 0 THEN '| no runs yet |'
                 ELSE concat('| ', date_format(ts, 'yyyy-MM-dd'),
                             ' | scenario_', event_type,
                             ' | ', CASE WHEN value > 50 THEN 'PASS' ELSE 'FAIL' END,
                             ' | [report](r', event_id, '.html) |')
            END
            """
        ).alias("line")
    )
    parsed = parse_harness_history(lines)
    return (
        parsed.groupBy("scenario", "status")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.max("run_date").alias("last_run_date"),
            F.max("report_link").alias("last_link"),
        )
        .orderBy("scenario", "status")
    )


def cdc_scenario_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4 — scenario filtering (AND-of-tags + tokenized search) over a
    scenario catalog derived from ``part``: every part becomes a scenario
    with brand/type/parity tags; the filter keeps 'even'-tagged scenarios
    whose haystack matches both search tokens."""
    from lets_talk_cdc_change_feed_playground_spark.functions.filters import (
        filter_scenarios,
    )
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_table

    p = load_table(spark, sf_dir, "part")
    scenarios = p.select(
        F.concat(F.lit("sc"), F.col("p_partkey").cast("string")).alias("id"),
        F.col("p_name").alias("name"),
        F.expr("p_type || ' parts sized ' || CAST(p_size AS STRING)").alias(
            "description"
        ),
        F.array(
            F.lower("p_brand"),
            F.lower("p_type"),
            F.expr("CASE WHEN p_size % 2 = 0 THEN 'even' ELSE 'odd' END"),
        ).alias("tags"),
    )
    hit = filter_scenarios(scenarios, tags=("even",), query="blue bolt")
    return hit.select(
        "id", "name", "description", F.array_join("tags", ",").alias("tags_str")
    ).orderBy("id")


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history built from the WAL.

    The natural downstream product of a lossless change feed
    (``sim/engines/LogEngine.ts:25-131`` gives exactly the ordered
    before/after stream SCD2 needs): every non-delete WAL record opens a
    row version valid from its commit time until the key's next change
    (delete closes the interval without opening one); the open-ended
    version is flagged current.

    Scale: one `lead`/running-count window per pk — the same per-key
    partitioning the session-shared WAL frame already has; no extra
    shuffle at 100 TB beyond the lane itself.
    """
    from pyspark.sql import Window as W

    wal = capture.log_capture(spark, sf_dir)
    w = W.partitionBy("pk").orderBy("lsn")
    hist = wal.select(
        "pk",
        "lsn",
        "op",
        F.col("after_event_type").alias("event_type"),
        F.col("after_value").alias("value"),
        F.col("after_props").alias("props"),
        F.col("ts_ms").alias("valid_from_ms"),
    ).select(
        "*",
        F.sum(F.when(F.col("op") != "d", 1).otherwise(0)).over(w).cast("long").alias("version"),
        F.lead("valid_from_ms").over(w).alias("valid_to_ms"),
    )
    return (
        hist.filter(F.col("op") != "d")
        .select(
            "pk",
            "version",
            "event_type",
            "value",
            "props",
            "valid_from_ms",
            "valid_to_ms",
            F.col("valid_to_ms").isNull().alias("is_current"),
        )
        .orderBy("pk", "version")
    )


def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the change feed.

    Maintains a per-``event_type`` COUNT/SUM aggregate by applying only the
    WAL deltas — ``+after`` for the new image, ``-before`` for the replaced
    one (``src/domain/storage.ts:137-164`` apply semantics turned into
    group-level arithmetic) — instead of recomputing from the table, then
    proves convergence against the full replay-fold recompute in the same
    result.

    Scale: the delta stream is map-side combinable (sum/count over the
    group key — one small shuffle); this is what keeps a 100 TB derived
    aggregate fresh with work proportional to the change volume, not the
    table size. Sums accumulate in decimal so the result is partition-order
    independent.
    """
    dec = "decimal(38,6)"
    wal = capture.log_capture(spark, sf_dir)
    after = wal.filter(F.col("after_event_type").isNotNull()).select(
        F.col("after_event_type").alias("event_type"),
        F.lit(1).alias("dn"),
        F.col("after_value").cast(dec).alias("dv"),
    )
    before = wal.filter(F.col("before_event_type").isNotNull()).select(
        F.col("before_event_type").alias("event_type"),
        F.lit(-1).alias("dn"),
        (-F.col("before_value").cast(dec)).alias("dv"),
    )
    inc = (
        after.unionByName(before)
        .groupBy("event_type")
        .agg(
            F.sum("dn").cast("long").alias("n_rows"),
            F.round(F.sum("dv"), 2).cast("double").alias("total_value"),
        )
    )
    state = capture.log_replay_state(spark, sf_dir)
    rec = state.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_rec"),
        F.round(F.sum(F.col("value").cast(dec)), 2).cast("double").alias("total_value_rec"),
    )
    return (
        inc.join(rec, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n_rows", F.lit(0).cast("long")).alias("n_rows"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
            F.coalesce("n_rows_rec", F.lit(0).cast("long")).alias("n_rows_rec"),
            F.coalesce("total_value_rec", F.lit(0.0)).alias("total_value_rec"),
        )
        .withColumn(
            "converged",
            (F.col("n_rows") == F.col("n_rows_rec"))
            & (F.col("total_value") == F.col("total_value_rec")),
        )
        .orderBy("event_type")
    )


def cdc_savepoint_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savepoint consistency: state folded up to a mid-WAL LSN plus a replay
    of the tail equals the full replay.

    This is the restore path every long-lived 100 TB pipeline depends on —
    recover from a checkpointed table snapshot and the WAL suffix instead of
    re-reading history (the reference restarts its connector mid-stream and
    requires source/sink convergence afterwards —
    ``scenarios/01-canonical-reference/failures/restart.sh`` +
    ``verifier/verify.mjs:131-221``). The savepoint is ``max(lsn)/2`` so the
    check is deterministic at any scale factor.

    Scale: two per-pk folds plus one full-outer compare, all on the pk
    partitioning the shared WAL frame already has; the scalar cut joins in
    as a broadcast single row, never a driver collect.
    """
    wal = capture.log_capture(spark, sf_dir)
    cut = wal.agg((F.max("lsn") / 2).cast("long").alias("__cut"))
    base = wal.join(F.broadcast(cut)).filter(F.col("lsn") <= F.col("__cut")).drop("__cut")
    tail = wal.join(F.broadcast(cut)).filter(F.col("lsn") > F.col("__cut")).drop("__cut")

    state_at = diffs.replay_state(base, ["ts_ms", "lsn"])
    # snapshot rows become synthetic inserts ordered before every tail record
    snap_events = state_at.select(
        F.lit("c").alias("op"),
        "pk",
        F.col("event_type").alias("after_event_type"),
        F.col("value").alias("after_value"),
        F.col("props").alias("after_props"),
        F.col("updated_ts_ms").alias("ts_ms"),
        F.lit(0).cast("long").alias("lsn"),
    )
    tail_events = tail.select(
        "op", "pk", "after_event_type", "after_value", "after_props", "ts_ms", "lsn"
    )
    restored = diffs.replay_state(
        snap_events.unionByName(tail_events), ["ts_ms", "lsn"]
    )
    full = capture.log_replay_state(spark, sf_dir)

    j = full.select(
        "pk",
        F.col("event_type").alias("f_et"),
        F.col("value").alias("f_v"),
        F.col("props").alias("f_p"),
    ).join(
        restored.select(
            "pk",
            F.col("event_type").alias("r_et"),
            F.col("value").alias("r_v"),
            F.col("props").alias("r_p"),
        ),
        "pk",
        "full_outer",
    )
    same = (
        F.col("f_et").eqNullSafe(F.col("r_et"))
        & F.col("f_v").eqNullSafe(F.col("r_v"))
        & F.col("f_p").eqNullSafe(F.col("r_p"))
        & F.col("f_et").isNotNull()
        & F.col("r_et").isNotNull()
    )
    return j.agg(
        F.count(F.col("f_et")).cast("long").alias("n_keys_full"),
        F.count(F.col("r_et")).cast("long").alias("n_keys_restored"),
        F.sum((~same).cast("int")).cast("long").alias("n_mismatched"),
    ).withColumn("converged", F.col("n_mismatched") == 0)


QUERIES = {
    "cdc_log_capture": cdc_log_capture,
    "cdc_polling_capture": cdc_polling_capture,
    "cdc_polling_capture_soft": cdc_polling_capture_soft,
    "cdc_trigger_capture": cdc_trigger_capture,
    "cdc_replay_state": cdc_replay_state,
    "cdc_lane_diff": cdc_lane_diff,
    "cdc_verdict": cdc_verdict,
    "cdc_lag_topk": cdc_lag_topk,
    "cdc_state_diff": cdc_state_diff,
    "cdc_convergence_check": cdc_convergence_check,
    "cdc_lane_metrics": cdc_lane_metrics,
    "cdc_recent_lag": cdc_recent_lag,
    "cdc_cross_lane_summary": cdc_cross_lane_summary,
    "cdc_missed_deletes": cdc_missed_deletes,
    "cdc_write_amplification": cdc_write_amplification,
    "cdc_event_stats": cdc_event_stats,
    "cdc_backlog_timeline": cdc_backlog_timeline,
    "cdc_schema_evolution": cdc_schema_evolution,
    "cdc_schema_polled": cdc_schema_polled,
    "cdc_replay_fold": cdc_replay_fold,
    "cdc_multitable_capture": cdc_multitable_capture,
    "cdc_debezium_parse": cdc_debezium_parse,
    "cdc_value_coercion": cdc_value_coercion,
    "cdc_harness_history": cdc_harness_history,
    "cdc_scenario_filters": cdc_scenario_filters,
    "cdc_scd2_history": cdc_scd2_history,
    "cdc_incremental_agg": cdc_incremental_agg,
    "cdc_savepoint_restore": cdc_savepoint_restore,
}


# ---------------------------------------------------------------------------
# Oracle SQL
# ---------------------------------------------------------------------------


def _with(*fragments: str) -> str:
    return "WITH " + ",".join([OPS_SQL, *fragments])


def _lane_diff_sql(method: str) -> str:
    rel, time_col, order_by = _LANE_ORDER[method]
    frags = {"log": [WAL_SQL], "polling": [POLL_STATE_SQL], "trigger": [AUDIT_SQL]}[method]
    return _with(
        *frags, EXPECTED_SQL, _actual_sql(rel, time_col, order_by), DIFF_SQL
    )


_VERDICT_LANE_SQL = """
SELECT '{method}' AS method,
       CAST(sum(CASE WHEN status = 'missing' THEN 1 ELSE 0 END) AS BIGINT) AS missing,
       CAST(sum(CASE WHEN status = 'extra' THEN 1 ELSE 0 END) AS BIGINT) AS extra,
       (SELECT count(*) FROM (
          SELECT expected_idx,
                 max(expected_idx) OVER (ORDER BY actual_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
          FROM diff WHERE status = 'matched')
        WHERE expected_idx < runmax) AS ordering_issues,
       COALESCE(max(lag_ms), 0) AS max_lag_ms
FROM diff
"""

ORACLE = {
    "cdc_log_capture": _with(WAL_SQL) + "SELECT * FROM wal",
    "cdc_polling_capture": _with(POLL_STATE_SQL) + "SELECT * FROM polled",
    "cdc_polling_capture_soft": _with(POLL_STATE_SQL) + "SELECT * FROM polled_soft",
    "cdc_trigger_capture": _with(AUDIT_SQL) + "SELECT * FROM audit",
    "cdc_replay_state": _with(WAL_SQL)
    + """
SELECT pk, after_event_type AS event_type, after_value AS value,
       after_props AS props, ts_ms AS updated_ts_ms
FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY ts_ms DESC, lsn DESC) AS rn FROM wal)
WHERE rn = 1 AND op <> 'd'
""",
    "cdc_lane_diff": _lane_diff_sql("polling")
    + "SELECT key, op, pk, rn, status, expected_idx, actual_idx, expected_time, actual_time, lag_ms FROM diff",
    "cdc_verdict": _with(
        WAL_SQL,
        POLL_STATE_SQL,
        AUDIT_SQL,
        EXPECTED_SQL,
        *[
            f"actual_{m} AS (SELECT op || '::' || pk AS key, op AS op_code, pk, "
            f"row_number() OVER (ORDER BY {_LANE_ORDER[m][2]}) - 1 AS idx, "
            f"{_LANE_ORDER[m][1]} AS time FROM {_LANE_ORDER[m][0]})"
            for m in ("log", "polling", "trigger")
        ],
        *[
            DIFF_SQL.replace("diff AS", f"diff_{m} AS").replace("FROM actual", f"FROM actual_{m}")
            for m in ("log", "polling", "trigger")
        ],
    )
    + "SELECT method, missing, extra, ordering_issues, max_lag_ms, (missing = 0 AND extra = 0 AND ordering_issues = 0) AS pass FROM ("
    + " UNION ALL ".join(
        _VERDICT_LANE_SQL.format(method=m).replace("FROM diff", f"FROM diff_{m}")
        for m in ("log", "polling", "trigger")
    )
    + ") ORDER BY method",
    "cdc_lag_topk": _lane_diff_sql("polling")
    + """
SELECT op, pk, expected_time, actual_time, lag_ms
FROM diff WHERE status = 'matched' AND lag_ms > 0
ORDER BY lag_ms DESC, expected_time, pk, op
LIMIT 5
""",
    "cdc_state_diff": _with(POLL_STATE_SQL)
    + """
, source_state AS (
  SELECT pk, event_type, value, props
  FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY t DESC, seq DESC) AS rn FROM src)
  WHERE rn = 1 AND op <> 'delete'
),
actual_state AS (
  SELECT pk, after_event_type AS event_type, after_value AS value, after_props AS props
  FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY poll_ts_ms DESC, ts_ms DESC) AS rn FROM polled)
  WHERE rn = 1 AND op <> 'd'
)
SELECT COALESCE(e.pk, a.pk) AS pk,
       CASE WHEN a.pk IS NULL THEN 'missing_row'
            WHEN e.pk IS NULL THEN 'unexpected_row'
            ELSE 'field_mismatch' END AS status,
       e.event_type AS expected_event_type, e.value AS expected_value, e.props AS expected_props,
       a.event_type AS actual_event_type, a.value AS actual_value, a.props AS actual_props
FROM source_state e FULL OUTER JOIN actual_state a ON e.pk = a.pk
WHERE a.pk IS NULL OR e.pk IS NULL
   OR (e.event_type IS DISTINCT FROM a.event_type
       OR e.value IS DISTINCT FROM a.value
       OR e.props IS DISTINCT FROM a.props)
ORDER BY pk
""",
    "cdc_convergence_check": _with(POLL_STATE_SQL)
    + """
, source_state AS (
  SELECT pk, event_type, value, props
  FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY t DESC, seq DESC) AS rn FROM src)
  WHERE rn = 1 AND op <> 'delete'
),
actual_state AS (
  SELECT pk, after_event_type AS event_type, after_value AS value, after_props AS props
  FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY poll_ts_ms DESC, ts_ms DESC) AS rn FROM polled)
  WHERE rn = 1 AND op <> 'd'
),
d AS (
  SELECT CASE WHEN a.pk IS NULL THEN 'missing_row'
              WHEN e.pk IS NULL THEN 'unexpected_row'
              ELSE 'field_mismatch' END AS status
  FROM source_state e FULL OUTER JOIN actual_state a ON e.pk = a.pk
  WHERE a.pk IS NULL OR e.pk IS NULL
     OR (e.event_type IS DISTINCT FROM a.event_type
         OR e.value IS DISTINCT FROM a.value
         OR e.props IS DISTINCT FROM a.props)
)
SELECT 'users' AS tbl,
       (SELECT count(*) FROM source_state) AS source_rows,
       (SELECT count(*) FROM actual_state) AS sink_rows,
       CAST(COALESCE(sum(CASE WHEN status = 'missing_row' THEN 1 ELSE 0 END), 0) AS BIGINT) AS missing_rows,
       CAST(COALESCE(sum(CASE WHEN status = 'unexpected_row' THEN 1 ELSE 0 END), 0) AS BIGINT) AS orphan_rows,
       CAST(COALESCE(sum(CASE WHEN status = 'field_mismatch' THEN 1 ELSE 0 END), 0) AS BIGINT) AS field_mismatches,
       CASE WHEN COALESCE(sum(CASE WHEN status = 'missing_row' THEN 1 ELSE 0 END), 0) = 0
                 AND COALESCE(sum(CASE WHEN status = 'unexpected_row' THEN 1 ELSE 0 END), 0) = 0
                 AND COALESCE(sum(CASE WHEN status = 'field_mismatch' THEN 1 ELSE 0 END), 0) = 0
            THEN 'PASS'
            WHEN COALESCE(sum(CASE WHEN status = 'missing_row' THEN 1 ELSE 0 END), 0) = 0
                 AND COALESCE(sum(CASE WHEN status = 'unexpected_row' THEN 1 ELSE 0 END), 0) = 0
            THEN 'WARN'
            ELSE 'FAIL' END AS status
FROM d
""",
    "cdc_lane_metrics": _with(WAL_SQL, POLL_STATE_SQL, AUDIT_SQL, LANES_SQL)
    + """
SELECT method,
       count(*) AS produced,
       CAST(sum(CASE WHEN op = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS inserts,
       CAST(sum(CASE WHEN op = 'u' THEN 1 ELSE 0 END) AS BIGINT) AS updates,
       CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS deletes,
       count(DISTINCT pk) AS distinct_pks,
       max(ts_ms) AS last_ts_ms,
       round(quantile_cont(CAST(emitted_at_ms - commit_ts_ms AS DOUBLE), 0.5), 3) AS lag_ms_p50,
       round(quantile_cont(CAST(emitted_at_ms - commit_ts_ms AS DOUBLE), 0.95), 3) AS lag_ms_p95,
       max(emitted_at_ms - commit_ts_ms) AS lag_ms_max
FROM lanes GROUP BY method ORDER BY method
""",
    "cdc_cross_lane_summary": _with(WAL_SQL, POLL_STATE_SQL, AUDIT_SQL, LANES_SQL)
    + """
, per_lane AS (
  SELECT method,
         quantile_cont(CAST(emitted_at_ms - commit_ts_ms AS DOUBLE), 0.95) AS p95,
         sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS captured_deletes
  FROM lanes GROUP BY method
),
j AS (
  SELECT p.*,
         ((captured_deletes * 10000) // (SELECT count(*) FROM src WHERE op = 'delete')) / 10000.0 AS delete_pct
  FROM per_lane p
)
SELECT min_by(method, p95) AS best_lag_method,
       round(min(p95), 3) AS best_lag_p95_ms,
       max_by(method, p95) AS worst_lag_method,
       round(max(p95), 3) AS worst_lag_p95_ms,
       round(max(p95) - min(p95), 3) AS lag_spread_ms,
       min_by(method, delete_pct) AS weakest_delete_method,
       min(delete_pct) AS min_delete_pct
FROM j
""",
    "cdc_recent_lag": _with(WAL_SQL, POLL_STATE_SQL, AUDIT_SQL, LANES_SQL)
    + """
, recent AS (
  SELECT *, row_number() OVER (
    PARTITION BY method ORDER BY emitted_at_ms DESC, commit_ts_ms DESC, pk DESC, op DESC
  ) AS rn
  FROM lanes
)
SELECT method,
       count(*) AS n_samples,
       round(quantile_cont(CAST(emitted_at_ms - commit_ts_ms AS DOUBLE), 0.5), 3) AS lag_ms_p50,
       round(quantile_cont(CAST(emitted_at_ms - commit_ts_ms AS DOUBLE), 0.95), 3) AS lag_ms_p95
FROM recent WHERE rn <= 2000
GROUP BY method ORDER BY method
""",
    "cdc_missed_deletes": _with(WAL_SQL, POLL_STATE_SQL, AUDIT_SQL, LANES_SQL)
    + """
SELECT method,
       (SELECT count(*) FROM src WHERE op = 'delete') AS source_deletes,
       CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS captured_deletes,
       CAST((SELECT count(*) FROM src WHERE op = 'delete')
         - sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS missed_deletes
FROM lanes GROUP BY method ORDER BY method
""",
    "cdc_write_amplification": _with(WAL_SQL, POLL_STATE_SQL, AUDIT_SQL, LANES_SQL)
    + """
SELECT method,
       (SELECT count(*) FROM src) AS source_writes,
       CAST(sum(CASE WHEN method = 'trigger' THEN 1 ELSE 0 END) AS BIGINT) AS extra_writes,
       (((SELECT count(*) FROM src) + sum(CASE WHEN method = 'trigger' THEN 1 ELSE 0 END)) * 10000
          // (SELECT count(*) FROM src)) / 10000.0 AS write_amplification
FROM lanes GROUP BY method ORDER BY method
""",
    "cdc_event_stats": _with(WAL_SQL, POLL_STATE_SQL, AUDIT_SQL, LANES_SQL)
    + """
SELECT method, op, n, last_ts_ms, CAST(lane_total AS BIGINT) AS lane_total,
       ((n * 10000) // lane_total) / 10000.0 AS share
FROM (
  SELECT method, op, count(*) AS n, max(ts_ms) AS last_ts_ms,
         sum(count(*)) OVER (PARTITION BY method) AS lane_total
  FROM lanes GROUP BY method, op
) ORDER BY method, op
""",
    "cdc_backlog_timeline": _with(WAL_SQL, POLL_STATE_SQL, AUDIT_SQL, LANES_SQL)
    + """
, produced AS (
  SELECT (t // 3600000) * 3600000 AS bucket_ms, count(*) AS n_produced FROM src GROUP BY 1
),
consumed AS (
  SELECT method, ((emitted_at_ms - 1) // 3600000) * 3600000 AS bucket_ms, count(*) AS n_consumed
  FROM lanes GROUP BY 1, 2
),
buckets AS (
  SELECT DISTINCT bucket_ms FROM (
    SELECT bucket_ms FROM produced UNION ALL SELECT bucket_ms FROM consumed
  )
),
grid AS (
  SELECT b.bucket_ms, m.method FROM buckets b
  CROSS JOIN (SELECT DISTINCT method FROM consumed) m
),
j AS (
  SELECT g.method, g.bucket_ms,
         COALESCE(p.n_produced, 0) AS np, COALESCE(c.n_consumed, 0) AS nc
  FROM grid g
  LEFT JOIN produced p ON p.bucket_ms = g.bucket_ms
  LEFT JOIN consumed c ON c.method = g.method AND c.bucket_ms = g.bucket_ms
)
SELECT method, bucket_ms,
       CAST(sum(np) OVER w AS BIGINT) AS produced,
       CAST(sum(nc) OVER w AS BIGINT) AS consumed,
       CAST(sum(np) OVER w - sum(nc) OVER w AS BIGINT) AS backlog
FROM j
WINDOW w AS (PARTITION BY method ORDER BY bucket_ms)
ORDER BY method, bucket_ms
""",
    "cdc_schema_evolution": r"""
WITH ev AS (
  SELECT event_id, epoch_ms(ts) AS t, event_type, CAST(value AS VARCHAR) AS value_s,
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
)
SELECT tbl AS "table", 's' AS op, t, seq, 'add_column' AS action, col AS "column",
       CASE WHEN regexp_matches(val, '^(true|false)$') THEN 'bool'
            WHEN regexp_matches(val, '^-?[0-9]+(\.[0-9]+)?$') THEN 'number'
            WHEN regexp_matches(col, '(_ts|timestamp)$') THEN 'timestamp'
            ELSE 'string' END AS col_type,
       CAST(row_number() OVER (PARTITION BY tbl ORDER BY t, seq, col) - 1 AS INT) AS previous_version,
       CAST(row_number() OVER (PARTITION BY tbl ORDER BY t, seq, col) AS INT) AS next_version
FROM first
ORDER BY "table", next_version
""",
    "cdc_schema_polled": r"""
WITH ev AS (
  SELECT event_id, epoch_ms(ts) AS t, event_type, CAST(value AS VARCHAR) AS value_s,
         json_extract_string(props, '$.k') AS k_s,
         CASE WHEN value > 50 THEN 'true' ELSE 'false' END AS flag_s
  FROM events
), cols AS (
  SELECT event_type AS tbl, t, event_id AS seq, 'value' AS col, value_s AS val FROM ev
  UNION ALL SELECT event_type, t, event_id, 'event_type', event_type FROM ev
  UNION ALL SELECT event_type, t, event_id, 'k', k_s FROM ev WHERE event_id % 3 = 0
  UNION ALL SELECT event_type, t, event_id, 'flag', flag_s FROM ev WHERE event_id % 7 = 0
), first AS (
  SELECT tbl, col, val, t FROM (
    SELECT *, row_number() OVER (PARTITION BY tbl, col ORDER BY t, seq) AS rn FROM cols
  ) WHERE rn = 1
), polled AS (
  SELECT tbl, col, val, (t // 3600000 + 1) * 3600000 AS emitted_at_ms FROM first
)
SELECT tbl AS "table", 's' AS op, emitted_at_ms, 'add_column' AS action, col AS "column",
       CASE WHEN regexp_matches(val, '^(true|false)$') THEN 'bool'
            WHEN regexp_matches(val, '^-?[0-9]+(\.[0-9]+)?$') THEN 'number'
            WHEN regexp_matches(col, '(_ts|timestamp)$') THEN 'timestamp'
            ELSE 'string' END AS col_type,
       CAST(row_number() OVER (PARTITION BY tbl ORDER BY emitted_at_ms, col) - 1 AS INT) AS previous_version,
       CAST(row_number() OVER (PARTITION BY tbl ORDER BY emitted_at_ms, col) AS INT) AS next_version
FROM polled
ORDER BY "table", next_version
""",
    "cdc_replay_fold": r"""
WITH base AS (
  SELECT event_type AS tbl, CAST(user_id AS VARCHAR) AS pk,
         epoch_ms(ts) AS t, event_id AS seq,
         CAST(epoch_ms(ts) AS HUGEINT) * 10000000 + event_id AS okey,
         CASE WHEN event_id % 11 = 0 THEN 'delete' ELSE 'update' END AS op,
         CAST(value AS VARCHAR) AS value_s,
         json_extract_string(props, '$.k') AS k_s,
         CASE WHEN value > 50 THEN 'true' ELSE 'false' END AS flag_s,
         event_id
  FROM events
), dels AS (
  SELECT tbl, pk, max(okey) AS dk FROM base WHERE op = 'delete' GROUP BY tbl, pk
), ups AS (
  SELECT b.*, COALESCE(d.dk, -1) AS dk
  FROM base b LEFT JOIN dels d USING (tbl, pk)
  WHERE b.op = 'update' AND b.okey > COALESCE(d.dk, -1)
), colvals AS (
  -- struct-wrapped arg_max: bare arg_max(val, okey) IGNORES NULL vals, but
  -- the merge fold keeps a NULL write (it hides the column from the render)
  SELECT tbl, pk, col, struct_extract(arg_max({'v': val}, okey), 'v') AS val FROM (
    SELECT tbl, pk, okey, 'value' AS col, value_s AS val FROM ups
    UNION ALL SELECT tbl, pk, okey, 'k', k_s FROM ups WHERE event_id % 3 = 0
    UNION ALL SELECT tbl, pk, okey, 'flag', flag_s FROM ups WHERE event_id % 7 = 0
  ) GROUP BY tbl, pk, col
), state AS (
  SELECT tbl, pk, string_agg(col || '=' || val, ',' ORDER BY col) AS data_str
  FROM colvals GROUP BY tbl, pk
), upd AS (
  SELECT tbl, pk, max(t) AS updated_t FROM base GROUP BY tbl, pk
)
SELECT s.tbl AS "table", s.pk AS pk, s.data_str, u.updated_t
FROM state s JOIN upd u ON s.tbl = u.tbl AND s.pk = u.pk
ORDER BY s.tbl, s.pk
""",
    "cdc_multitable_capture": CDC_MULTITABLE_SQL,
    "cdc_debezium_parse": r"""
SELECT event_type AS tbl,
       CAST(user_id AS VARCHAR) AS pk,
       CASE WHEN event_type = 'error' THEN 'd'
            WHEN event_id % 2 = 0 THEN 'c'
            ELSE 'u' END AS op,
       epoch_ms(ts) AS ts_ms,
       'k=' || json_extract_string(props, '$.k') || ',value=' || CAST(value AS VARCHAR)
         AS after_str
FROM events
WHERE event_id % 13 <> 0
ORDER BY tbl, ts_ms, pk, op
""",
    "cdc_value_coercion": r"""
SELECT event_id,
       CASE WHEN CAST(value AS DOUBLE) = CAST(CAST(value AS DOUBLE) AS BIGINT)
            THEN CAST(CAST(CAST(value AS DOUBLE) AS BIGINT) AS VARCHAR)
            ELSE CAST(CAST(value AS DOUBLE) AS VARCHAR) END AS canon_num,
       event_type AS canon_str,
       TRUE AS maps_equal,
       FALSE AS maps_differ_keys
FROM events
ORDER BY event_id
""",
    "cdc_harness_history": r"""
SELECT 'scenario_' || event_type AS scenario,
       CASE WHEN value > 50 THEN 'pass' ELSE 'fail' END AS status,
       count(*) AS n_runs,
       max(strftime(ts, '%Y-%m-%d')) AS last_run_date,
       max('r' || CAST(event_id AS VARCHAR) || '.html') AS last_link
FROM events
WHERE event_id % 50 NOT IN (0, 1) AND event_id % 97 <> 0
GROUP BY scenario, status
ORDER BY scenario, status
""",
    "cdc_scenario_filters": r"""
WITH sc AS (
  SELECT 'sc' || CAST(p_partkey AS VARCHAR) AS id,
         p_name AS name,
         p_type || ' parts sized ' || CAST(p_size AS VARCHAR) AS description,
         lower(p_brand) AS t1, lower(p_type) AS t2,
         CASE WHEN p_size % 2 = 0 THEN 'even' ELSE 'odd' END AS t3
  FROM part
)
SELECT id, name, description, t1 || ',' || t2 || ',' || t3 AS tags_str
FROM sc
WHERE t3 = 'even'
  AND contains(lower(id || ' ' || name || ' ' || description || ' ' || t1 || ' ' || t2 || ' ' || t3), 'blue')
  AND contains(lower(id || ' ' || name || ' ' || description || ' ' || t1 || ' ' || t2 || ' ' || t3), 'bolt')
ORDER BY id
""",
    "cdc_scd2_history": _with(WAL_SQL)
    + """
SELECT pk, version, event_type, value, props, valid_from_ms, valid_to_ms, is_current
FROM (
  SELECT pk,
         CAST(sum(CASE WHEN op <> 'd' THEN 1 ELSE 0 END)
              OVER (PARTITION BY pk ORDER BY lsn) AS BIGINT) AS version,
         op,
         after_event_type AS event_type,
         after_value AS value,
         after_props AS props,
         ts_ms AS valid_from_ms,
         lead(ts_ms) OVER (PARTITION BY pk ORDER BY lsn) AS valid_to_ms,
         (lead(ts_ms) OVER (PARTITION BY pk ORDER BY lsn) IS NULL) AS is_current
  FROM wal
)
WHERE op <> 'd'
ORDER BY pk, version
""",
    "cdc_incremental_agg": _with(WAL_SQL)
    + """
, deltas AS (
  SELECT after_event_type AS event_type, 1 AS dn,
         CAST(after_value AS DECIMAL(38,6)) AS dv
  FROM wal WHERE after_event_type IS NOT NULL
  UNION ALL
  SELECT before_event_type, -1, -CAST(before_value AS DECIMAL(38,6))
  FROM wal WHERE before_event_type IS NOT NULL
),
inc AS (
  SELECT event_type,
         CAST(sum(dn) AS BIGINT) AS n_rows,
         CAST(round(sum(dv), 2) AS DOUBLE) AS total_value
  FROM deltas GROUP BY event_type
),
state AS (
  SELECT pk, after_event_type AS event_type, after_value AS value
  FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY ts_ms DESC, lsn DESC) AS rn FROM wal)
  WHERE rn = 1 AND op <> 'd'
),
rec AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_rows_rec,
         CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value_rec
  FROM state GROUP BY event_type
)
SELECT COALESCE(inc.event_type, rec.event_type) AS event_type,
       COALESCE(inc.n_rows, 0) AS n_rows,
       COALESCE(inc.total_value, 0.0) AS total_value,
       COALESCE(rec.n_rows_rec, 0) AS n_rows_rec,
       COALESCE(rec.total_value_rec, 0.0) AS total_value_rec,
       (COALESCE(inc.n_rows, 0) = COALESCE(rec.n_rows_rec, 0)
        AND COALESCE(inc.total_value, 0.0) = COALESCE(rec.total_value_rec, 0.0)) AS converged
FROM inc FULL OUTER JOIN rec ON inc.event_type = rec.event_type
ORDER BY event_type
""",
    "cdc_savepoint_restore": _with(WAL_SQL)
    + """
, cut AS (SELECT CAST(max(lsn)/2 AS BIGINT) AS c FROM wal),
full_state AS (
  SELECT pk, after_event_type AS event_type, after_value AS value, after_props AS props
  FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY ts_ms DESC, lsn DESC) AS rn FROM wal)
  WHERE rn = 1 AND op <> 'd'
),
base_state AS (
  SELECT pk, after_event_type AS event_type, after_value AS value, after_props AS props,
         ts_ms AS updated_ts_ms
  FROM (SELECT w.*, row_number() OVER (PARTITION BY pk ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM wal w, cut WHERE w.lsn <= cut.c)
  WHERE rn = 1 AND op <> 'd'
),
unioned AS (
  SELECT 'c' AS op, pk, event_type AS after_event_type, value AS after_value,
         props AS after_props, updated_ts_ms AS ts_ms, CAST(0 AS BIGINT) AS lsn
  FROM base_state
  UNION ALL
  SELECT w.op, w.pk, w.after_event_type, w.after_value, w.after_props, w.ts_ms, w.lsn
  FROM wal w, cut WHERE w.lsn > cut.c
),
restored AS (
  SELECT pk, after_event_type AS event_type, after_value AS value, after_props AS props
  FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY ts_ms DESC, lsn DESC) AS rn FROM unioned)
  WHERE rn = 1 AND op <> 'd'
)
SELECT *, (n_mismatched = 0) AS converged FROM (
  SELECT CAST(count(f.event_type) AS BIGINT) AS n_keys_full,
         CAST(count(r.event_type) AS BIGINT) AS n_keys_restored,
         CAST(COALESCE(sum(CASE WHEN NOT (f.event_type IS NOT DISTINCT FROM r.event_type
                                          AND f.value IS NOT DISTINCT FROM r.value
                                          AND f.props IS NOT DISTINCT FROM r.props
                                          AND f.event_type IS NOT NULL
                                          AND r.event_type IS NOT NULL)
                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_mismatched
  FROM full_state f FULL OUTER JOIN restored r ON f.pk = r.pk
)
""",
}


# ---------------------------------------------------------------------------
# SLO error-budget accounting over consumer apply lag
# ---------------------------------------------------------------------------

SLO_LAG_TARGET_MS = 120_000  # apply-lag objective per delivery tick hour
SLO_GOOD_BP = 9900  # 99% of hours must meet the lag target
_SLO_HOUR = 3_600_000


def cdc_slo_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE-style SLO error-budget accounting over the playground consumer's
    apply lag (M7 timeline: latest delivered commit − last applied commit):
    an hour is *bad* when its worst tick lag exceeds the objective; budget
    = hours × (1 − SLO); burn reported in basis points of budget with the
    breach verdict.  Lag spikes come from the commit-floor hold-back under
    drift — exactly what an on-call pages on.

    Scale shape: the timeline is one row per delivery tick; the hourly
    max is a map-side-combinable aggregate over it — summary rows end to
    end."""
    from lets_talk_cdc_change_feed_playground_spark.operators import (
        playground_queries as pq,
    )

    tl = pq.cdc_consumer_timeline(spark, sf_dir)
    hourly = (
        tl.select(F.expr(f"tick_ms div {_SLO_HOUR}").alias("hour"), "lag_ms")
        .groupBy("hour")
        .agg(F.max("lag_ms").alias("max_lag_ms"))
    )
    flagged = hourly.select(
        "hour", "max_lag_ms", (F.col("max_lag_ms") > SLO_LAG_TARGET_MS).alias("bad")
    )
    return (
        flagged.groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("hours_total"),
            F.sum(F.col("bad").cast("int")).cast("long").alias("hours_bad"),
            F.max("max_lag_ms").alias("worst_lag_ms"),
        )
        .select(
            "hours_total",
            "hours_bad",
            "worst_lag_ms",
            F.expr(f"hours_total * {10000 - SLO_GOOD_BP} div 10000").alias("budget_hours"),
            F.expr(
                f"CASE WHEN hours_total * {10000 - SLO_GOOD_BP} div 10000 = 0 THEN"
                f" CASE WHEN hours_bad = 0 THEN 0L ELSE 1000000L END"
                f" ELSE 10000 * hours_bad div (hours_total * {10000 - SLO_GOOD_BP} div 10000) END"
            ).alias("burn_bp"),
            F.expr(
                f"10000 * (hours_total - hours_bad) div hours_total >= {SLO_GOOD_BP}"
            ).alias("slo_met"),
        )
    )


def _slo_sql(base: str) -> str:
    """Oracle for ``cdc_slo_budget``; ``base`` = the consumer-timeline SQL.

    Registered from ``playground_queries`` (which owns that SQL) — building
    it here at import time would read the half-initialized module when
    import order starts from ``playground_queries`` (circular import)."""
    bud = f"hours_total * {10000 - SLO_GOOD_BP} // 10000"
    return f"""
WITH tl AS (SELECT * FROM ({base})),
hourly AS (
  SELECT tick_ms // {_SLO_HOUR} AS hour, max(lag_ms) AS max_lag_ms
  FROM tl GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS hours_total,
         CAST(sum(CASE WHEN max_lag_ms > {SLO_LAG_TARGET_MS} THEN 1 ELSE 0 END) AS BIGINT) AS hours_bad,
         max(max_lag_ms) AS worst_lag_ms
  FROM hourly
)
SELECT hours_total, hours_bad, worst_lag_ms,
       CAST({bud} AS BIGINT) AS budget_hours,
       CAST(CASE WHEN {bud} = 0 THEN CASE WHEN hours_bad = 0 THEN 0 ELSE 1000000 END
            ELSE 10000 * hours_bad // ({bud}) END AS BIGINT) AS burn_bp,
       10000 * (hours_total - hours_bad) // hours_total >= {SLO_GOOD_BP} AS slo_met
FROM agg
"""


QUERIES["cdc_slo_budget"] = cdc_slo_budget
