"""C4-live: schema-change capture through the streaming path.

Pins the three contracts of ``streaming/schema_stream.py``:
- control rows captured incrementally (micro-batch registry) equal the
  batch ``schema_change_events`` exactly, version numbering included;
- the evolving sink's WIDE projection parquet schema literally gains
  columns mid-stream (the ALTER TABLE ADD COLUMN analogue,
  ``sink/consumer.mjs:179-232``);
- the sink's final state equals the batch consumer replay fold.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_stream_schema_capture_matches_batch(spark):
    from lets_talk_cdc_change_feed_playground_spark.operators import schema_evolution
    from lets_talk_cdc_change_feed_playground_spark.streaming import schema_stream

    registry, sink = schema_stream.run_schema_evolution_stream(spark, SF_DIR)

    batch = {
        (r["table"], r["column"]): (r["col_type"], r["previous_version"], r["next_version"])
        for r in schema_evolution.schema_change_events(
            schema_stream.evolving_ops(spark, SF_DIR)
        ).collect()
    }
    live = {
        (tbl, col): (col_type, pv, nv)
        for (tbl, _op, _t, _seq, _act, col, col_type, pv, nv) in registry.events
    }
    assert live == batch
    # every op='s' row is present and version-dense per table
    for tbl in registry.known:
        vers = sorted(nv for (t, _), (_, _, nv) in live.items() if t == tbl)
        assert vers == list(range(1, len(vers) + 1))


def test_sink_schema_gains_columns_mid_stream(spark, tmp_path, monkeypatch):
    """A column that first appears in micro-batch 2 must (a) produce an
    op='s' row versioned AFTER batch 1's columns, and (b) appear as a REAL
    parquet column in the wide projection's later versions only — the
    mid-stream ALTER."""
    import os
    import time

    from lets_talk_cdc_change_feed_playground_spark.streaming import (
        runtime,
        schema_stream,
    )

    # this test's premise is chunk boundaries == batch boundaries (the ALTER
    # must land mid-stream), so pin one staged file per trigger regardless
    # of the judged default granularity
    monkeypatch.setattr(runtime, "MAX_FILES_PER_TRIGGER", 1)

    chunk1 = [
        ("users", "p1", 100, 0, "update", {"name": "ann"}),
        ("users", "p2", 200, 1, "update", {"name": "bob"}),
    ]
    chunk2 = [
        ("users", "p1", 300, 2, "update", {"name": "ann2", "age": "41"}),
        ("users", "p3", 400, 3, "update", {"age": "7"}),
        ("users", "p2", 500, 4, "delete", None),
    ]
    flat = tmp_path / "flat"
    flat.mkdir()
    base = int(time.time())
    for i, rows in enumerate((chunk1, chunk2)):
        df = spark.createDataFrame(rows, schema_stream.OPS_SCHEMA)
        cdir = str(tmp_path / f"c{i}")
        df.coalesce(1).write.parquet(cdir)
        part = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
        dst = str(flat / f"{i:02d}.parquet")
        os.rename(os.path.join(cdir, part), dst)
        os.utime(dst, (base + i, base + i))

    registry, sink = schema_stream.run_ops_stream(spark, str(flat))

    # 'age' was introduced by batch 2 → versioned after batch 1's 'name'
    assert registry.known["users"] == {"name": 1, "age": 2}
    events = {e[5]: e for e in registry.events}
    assert events["age"][6] == "number" and events["age"][8] == 2

    vs = sink.table_versions("users")
    assert len(vs) == 2
    v0_cols = set(sink.read_table("users", vs[0]).columns)
    v1_cols = set(sink.read_table("users", vs[-1]).columns)
    assert "age" not in v0_cols, v0_cols  # pre-ALTER schema
    assert {"name", "age"} <= v1_cols  # post-ALTER schema gained the column

    final = {
        r["pk"]: (r["name"], r["age"])
        for r in sink.read_table("users", vs[-1]).collect()
    }
    # p2 deleted in batch 2; p1 merged {name: ann2, age: 41}; p3 created late
    assert final == {"p1": ("ann2", "41"), "p3": (None, "7")}


def test_insert_replaces_row_across_batches(spark, tmp_path):
    """storage.ts:133-164: an insert REPLACES the stored row — columns from
    pre-insert updates must NOT survive, even across a micro-batch
    boundary."""
    import os
    import time

    from lets_talk_cdc_change_feed_playground_spark.streaming import schema_stream

    chunk1 = [("u", "p1", 100, 0, "update", {"a": "1", "b": "2"})]
    chunk2 = [("u", "p1", 200, 1, "insert", {"a": "9"})]
    flat = tmp_path / "flat"
    flat.mkdir()
    base = int(time.time())
    for i, rows in enumerate((chunk1, chunk2)):
        df = spark.createDataFrame(rows, schema_stream.OPS_SCHEMA)
        cdir = str(tmp_path / f"c{i}")
        df.coalesce(1).write.parquet(cdir)
        part = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
        dst = str(flat / f"{i:02d}.parquet")
        os.rename(os.path.join(cdir, part), dst)
        os.utime(dst, (base + i, base + i))

    _registry, sink = schema_stream.run_ops_stream(spark, str(flat))
    rows = {r["pk"]: dict(r["data"]) for r in sink.current().collect()}
    assert rows == {"p1": {"a": "9"}}  # b did NOT survive the replace


def test_sink_state_matches_batch_replay_fold(spark):
    from lets_talk_cdc_change_feed_playground_spark.operators import schema_evolution
    from lets_talk_cdc_change_feed_playground_spark.streaming import schema_stream

    registry, sink = schema_stream.run_schema_evolution_stream(spark, SF_DIR)
    live = {
        (r["table"], r["pk"]): (dict(r["data"]), r["updated_t"])
        for r in sink.current().collect()
    }
    batch = {
        (r["table"], r["pk"]): (dict(r["data"]), r["updated_t"])
        for r in schema_evolution.replay_fold(
            schema_stream.evolving_ops(spark, SF_DIR)
        ).collect()
    }
    assert live.keys() == batch.keys()
    for k in live:
        ld, lt = live[k]
        bd, bt = batch[k]
        # value-null entries are invisible in the reference store's render
        assert {k2: v for k2, v in ld.items() if v is not None} == {
            k2: v for k2, v in bd.items() if v is not None
        }, k
        assert lt == bt, k
