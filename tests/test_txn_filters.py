"""A5 streaming txn assembly + F1-F7 filter/search/tag utilities."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.functions import filters as FL
from lets_talk_cdc_change_feed_playground_spark.streaming.txn import (
    TXN_EVENT_SCHEMA,
    assemble_transactions,
)


@pytest.fixture(scope="module")
def txn_chunks_dir(spark, tmp_path_factory):
    """Txn events split so TX-B straddles the micro-batch boundary."""
    out = str(tmp_path_factory.mktemp("txn_chunks"))
    chunk1 = [
        ("TX-A", 0, 2, 100, "p1", "insert", "{}"),
        ("TX-A", 1, 2, 100, "p2", "insert", "{}"),
        ("TX-B", 0, 3, 200, "p3", "insert", "{}"),
        ("TX-B", 1, 3, 200, "p4", "update", "{}"),
    ]
    chunk2 = [
        ("TX-B", 2, 3, 200, "p5", "delete", "{}"),
        ("TX-C", 0, 1, 300, "p6", "insert", "{}"),
        ("TX-D", 0, 2, 400, "p7", "insert", "{}"),  # never completes
    ]
    for i, rows in enumerate([chunk1, chunk2]):
        spark.createDataFrame(rows, TXN_EVENT_SCHEMA).coalesce(1).write.parquet(
            os.path.join(out, f"c{i}")
        )
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    for i in range(2):
        d = os.path.join(out, f"c{i}")
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.rename(os.path.join(d, part), os.path.join(flat, f"{i:02d}.parquet"))
    return flat


def test_txn_assembly_across_batches(spark, txn_chunks_dir):
    src = (
        spark.readStream.schema(TXN_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(txn_chunks_dir)
    )
    q = (
        assemble_transactions(src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("assembled")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.table("assembled").collect()
    by_tx = {}
    for r in got:
        by_tx.setdefault(r["tx_id"], []).append(r)
    # complete txns emitted whole, incomplete TX-D never visible
    assert set(by_tx) == {"TX-A", "TX-B", "TX-C"}
    assert [r["tx_index"] for r in sorted(by_tx["TX-B"], key=lambda r: r["tx_index"])] == [0, 1, 2]
    assert all(r["n_events"] == 3 for r in by_tx["TX-B"])


@pytest.fixture(scope="module")
def scenarios_df(spark):
    rows = [
        ("crud-basic", "CRUD Basic", "delete visibility", ["crud", "basics"]),
        ("schema-evo", "Schema Evolution", "drifting columns", ["schema", "advanced"]),
        ("payments", "Payments", "txn ordering under drift", ["txn", "advanced"]),
    ]
    return spark.createDataFrame(rows, ["id", "name", "description", "tags"])


def test_scenario_filters(scenarios_df):
    got = FL.filter_scenarios(scenarios_df, tags=("advanced",)).collect()
    assert {r["id"] for r in got} == {"schema-evo", "payments"}
    got = FL.filter_scenarios(scenarios_df, tags=("advanced",), query="txn ordering").collect()
    assert [r["id"] for r in got] == ["payments"]
    assert FL.filter_scenarios(scenarios_df, query="nonexistent").count() == 0


def test_collect_tags(scenarios_df):
    tags = [r["tag"] for r in FL.collect_tags(scenarios_df).collect()]
    assert tags == sorted(set(tags))
    assert "advanced" in tags and "crud" in tags


def test_pin_scenario(spark, scenarios_df):
    live = spark.createDataFrame(
        [("payments", "Payments LIVE", "running now", ["txn"])],
        ["id", "name", "description", "tags"],
    )
    got = FL.pin_scenario(scenarios_df, live).collect()
    assert got[0]["name"] == "Payments LIVE"
    assert len(got) == 3  # replaced, not duplicated


def test_event_filters_and_search(spark, sf_dir, cached):
    from lets_talk_cdc_change_feed_playground_spark.operators.capture import log_capture

    ev = cached(log_capture(spark, sf_dir))
    only_cd = FL.filter_events(ev, ops=("C", "d"))
    assert only_cd.select("op").distinct().count() == 2
    hits = FL.search_events(ev, "purchase tx-", ["after_event_type", "tx_id"])
    assert 0 < hits.count() < ev.count()
    assert hits.filter(F.col("after_event_type") != "purchase").count() == 0


def test_parse_debezium_envelopes(spark):
    from lets_talk_cdc_change_feed_playground_spark.sources.debezium import parse_debezium

    rows = [
        ("dbserver1.public.customers", "c1",
         '{"payload": {"op": "c", "after": {"id": "c1", "name": "Ada"}, "ts_ms": "100", "source": {"table": "customers"}}}'),
        ("dbserver1.public.customers", "c1",
         '{"payload": {"op": "u", "before": {"id": "c1", "name": "Ada"}, "after": {"id": "c1", "name": "Ada L"}, "ts_ms": "200", "source": {"table": "customers"}}}'),
        ("dbserver1.public.orders", "o1",
         '{"payload": {"op": "r", "after": {"id": "o1"}, "ts_ms": "50", "source": {"table": "orders"}}}'),
        ("dbserver1.public.orders", "o2",
         '{"payload": {"op": "d", "before": {"id": "o2"}, "ts_ms": "300", "source": {"table": "orders"}}}'),
    ]
    df = spark.createDataFrame(rows, ["topic", "key", "value"])
    got = parse_debezium(df).orderBy("ts_ms").collect()
    # snapshot read 'r' dropped; table derived from topic suffix
    assert [r["op"] for r in got] == ["c", "u", "d"]
    assert got[0]["tbl"] == "customers" and got[2]["tbl"] == "orders"
    assert got[1]["before"]["name"] == "Ada"
    assert got[2]["after"] is None


def test_sanitize_map(spark):
    df = spark.createDataFrame([({"a": "1", "b": None, "c": "x"},)], ["m"])
    got = df.select(FL.sanitize_map(F.col("m")).alias("m")).first()["m"]
    assert got == {"a": "1", "c": "x"}


def test_parse_harness_history(spark):
    lines = spark.createDataFrame(
        [
            ("| Date | Scenario | Status | Report |",),
            ("|---|---|---|---|",),
            ("| 2026-08-01 | crud-basic | PASS | [report](runs/1.html) |",),
            ("| 2026-08-02 | payments | fail | [report](runs/2.html) |",),
            ("| no runs yet |",),
            ("not a table line",),
        ],
        ["line"],
    )
    got = FL.parse_harness_history(lines).collect()
    assert len(got) == 2
    assert got[0]["status"] == "pass" and got[0]["report_link"] == "runs/1.html"
    assert got[1]["scenario"] == "payments"


def test_salted_agg_matches_plain(spark, sf_dir):
    """Skew helper: two-phase salted aggregation equals the plain groupBy
    for algebraic aggregates, and phase 1 genuinely fans hot keys out."""
    from lets_talk_cdc_change_feed_playground_spark.functions.skew import salted_agg
    from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import ops_feed

    ops = ops_feed(spark, sf_dir)
    got = salted_agg(
        ops,
        keys=["op"],
        salt_col="seq",
        partials={
            "n": lambda: F.count(F.lit(1)),
            "sum_value": lambda: F.sum("value"),
            "max_t": lambda: F.max("t"),
        },
        merges={
            "n": lambda c: F.sum(c),
            "sum_value": lambda c: F.sum(c),
            "max_t": lambda c: F.max(c),
        },
    )
    want = ops.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
        F.max("t").alias("max_t"),
    )
    g = {r["op"]: r for r in got.collect()}
    w = {r["op"]: r for r in want.collect()}
    assert set(g) == set(w)
    for op in w:
        assert g[op]["n"] == w[op]["n"]
        assert g[op]["max_t"] == w[op]["max_t"]
        assert abs(g[op]["sum_value"] - w[op]["sum_value"]) < 1e-6


def test_occ_conflicts_first_committer_wins(spark):
    from lets_talk_cdc_change_feed_playground_spark.operators.integrity_queries import (
        cdc_txn_conflicts,
    )

    rows = cdc_txn_conflicts(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_id = {r["txn_id"]: r for r in rows}
    n_aborted = sum(1 for r in rows if r["aborted"])
    n_conf = sum(1 for r in rows if r["n_conflicts"] > 0)
    assert 0 < n_aborted < len(rows)
    assert n_aborted <= n_conf
    for r in rows:
        assert r["start_ts"] <= r["commit_ts"]
        if r["aborted"]:
            assert r["n_conflicts"] > 0
        if r["n_conflicts"] == 0:
            assert not r["aborted"] and r["first_partner"] is None
        else:
            # a conflicting pair never has BOTH sides survive:
            p = by_id[r["first_partner"]]
            assert p["n_conflicts"] > 0
