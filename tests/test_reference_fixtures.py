"""Parity harness — replay the reference's own scenario fixtures.

Every fixture shipped with the reference harness (``harness/fixtures/*.json``)
is replayed through the full batch pipeline:

    S1 load_scenario → S3 snapshot_ops → C1/C2/C3 capture → A2 replay_fold

and checked against the reference's cross-engine invariants
(``sim/tests/property-tests.mjs:215-243``):

- trigger & log lanes are complete (one event per op, incl. snapshot
  inserts) with dense ordered LSNs;
- polling never invents events (≤ 1 per key/poll window, never more than
  effective ops) and never emits more deletes than the source;
- log/trigger delete capture is exact;
- replaying the log lane's merged after-images reproduces the final source
  state computed by an independent driver-side simulation of the LogEngine
  row store (``sim/engines/LogEngine.ts:33-99``: insert replaces, update
  merges, delete removes, ordered by logical time).

The fixtures are scenario *definitions* (≤ 4 KB of JSON); the suite skips
cleanly when the reference checkout is not present.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators import capture
from lets_talk_cdc_change_feed_playground_spark.sources import scenario as SC

REF_FIXTURES = "/root/reference/harness/fixtures"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_FIXTURES), reason="reference fixtures not available"
)

FETCH_MS = 25
POLL_MS = 200
EXTRACT_MS = 150
OVERHEAD_MS = 6


def _fixture_names():
    if not os.path.isdir(REF_FIXTURES):
        return []
    return sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(REF_FIXTURES, "*.json"))
    )


@pytest.fixture(scope="module", params=_fixture_names())
def replayed(request, spark):
    """(ordered op rows, capture feed DataFrame) for one reference fixture."""
    sc = SC.load_scenario(os.path.join(REF_FIXTURES, request.param))
    snap = [r.asDict() for r in SC.snapshot_ops(sc, spark, t=0).collect()]
    ops = [r.asDict() for r in sc.ops_df(spark).collect()]
    rows = sorted(snap + ops, key=lambda r: (r["t"], r["seq"]))
    feed = spark.createDataFrame(
        [
            (i, r["t"], f"{r['table']}|{r['pk']}", r["op"], r["after"])
            for i, r in enumerate(rows)
        ],
        "seq long, t long, pk string, op string, data map<string,string>",
    ).cache()
    yield rows, feed
    feed.unpersist()


def _python_fold(rows):
    """Independent final-state oracle: the LogEngine row store
    (``LogEngine.ts:33-99`` — insert REPLACES, update merges, delete
    removes; update on a missing row creates it from the patch)."""
    state: dict[str, dict] = {}
    for r in rows:  # already (t, seq)-ordered
        key = f"{r['table']}|{r['pk']}"
        if r["op"] == "delete":
            state.pop(key, None)
        elif r["op"] == "insert":
            state[key] = dict(r["after"] or {})
        else:  # update merges; creates from the patch when missing
            merged = dict(state.get(key, {}))
            merged.update(r["after"] or {})
            state[key] = merged
    return state


def test_log_and_trigger_lanes_complete(replayed, cached):
    rows, feed = replayed
    n_ops = len(rows)
    n_del = sum(1 for r in rows if r["op"] == "delete")

    log = cached(
        capture.log_capture_ops(feed, FETCH_MS, payload=("data",), merge_payload=True)
    )
    trig = cached(
        capture.trigger_capture_ops(
            feed, EXTRACT_MS, OVERHEAD_MS, payload=("data",), merge_payload=True
        )
    )

    assert log.count() == n_ops
    assert trig.count() == n_ops
    lo, hi, n = log.agg(F.min("lsn"), F.max("lsn"), F.countDistinct("lsn")).first()
    assert (lo, hi, n) == (1, n_ops, n_ops)

    # ordered: ts_ms nondecreasing along the WAL, commit after event time
    disorder = (
        log.withColumn("prev", F.lag("ts_ms").over(W.orderBy("lsn")))
        .filter(F.col("ts_ms") < F.col("prev"))
        .count()
    )
    assert disorder == 0
    # trigger commit_ts = op time + write overhead, op for op (multiset)
    got_commits = sorted(r["commit_ts_ms"] for r in trig.select("commit_ts_ms").collect())
    assert got_commits == sorted(r["t"] + OVERHEAD_MS for r in rows)
    # exact delete capture on the lossless lanes
    assert log.filter(F.col("op") == "d").count() == n_del
    assert trig.filter(F.col("op") == "d").count() == n_del


def test_polling_never_invents(replayed, cached):
    rows, feed = replayed
    n_ops = len(rows)
    n_del = sum(1 for r in rows if r["op"] == "delete")

    poll = cached(
        capture.polling_capture_ops(
            feed, POLL_MS, include_soft_deletes=True, payload=("data",), merge_payload=True
        )
    )

    assert poll.count() <= n_ops
    dupes = (
        poll.groupBy("pk", "poll_ts_ms").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0
    assert poll.filter(F.col("op") == "d").count() <= n_del
    # a poll event surfaces no later than one full poll interval after the op
    assert poll.filter(F.col("poll_ts_ms") - F.col("ts_ms") > POLL_MS).count() == 0


def test_log_replay_matches_reference_fold(replayed):
    rows, feed = replayed
    expected = _python_fold(rows)

    log = capture.log_capture_ops(feed, FETCH_MS, payload=("data",), merge_payload=True)
    # merged WAL images make replay a last-image-wins reduction
    wlast = W.partitionBy("pk").orderBy(F.desc("lsn"))
    state = (
        log.withColumn("rn", F.row_number().over(wlast))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("pk", "after_data")
    )
    got = {r["pk"]: dict(r["after_data"]) for r in state.collect()}
    assert got == expected


def test_snapshot_seeds_survive_when_untouched(replayed):
    """Rows seeded by the snapshot that no op touches must appear verbatim
    in the folded state (snapshot-to-stream semantics)."""
    rows, _ = replayed
    snap_keys = {
        f"{r['table']}|{r['pk']}": dict(r["after"] or {})
        for r in rows
        if r["seq"] == -1
    }
    touched = {
        f"{r['table']}|{r['pk']}" for r in rows if r["seq"] >= 0
    }
    expected = _python_fold(rows)
    for key, seed in snap_keys.items():
        if key not in touched:
            assert expected[key] == seed


def test_fixture_harness_verdict(replayed, cached):
    """The harness nightly pass criterion (``harness/verifier/index.js:169-205``:
    missing=0 ∧ extra=0 ∧ ordering=0) holds for the log lane on every
    fixture — the same check the reference's CI runs over its default
    scenario after a Postgres→Debezium→Kafka round trip."""
    from lets_talk_cdc_change_feed_playground_spark.operators import diffs

    rows, feed = replayed
    exp = diffs.expected_entries(feed)
    log = capture.log_capture_ops(feed, FETCH_MS, payload=("data",), merge_payload=True)
    act = diffs.actual_entries(log, "ts_ms", ["ts_ms", "lsn"])
    d = cached(diffs.lane_diff(exp, act))
    assert d.filter(F.col("status") != "matched").count() == 0
    assert diffs.ordering_inversions(d).first()["ordering_issues"] == 0
