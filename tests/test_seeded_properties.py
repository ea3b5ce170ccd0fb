"""Replay the reference's seeded property scenarios through the engines.

Ports the workload generator of ``sim/tests/property-tests.mjs:29-133``
faithfully — the Lehmer LCG (``state*16807 % 2^31-1``), the 45/35/20
insert/update/delete mix, the R-<seed>-<n> keys, the merge-patch updates,
the guaranteed trailing delete — and drives the scenarios the reference's
own CI replays (``sim/tests/seeds.json``) through our three capture
engines, asserting the same cross-engine invariants (``:215-243``):

- trigger & log lanes diff clean against the source ops (missing=0,
  extra=0, ordering=0) with nondecreasing timestamps;
- polling never produces *extra* events and never out-deletes the source;
- delete capture is exact on the lossless lanes;
- emission lag is bounded by each engine's tick interval.

Skips cleanly when the reference checkout is absent.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.operators import capture, diffs

SEEDS_PATH = "/root/reference/sim/tests/seeds.json"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SEEDS_PATH), reason="reference seeds not available"
)

FETCH_MS = 25
POLL_MS = 200
EXTRACT_MS = 150
OVERHEAD_MS = 6

CUSTOMERS = ["Acme", "Globex", "Initech", "Umbra", "Soylent"]
STATUSES = ["pending", "processing", "complete", "cancelled"]


def _rng(seed: int):
    state = seed % 2147483647
    if state <= 0:
        state += 2147483646

    def nxt() -> float:
        nonlocal state
        state = (state * 16807) % 2147483647
        return (state - 1) / 2147483646

    return nxt


def _pick(lst, rng):
    return lst[int(rng() * len(lst))]


def _fixed2(x: float) -> str:
    # JS Number((x).toFixed(2)) — string round-trip keeps the map payload
    # deterministic; engines treat it as opaque text
    return f"{x:.2f}"


def _gen_row(rid: str, rng) -> dict:
    return {
        "id": rid,
        "customer": _pick(CUSTOMERS, rng),
        "status": _pick(STATUSES, rng),
        "amount": _fixed2(rng() * 1000),
    }


def generate_scenario(seed: int) -> list[dict]:
    rng = _rng(seed * 97)
    ops: list[dict] = []
    active: dict[str, dict] = {}
    t = 0
    next_id = 1
    total_ops = int(rng() * 12) + 6

    def step() -> int:
        nonlocal t
        t += int(rng() * 220) + 40
        return t

    for _ in range(total_ops):
        op_type = "insert"
        active_ids = list(active.keys())
        if active_ids:
            roll = rng()
            if roll < 0.45:
                op_type = "insert"
            elif roll < 0.8:
                op_type = "update"
            else:
                op_type = "delete"

        if op_type == "insert" or not active:
            rid = f"R-{seed}-{next_id}"
            next_id += 1
            row = _gen_row(rid, rng)
            active[rid] = row
            ops.append({"t": step(), "op": "insert", "pk": rid, "after": row})
        elif op_type == "update":
            rid = _pick(active_ids, rng)
            current = active.get(rid) or _gen_row(rid, rng)
            patch = {
                "status": _pick(STATUSES, rng) if rng() > 0.5 else current["status"],
                "amount": _fixed2(float(current["amount"]) + (rng() - 0.5) * 120),
            }
            merged = {**current, **patch}
            active[rid] = merged
            ops.append({"t": step(), "op": "update", "pk": rid, "after": patch})
        else:
            rid = _pick(active_ids, rng)
            active.pop(rid, None)
            ops.append({"t": step(), "op": "delete", "pk": rid, "after": None})

    if not any(o["op"] == "delete" for o in ops) and active:
        rid = next(iter(active))
        active.pop(rid, None)
        ops.append({"t": step(), "op": "delete", "pk": rid, "after": None})
    return ops


def _seeds() -> list[int]:
    if not os.path.exists(SEEDS_PATH):
        return []
    with open(SEEDS_PATH) as f:
        return [int(s) for s in json.load(f)]


@pytest.mark.parametrize("seed", _seeds())
def test_reference_seed_invariants(spark, seed, cached):
    ops = generate_scenario(seed)
    feed = cached(
        spark.createDataFrame(
            [(i, o["t"], o["pk"], o["op"], o["after"]) for i, o in enumerate(ops)],
            "seq long, t long, pk string, op string, data map<string,string>",
        )
    )
    n_ops = len(ops)
    n_del = sum(1 for o in ops if o["op"] == "delete")

    log = cached(
        capture.log_capture_ops(feed, FETCH_MS, payload=("data",), merge_payload=True)
    )
    trig = cached(
        capture.trigger_capture_ops(
            feed, EXTRACT_MS, OVERHEAD_MS, payload=("data",), merge_payload=True
        )
    )
    poll = cached(
        capture.polling_capture_ops(
            feed, POLL_MS, include_soft_deletes=True, payload=("data",), merge_payload=True
        )
    )

    # lossless lanes diff clean against the source ops
    expected = diffs.expected_entries(feed)
    for lane, time_col, order in (
        (log, "ts_ms", ["ts_ms", "lsn"]),
        (trig, "commit_ts_ms", ["commit_ts_ms", "audit_seq"]),
    ):
        d = cached(diffs.lane_diff(expected, diffs.actual_entries(lane, time_col, order)))
        assert d.filter(F.col("status") != "matched").count() == 0
        assert diffs.ordering_inversions(d).first()["ordering_issues"] == 0

    # nondecreasing timestamps along each lossless lane
    for lane, seq_col, t_col in ((log, "lsn", "ts_ms"), (trig, "audit_seq", "commit_ts_ms")):
        disorder = (
            lane.withColumn("prev", F.lag(t_col).over(W.orderBy(seq_col)))
            .filter(F.col(t_col) < F.col("prev"))
            .count()
        )
        assert disorder == 0

    # polling: never extra, never out-deletes the source
    dp = diffs.lane_diff(
        expected, diffs.actual_entries(poll, "poll_ts_ms", ["poll_ts_ms", "ts_ms", "pk"])
    )
    assert dp.filter(F.col("status") == "extra").count() == 0
    assert poll.filter(F.col("op") == "d").count() <= n_del

    # exact delete capture on the lossless lanes
    assert log.filter(F.col("op") == "d").count() == n_del
    assert trig.filter(F.col("op") == "d").count() == n_del
    assert log.count() == trig.count() == n_ops

    # emission lag bounded by each engine's tick
    assert log.filter(F.col("emitted_at_ms") - F.col("ts_ms") > FETCH_MS).count() == 0
    assert (
        trig.filter(
            F.col("emitted_at_ms") - (F.col("commit_ts_ms") - OVERHEAD_MS) > EXTRACT_MS
        ).count()
        == 0
    )
    assert poll.filter(F.col("poll_ts_ms") - F.col("ts_ms") > POLL_MS).count() == 0
