"""The engine as a long-lived driver: ``clear_shared()`` releases everything
the session staging registry holds (persisted frames, broadcasts, the
scratch root), and the same queries rebuild the same results after it."""

from __future__ import annotations

import hashlib
import os
import sys
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

from lets_talk_cdc_change_feed_playground_spark import registry
from lets_talk_cdc_change_feed_playground_spark.operators.shared import (
    clear_shared,
    memo,
    scratch_dir,
)

# one cheap query per kind of staged entry: capture-lane frames, a driver
# merge table, an estimate plus a broadcast, a streaming family with its
# chunk feed, and an exported directory
SUBSET = [
    "cdc_log_capture",
    "docs_bpe_encode",
    "docs_allpairs_cosine",
    "stream_log_capture",
    "cdc_ndjson_roundtrip",
]


def _hashes(spark, sf_dir) -> dict[str, str]:
    queries = registry.queries()
    out = {}
    for name in SUBSET:
        df = queries[name](spark, sf_dir)
        rows = sorted(repr(tuple(r)) for r in df.collect())
        out[name] = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return out


def _cached_rdds(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


@pytest.mark.clears_registry
def test_clear_shared_releases_everything_and_rebuilds(spark, sf_dir):
    """Frames other tests cached themselves stay cached, so the storage
    check is that each ``clear_shared()`` returns storage to the same set
    (empty when this test runs alone)."""
    first = _hashes(spark, sf_dir)
    root = os.path.dirname(scratch_dir(spark, "sg_probe_"))
    staged = _cached_rdds(spark)

    assert clear_shared() > 0
    assert not os.path.exists(root)
    released = _cached_rdds(spark)
    assert released < staged

    assert _hashes(spark, sf_dir) == first
    assert _cached_rdds(spark) > released
    clear_shared()
    assert _cached_rdds(spark) == released


def test_memo_builds_each_key_once_under_contention(spark):
    """Many threads asking for a few keys: each key builds exactly once,
    and independent keys build at the same time (each build waits at a
    barrier that only opens when all four are in progress)."""
    # same session id as the live session, so nothing of it is evicted
    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId=spark.sparkContext.applicationId)
    )
    n_keys = 4
    together = threading.Barrier(n_keys, timeout=20)
    builds = Counter()
    count_lock = threading.Lock()

    def build(k: int) -> int:
        with count_lock:
            builds[k] += 1
        together.wait()
        return k * 10

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [
                pool.submit(
                    memo, fake, ("memo_stress", i % n_keys), lambda k=i % n_keys: build(k)
                )
                for i in range(64)
            ]
            got = [f.result(timeout=30) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert got == [(i % n_keys) * 10 for i in range(64)]
    assert builds == {k: 1 for k in range(n_keys)}
