"""Benchmark harness: times every registered query at the bench scale factor.

Prints ONE compact machine-parseable JSON line as the FINAL stdout line:
  {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
   "sf": 0.1, "n_queries": N, "detail": "BENCH_DETAIL.json"}
The per-query timing map (~6 KB for 212 queries) is written to
BENCH_DETAIL.json next to this script and echoed to stderr — the driver
captures only a ~2 KB stdout tail, so the final line must stay small.

Headline semantics (round-9 measurement fix, per the round-8 verdict):
``value`` is the END-TO-END wall — staging_sec (shared-frame warmup)
+ first_pass_sec (summed first-touch extra across queries) + steady_sec
(sum of best-of-N per-query walls).  Rounds 1-8 reported the steady sum
alone as ``value`` while the untimed staging region grew, which made
round-over-round value comparisons overstate gains; all three components
stay on the summary line, and ``steady_sec`` carries the old meaning so
the historical series remains computable (r08 equivalent end-to-end =
70.5 + 103.9 + 171.7 = 346.1 s).  The per-query ``queries`` map is
unchanged: steady-state best-of-N, same names.

The detail file is written BOTH to BENCH_DETAIL.json (historical name)
and BENCH_DETAIL_c{cpus}.json — the driver re-runs the bench at a lower
core count, and in round 8 that second run clobbered the 32-core
per-query map; per-config names keep both runs' details readable.

Each query is fully materialized through the noop sink (forces execution of
the whole plan — ``count()`` alone would let Catalyst prune unreferenced
projections). Env knobs:
  SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  BENCH_QUERIES        comma-separated subset to run
  BENCH_REPEAT         timed repetitions per query, best-of (default 2 —
                       one ambient-noise spike otherwise distorts a query's
                       number for the whole round)
  BENCH_COLD           set to skip the shared-frame warmup
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# Steady-state measurement: persist the spread base tables session-wide
# (see sources/testdata.py:load_table). Must be set before engine imports.
os.environ.setdefault("SPARK_GRAFT_CACHE_BASE", "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from lets_talk_cdc_change_feed_playground_spark import get_spark  # noqa: E402


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _jvm_gc_ms(spark) -> int:
    """Cumulative driver-JVM GC wall (ms) across all collectors."""
    try:
        beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        total = 0
        it = beans.iterator()
        while it.hasNext():
            total += it.next().getCollectionTime()
        return int(total)
    except Exception:
        return -1


def _canary(spark) -> dict:
    """Fixed-cost load sentinel, timed at bench start and end.

    Two probes whose work never changes: a CPU-bound whole-stage-codegen
    fold and a small shuffle.  Their walls measure the MACHINE at
    measurement time, not the engine — so a round-over-round query delta
    can be read against the canary delta ('machine slow' vs 'plan
    regressed') without manual A/B archaeology.  Single-shot on purpose:
    best-of-N would hide exactly the ambient noise being measured."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id % 1000003)").collect()
    cpu = time.perf_counter() - t0
    t0 = time.perf_counter()
    (
        spark.range(4_000_000)
        .selectExpr("id % 1000 AS k")
        .groupBy("k")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    shuffle = time.perf_counter() - t0
    return {"cpu_sec": round(cpu, 3), "shuffle_sec": round(shuffle, 3)}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(os.environ.get("BENCH_REPEAT", "2"))
    subset = [s for s in os.environ.get("BENCH_QUERIES", "").split(",") if s]

    spark = get_spark("bench")
    queries = entry_mod.queries()
    names = subset or list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"error: unknown BENCH_QUERIES {unknown}; known: {sorted(queries)}", file=sys.stderr)
        return 2

    # untimed warmup: JVM JIT + parquet footer caches, so the first timed
    # query doesn't absorb session startup cost
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()
    except Exception:
        pass
    canary_start = _canary(spark)  # after JIT warmup, before any staging
    # Materialize the session-shared staging frames untimed (ops feed,
    # capture lanes, diff/signature frames — operators/shared.py). A
    # long-lived session runs at this steady state: the engine's design
    # stages each shared frame once and points every consumer at it, so
    # per-query numbers below measure query latency, not first-touch
    # staging. Staging cost itself is bounded by one pass over the input.
    staging_sec = 0.0
    if not os.environ.get("BENCH_COLD"):
        t_stage = time.perf_counter()
        try:
            from lets_talk_cdc_change_feed_playground_spark.operators import (
                capture,
                playground as pg,
            )
            from lets_talk_cdc_change_feed_playground_spark.operators.cdc_queries import (
                _expected,
                _lane_diff,
                _lanes,
            )
            from lets_talk_cdc_change_feed_playground_spark.operators.playground_queries import (
                _ledger,
            )
            from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
                _docs_t,
                _signatures,
                _simhash_frame,
                docs_dedup_components,
            )

            from concurrent.futures import ThreadPoolExecutor

            def _noop(d):
                d.write.format("noop").mode("overwrite").save()

            # the log lane first and ALONE — it materializes the ops feed
            # every other lane/frame persists on top of; the remaining three
            # lanes then only share already-cached ancestors, so their
            # materializing writes overlap (guide §2.6: overlap independent
            # jobs — the staging wall is part of the bench headline)
            _noop(capture.log_capture(spark, sf_dir))
            with ThreadPoolExecutor(max_workers=3) as pool:
                for fu in [
                    pool.submit(_noop, df)
                    for df in (
                        capture.polling_capture(spark, sf_dir),
                        capture.polling_capture(
                            spark, sf_dir, include_soft_deletes=True
                        ),
                        capture.trigger_capture(spark, sf_dir),
                    )
                ]:
                    fu.result()
            # the derived frames are independent persists — submit their
            # materializing writes concurrently (Spark schedules jobs from
            # multiple threads; the frames are small, so 8 in flight keeps
            # the 32 local cores busy without queue thrash)
            derived = [
                _lanes(spark, sf_dir),
                _expected(spark, sf_dir),
                *[_lane_diff(spark, sf_dir, m) for m in ("log", "polling", "trigger")],
                pg.bus_feed(spark, sf_dir),
                pg.bus_feed(spark, sf_dir, drop_p=0.0),
                pg.rate_limited_frame(spark, sf_dir),
                _ledger(spark, sf_dir, 0.0),
                _ledger(spark, sf_dir, pg.DROP_P),
                _docs_t(spark, sf_dir),
                _signatures(spark, sf_dir),
                _simhash_frame(spark, sf_dir),
                docs_dedup_components(spark, sf_dir),  # stages the edge frame
            ]
            with ThreadPoolExecutor(max_workers=8) as pool:
                for fu in [pool.submit(_noop, df) for df in derived]:
                    fu.result()
            # the shared streaming family passes (one consumer pass per
            # feed, streaming/stream_queries.py) — judged stream queries
            # then assemble from the staged artifacts
            from lets_talk_cdc_change_feed_playground_spark.streaming.stream_queries import (
                warm_families,
            )

            warm_families(spark, sf_dir)
        except Exception as e:
            print(f"# warmup skipped: {e}", file=sys.stderr)
        # reported (not hidden): one-time cost of staging the shared frames,
        # so the steady-state per-query numbers are honest end-to-end
        staging_sec = round(time.perf_counter() - t_stage, 3)

    # Per-query walls are STEADY STATE: best-of-``repeat`` runs, so a query's
    # first execution — which may materialize session-shared frames its
    # family staged lazily (operators/shared.py) — never lands in its wall.
    # That first-touch cost isn't hidden either: ``first_pass_sec`` below is
    # the summed (run1 − best) across all queries, reported next to the
    # explicit ``staging_sec`` warmup, so total bench cost = staging_sec +
    # first_pass_sec + value.
    timings: dict[str, float] = {}
    first_extra: dict[str, float] = {}
    first_pass_extra = 0.0
    failures: dict[str, str] = {}
    gc_ms_per_query: dict[str, int] = {}
    gc_before = _jvm_gc_ms(spark)
    for name in names:
        fn = queries[name]
        best = first = None
        try:
            for _ in range(max(repeat, 1)):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                first = dt if first is None else first
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
            first_extra[name] = round(first - best, 3)
            first_pass_extra += first - best
        except Exception as e:  # keep benching; report the failure
            failures[name] = str(e).split("\n")[0][:200]
        gc_now = _jvm_gc_ms(spark)
        gc_ms_per_query[name] = gc_now - gc_before
        gc_before = gc_now
        print(
            f"# {name}: {timings.get(name, 'FAIL')} (gc +{gc_ms_per_query[name]}ms)",
            file=sys.stderr,
            flush=True,
        )

    canary_end = _canary(spark)
    steady_sec = round(sum(timings.values()), 3)
    # MEASUREMENT FIX (round 9, per the r08 verdict): the headline value is
    # the honest END-TO-END wall, not the steady sum — staging and first-pass
    # work is real computation from the parquet inputs and belongs inside the
    # compared number. steady_sec keeps the old meaning for the series.
    end_to_end = round(staging_sec + first_pass_extra + steady_sec, 3)
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or spark.sparkContext.defaultParallelism
    )
    detail = {
        "metric": "total_query_wall_sec",
        "value": end_to_end,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        "cpus": cpus,
        "n_queries": len(timings),
        "steady_sec": steady_sec,
        "staging_sec": staging_sec,
        "first_pass_sec": round(first_pass_extra, 3),
        # per-query first-touch extra (run1 − best): attributes the
        # first_pass_sec total so lazily-staged shared frames' one-time
        # materialization cost is readable per query family
        "first_extra": first_extra,
        "canary_start": canary_start,
        "canary_end": canary_end,
        # driver-JVM GC wall attributed per timed query (ms): reads the
        # session-pressure curve (heap churn from hundreds of jobs + dozens
        # of persisted frames) against each wall, the same "machine or
        # plan?" discipline as the canary
        "gc_ms": gc_ms_per_query,
    }
    if failures:
        detail["failures"] = failures
    here = os.path.dirname(os.path.abspath(__file__))
    # per-config detail next to the historical name: the driver's low-core
    # re-run must not clobber the main run's per-query map (r08 lesson)
    for fname in ("BENCH_DETAIL.json", f"BENCH_DETAIL_c{cpus}.json"):
        try:
            with open(os.path.join(here, fname), "w") as f:
                json.dump(detail, f, indent=1)
        except OSError as e:
            print(f"# could not write {fname}: {e}", file=sys.stderr)
    print(json.dumps(detail), file=sys.stderr, flush=True)

    # Compact final stdout line (<2 KB driver tail capture) — the per-query
    # map must NOT be on stdout (round 1 + 3 lesson).
    summary = {
        "metric": "total_query_wall_sec",
        "value": end_to_end,
        "unit": "sec",
        "sf": detail["sf"],
        "cpus": cpus,
        "n_queries": detail["n_queries"],
        "n_failures": len(failures),
        "steady_sec": steady_sec,
        "staging_sec": staging_sec,
        "first_pass_sec": round(first_pass_extra, 3),
        # ambient-load sentinel: mean of the fixed-cost CPU canary timed at
        # bench start and end (full probes in BENCH_DETAIL.json)
        "canary_sec": round(
            (canary_start["cpu_sec"] + canary_end["cpu_sec"]) / 2, 3
        ),
        "detail": "BENCH_DETAIL.json",
    }
    print(json.dumps(summary), flush=True)

    # return executor storage: the session-shared persisted frames are a
    # bench-lifetime cache, not a leak — drop them explicitly at the end so
    # a caller embedding main() in a longer-lived driver isn't left holding
    # every staged lane/bus/vector frame (operators/shared.py:clear_shared)
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import clear_shared

    clear_shared()
    return 0 if not failures else 1


if __name__ == "__main__":
    raise SystemExit(main())
