"""Sweeping physical-plan guard over the whole judged batch surface.

A cartesian product anywhere in the 100+-query surface is a scale bug no
matter how small the testdata — this sweep builds (without executing) the
executed-plan string of every batch query and fails on any
``CartesianProduct`` operator. Broadcast nested-loop joins of single-row
scalar frames are fine (and common: grand totals, floors, cuts); an
unkeyed shuffled product is not. Targeted per-query plan assertions
(broadcast choice, pushdown, TakeOrderedAndProject, window partitioning)
live in ``test_relational.py`` / ``test_pipeline.py``.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


# batch queries whose *function call* drives a streaming pipeline to build
# its result frame — planning them means executing the stream; their output
# frame is a trivial parquet read, so the sweep skips them
_STREAM_DRIVEN = {"cdc_restart_convergence"}


def _batch_queries():
    return sorted(
        n
        for n in entry.queries()
        if not n.startswith("stream_") and n not in _STREAM_DRIVEN
    )


@pytest.mark.parametrize("name", _batch_queries())
def test_no_cartesian_product(spark, sf_dir, name):
    fn = entry.queries()[name]
    plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_zorder_beats_insertion_layout(spark):
    from lets_talk_cdc_change_feed_playground_spark.plans.layout_queries import (
        lineitem_zorder_plan,
    )

    rows = {r["layout"]: r for r in lineitem_zorder_plan(spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"zorder", "insertion"}
    z, n = rows["zorder"], rows["insertion"]
    assert z["n_rows"] == n["n_rows"]
    assert z["mean_span"] < n["mean_span"]  # clustering tightens min-max spans
    assert z["files_skipped"] >= n["files_skipped"]


def test_compaction_plan_conserves_rows_and_reduces_files(spark):
    from lets_talk_cdc_change_feed_playground_spark.plans.layout_queries import (
        COMPACT_TARGET,
        orders_compaction_plan,
    )
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_table

    rows = orders_compaction_plan(spark, "/root/testdata/sf0.001").collect()
    total = sum(r["n_rows"] for r in rows)
    assert total == load_table(spark, "/root/testdata/sf0.001", "orders").count()
    frags = sum(r["n_fragments"] for r in rows)
    assert len(rows) <= frags
    for r in rows:
        assert r["day_lo"] <= r["day_hi"]
        # greedy prefix packing: a job only exceeds target by its last fragment
        assert r["n_rows"] < 2 * COMPACT_TARGET or r["n_fragments"] == 1


def test_dq_scorecard_rules(spark):
    from lets_talk_cdc_change_feed_playground_spark.plans.layout_queries import (
        orders_dq_scorecard,
    )

    rows = {r["rule"]: r for r in orders_dq_scorecard(spark, "/root/testdata/sf0.001").collect()}
    assert len(rows) == 7
    for r in rows.values():
        assert r["pass"] == (r["violations"] == 0)
        assert 0 <= r["violations"] <= r["checked"]
    # the synthetic feed genuinely violates line-number uniqueness — the
    # scorecard must surface it (a constraint suite that always passes
    # proves nothing)
    assert rows["unique:(l_orderkey,l_linenumber)"]["pass"] is False
    assert rows["fk:orders->customer"]["pass"] is True


@pytest.mark.parametrize(
    "name,cap_const",
    [
        ("docs_corpus_drift", "retrieval_queries.DRIFT_TOP"),
        ("docs_vocab_topk", "training_queries.VOCAB_K"),
    ],
)
def test_rank_limit_pushdown_survives(spark, sf_dir, name, cap_const):
    """The two global-order rank caps must keep compiling to a DISTRIBUTED
    top-k (TakeOrderedAndProject bounding the window's input to k rows) —
    a regression to a single-task full vocabulary sort would show a Window
    over an unbounded global Sort instead. Guards Spark-upgrade drift of
    the InferWindowGroupLimit / LimitPushDownThroughWindow rewrites."""
    from lets_talk_cdc_change_feed_playground_spark.functions import (
        retrieval_queries,
        training_queries,
    )

    cap = eval(cap_const)  # noqa: S307 - test-local constant lookup
    plan = entry.queries()[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert f"TakeOrderedAndProject(limit={cap}" in plan, (
        f"{name}: rank cap no longer pushes down to a distributed top-{cap}; "
        "the global window would sort the full vocabulary in one task"
    )


def test_shared_df_anchors_to_inmemory_leaf(spark):
    """``shared_df`` hands consumers a DataFrame whose LOGICAL plan is the
    cache's ``InMemoryRelation`` leaf (not the builder lineage) — the
    round-8 anchoring optimization.  ``_anchor_to_cache`` rides Spark
    internals behind a broad fallback, so a Spark upgrade could silently
    revert every consumer to full-lineage re-analysis with zero failing
    test; this guard (plus the loud RuntimeWarning in the fallback) makes
    that regression observable."""
    from lets_talk_cdc_change_feed_playground_spark.operators import shared

    df = shared.shared_df(
        spark,
        ("plan_guard_anchor_probe",),
        lambda: spark.range(1000)
        .selectExpr("id % 13 AS k", "id AS v")
        .groupBy("k")
        .count(),
    )
    root = df._jdf.queryExecution().logical().nodeName()
    assert root == "InMemoryRelation", (
        f"anchored shared frame plans as {root}, not an InMemoryRelation leaf "
        "— _anchor_to_cache fell back (check the RuntimeWarning for why); "
        "every shared-frame consumer is re-analyzing full builder lineage"
    )
    assert shared._ANCHOR_FALLBACKS == 0, (
        f"_anchor_to_cache fell back {shared._ANCHOR_FALLBACKS}x this process"
    )
    # and the physical side: consumers scan the cache
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in physical or "Scan In-memory" in physical


def test_allpairs_verify_plan_invariants(spark, sf_dir):
    """The AllPairs verify is the posting-list equi-join form: whole-stage
    codegen hash joins + ONE hash aggregation, no interpreted per-pair
    lambda, and no global-sort sampling pass.  Guards the three measured
    regressions of earlier forms: (a) a higher-order ``aggregate(`` fold in
    the physical plan evaluated interpreted and re-ran per reference under
    AQE recompilation (25→157 s of CPU run-to-run on identical inputs);
    (b) the final ``orderBy`` compiled to a RangePartitioning exchange
    whose SAMPLE job re-executed the whole verify pipeline — the query ran
    twice per call; (c) AQE broadcasting the skinny candidate side re-ran
    the candidate join inside each broadcast build (guarded here by the
    session-persisted candidate frame appearing as an InMemory scan)."""
    plan = (
        entry.queries()["docs_allpairs_cosine"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.split("\n")
    assert not any("aggregate(" in ln and "lambda" in ln for ln in lines), (
        "an interpreted higher-order fold is back in the AllPairs plan"
    )
    assert "rangepartitioning" not in plan.lower(), (
        "global sort returned to the AllPairs tail — its RangePartitioning "
        "sample job re-executes the entire verify pipeline once per call"
    )
    assert (
        "InMemoryTableScan" in plan
        or "Scan In-memory" in plan
        or "Scan ExistingRDD" in plan
    ), (
        "the candidate frame is no longer session-materialized — AQE broadcast "
        "builds would re-execute the candidate join per run (persisted frames "
        "scan as InMemoryTableScan; localCheckpointed ones as Scan ExistingRDD, "
        "which cannot recompute at all)"
    )


def _operators(node):
    """One-line descriptions of a physical plan's own operators, descending
    through adaptive plans and query stages but not into cached relations
    (their build plans run once per session, not per call)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        yield from _operators(node.executedPlan())
        return
    yield node.simpleString(100)
    if "QueryStage" in node.nodeName():
        yield from _operators(node.plan())
    children = node.children()
    for i in range(children.size()):
        yield from _operators(children.apply(i))


def test_warm_verdict_is_one_aggregate(spark, sf_dir):
    """Each lane diff is staged with its rows' inversion flag, so a warm
    ``cdc_verdict`` starts no Spark job while it builds and runs one
    aggregate: no window, no broadcast join (the old prefix fold) and no
    range-partition sample job for its at most three output rows."""
    sc = spark.sparkContext
    fn = entry.queries()["cdc_verdict"]
    fn(spark, sf_dir).collect()  # stages the lanes and their diffs
    try:
        sc.setJobGroup("warm_verdict_build", "cdc_verdict")
        df = fn(spark, sf_dir)
        sc.setJobGroup("warm_verdict_exec", "cdc_verdict")
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert list(tracker.getJobIdsForGroup("warm_verdict_build")) == []
    assert len(tracker.getJobIdsForGroup("warm_verdict_exec")) <= 2
    ops = list(_operators(df._jdf.queryExecution().executedPlan()))
    for banned in ("Window", "BroadcastHashJoin", "rangepartitioning"):
        assert not [o for o in ops if banned in o], (banned, ops)
