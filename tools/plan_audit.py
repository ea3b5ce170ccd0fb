"""Dump the executed physical plans of the headline queries to PLANS.md.

Evidence artifact for the scale review: for each audited query the formatted
plan shows which filters reached the parquet scan (``PushedFilters``), which
columns survived pruning (``ReadSchema``), which joins broadcast vs shuffle,
and where whole-stage codegen spans sit. Checks that are enforced (not just
displayed) live in ``tests/test_relational.py`` / ``test_pipeline.py``.

Usage:  python tools/plan_audit.py [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    # (name, what a scale reviewer should see in the plan)
    ("q1_pricing_summary", "partial agg before the shuffle; 7-column ReadSchema on a 16-column table"),
    ("q3_shipping_priority", "global top-k as TakeOrderedAndProject, never a single-task sort"),
    ("q5_local_supplier_volume", "fixed-size dims broadcast; SF-scaling joins AQE-planned"),
    ("q11_important_supply", "1-row grand total broadcast back over per-part sums; one lineitem scan"),
    ("q18_large_volume_orders", "semi-join on the HAVING subquery, no payload duplication"),
    ("q21_waiting_suppliers", "aggregate-then-join instead of a global window"),
    ("events_salted_hot_keys", "two-phase salted aggregation for the hot-key distinct"),
    ("docs_minhash_dedup", "band join on (band, bucket) keys — candidate pairs, never all pairs"),
    ("emb_lsh_topk", "bucket equi-join prunes the corpus before any cosine math"),
    ("cdc_log_capture", "per-pk window + two-phase dense LSN, no unpartitioned window"),
    ("parts_coorder_affinity", "frequency prefilter bounds the pair explosion; distributed top-k"),
    ("emb_kmeans_cells", "per-iteration broadcast of K centroids; means keyed on (cell, dim)"),
    ("cdc_incremental_agg", "map-side-combinable delta aggregation; work scales with change volume, not table size"),
    ("cdc_savepoint_restore", "both folds reuse the WAL's pk partitioning; the LSN cut joins in as a broadcast scalar"),
    ("cdc_offset_gaps", "two-phase lag: partitioned window in offset buckets + broadcast of per-bucket maxima"),
    ("docs_pack_sequences", "global prefix sum as bucketed partial sums + broadcast prefix, no single-task window"),
    ("lineitem_heavy_hitters", "per-shard top-K summaries merged on sketch rows only; error bounds from broadcast dropped-max"),
    ("emb_maxsim_topk", "one Arrow kernel scores each corpus batch against the driver-held query block; posexplode fans out per-query scores; single per-query top-k window"),
    ("cdc_lane_metrics", "exact lag percentiles via weighted value-histogram — one map-side-combinable (lane, value) count; no Percentile buffer holds a lane's lag vector"),
    ("emb_hamming_rerank", "bit_count XOR candidate funnel before any float dot product"),
    ("nations_trade_pagerank", "all-broadcast 4-table edge build; rank loop iterates on the checkpointed <=625-row aggregate"),
    ("docs_bm25_topk", "postings tf map-side combinable; query terms + corpus scalars broadcast; per-query top-k window"),
    ("emb_knn_graph", "within-cell self-join keyed on the IVF cell id — pair count bounded by cell size, never n²"),
    ("docs_winnowing_overlap", "row-local fingerprint selection behind cache boundaries; capped fingerprint join bounds pairs"),
    ("events_theta_ops", "two-phase bucketed K-min; estimates computed on sketch rows only"),
    ("lineitem_shard_stats", "per-shard moment summaries; merge + audit operate on 8 sketch rows"),
    ("cdc_gdpr_erasure", "request set broadcast into one feed pass; three capture folds on per-pk shuffles"),
    ("lineitem_zorder_plan", "value-range file assignment — pure projection + per-file aggregate, zero global ranks"),
    ("orders_dq_scorecard", "each rule one map-side-combinable scan; FK anti-join AQE-planned (customer scales with SF)"),
    ("cdc_verdict", "one groupBy(lane) over the staged lane diffs, whose rows carry the two-phase inversion flag; single-partition sort of <= 3 rows, no window or broadcast per call"),
    ("cdc_ivm_join", "fused r8 form: dim-side deltas are driver literals (bounded epochs x types); one conditional aggregation per staged fact frame, validity ranges as broadcast probes"),
    ("docs_dsir_weights", "Arrow token->bucket kernel + numpy take over the memoized 256-entry weight table; one 256-group map-side count, zero extra shuffles"),
    ("emb_semantic_dedup", "Arrow assignment kernel (driver-held centroid block) + per-cell applyInPandas pair kernel — pair work bounded per cell, never corpus²"),
    ("emb_nprobe_curve", "one cell-keyed join shared by every swept level; brute-force truth only over the query rows"),
    ("cdc_wal_hashchain", "segment chains fold in parallel per hour; the only sequential chain is one row per segment"),
    ("cdc_anti_entropy", "bucket summaries first; the full-outer drill-down joins only diverged buckets (broadcast)"),
    ("cdc_mirror_maker", "per-partition dense offsets two-phase; one conditional-aggregation audit pass"),
    ("events_hll_distinct", "sketch math on <=64 register rows per shard; global sketch merged from registers only"),
    ("cdc_barrier_snapshot", "zone classification is one projection over the shared bus; all three recovery diffs from a single per-pk master join + one aggregation"),
    ("cdc_quorum_reads", "bounded x3 replica fan-out, pk-equi-joins, verdict in one conditional aggregation"),
    ("cdc_schema_polled", "column sniffing is one explode + min-struct map-side-combinable agg; the only window runs over (tables x columns) introduction rows, never the event stream"),
    ("docs_corpus_drift", "rank cap compiles to TakeOrderedAndProject(20) feeding the window 20 rows — never a single-task full-vocabulary sort"),
    ("events_gapfill_locf", "dense hour spine from a per-type min/max aggregate exploded distributed; LOCF window bounded by the hour span, not row count"),
    ("events_session_concurrency", "interval-overlap join banded by hour — equi-join on the bucket, range predicate inside; never |sessions|·|events|"),
    ("docs_allpairs_cosine", "prefix⋈full candidate joins on the shingle (Σ df_prefix·df), exact verify only on candidate pairs; integer-exact threshold"),
    ("docs_temperature_resample", "stratum budgets broadcast back onto the corpus; per-doc hash draw map-side — no corpus shuffle"),
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"))
    args = ap.parse_args()

    from lets_talk_cdc_change_feed_playground_spark import get_spark, registry

    spark = get_spark("plan-audit")
    queries = registry.queries()

    lines = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        f"Generated by `python tools/plan_audit.py --sf-dir {args.sf_dir}`.",
        "Formatted-mode explain of the exact DataFrames the judged queries return;",
        "the scale-relevant properties are asserted in the plan-shape tests.",
        "",
    ]
    for name, why in AUDITED:
        df = queries[name](spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        lines += [f"## {name}", "", f"*Scale property: {why}.*", "", "```", plan.rstrip(), "```", ""]

    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out} ({len(AUDITED)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
