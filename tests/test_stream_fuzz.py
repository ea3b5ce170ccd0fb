"""Batching-invariance fuzz for every judged streaming query.

The round-4 ``stream_rate_limit`` bug (Arrow frame splits silently broke an
order-sensitive fold, but only at sf0.1 chunk sizes) was an instance of a
class: a streaming operator whose output depends on HOW the feed is batched,
not WHAT it contains.  The reference pins the same invariant — delivery
batching must not change semantics (``src/changefeed/model.ts:246-274``, the
``maxApplyPerTick`` cap reorders work but never results).

Each judged ``stream_*`` query is re-run under fuzzed intake granularity —
different staged-chunk counts (time/delivery/doc_id splits move) crossed
with ``maxFilesPerTrigger`` (several chunks per micro-batch, including the
everything-in-one-batch and the one-row-state-carry extremes) — and the
output must hash-equal the default run exactly.

``stream_backpressure`` is the one judged stream whose OUTPUT is defined in
terms of its chunk count (the drain timeline at ``_BP_CHUNKS`` equal intake
quanta); it gets its own fuzz: vary ``_BP_CHUNKS`` and re-derive the
expected timeline arithmetically, exactly as its oracle does.

``stream_ivm_join`` stages one chunk per maintenance EPOCH (its batching
knob is files-per-trigger only) and ``cdc_restart_convergence`` pins its own
trigger plan to place the crash — both are covered for the knobs that apply.
"""

from __future__ import annotations

import hashlib

import pytest

from lets_talk_cdc_change_feed_playground_spark.streaming import stream_queries

# (n_chunks, max_files_per_trigger): the base is the 1-file-per-trigger
# extreme (3, 1).  3×2 is the JUDGED default (two triggers over three
# chunks); 5×1 moves every chunk boundary; 2×2 makes one mega-batch then a
# state-carrying tail; 4×3 mixes multi-chunk batches with a boundary
# mid-feed.
VARIANTS = [(3, 2), (5, 1), (2, 2), (4, 3)]

# every judged stream whose output is independent of the batching plan
INVARIANT_QUERIES = [
    "stream_log_capture",
    "stream_hourly_stats",
    "stream_polling_capture",
    "stream_trigger_capture",
    "stream_upsert_sink",
    "stream_apply_on_commit",
    "stream_apply_commit_store",
    "stream_docs_dedup",
    "stream_txn_assembly",
    "stream_sessionize",
    "stream_enrich_join",
    "stream_dedup_watermark",
    "stream_kmv_sketch",
    "stream_rate_limit",
    "stream_ivm_join",  # epoch-staged: only the trigger knob applies
    "stream_scd2",
    "stream_index_maintenance",
    "stream_erasure_propagation",
    "stream_schema_evolution",
]


def _df_hash(df) -> str:
    rows = sorted(
        tuple((c, "\x00NULL" if row[c] is None else str(row[c])) for c in sorted(df.columns))
        for row in df.collect()
    )
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _run(spark, sf_dir, name, n_chunks, mfpt, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(stream_queries, "_N_CHUNKS", n_chunks)
        m.setattr(stream_queries, "_MAX_FILES_PER_TRIGGER", mfpt)
        # run each member STANDALONE (no shared family pass, no artifact
        # cache): the fuzz must re-execute this one stream per variant
        m.setattr(stream_queries, "_FAMILY_ENABLED", False)
        # staged chunk feeds are keyed by chunk count, so each variant
        # stages its own and the judged 3-chunk feeds stay untouched
        return _df_hash(stream_queries.QUERIES[name](spark, sf_dir))


@pytest.mark.parametrize("name", INVARIANT_QUERIES)
def test_stream_batching_invariance(spark, sf_dir, name, monkeypatch):
    base = _run(spark, sf_dir, name, 3, 1, monkeypatch)
    for n_chunks, mfpt in VARIANTS:
        got = _run(spark, sf_dir, name, n_chunks, mfpt, monkeypatch)
        assert got == base, (
            f"{name} output moved under batching fuzz "
            f"(n_chunks={n_chunks}, maxFilesPerTrigger={mfpt})"
        )


@pytest.mark.parametrize("bp_chunks", [2, 4, 7])
def test_stream_backpressure_cap_sweep(spark, sf_dir, bp_chunks, monkeypatch):
    """The drain timeline is chunk-count-PARAMETRIC, not chunk-invariant:
    re-derive the arithmetic ideal at each fuzzed cap and demand the stream
    lands on it exactly (total conserved, cap respected, backlog monotone)."""
    with monkeypatch.context() as m:
        m.setattr(stream_queries, "_BP_CHUNKS", bp_chunks)
        rows = (
            stream_queries.QUERIES["stream_backpressure"](spark, sf_dir)
            .orderBy("batch_seq")
            .collect()
        )
    assert rows
    total = rows[-1]["cum_consumed"]
    cap = (total + bp_chunks - 1) // bp_chunks
    cum = 0
    for i, r in enumerate(rows):
        expected = min(cap, total - i * cap)
        cum += expected
        assert r["batch_seq"] == i
        assert r["consumed"] == expected
        assert r["cap"] == cap
        assert r["cum_consumed"] == cum
        assert r["backlog_after"] == total - cum
        assert r["within_cap"]
    assert rows[-1]["backlog_after"] == 0
