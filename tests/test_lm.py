"""Invariants for the BPE trainer and Kneser-Ney LM queries."""

from __future__ import annotations

import pytest

from lets_talk_cdc_change_feed_playground_spark.functions import lm_queries as L

SF = "/root/testdata/sf0.001"


def test_bpe_apply_merge_greedy_left_to_right():
    assert L._bpe_apply_merge("a b a b", "a", "b") == "ab ab"
    assert L._bpe_apply_merge("a a a", "a", "a") == "aa a"
    assert L._bpe_apply_merge("x a b y", "a", "b") == "x ab y"
    assert L._bpe_apply_merge("a", "a", "b") == "a"
    assert L._bpe_apply_merge("ab c", "ab", "c") == "abc"


def test_bpe_merges_monotone_and_wellformed(spark):
    rows = L.docs_bpe_merges(spark, SF).collect()
    assert [r["round"] for r in rows] == list(range(1, L.BPE_ROUNDS + 1))
    # merged symbols can only be built from symbols available at that round
    seen = set("abcdefghijklmnopqrstuvwxyz")
    for r in rows:
        assert r["merge_x"] in seen and r["merge_y"] in seen
        seen.add(r["merge_x"] + r["merge_y"])
        assert r["pair_count"] > 0


def test_kneser_ney_probability_axioms(spark):
    rows = L.docs_kneser_ney_lm(spark, SF).collect()
    assert len(rows) == L.KN_TOPK
    for r in rows:
        # discounted prob in (0, 1]; backoff weight in (0, 1)
        assert 0.0 < r["p_kn"] <= 1.0
        assert 0.0 < r["lambda_x"] < 1.0
        assert r["c_xy"] <= r["c_x"]
        assert 1 <= r["n1p_after_x"] and 1 <= r["n1p_before_y"] <= r["n_types"]
        # interpolated KN never gives a frequent bigram less than its
        # discounted MLE share
        assert r["p_kn"] >= (r["c_xy"] * L.KN_D_DEN - L.KN_D_NUM) / (
            L.KN_D_DEN * r["c_x"]
        ) - 1e-12


def test_bpe_encode_compresses(spark, sf_dir):
    from lets_talk_cdc_change_feed_playground_spark.functions.lm_queries import (
        docs_bpe_encode,
    )

    rows = docs_bpe_encode(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # each word is at least one token and at most its character count
        assert r["n_words"] <= r["n_tokens"] <= r["n_base_chars"]
        assert r["merge_hits"] == r["n_base_chars"] - r["n_tokens"]
    # the trained merges must actually fire somewhere in the corpus
    assert sum(r["merge_hits"] for r in rows) > 0


def test_bpe_encode_single_kernel_and_memoized_trainer(spark, sf_dir):
    """The per-word tokenizer is ONE vectorized kernel (not BPE_ROUNDS
    chained interpreted aggregate folds), and the trained merge table is
    memoized per session so encode calls stop re-running the trainer's
    corpus pass."""
    df = L.docs_bpe_encode(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import memo

    def retrain():
        raise AssertionError("encode did not stage the trained merge table")

    assert len(memo(spark, ("bpe_merges", sf_dir), retrain)) == L.BPE_ROUNDS


def test_ccnet_buckets_tile_each_language(spark):
    from lets_talk_cdc_change_feed_playground_spark.functions.lm_queries import (
        docs_ccnet_buckets,
    )

    rows = docs_ccnet_buckets(spark, "/root/testdata/sf0.001").collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["bucket"])
        assert [r["bucket_name"] for r in rs] == ["head", "middle", "tail"][: len(rs)]
        # ntile balance: bucket sizes differ by at most 1
        sizes = [r["n_docs"] for r in rs]
        assert max(sizes) - min(sizes) <= 1
        # head scores dominate tail scores
        assert rs[0]["score_lo"] >= rs[-1]["score_hi"] or len(rs) == 1
