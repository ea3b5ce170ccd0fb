"""LLM-data-pipeline operator invariants (dedup, similarity, text stats)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.functions import pipeline_queries as PQ
from lets_talk_cdc_change_feed_playground_spark.functions import textops as T


def test_poly_hash_pinned(spark):
    """Rabin-Karp char fold matches the hand-computed value ('ab' → 3105)."""
    df = spark.createDataFrame([("ab",), ("",)], ["s"])
    rows = df.select(T.poly_hash(F.col("s"), T.TOKEN_HASH_PRIME).alias("h")).collect()
    assert rows[0]["h"] == 97 * 31 + 98 == 3105
    assert rows[1]["h"] == 0


def test_dot_product_left_fold(spark):
    df = spark.createDataFrame([([1.0, 2.0], [3.0, 4.0])], ["a", "b"])
    assert df.select(T.dot(F.col("a"), F.col("b")).alias("d")).first()["d"] == 11.0


def test_minhash_identical_docs_identical_sigs(spark):
    """Same token multiset ⇒ same MinHash signature (the LSH guarantee)."""
    df = spark.createDataFrame(
        [("x", "the quick brown fox"), ("y", "the quick brown fox")], ["id", "text"]
    )
    d = df.select(
        "id", T.token_hashes(T.tokens(T.normalize_text(F.col("text")))).alias("th")
    )
    sigs = d.select("id", *T.minhash_signature(F.col("th"))).collect()
    assert [sigs[0][f"mh{i}"] for i in range(T.N_PERM)] == [
        sigs[1][f"mh{i}"] for i in range(T.N_PERM)
    ]


def test_exact_dedup_keeper_invariants(spark, sf_dir):
    d = PQ.docs_exact_dedup(spark, sf_dir)
    assert d.filter(F.col("keeper_doc_id") > F.col("doc_id")).count() == 0
    assert d.filter(
        F.col("is_duplicate") != (F.col("doc_id") != F.col("keeper_doc_id"))
    ).count() == 0


def test_minhash_dedup_linear_output(spark, sf_dir, cached):
    d = cached(PQ.docs_minhash_dedup(spark, sf_dir))
    n_docs = PQ._docs_t(spark, sf_dir).count()
    assert d.count() == n_docs  # one decision row per doc
    assert d.filter(F.col("keeper_doc_id") > F.col("doc_id")).count() == 0
    assert d.filter(F.col("is_near_duplicate")).count() > 0  # corpus has near-dups


def test_simhash_nn_invariants(spark, sf_dir, cached):
    d = cached(PQ.docs_simhash_pairs(spark, sf_dir))
    assert d.count() > 0
    assert d.filter(F.col("hamming") > PQ.SIMHASH_MAX_HAMMING).count() == 0
    assert d.filter(F.col("doc_id") == F.col("nn_doc_id")).count() == 0
    assert d.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0


def test_topk_similarity_shape(spark, sf_dir, cached):
    d = cached(PQ.emb_topk_similarity(spark, sf_dir))
    assert d.count() == PQ.TOPK_QUERIES * PQ.TOPK
    assert d.filter((F.col("cosine") > 1.0001) | (F.col("cosine") < -1.0001)).count() == 0
    # descending within each query
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy("rank")
    bad = (
        d.withColumn("prev", F.lag("cosine").over(w))
        .filter(F.col("cosine") > F.col("prev"))
        .count()
    )
    assert bad == 0


def test_ivf_topk_recall_vs_exact(spark, sf_dir, cached):
    """IVF output is well-formed and its neighbors recall a decent share of
    the exact brute-force top-k (nprobe=4 of 16 cells)."""
    ivf = cached(PQ.emb_ivf_topk(spark, sf_dir))
    assert ivf.count() <= PQ.TOPK_QUERIES * PQ.TOPK
    assert ivf.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    exact = PQ.emb_topk_similarity(spark, sf_dir).select("query_id", "neighbor_id")
    hits = ivf.select("query_id", "neighbor_id").intersect(exact).count()
    assert hits >= exact.count() * 0.3  # approximate, but not garbage


def test_near_dup_joins_are_equi_joins(spark, sf_dir):
    """Band joins must be hash equi-joins on (band, value) — a cartesian
    product here means the LSH bucketing degraded to all-pairs."""
    for fn in (PQ.docs_minhash_dedup, PQ.docs_simhash_pairs, PQ.docs_ngram_jaccard):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, fn.__name__


def test_shared_frames_are_reused(spark, sf_dir):
    from lets_talk_cdc_change_feed_playground_spark.operators import capture

    a = capture.log_capture(spark, sf_dir)
    b = capture.log_capture(spark, sf_dir)
    assert a is b  # same materialized frame, not a rebuilt plan


def test_text_stats_ranges(spark, sf_dir, cached):
    d = cached(PQ.docs_text_stats(spark, sf_dir))
    assert d.filter(F.col("n_tokens") <= 0).count() == 0
    for c in ("ttr", "stopword_ratio"):
        assert d.filter((F.col(c) < 0) | (F.col(c) > 1)).count() == 0, c
    assert d.filter((F.col("quality_score") < 0) | (F.col("quality_score") > 1)).count() == 0
    assert d.filter(F.col("fingerprint") < 0).count() == 0


def test_langid_covers_corpus(spark, sf_dir):
    d = PQ.docs_langid(spark, sf_dir)
    total = d.agg(F.sum("n_docs")).first()[0]
    assert total == PQ._docs_t(spark, sf_dir).count()


def test_kernels_match_catalyst_twins(spark, sf_dir, cached):
    """The Arrow fast kernels must produce exactly the values of their
    Catalyst textops twins (the oracle contract rides on this)."""
    from lets_talk_cdc_change_feed_playground_spark.functions import text_kernels as K

    d = cached(
        PQ._docs_t(spark, sf_dir).limit(50).withColumn("th", T.token_hashes(F.col("toks")))
    )
    # token hashes
    rows = d.select(
        "th", K.token_hashes_kernel(F.col("norm")).alias("kh")
    ).collect()
    assert all(r["th"] == r["kh"] for r in rows)
    # minhash signatures
    cat = d.select("doc_id", *T.minhash_signature(F.col("th"))).collect()
    ker = d.select(
        "doc_id", K.minhash_signature_kernel(F.col("norm")).alias("sig")
    ).collect()
    for rc, rk in zip(sorted(cat, key=lambda r: r["doc_id"]), sorted(ker, key=lambda r: r["doc_id"])):
        assert [rc[f"mh{i}"] for i in range(T.N_PERM)] == list(rk["sig"])
    # simhash
    cat = d.select("doc_id", T.simhash(F.col("th"), 32).alias("sh")).collect()
    ker = d.select("doc_id", K.simhash_kernel(F.col("norm")).alias("sh")).collect()
    assert {r["doc_id"]: r["sh"] for r in cat} == {r["doc_id"]: r["sh"] for r in ker}
    # distinct token hash SETS equal (order may differ)
    rows = d.select(
        "th", K.distinct_token_hashes_kernel(F.col("norm")).alias("dk")
    ).collect()
    assert all(set(r["th"]) == set(r["dk"]) for r in rows)


def test_kmeans_cells_partition_corpus(spark, sf_dir):
    """Lloyd cells partition the corpus: populations sum to |corpus|, inertia
    is finite and non-negative, cluster ids come from the seed range."""
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        K_IVF,
        emb_kmeans_cells,
    )
    from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_table

    rows = emb_kmeans_cells(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n_vecs
    assert all(0 <= r["cluster_id"] < K_IVF for r in rows)
    assert all(r["mean_dist2"] >= 0 for r in rows)


def test_ngram_chunk_kernels_match_catalyst(spark, sf_dir, cached):
    """The chunk/contamination fingerprint kernels equal the Catalyst
    `_ngram_fold` slices value-for-value (the oracle contract)."""
    from lets_talk_cdc_change_feed_playground_spark.functions import text_kernels as K
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        CHUNK_TOKENS,
        CONTAM_NGRAM,
        _ngram_fold,
    )

    d = cached(
        PQ._docs_t(spark, sf_dir).limit(50).withColumn("th", T.token_hashes(F.col("toks")))
    )
    k = F.floor(F.size("th") / CHUNK_TOKENS).cast("long")
    cat = d.select(
        "doc_id",
        F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(0).cast("long"), k - 1),
                lambda i: _ngram_fold(
                    F.col("th"), (i * CHUNK_TOKENS + 1).cast("int"), CHUNK_TOKENS
                ),
            ),
        ).otherwise(F.array().cast("array<long>")).alias("chs"),
    ).collect()
    ker = d.select("doc_id", K.chunk_hashes_kernel(F.col("norm")).alias("chs")).collect()
    assert {r["doc_id"]: list(r["chs"]) for r in cat} == {
        r["doc_id"]: list(r["chs"]) for r in ker
    }

    n = F.size("th")
    cat = d.select(
        "doc_id",
        F.array_distinct(
            F.when(
                n >= CONTAM_NGRAM,
                F.transform(
                    F.sequence(F.lit(0).cast("long"), (n - CONTAM_NGRAM).cast("long")),
                    lambda i: _ngram_fold(F.col("th"), (i + 1).cast("int"), CONTAM_NGRAM),
                ),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("ngs"),
    ).collect()
    ker = d.select(
        "doc_id", K.contam_ngram_hashes_kernel(F.col("norm")).alias("ngs")
    ).collect()
    assert {r["doc_id"]: list(r["ngs"]) for r in cat} == {
        r["doc_id"]: list(r["ngs"]) for r in ker
    }


def test_bloom_dedup_never_false_negative(spark, sf_dir):
    """Bloom guarantee: an exact cross-shard duplicate can never be missed
    (all its bits are set by construction); and with m = 8n, k = 3 the FP
    rate stays a pre-screen, not a dragnet."""
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        docs_bloom_dedup,
    )

    rows = docs_bloom_dedup(spark, sf_dir).collect()
    assert rows, "probe shard must not be empty"
    assert all(r.candidate for r in rows if r.exact_dup)
    assert all(not (r.false_positive and r.exact_dup) for r in rows)
    fp = sum(r.false_positive for r in rows)
    assert fp / len(rows) < 0.10


def test_allpairs_cosine_prefix_filter_is_lossless(spark, sf_dir):
    """The prefix filter is an optimization, never a recall loss: the result
    must equal the brute-force all-shared-shingle-pairs set under the same
    integer-exact threshold."""
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_shared_shingles"], r["cosine"])
        for r in PQ.docs_allpairs_cosine(spark, sf_dir).collect()
    }
    # brute force twin (no prefix): every co-shingle pair, same threshold
    d = PQ._docs_t(spark, sf_dir)
    sh = d.filter(F.size("toks") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks)-3),"
                " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"
            )
        ).alias("shingle"),
    )
    tf = sh.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(dfreq, "shingle")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "shingle", F.expr("(tf * (n_docs + 1)) div (df + 1)").alias("w"))
    )
    n2 = w.groupBy("doc_id").agg(
        F.sum((F.col("w") * F.col("w")).cast("decimal(38,0)")).alias("n2")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "shingle", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "shingle", F.col("w").alias("wb"))
    dots = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(38,0)")).alias("dot"),
            F.count(F.lit(1)).cast("long").alias("nsh"),
        )
    )
    brute = (
        dots.join(n2.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2")), "doc_a")
        .join(n2.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2")), "doc_b")
        .filter(F.lit(4) * F.col("dot") * F.col("dot") >= F.col("na2") * F.col("nb2"))
        .collect()
    )
    want = {(r["doc_a"], r["doc_b"]): r["nsh"] for r in brute}
    assert set(got) == set(want)
    for k, (nsh, cos) in got.items():
        assert want[k] == nsh
        assert cos >= 0.5 - 1e-9


def test_allpairs_candidate_guard(spark, sf_dir, monkeypatch):
    """The candidate budget guard (SCALE.md): a tiny budget must refuse the
    join loudly BEFORE any pair materializes; the default budget must pass
    at test scale; the error names the probabilistic fallback."""
    import pytest

    # default budget: runs
    assert PQ.docs_allpairs_cosine(spark, sf_dir).count() >= 0
    monkeypatch.setenv("SPARK_GRAFT_ALLPAIRS_MAX_CAND", "1")
    with pytest.raises(RuntimeError, match="docs_minhash_dedup"):
        PQ.docs_allpairs_cosine(spark, sf_dir).count()
