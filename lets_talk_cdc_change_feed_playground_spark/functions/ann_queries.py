"""Late-interaction and binary-signature similarity search.

Two more retrieval shapes a 100 TB embedding store serves, complementing the
brute-force / LSH / IVF / PQ family in :mod:`.pipeline_queries` and
:mod:`.training_queries`:

- ``emb_maxsim_topk``   — ColBERT-style late interaction: each vector is a
  bag of ``N_SUB`` sub-vectors ("token embeddings"); score(q, d) =
  Σ_i max_j ⟨q_i, d_j⟩ (MaxSim).  The whole score is a single row-local
  expression over the (corpus × broadcast-queries) pair — no explode, no
  extra shuffle, fully inside whole-stage codegen.  The per-query sum runs
  in a fixed left-to-right order over ``max``-reduced terms (`max` and
  `greatest` are order-independent; the outer sum is parenthesised
  identically in both engines), so the result is float-exact vs DuckDB.
- ``emb_hamming_rerank`` — the binary-quantization retrieval recipe: 1 bit
  per dimension (sign), packed into two 32-bit words per vector; candidate
  generation = top-``HAM_CAND`` by Hamming distance (two ``bit_count`` XORs
  — a 16× cheaper scan than float dot products), then exact-cosine rerank
  of the survivors.  This is the classic funnel: cheap wide recall on
  compressed signatures, expensive exact scoring on a bounded candidate
  set.

Scale shape: the query side is always broadcast; corpus-side work is one
map pass + a per-query top-k (``row_number`` over a by-query partition).
At 100 TB the signatures table is the only thing the first stage reads —
64 bits/vector instead of 256 bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.functions import textops as T
from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
    TOPK,
    TOPK_QUERIES,
    _DOT_SQL,
)
from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_table

N_SUB = 8  # sub-vectors per embedding (64 dims -> 8 x 8)
SUB_D = 8
HAM_CAND = 50  # hamming-stage candidates per query before exact rerank


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


def emb_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT MaxSim top-k: Σ_i max_j ⟨q_i, d_j⟩ over 8×8-dim sub-vectors.

    Row-local scoring as ONE vectorized Arrow kernel: the query block is a
    handful of vectors (``TOPK_QUERIES``) — it rides to the executors as a
    numpy constant (the Pandas-UDF analogue of a broadcast dim) and each
    corpus batch scores against ALL queries in a single einsum.  64
    ``aggregate(zip_with(...))`` sub-dots per pair ran interpreted (no
    codegen for higher-order lambdas) and dominated the wall; expanding to
    explicit 512-term expressions blew past the codegen method limit and
    was slower still.  FP-order parity with the SQL twin: einsum without
    ``optimize`` contracts k sequentially (the fold's left-to-right order),
    the max is exact, and the 8 maxima sum with ``add.reduce`` over an
    8-slot axis (sequential, below numpy's pairwise threshold)."""
    import numpy as np
    import pandas as pd

    e = _emb(spark, sf_dir)
    qrows = sorted(
        e.filter(F.col("vec_id") < TOPK_QUERIES).select("vec_id", "v").collect(),
        key=lambda r: r["vec_id"],
    )  # bounded: TOPK_QUERIES rows — the broadcast dim, driver-held
    qm = np.array([r["v"] for r in qrows], dtype=np.float64).reshape(
        len(qrows), N_SUB, SUB_D
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)

    def _scores(vs):
        d = np.array(vs.tolist(), dtype=np.float64).reshape(-1, N_SUB, SUB_D)
        # bit-exact FP-order parity with the SQL twin's folds: accumulate the
        # k-contraction and the i-sum EXPLICITLY left-to-right (einsum /
        # np.sum pick cache-friendly loop orders that differ in the last ulp)
        sims = np.zeros((len(d), qm.shape[0], N_SUB, N_SUB))
        for k in range(SUB_D):
            sims += qm[None, :, :, None, k] * d[:, None, None, :, k]
        mx = sims.max(axis=3)  # exact
        score = mx[:, :, 0]
        for i in range(1, N_SUB):
            score = score + mx[:, :, i]
        return pd.Series(list(score))

    # unannotated on purpose: `from __future__ import annotations` stringifies
    # hints on an inner function, which pandas_udf can't resolve; with no
    # hints it takes the scalar eval type (the deprecated explicit
    # PandasUDFType argument warns)
    maxsim_scores = F.pandas_udf(_scores, "array<double>")

    pairs = (
        e.withColumn("__scores", maxsim_scores("v"))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.posexplode("__scores").alias("__qpos", "maxsim"),
        )
        .withColumn(
            "query_id",
            F.element_at(F.array(*[F.lit(int(i)) for i in qids]), F.col("__qpos") + 1),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "neighbor_label", "maxsim")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("maxsim"), "neighbor_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("query_id", "neighbor_id", "neighbor_label", F.col("rn").alias("rank"), "maxsim")
        .orderBy("query_id", "rank")
    )


def _sub_sql(col: str, i: int) -> str:
    return f"{col}[{i * SUB_D + 1}:{(i + 1) * SUB_D}]"


def _maxsim_sql() -> str:
    terms = []
    for i in range(N_SUB):
        dots = ", ".join(
            _DOT_SQL.format(a=_sub_sql("q.qv", i), b=_sub_sql("c.v", j))
            for j in range(N_SUB)
        )
        terms.append(f"greatest({dots})")
    score = terms[0]
    for t in terms[1:]:
        score = f"({score}) + {t}"
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {TOPK_QUERIES}),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {score} AS maxsim
  FROM q JOIN e c ON c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, neighbor_label, rn AS rank, maxsim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY maxsim DESC, neighbor_id) AS rn FROM pairs)
WHERE rn <= {TOPK}
ORDER BY query_id, rank
"""


def emb_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-signature funnel: sign-bit pack → Hamming top-``HAM_CAND`` →
    exact-cosine rerank → top-``TOPK``.

    Signatures pack dims 0-31 / 32-63 into two int words (no 64-bit sign
    hazard); candidate generation touches only the 8-byte signatures."""
    e = _emb(spark, sf_dir)

    def word(col, lo):
        bits = F.lit(0).cast("long")
        for b in range(32):
            bits = bits + F.when(F.element_at(col, lo + b + 1) > 0, F.lit(2**b)).otherwise(F.lit(0))
        return bits

    n = e.select(
        "vec_id",
        "label",
        "v",
        T.l2_norm(F.col("v")).alias("nrm"),
        word(F.col("v"), 0).alias("w0"),
        word(F.col("v"), 32).alias("w1"),
    )
    q = n.filter(F.col("vec_id") < TOPK_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    ham = n.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "qv",
        "qn",
        "v",
        "nrm",
        (
            F.bit_count(F.col("w0").bitwiseXOR(F.col("qw0")))
            + F.bit_count(F.col("w1").bitwiseXOR(F.col("qw1")))
        ).alias("hamming"),
    )
    wc = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    cand = ham.withColumn("crn", F.row_number().over(wc)).filter(F.col("crn") <= HAM_CAND)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        "hamming",
        (T.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("cosine"),
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOPK)
        .select("query_id", "neighbor_id", F.col("rn").alias("rank"), "hamming", "cosine")
        .orderBy("query_id", "rank")
    )


def _hamming_sql() -> str:
    def word(col: str, lo: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN {col}[{lo + b + 1}] > 0 THEN {2**b} ELSE 0 END)" for b in range(32)
        )
        return f"CAST({terms} AS BIGINT)"

    return f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (
  SELECT vec_id, label, v,
         sqrt({_DOT_SQL.format(a="v", b="v")}) AS nrm,
         {word("v", 0)} AS w0, {word("v", 32)} AS w1
  FROM e
),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, w0 AS qw0, w1 AS qw1
      FROM n WHERE vec_id < {TOPK_QUERIES}),
ham AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, q.qn, c.v, c.nrm,
         bit_count(xor(c.w0, q.qw0)) + bit_count(xor(c.w1, q.qw1)) AS hamming
  FROM q JOIN n c ON c.vec_id <> q.query_id
),
cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS crn
    FROM ham
  ) WHERE crn <= {HAM_CAND}
),
scored AS (
  SELECT query_id, neighbor_id, hamming,
         {_DOT_SQL.format(a="qv", b="v")} / (qn * nrm) AS cosine
  FROM cand
)
SELECT query_id, neighbor_id, rn AS rank, hamming, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= {TOPK}
ORDER BY query_id, rank
"""


QUERIES = {
    "emb_maxsim_topk": emb_maxsim_topk,
    "emb_hamming_rerank": emb_hamming_rerank,
}

ORACLE = {
    "emb_maxsim_topk": _maxsim_sql(),
    "emb_hamming_rerank": _hamming_sql(),
}
