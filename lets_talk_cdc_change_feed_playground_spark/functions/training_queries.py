"""Judged training-data curation queries: shuffle/shard, pack, mix, SemDeDup.

The last mile of a 100 TB pretraining pipeline, after cleaning and dedup
(:mod:`.pipeline_queries`): give every kept document a stable pseudo-random
order, shard it for parallel readers, pack the token stream into fixed-length
training sequences, decide per-domain sampling, and run the
cluster-then-dedup-within-cluster semantic pass.  All arithmetic is
integer/deterministic (the reference's 31-multiplier hash, never ``rand()``),
so every query has an exact DuckDB twin.

- ``docs_shard_assignment`` — deterministic corpus shuffle + sharding: each
  doc gets a hash-derived shuffle key and a shard (``hash % N_SHARDS``), and
  a dense within-shard position (two-phase sequence, one shuffle on shard).
- ``docs_pack_sequences``  — concat-and-chunk sequence packing: the shuffled
  token stream is cut into ``SEQ_LEN``-token training sequences; each doc
  reports its start offset and the sequence range it spans.  The global
  prefix sum uses the bucketed two-phase pattern — no single-task window.
- ``docs_domain_mix``      — per-(lang, source) token accounting → mixing
  shares in basis points (exact integer division) and epochs needed to fill
  a token budget, the numbers a data-mixing config is built from.
- ``emb_semantic_dedup``   — SemDeDup-shaped near-dup removal: vectors are
  assigned to coarse cells (the IVF quantizer's broadcast-argmax
  assignment), pairwise cosine runs only *within* a cell, and each
  duplicate points at its lowest-id leader.  Cells bound the pair blow-up
  the way LSH buckets do in :func:`.pipeline_queries.emb_cosine_dedup` —
  never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.functions import textops as T
from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
    DOCS_T_SQL,
    K_IVF,
    TOKEN_HASHES_SQL,
    TOPK,
    TOPK_QUERIES,
    _docs_t,
)
from lets_talk_cdc_change_feed_playground_spark.functions.sequence import (
    with_global_seq,
    with_prefix_aggs,
)
from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import (
    hash31,
    hash31_sql,
)
from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_table

N_SHARDS = 8
SEQ_LEN = 2048  # tokens per packed training sequence
MIX_BUDGET = 1_000_000  # token budget the mixing epochs are computed against
SEM_COS_MIN = 0.97  # within-cell semantic-duplicate cosine threshold

_H_BUCKET = 64  # hash31 range (9973) // 64 -> ~156 prefix buckets


def _shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs + token counts + the two shuffle hashes (order key and shard)."""
    d = _docs_t(spark, sf_dir)
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.size("toks").alias("n_tokens"),
        hash31(F.concat(F.lit("o:"), F.col("doc_id").cast("string"))).alias("h"),
        (hash31(F.concat(F.lit("s:"), F.col("doc_id").cast("string"))) % N_SHARDS).alias(
            "shard"
        ),
    )


_SHUFFLE_SQL = f"""
shuf AS (
  SELECT doc_id, lang, source, len(toks) AS n_tokens,
         ({hash31_sql("'o:' || CAST(doc_id AS VARCHAR)")}) AS h,
         ({hash31_sql("'s:' || CAST(doc_id AS VARCHAR)")}) % {N_SHARDS} AS shard
  FROM docs_t
)
"""


def docs_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + shard layout: pseudo-random order from
    the doc-id hash, shard by an independent hash, dense position within the
    shard.  One shuffle on ``shard``; positions use the two-phase sequence so
    a shard with billions of docs never funnels through one task."""
    s = _shuffled(spark, sf_dir)
    pos = with_global_seq(
        s,
        F.expr(f"h div {_H_BUCKET}"),
        ["h", "doc_id"],
        out_col="pos",
        start=0,
        partition_cols=("shard",),
    )
    return pos.select("doc_id", "shard", "pos", "n_tokens").orderBy("shard", "pos")


_SHARD_SQL = (
    "WITH "
    + DOCS_T_SQL
    + ","
    + _SHUFFLE_SQL
    + """
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS pos,
       CAST(n_tokens AS INT) AS n_tokens
FROM shuf
ORDER BY shard, pos
"""
)


def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: lay the shuffled docs end to end into one
    token stream and cut it every ``SEQ_LEN`` tokens.  Each doc reports its
    stream offset and the first/last training sequence it lands in (a doc
    crossing a cut is split across sequences — the standard pretraining
    packing).  The running token total is a bucketed two-phase prefix sum."""
    s = _shuffled(spark, sf_dir)
    c = with_prefix_aggs(
        s,
        F.expr(f"h div {_H_BUCKET}"),
        ["h", "doc_id"],
        sums={"cum_tokens": "n_tokens"},
    )
    return (
        c.withColumn("start_tok", F.col("cum_tokens") - F.col("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            "start_tok",
            F.expr(f"start_tok div {SEQ_LEN}").alias("start_seq"),
            F.expr(f"(cum_tokens - 1) div {SEQ_LEN}").alias("end_seq"),
            (
                F.expr(f"(cum_tokens - 1) div {SEQ_LEN}")
                - F.expr(f"start_tok div {SEQ_LEN}")
                + 1
            ).alias("n_seqs_spanned"),
        )
        .orderBy("start_tok")
    )


_PACK_SQL = (
    "WITH "
    + DOCS_T_SQL
    + ","
    + _SHUFFLE_SQL
    + f"""
, c AS (
  SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         sum(n_tokens) OVER (ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM shuf
)
SELECT doc_id, n_tokens,
       CAST(cum_tokens - n_tokens AS BIGINT) AS start_tok,
       CAST((cum_tokens - n_tokens) // {SEQ_LEN} AS BIGINT) AS start_seq,
       CAST((cum_tokens - 1) // {SEQ_LEN} AS BIGINT) AS end_seq,
       CAST((cum_tokens - 1) // {SEQ_LEN} - (cum_tokens - n_tokens) // {SEQ_LEN} + 1 AS BIGINT) AS n_seqs_spanned
FROM c
ORDER BY start_tok
"""
)


def docs_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing accounting: per (lang, source) stratum — docs, tokens,
    share of the corpus in basis points (exact integer division, so both
    engines agree to the digit), epochs of the stratum needed to fill
    ``MIX_BUDGET`` tokens, and a low-resource flag (< 5% share) marking
    strata a mixing config would upsample.  Two tiny aggregations."""
    s = _shuffled(spark, sf_dir)
    per = s.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").alias("total_tokens"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            F.expr("(10000 * n_tokens) div total_tokens").alias("share_bp"),
            F.expr(f"({MIX_BUDGET} + n_tokens - 1) div n_tokens").alias(
                "epochs_for_budget"
            ),
            (F.expr("(10000 * n_tokens) div total_tokens") < 500).alias("low_resource"),
        )
        .orderBy("lang", "source")
    )


_MIX_SQL = (
    "WITH "
    + DOCS_T_SQL
    + ","
    + _SHUFFLE_SQL
    + f"""
, per AS (
  SELECT lang, source, count(*) AS n_docs, sum(n_tokens) AS n_tokens
  FROM shuf GROUP BY lang, source
)
SELECT lang, source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((10000 * n_tokens) // t.total_tokens AS BIGINT) AS share_bp,
       CAST(({MIX_BUDGET} + n_tokens - 1) // n_tokens AS BIGINT) AS epochs_for_budget,
       (10000 * n_tokens) // t.total_tokens < 500 AS low_resource
FROM per, (SELECT sum(n_tokens) AS total_tokens FROM per) t
ORDER BY lang, source
"""
)


def docs_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling, materialized per document — the
    op that actually BUILDS a training mix (``docs_domain_mix`` is the
    accounting view): stratum weights are ``p^α`` with α = 1/2 (the
    multilingual-pretraining upsampling curve), realized as the integer
    ``floor(sqrt(stratum_tokens))`` so both engines agree to the digit;
    each stratum's token budget is its weight share of ``MIX_BUDGET``; every
    doc gets ``budget div stratum_tokens`` full copies plus one more iff its
    deterministic ppm draw falls under the fractional remainder rate —
    a reproducible multinomial temperature sample with no RNG.

    Scale shape: one stratum aggregate (broadcast back — strata are
    lang×source, bounded), then a map-side join + hash per doc; no shuffle
    of the corpus itself."""
    s = _shuffled(spark, sf_dir)
    per = s.groupBy("lang", "source").agg(F.sum("n_tokens").alias("s_tokens"))
    per = per.withColumn(
        "w", F.expr("CAST(floor(sqrt(CAST(s_tokens AS DOUBLE))) AS BIGINT)")
    )
    wtot = per.agg(F.sum("w").alias("wsum"))
    tgt = (
        per.crossJoin(F.broadcast(wtot))
        # wsum = 0 (EVERY stratum empty) and s_tokens = 0 (one stratum of
        # empty docs) both get zero copies, not a divide-by-zero (DuckDB
        # errors on integer x // 0; Spark NULLs)
        .withColumn(
            "budget_tokens",
            F.expr(f"CASE WHEN wsum = 0 THEN 0 ELSE ({MIX_BUDGET} * w) div wsum END"),
        )
        .withColumn(
            "full_epochs",
            F.expr("CASE WHEN s_tokens = 0 THEN 0 ELSE budget_tokens div s_tokens END"),
        )
        .withColumn(
            "frac_ppm",
            F.expr(
                "CASE WHEN s_tokens = 0 THEN 0"
                " ELSE (1000000 * (budget_tokens % s_tokens)) div s_tokens END"
            ),
        )
        .select("lang", "source", "s_tokens", "budget_tokens", "full_epochs", "frac_ppm")
    )
    return (
        s.join(F.broadcast(tgt), ["lang", "source"])
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            "s_tokens",
            "budget_tokens",
            "full_epochs",
            "frac_ppm",
            (
                F.col("full_epochs")
                # fold mod a large prime FIRST, then reduce to ppm: a
                # per-character mod 1e6 fold is strided/correlated over
                # near-consecutive doc_ids, biasing realized copies away
                # from frac_ppm/1e6
                + (
                    hash31(
                        F.concat(F.lit("mix:"), F.col("doc_id").cast("string")),
                        mod=2_147_483_647,
                    )
                    % 1_000_000
                    < F.col("frac_ppm")
                ).cast("long")
            ).alias("n_copies"),
        )
        .orderBy("doc_id")
    )


_RESAMPLE_SQL = (
    "WITH "
    + DOCS_T_SQL
    + ","
    + _SHUFFLE_SQL
    + f"""
, per AS (
  SELECT lang, source, sum(n_tokens) AS s_tokens,
         CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE))) AS BIGINT) AS w
  FROM shuf GROUP BY lang, source
),
tgt AS (
  SELECT lang, source, CAST(s_tokens AS BIGINT) AS s_tokens,
         CAST(CASE WHEN t.wsum = 0 THEN 0
              ELSE ({MIX_BUDGET} * w) // t.wsum END AS BIGINT) AS budget_tokens,
         CAST(CASE WHEN s_tokens = 0 OR t.wsum = 0 THEN 0
              ELSE (({MIX_BUDGET} * w) // t.wsum) // s_tokens END AS BIGINT) AS full_epochs,
         CAST(CASE WHEN s_tokens = 0 OR t.wsum = 0 THEN 0
              ELSE (1000000 * ((({MIX_BUDGET} * w) // t.wsum) % s_tokens)) // s_tokens END AS BIGINT) AS frac_ppm
  FROM per, (SELECT sum(w) AS wsum FROM per) t
)
SELECT s.doc_id, s.lang, s.source, s.n_tokens,
       g.s_tokens, g.budget_tokens, g.full_epochs, g.frac_ppm,
       g.full_epochs
         + CASE WHEN ({hash31_sql("'mix:' || CAST(doc_id AS VARCHAR)", mod=2_147_483_647)}) % 1000000 < g.frac_ppm
                THEN 1 ELSE 0 END AS n_copies
FROM shuf s JOIN tgt g USING (lang, source)
ORDER BY s.doc_id
"""
)


def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: assign every vector to its best of ``K_IVF`` coarse
    centroids (deterministic seeding — the lowest vec_ids, as in
    :func:`.pipeline_queries.emb_ivf_topk`), then compare pairs only within
    a cell; cosine ≥ ``SEM_COS_MIN`` marks the higher id a duplicate of its
    lowest-id leader.  The cells play the cluster role of the SemDeDup
    recipe: candidate pairs grow per-cell, not corpus².

    Kernelized (round 8, the MaxSim playbook — ``ann_queries.py:53-120``):
    the centroid block is bounded driver state (``K_IVF`` rows); assignment
    is one Arrow ``mapInPandas`` pass (a 64-step dim loop of vectorized
    multiply-adds per batch), and the within-cell pair comparison is one
    ``applyInPandas`` kernel per cell (dim-ordered outer-product
    accumulation, O(m²) floats per cell — the same asymptotics as the
    self-join it replaces at a ~100× lower constant, and cell size is the
    SemDeDup recipe's own bound).  Accumulation order is pinned to the
    oracle's sequential fold (ascending dim), so every cosine is bit-equal
    to the DuckDB twin and no threshold boundary can flip."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    crows = e.filter(F.col("vec_id") < K_IVF).orderBy("vec_id").collect()
    C = np.array([list(r["v"]) for r in crows], dtype=np.float64)

    def _norms(M: "np.ndarray") -> "np.ndarray":
        # sqrt of the SEQUENTIAL sum of squares in dim order — bit-equal to
        # the oracle's list_reduce fold
        acc = np.zeros(M.shape[0], dtype=np.float64)
        for d in range(M.shape[1]):
            acc = acc + M[:, d] * M[:, d]
        return np.sqrt(acc)

    cn = _norms(C)

    def assign_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([list(x) for x in pdf["v"]], dtype=np.float64)
            nrm = _norms(V)
            dot = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
            for d in range(V.shape[1]):
                dot = dot + np.outer(V[:, d], C[:, d])
            ccos = dot / (nrm[:, None] * cn[None, :])
            # argmax takes the FIRST maximum — the (ccos DESC, cent_id ASC)
            # tiebreak of the window form
            cell = np.argmax(ccos, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "v": pdf["v"],
                    "nrm": nrm,
                    "cell": cell.astype("int64"),
                }
            )

    assigned = e.mapInPandas(
        assign_kernel, "vec_id long, v array<double>, nrm double, cell long"
    )

    def cell_kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.array([list(x) for x in pdf["v"]], dtype=np.float64)
        nrm = pdf["nrm"].to_numpy()
        m = V.shape[0]
        dot = np.zeros((m, m), dtype=np.float64)
        for d in range(V.shape[1]):
            col = V[:, d]
            dot = dot + np.outer(col, col)
        cos = dot / (nrm[:, None] * nrm[None, :])
        ids = pdf["vec_id"].to_numpy()
        mask = cos >= SEM_COS_MIN
        out_ids, keepers = [], []
        for j in range(m):
            hits = np.nonzero(mask[:j, j])[0]
            if len(hits):
                out_ids.append(int(ids[j]))
                keepers.append(int(ids[hits[0]]))  # ids sorted → min leader
        return pd.DataFrame({"vec_id": out_ids, "keeper": keepers})

    dup = assigned.groupBy("cell").applyInPandas(
        cell_kernel, "vec_id long, keeper long"
    )
    return (
        e.select("vec_id")
        .join(dup, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("keeper", "vec_id").alias("keeper_vec_id"),
            F.col("keeper").isNotNull().alias("is_semantic_duplicate"),
        )
        .orderBy("vec_id")
    )


_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), p -> p[1]*p[2])), (a, x) -> a + x)"
)

_SEMDEDUP_SQL = f"""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(CAST(embedding AS DOUBLE[]), x -> x*x)), (a, x) -> a + x)) AS nrm
  FROM embeddings
),
c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < {K_IVF}),
scored AS (
  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
         {_DOT.format(a="n.v", b="c.cv")} / (n.nrm * c.cn) AS ccos
  FROM n CROSS JOIN c
),
assign AS (
  SELECT vec_id, v, nrm, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
    FROM scored
  ) WHERE crn = 1
),
dup AS (
  SELECT b.vec_id AS vec_id, min(a.vec_id) AS keeper
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_DOT.format(a="a.v", b="b.v")} / (a.nrm * b.nrm) >= {SEM_COS_MIN}
  GROUP BY b.vec_id
)
SELECT e.vec_id,
       COALESCE(d.keeper, e.vec_id) AS keeper_vec_id,
       d.keeper IS NOT NULL AS is_semantic_duplicate
FROM (SELECT vec_id FROM embeddings) e
LEFT JOIN dup d ON d.vec_id = e.vec_id
ORDER BY e.vec_id
"""


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_DIM = 16  # dims per subspace (embeddings are 64-d)
PQ_K = 8  # codebook entries per subspace


def _pq_dist2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_subs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, subspace m, 16-d subvector) exploded frame."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("v", m * PQ_DIM + 1, PQ_DIM).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _pq_assign_step(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment per (vec, subspace); ties → lowest cid."""
    scored = subs.join(F.broadcast(cents), "m").select(
        "vec_id",
        "m",
        "sv",
        F.struct(
            _pq_dist2(F.col("sv"), F.col("cv")).alias("d2"),
            F.col("cid").alias("cid"),
        ).alias("sc"),
    )
    return (
        scored.groupBy("vec_id", "m")
        .agg(F.min("sc").alias("best"), F.first("sv").alias("sv"))
        .select(
            "vec_id",
            "m",
            "sv",
            F.col("best.cid").alias("cid"),
            F.col("best.d2").alias("d2"),
        )
    )


def _pq_update_step(assign: DataFrame) -> DataFrame:
    """Decimal-mean centroid update (9 dp, order-independent)."""
    return (
        assign.select("m", "cid", F.posexplode("sv").alias("pos", "val"))
        .groupBy("m", "cid", "pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("cval")
        )
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
    )


def _pq_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The trained PQ index, materialized once per session: ``(codebook,
    assign)`` — codebook is the ``M·K``-row centroid table after one Lloyd
    update (seeds = the lowest vec_ids' subvectors), assign codes every
    (vec, subspace) against it with the squared residual.  Quantization and
    ADC search share both frames; staging the codebook first means the
    training chain runs once, not once per consumer."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    subs = _pq_subs(spark, sf_dir)

    def train_cents() -> DataFrame:
        c0 = subs.filter(F.col("vec_id") < PQ_K).select(
            "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
        )
        return _pq_update_step(_pq_assign_step(subs, c0))

    cents = shared_df(spark, ("pq_cents", sf_dir), train_cents)
    assign = shared_df(
        spark, ("pq_assign", sf_dir), lambda: _pq_assign_step(subs, cents)
    )
    return cents, assign


def emb_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the codebook compression behind large-scale ANN
    indexes (64 floats → ``PQ_M`` byte codes here): split each vector into
    ``PQ_M`` subvectors, train one ``PQ_K``-entry codebook per subspace with
    a deterministic Lloyd round (seeds = the lowest vec_ids' subvectors,
    decimal-mean updates rounded to 9 dp so both engines rebuild identical
    codebooks), then code every subvector by nearest centroid and report the
    per-vector reconstruction error.

    The whole flow runs on an exploded ``(vec_id, subspace)`` frame, so all
    subspaces train/assign in the same two shuffles; codebooks stay
    driver-sized (``M·K`` rows broadcast) while the corpus scales."""
    _, assign = _pq_frames(spark, sf_dir)
    codes = [
        F.max(F.when(F.col("m") == m, F.col("cid"))).alias(f"code_{m}")
        for m in range(PQ_M)
    ]
    return (
        assign.groupBy("vec_id")
        .agg(
            *codes,
            F.round(
                F.sqrt(F.sum(F.col("d2").cast("decimal(38,12)")).cast("double")), 6
            ).alias("recon_err"),
        )
        .orderBy("vec_id")
    )


_PQ_D2 = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(list_zip(sv, cv), p -> (p[1]-p[2])*(p[1]-p[2]))), (a, x) -> a + x)"
)

_PQ_CORE_SQL = f"""
vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
subs AS (
  SELECT vec_id, m, v[m*{PQ_DIM}+1 : (m+1)*{PQ_DIM}] AS sv
  FROM vecs, generate_series(0, {PQ_M - 1}) g(m)
),
c0 AS (SELECT m, vec_id AS cid, sv AS cv FROM subs WHERE vec_id < {PQ_K}),
s1 AS (SELECT subs.vec_id, subs.m, subs.sv, c0.cid, {_PQ_D2} AS d2
       FROM subs JOIN c0 ON subs.m = c0.m),
a1 AS (
  SELECT vec_id, m, sv, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM s1
  ) WHERE rn = 1
),
m1 AS (
  SELECT m, cid, pos,
         round(CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE) / count(*), 9) AS cval
  FROM (SELECT m, cid, unnest(sv) AS val, generate_subscripts(sv, 1) AS pos FROM a1)
  GROUP BY m, cid, pos
),
c1 AS (SELECT m, cid, array_agg(cval ORDER BY pos) AS cv FROM m1 GROUP BY m, cid),
s2 AS (SELECT subs.vec_id, subs.m, subs.sv, c1.cid, {_PQ_D2} AS d2
       FROM subs JOIN c1 ON subs.m = c1.m),
a2 AS (
  SELECT vec_id, m, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM s2
  ) WHERE rn = 1
)
"""

_PQ_SQL = f"""
WITH {_PQ_CORE_SQL.strip()}
SELECT vec_id,
       {", ".join(f"max(CASE WHEN m = {m} THEN cid END) AS code_{m}" for m in range(PQ_M))},
       round(sqrt(CAST(sum(CAST(d2 AS DECIMAL(38,12))) AS DOUBLE)), 6) AS recon_err
FROM a2 GROUP BY vec_id ORDER BY vec_id
"""


def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over the PQ index — the query
    side of Jégou et al.'s "Product Quantization for Nearest Neighbor
    Search": each query builds a tiny ``M·K`` distance table against the
    codebooks (exact subvector-to-centroid distances), and a corpus vector's
    approximate distance is just ``M`` table lookups summed — the corpus is
    never decoded.

    Scale: the distance tables are queries×M×K rows (broadcast); the scan
    side touches only the byte codes (``assign``), so a 100 TB corpus reads
    ~1/256th of the raw vector bytes; per-query top-k is a partitioned
    window, decimal-summed so the lookup accumulation is order-independent."""
    cents, assign = _pq_frames(spark, sf_dir)
    qsubs = (
        _pq_subs(spark, sf_dir)
        .filter(F.col("vec_id") < TOPK_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qsv"))
    )
    dt = qsubs.join(F.broadcast(cents), "m").select(
        "query_id",
        "m",
        "cid",
        _pq_dist2(F.col("qsv"), F.col("cv")).alias("qd2"),
    )
    scored = (
        assign.select("vec_id", "m", "cid")
        .join(F.broadcast(dt), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sqrt(F.sum(F.col("qd2").cast("decimal(38,12)")).cast("double")), 6
            ).alias("adc_dist")
        )
        # a vector that shares no (m, cid) row with a query cannot appear —
        # impossible here: dt covers the full M×K grid, so every coded
        # vector joins on all M subspaces
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "rank", "adc_dist"
        )
        .orderBy("query_id", "rank")
    )


_PQ_QD2 = _PQ_D2.replace("list_zip(sv, cv)", "list_zip(qsv, cv)")

_ADC_SQL = f"""
WITH {_PQ_CORE_SQL.strip()},
qsubs AS (
  SELECT vec_id AS query_id, m, sv AS qsv FROM subs WHERE vec_id < {TOPK_QUERIES}
),
dt AS (
  SELECT query_id, c1.m, c1.cid, {_PQ_QD2} AS qd2
  FROM qsubs JOIN c1 ON qsubs.m = c1.m
),
sc AS (
  SELECT dt.query_id, a2.vec_id,
         round(sqrt(CAST(sum(CAST(qd2 AS DECIMAL(38,12))) AS DOUBLE)), 6) AS adc_dist
  FROM a2 JOIN dt ON a2.m = dt.m AND a2.cid = dt.cid
  WHERE a2.vec_id <> dt.query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, rank, adc_dist FROM (
  SELECT query_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
  FROM sc
) WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# Shard manifests (dataset integrity)
# ---------------------------------------------------------------------------


def docs_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard dataset manifest — what a lakehouse writer publishes next to
    the data so readers can verify integrity without rescanning: doc/token/
    char counts plus a chained content checksum (md5 over the shard's
    per-doc content hashes in shard order).  Any reordered, dropped, or
    altered document changes the shard's checksum.

    One shuffle on the shard key; the checksum chain orders inside each
    shard only (collect + sort of per-doc 32-char digests — shard-sized,
    bounded by the shard layout, never corpus-global)."""
    d = _docs_t(spark, sf_dir).select(
        "doc_id", "n_chars", F.size("toks").alias("n_tokens"), F.md5("norm").alias("h")
    )
    s = _shuffled(spark, sf_dir).select("doc_id", "h", "shard")
    pos = with_global_seq(
        s.withColumnRenamed("h", "oh"),
        F.expr(f"oh div {_H_BUCKET}"),
        ["oh", "doc_id"],
        out_col="pos",
        start=0,
        partition_cols=("shard",),
    ).select("doc_id", "shard", "pos")
    j = d.join(pos, "doc_id")
    return (
        j.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_bytes"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "h"))),
                        lambda x: x["h"],
                    ),
                )
            ).alias("manifest_md5"),
        )
        .orderBy("shard")
    )


_MANIFEST_SQL = (
    "WITH "
    + DOCS_T_SQL
    + ","
    + _SHUFFLE_SQL
    + """
, pos AS (
  SELECT doc_id, shard,
         row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS pos
  FROM shuf
),
d AS (
  SELECT doc_id, n_chars, len(toks) AS n_tokens, md5(norm) AS dh
  FROM docs_t
)
SELECT shard,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_bytes,
       md5(string_agg(dh, '' ORDER BY pos)) AS manifest_md5
FROM d JOIN pos USING (doc_id)
GROUP BY shard
ORDER BY shard
"""
)


# ---------------------------------------------------------------------------
# Dedup-method agreement audit
# ---------------------------------------------------------------------------


def docs_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method dedup audit: for every document, whether each family —
    exact (content hash), MinHash-LSH (jaccard ≥ 0.9), SimHash (hamming ≤ 3)
    — places it in *some* duplicate cluster, plus the method count and a
    2-of-3 consensus flag.  The per-method pipelines are the already-judged
    operators; this query composes their session-staged frames, so the audit
    costs three cluster-membership joins, not three dedup reruns.  A real
    curation pipeline runs exactly this comparison to pick thresholds."""
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        docs_exact_dedup,
        docs_minhash_dedup,
        docs_simhash_pairs,
    )

    ex = docs_exact_dedup(spark, sf_dir)
    wh = W.partitionBy("content_hash")
    ex_flag = ex.select(
        "doc_id", (F.count(F.lit(1)).over(wh) > 1).alias("dup_exact")
    )
    mh = docs_minhash_dedup(spark, sf_dir)
    mh_keepers = (
        mh.filter(F.col("is_near_duplicate"))
        .select(F.col("keeper_doc_id").alias("doc_id"))
        .distinct()
        .withColumn("is_keeper", F.lit(True))
    )
    mh_flag = (
        mh.join(mh_keepers, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("is_near_duplicate") | F.col("is_keeper").isNotNull()).alias(
                "dup_minhash"
            ),
        )
    )
    shp = docs_simhash_pairs(spark, sf_dir)
    sh_flag = (
        shp.select("doc_id")
        .unionByName(shp.select(F.col("nn_doc_id").alias("doc_id")))
        .distinct()
        .withColumn("dup_simhash", F.lit(True))
    )
    out = (
        ex_flag.join(mh_flag, "doc_id")
        .join(sh_flag, "doc_id", "left")
        .select(
            "doc_id",
            "dup_exact",
            "dup_minhash",
            F.coalesce("dup_simhash", F.lit(False)).alias("dup_simhash"),
        )
    )
    n_methods = (
        F.col("dup_exact").cast("int")
        + F.col("dup_minhash").cast("int")
        + F.col("dup_simhash").cast("int")
    )
    return out.select(
        "*",
        n_methods.alias("n_methods"),
        (n_methods >= 2).alias("consensus"),
    ).orderBy("doc_id")


def _dedup_audit_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        MINHASH_JACCARD_MIN,
        NORM_SQL,
        SIMHASH_BAND_BITS,
        SIMHASH_BITS,
        SIMHASH_MAX_HAMMING,
        _bands_sql,
        _minhash_sql,
        _simhash_sql,
    )

    thr = int(MINHASH_JACCARD_MIN * 10)
    sim_bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS band_id, "
        f"(simhash >> {i * SIMHASH_BAND_BITS}) & {2**SIMHASH_BAND_BITS - 1} AS band_val FROM sh"
        for i in range(SIMHASH_BITS // SIMHASH_BAND_BITS)
    )
    return f"""
WITH {DOCS_T_SQL}, {_minhash_sql()}, {_bands_sql()}, {_simhash_sql()},
exf AS (
  SELECT doc_id, count(*) OVER (PARTITION BY content_hash) > 1 AS dup_exact
  FROM (SELECT doc_id, md5({NORM_SQL}) AS content_hash FROM documents)
),
mh_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
),
mh_good AS (
  SELECT c.doc_a, c.doc_b
  FROM mh_cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE len(list_intersect(sa.tok_set, sb.tok_set)) * {10 + thr}
        >= {thr} * (len(sa.tok_set) + len(sb.tok_set))
),
mh_mins AS (SELECT doc_b AS doc_id, min(doc_a) AS keeper FROM mh_good GROUP BY doc_b),
mhf AS (
  SELECT d.doc_id,
         (m.keeper IS NOT NULL
          OR d.doc_id IN (SELECT DISTINCT keeper FROM mh_mins)) AS dup_minhash
  FROM (SELECT doc_id FROM sig) d
  LEFT JOIN mh_mins m ON m.doc_id = d.doc_id
),
sim_bands AS ({sim_bands}),
sim_p AS (
  SELECT doc_a, doc_b FROM (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sim_bands a JOIN sim_bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
  ) WHERE hamming <= {SIMHASH_MAX_HAMMING}
),
shf AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM sim_p UNION ALL SELECT doc_b AS doc_id FROM sim_p
  )
),
flags AS (
  SELECT e.doc_id, e.dup_exact, m.dup_minhash, s.doc_id IS NOT NULL AS dup_simhash
  FROM exf e
  JOIN mhf m ON m.doc_id = e.doc_id
  LEFT JOIN shf s ON s.doc_id = e.doc_id
)
SELECT doc_id, dup_exact, dup_minhash, dup_simhash,
       CAST(dup_exact AS INT) + CAST(dup_minhash AS INT) + CAST(dup_simhash AS INT) AS n_methods,
       CAST(dup_exact AS INT) + CAST(dup_minhash AS INT) + CAST(dup_simhash AS INT) >= 2 AS consensus
FROM flags
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Matryoshka truncation recall
# ---------------------------------------------------------------------------

MRL_DIM = 16  # truncated prefix dimensionality (full = 64)


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimensionality truncation, judged by what it costs:
    retrieval with only the first ``MRL_DIM`` of 64 dimensions (the cheap
    prefix a matryoshka-trained embedder exposes) vs full-dimension exact
    top-k.  Per query: the overlap of the two top-10 sets and recall@10 —
    the number that decides whether the 4× cheaper index is good enough.

    Both rankings are the broadcast-queries + map-side scoring + per-query
    top-k shape of :func:`.pipeline_queries.emb_topk_similarity`; the
    truncated pass reads the same vectors sliced, so one corpus scan serves
    both sides."""
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        TOPK,
        TOPK_QUERIES,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def topk_of(frame, vcol):
        n = frame.withColumn("nrm", T.l2_norm(F.col(vcol)))
        q = n.filter(F.col("vec_id") < TOPK_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col(vcol).alias("qv"),
            F.col("nrm").alias("qn"),
        )
        pairs = n.crossJoin(F.broadcast(q)).filter(
            F.col("vec_id") != F.col("query_id")
        )
        cos = T.dot(F.col(vcol), F.col("qv")) / (F.col("nrm") * F.col("qn"))
        return (
            pairs.select("query_id", "vec_id", cos.alias("c"))
            .withColumn("rn", F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("c"), "vec_id")
            ))
            .filter(F.col("rn") <= TOPK)
            .select("query_id", "vec_id")
        )

    full = topk_of(e, "v")
    trunc = topk_of(e.select("vec_id", F.slice("v", 1, MRL_DIM).alias("v")), "v")
    return (
        full.join(trunc, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .join(full.select("query_id").distinct(), "query_id", "right")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) / F.lit(float(TOPK))).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


def _mrl_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        TOPK,
        TOPK_QUERIES,
    )

    def rank_cte(name: str, vexpr: str) -> str:
        return f"""
{name}_n AS (
  SELECT vec_id, {vexpr} AS v,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform({vexpr}, x -> x*x)), (a, x) -> a + x)) AS nrm
  FROM vecs
),
{name}_q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM {name}_n WHERE vec_id < {TOPK_QUERIES}),
{name} AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_DOT.format(a="q.qv", b="c.v")} / (q.qn * c.nrm) DESC, c.vec_id) AS rn
    FROM {name}_q q JOIN {name}_n c ON c.vec_id <> q.query_id
  ) WHERE rn <= {TOPK}
)"""

    return f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{rank_cte("fullr", "v")},
{rank_cte("truncr", f"v[1:{MRL_DIM}]")}
SELECT f.query_id,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       COALESCE(o.n_overlap, 0) / {float(TOPK)} AS recall_at_k
FROM (SELECT DISTINCT query_id FROM fullr) f
LEFT JOIN (
  SELECT query_id, count(*) AS n_overlap
  FROM fullr JOIN truncr USING (query_id, vec_id)
  GROUP BY query_id
) o ON o.query_id = f.query_id
ORDER BY f.query_id
"""


# ---------------------------------------------------------------------------
# Tokenizer vocabulary fit
# ---------------------------------------------------------------------------

VOCAB_K = 64


def docs_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary fitting, step one: the corpus-wide top-``K``
    tokens by frequency with their cumulative coverage — the table a
    frequency-based vocab (or BPE seed alphabet) is cut from.  Explode →
    count is one shuffle with map-side combine; the global top-K is a
    distributed TakeOrdered, and the cumulative share runs over K rows
    only.  Coverage is exact integer basis points."""
    d = _docs_t(spark, sf_dir)
    counts = (
        d.select(F.explode("toks").alias("token"))
        .filter(F.length("token") >= 1)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total_tokens"))
    top = (
        counts.orderBy(F.desc("n"), "token")
        .limit(VOCAB_K)
        .crossJoin(F.broadcast(total))
    )
    w = W.orderBy(F.desc("n"), "token")
    return top.select(
        F.row_number().over(w).alias("rank"),
        "token",
        "n",
        F.expr("(10000 * n) div total_tokens").alias("share_bp"),
        F.expr(
            "sum(n) over (order by n desc, token rows between unbounded preceding and current row)"
        ).alias("cum_n"),
    ).orderBy("rank")


_VOCAB_SQL = (
    "WITH "
    + DOCS_T_SQL
    + f"""
, counts AS (
  SELECT t.token, count(*) AS n
  FROM docs_t, UNNEST(toks) AS t(token)
  WHERE length(t.token) >= 1
  GROUP BY t.token
),
top AS (SELECT * FROM counts ORDER BY n DESC, token LIMIT {VOCAB_K})
SELECT row_number() OVER (ORDER BY n DESC, token) AS rank,
       token, n,
       CAST((10000 * n) // t.total_tokens AS BIGINT) AS share_bp,
       CAST(sum(n) OVER (ORDER BY n DESC, token ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
FROM top, (SELECT sum(n) AS total_tokens FROM counts) t
ORDER BY rank
"""
)


DSIR_BUCKETS = 256  # hashed-unigram feature buckets
DSIR_SCALE = 10_000  # likelihood ratios reported in exact 1e-4 units
DSIR_SEL_PCT = 0.75  # docs at/above the 75th-percentile ratio are selected


def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection with hashed n-gram importance weights
    (Xie et al., "Data Selection for Language Models via Importance
    Resampling", NeurIPS 2023): fit bag-of-hashed-unigram models on a target
    slice (here the ``lang = 'en'`` documents) and on the raw corpus, weight
    every document by its per-token target/raw likelihood ratio, and select
    the best-matching quantile.

    Logs are transcendental (banned from the judged surface), so the
    per-bucket ratio is kept *linear* and exact: with Laplace-smoothed counts
    the ratio ``p_target[b]/p_raw[b]`` is the rational number
    ``(c_t[b]+1)(tot_r+B) / ((c_r[b]+1)(tot_t+B))``, reported as its floor in
    1e-4 units — pure BIGINT arithmetic, identical in both engines; the
    per-doc score is the (order-independent) integer mean over token
    positions.  Same ranking direction as the paper's log-ratio.

    Scale shape: one explode → 256-group map-side-combinable count, then the
    complete bucket→weight table (256 rows — bounded driver state, like the
    capped BPE vocab) gathers back row-locally via a vectorized Arrow kernel
    (one ``numpy.take`` per document) — scoring touches each document exactly
    once with ZERO additional shuffles; the selection cut is a 1-row
    broadcast.  The per-token work is Arrow-batched, never an interpreted
    per-element lambda (the same kernel move that vectorized MaxSim,
    ``ann_queries.py:53-120``); all arithmetic stays exact BIGINT.
    """
    import numpy as np
    import pandas as pd  # noqa: F401 — pandas_udf Series signature
    from pyspark.sql.types import ArrayType, IntegerType

    from lets_talk_cdc_change_feed_playground_spark.operators.shared import (
        memo,
        shared_df,
    )

    def build_tb() -> DataFrame:
        # per-doc token→bucket arrays: the rolling 31-hash per token (same
        # rule as textops.token_hashes / the oracle's SQL twin), memoized per
        # Arrow batch — the corpus vocabulary is Zipfian, so almost every
        # token hash is a dict hit, not a re-fold
        @F.pandas_udf(ArrayType(IntegerType()))
        def buckets(norm):
            from lets_talk_cdc_change_feed_playground_spark.functions.text_kernels import (
                _hash_token,
            )

            memo: dict[str, int] = {}

            def tb(s: str) -> list[int]:
                out = []
                for t in s.split(" "):
                    b = memo.get(t)
                    if b is None:
                        b = memo[t] = _hash_token(t) % DSIR_BUCKETS
                    out.append(b)
                return out

            return norm.map(tb)

        return _docs_t(spark, sf_dir).select(
            "doc_id", "lang", buckets(F.col("norm")).alias("tb")
        )

    toks = shared_df(spark, ("dsir_tb", sf_dir), build_tb)
    counts = (
        toks.select("lang", F.explode("tb").alias("b"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("c_r"),
            F.sum((F.col("lang") == "en").cast("long")).alias("c_t"),
        )
    )
    full = (
        spark.range(DSIR_BUCKETS)
        .select(F.col("id").alias("b"))
        .join(counts, "b", "left")
        .na.fill({"c_r": 0, "c_t": 0})
    )
    tot = full.agg(F.sum("c_r").alias("tot_r"), F.sum("c_t").alias("tot_t"))
    weights = full.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"({DSIR_SCALE} * (c_t + 1) * (tot_r + {DSIR_BUCKETS}))"
            f" div ((c_r + 1) * (tot_t + {DSIR_BUCKETS}))"
        ).alias("w"),
    )
    # the complete bucket→weight table: DSIR_BUCKETS rows by construction —
    # rides to the scorer as a captured numpy array (a broadcast variable in
    # cluster terms), exactly like the driver-held IVM dim state; memoized
    # per session beside the persisted frames so repeated calls skip the
    # counts round-trip
    wl_arr = memo(
        spark,
        ("dsir_weights", sf_dir),
        lambda: np.array(
            [r["w"] for r in weights.orderBy("b").collect()], dtype=np.int64
        ),
    )
    assert len(wl_arr) == DSIR_BUCKETS

    @F.pandas_udf("long")
    def wsum(tb):
        return tb.map(
            lambda a: int(wl_arr[np.asarray(a, dtype=np.int64)].sum())
            if len(a)
            else 0
        )

    def build_scored() -> DataFrame:
        return toks.select(
            "doc_id",
            "lang",
            F.size("tb").alias("n_tokens"),
            wsum(F.col("tb")).alias("w_sum"),
        ).withColumn("mean_w", F.expr("w_sum div n_tokens"))

    # persisted: consumed twice (the percentile cut and the final projection)
    scored = shared_df(spark, ("dsir_scored", sf_dir), build_scored)
    cut = F.broadcast(
        scored.agg(
            F.expr(
                f"percentile_disc({DSIR_SEL_PCT}) within group (order by mean_w)"
            ).alias("cut")
        )
    )
    return (
        scored.crossJoin(cut)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "w_sum",
            "mean_w",
            (F.col("mean_w") >= F.col("cut")).alias("selected"),
        )
        .orderBy("doc_id")
    )


_DSIR_SQL = f"""
WITH {DOCS_T_SQL},
tb AS (
  SELECT doc_id, lang,
         list_transform({TOKEN_HASHES_SQL}, h -> h % {DSIR_BUCKETS}) AS tb
  FROM docs_t
),
tok AS (SELECT lang, UNNEST(tb) AS b FROM tb),
counts AS (
  SELECT b, count(*) AS c_r,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
  FROM tok GROUP BY b
),
fullb AS (
  SELECT r.b, CAST(COALESCE(c.c_r, 0) AS BIGINT) AS c_r,
         CAST(COALESCE(c.c_t, 0) AS BIGINT) AS c_t
  FROM (SELECT UNNEST(range(0, {DSIR_BUCKETS})) AS b) r
  LEFT JOIN counts c ON r.b = c.b
),
tot AS (SELECT CAST(sum(c_r) AS BIGINT) AS tot_r, CAST(sum(c_t) AS BIGINT) AS tot_t FROM fullb),
wt AS (
  SELECT b, ({DSIR_SCALE} * (c_t + 1) * (tot_r + {DSIR_BUCKETS}))
            // ((c_r + 1) * (tot_t + {DSIR_BUCKETS})) AS w
  FROM fullb, tot
),
wl AS (SELECT list(w ORDER BY b) AS wl FROM wt),
scored AS (
  SELECT doc_id, lang, CAST(len(tb) AS INT) AS n_tokens,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(tb, x -> wl[x + 1])), (acc, v) -> acc + v) AS BIGINT) AS w_sum
  FROM tb, wl
),
sc AS (
  SELECT doc_id, lang, n_tokens, w_sum,
         CAST(w_sum // n_tokens AS BIGINT) AS mean_w
  FROM scored
),
th AS (SELECT percentile_disc({DSIR_SEL_PCT}) WITHIN GROUP (ORDER BY mean_w) AS cut FROM sc)
SELECT s.doc_id, s.lang, s.n_tokens, s.w_sum, s.mean_w,
       s.mean_w >= t.cut AS selected
FROM sc s, th t
ORDER BY s.doc_id
"""


QUERIES = {
    "docs_dsir_weights": docs_dsir_weights,
    "emb_pq_adc_topk": emb_pq_adc_topk,
    "emb_matryoshka_recall": emb_matryoshka_recall,
    "docs_vocab_topk": docs_vocab_topk,
    "docs_dataset_manifest": docs_dataset_manifest,
    "docs_dedup_audit": docs_dedup_audit,
    "emb_pq_quantize": emb_pq_quantize,
    "docs_shard_assignment": docs_shard_assignment,
    "docs_pack_sequences": docs_pack_sequences,
    "docs_domain_mix": docs_domain_mix,
    "docs_temperature_resample": docs_temperature_resample,
    "emb_semantic_dedup": emb_semantic_dedup,
}

ORACLE = {
    "docs_dsir_weights": _DSIR_SQL,
    "emb_pq_adc_topk": _ADC_SQL,
    "emb_matryoshka_recall": _mrl_sql(),
    "docs_vocab_topk": _VOCAB_SQL,
    "docs_dataset_manifest": _MANIFEST_SQL,
    "docs_dedup_audit": _dedup_audit_sql(),
    "emb_pq_quantize": _PQ_SQL,
    "docs_shard_assignment": _SHARD_SQL,
    "docs_pack_sequences": _PACK_SQL,
    "docs_domain_mix": _MIX_SQL,
    "docs_temperature_resample": _RESAMPLE_SQL,
    "emb_semantic_dedup": _SEMDEDUP_SQL,
}


# ---------------------------------------------------------------------------
# IVF-PQ (IVFADC): the combined index structure of billion-scale ANN
# ---------------------------------------------------------------------------

IVFPQ_NPROBE = 4  # coarse cells each query probes


def _subspaces_of(df: DataFrame, vcol: str, keep: list[str]) -> DataFrame:
    """Explode ``vcol`` (a 64-d array) into (m, 16-d subvector) rows."""
    return df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(vcol, m * PQ_DIM + 1, PQ_DIM).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select(*keep, F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the index layout billion-scale ANN actually deploys (Jégou
    et al.'s IVF + product quantization, the FAISS ``IVFx,PQy`` family):

    1. coarse-quantize every vector to one of ``K_IVF`` cells (seeds = the
       lowest vec_ids, squared-L2 argmin — broadcast centroids, map-side);
    2. PQ-encode each vector's RESIDUAL (v − cell centroid) with one
       deterministic Lloyd round per subspace (decimal-mean codebooks,
       exactly :func:`emb_pq_quantize`'s recipe but over residuals — the
       residual trick is what makes shared codebooks tight across cells);
    3. at query time, probe the ``IVFPQ_NPROBE`` nearest cells; per probed
       cell build the query-residual ADC distance table against the shared
       codebooks, and score cell members by ``M`` table lookups — the corpus
       vectors are never decoded.

    Scale: the corpus-sized work is two broadcast-argmin passes and ONE
    shuffle (the codebook mean); the search side touches only byte codes in
    probed cells (``NPROBE/K_IVF`` of the data, ~1/256th of its bytes).
    Distance tables are queries×NPROBE×M×K rows — broadcast-sized at any
    corpus scale."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cc = e.filter(F.col("vec_id") < K_IVF).select(
        F.col("vec_id").alias("ccid"), F.col("v").alias("ccv")
    )
    ranked = (
        e.crossJoin(F.broadcast(cc))
        .withColumn("cd2", d2(F.col("v"), F.col("ccv")))
        .withColumn(
            "crn",
            F.row_number().over(W.partitionBy("vec_id").orderBy("cd2", "ccid")),
        )
    )
    # the residual assignment feeds the codebook training AND the corpus
    # encode; the trained codebook c1 is tiny but its lineage is two corpus
    # passes — persist both so the ADC table and the encode don't re-derive
    assign = shared_df(
        spark,
        ("ivfpq_assign", sf_dir),
        lambda: ranked.filter(F.col("crn") == 1).select(
            "vec_id",
            F.col("ccid").alias("cell"),
            F.zip_with("v", "ccv", lambda x, y: x - y).alias("rv"),
        ),
    )
    rsubs = _subspaces_of(assign, "rv", ["vec_id", "cell"])
    c0 = rsubs.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    plain = rsubs.select("vec_id", "m", "sv")
    c1 = shared_df(
        spark,
        ("ivfpq_c1", sf_dir),
        lambda: _pq_update_step(_pq_assign_step(plain, c0)),
    )
    codes = (
        _pq_assign_step(plain, c1)
        .select("vec_id", "m", "cid")
        .join(assign.select("vec_id", "cell"), "vec_id")
    )
    probe = ranked.filter(
        (F.col("vec_id") < TOPK_QUERIES) & (F.col("crn") <= IVFPQ_NPROBE)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("ccid").alias("cell"),
        F.zip_with("v", "ccv", lambda x, y: x - y).alias("qrv"),
    )
    qsubs = _subspaces_of(probe, "qrv", ["query_id", "cell"])
    dt = qsubs.join(F.broadcast(c1), "m").select(
        "query_id",
        "cell",
        "m",
        "cid",
        _pq_dist2(F.col("sv"), F.col("cv")).alias("qd2"),
    )
    scored = (
        codes.join(F.broadcast(dt), ["cell", "m", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sqrt(F.sum(F.col("qd2").cast("decimal(38,12)")).cast("double")), 6
            ).alias("adc_dist")
        )
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "adc_dist")
        .orderBy("query_id", "rank")
    )


QUERIES["emb_ivfpq_topk"] = emb_ivfpq_topk

_CD2 = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(list_zip(v, ccv), p -> (p[1]-p[2])*(p[1]-p[2]))), (a, x) -> a + x)"
)
_RES = "list_transform(list_zip(v, ccv), p -> p[1] - p[2])"

ORACLE["emb_ivfpq_topk"] = f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cc AS (SELECT vec_id AS ccid, v AS ccv FROM vecs WHERE vec_id < {K_IVF}),
cr AS (
  SELECT vec_id, v, ccid, ccv, cd2,
         row_number() OVER (PARTITION BY vec_id ORDER BY cd2, ccid) AS crn
  FROM (SELECT vecs.vec_id, vecs.v, cc.ccid, cc.ccv, {_CD2} AS cd2 FROM vecs, cc)
),
ca AS (SELECT vec_id, ccid AS cell, {_RES} AS rv FROM cr WHERE crn = 1),
rsubs AS (
  SELECT vec_id, cell, m, rv[m*{PQ_DIM}+1 : (m+1)*{PQ_DIM}] AS sv
  FROM ca, generate_series(0, {PQ_M - 1}) g(m)
),
c0 AS (SELECT m, vec_id AS cid, sv AS cv FROM rsubs WHERE vec_id < {PQ_K}),
s1 AS (SELECT rsubs.vec_id, rsubs.m, rsubs.sv, c0.cid, {_PQ_D2} AS d2
       FROM rsubs JOIN c0 ON rsubs.m = c0.m),
a1 AS (
  SELECT vec_id, m, sv, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM s1
  ) WHERE rn = 1
),
m1 AS (
  SELECT m, cid, pos,
         round(CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE) / count(*), 9) AS cval
  FROM (SELECT m, cid, unnest(sv) AS val, generate_subscripts(sv, 1) AS pos FROM a1)
  GROUP BY m, cid, pos
),
c1 AS (SELECT m, cid, array_agg(cval ORDER BY pos) AS cv FROM m1 GROUP BY m, cid),
s2 AS (SELECT rsubs.vec_id, rsubs.cell, rsubs.m, rsubs.sv, c1.cid, {_PQ_D2} AS d2
       FROM rsubs JOIN c1 ON rsubs.m = c1.m),
a2 AS (
  SELECT vec_id, cell, m, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM s2
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, ccid AS cell, {_RES.replace("rv", "qrv")} AS qrv
  FROM cr WHERE vec_id < {TOPK_QUERIES} AND crn <= {IVFPQ_NPROBE}
),
qsubs AS (
  SELECT query_id, cell, m, qrv[m*{PQ_DIM}+1 : (m+1)*{PQ_DIM}] AS qsv
  FROM probe, generate_series(0, {PQ_M - 1}) g(m)
),
dt AS (
  SELECT query_id, cell, c1.m, c1.cid, {_PQ_QD2} AS qd2
  FROM qsubs JOIN c1 ON qsubs.m = c1.m
),
sc AS (
  SELECT dt.query_id, a2.vec_id,
         round(sqrt(CAST(sum(CAST(qd2 AS DECIMAL(38,12))) AS DOUBLE)), 6) AS adc_dist
  FROM a2 JOIN dt ON a2.cell = dt.cell AND a2.m = dt.m AND a2.cid = dt.cid
  WHERE a2.vec_id <> dt.query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, rank, adc_dist FROM (
  SELECT query_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
  FROM sc
) WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style inference)
# ---------------------------------------------------------------------------

CLS_DIM = 1024  # hashed feature space
CLS_MIX = 2654435761  # Knuth multiplier deriving the frozen "trained" weights
CLS_WSPAN = 1000  # weights span [-1000, 1000] micro-units


def docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a hashed-bigram linear classifier
    scored over the whole corpus — the fastText-style inference pass a
    100 TB curation pipeline runs after the rule-based filters.

    Features are token bigrams hashed into ``CLS_DIM`` buckets; the frozen
    "model" maps bucket f to an integer micro-weight derived from the Knuth
    multiplicative mix (a deterministic stand-in for trained weights — the
    serving plumbing is the real subject: broadcast-free weight lookup as
    pure expression, map-side feature aggregation, one shuffle on doc_id).
    Score = Σ w(f)·tf(f) div n_features (mean activation, exact integers);
    the decision is the linear score's sign (no transcendental sigmoid —
    rank-equivalent and value-exact on both engines)."""
    d = _docs_t(spark, sf_dir)
    big = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> toks[i] || '_' || toks[i + 1])"
            )
        ).alias("bigram"),
    )
    feats = big.select(
        "doc_id",
        "lang",
        (hash31(F.col("bigram"), mod=T.FINGERPRINT_PRIME) % CLS_DIM).alias("f"),
    ).groupBy("doc_id", "lang", "f").agg(F.count(F.lit(1)).alias("tf"))
    scored = feats.withColumn(
        "w",
        F.expr(f"(f * {CLS_MIX}) % {T.FINGERPRINT_PRIME} % {2 * CLS_WSPAN + 1} - {CLS_WSPAN}"),
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.sum(F.expr("w * tf")).alias("act"),
        F.sum("tf").alias("n_feat"),
    )
    doc_scores = per_doc.select(
        "doc_id",
        "lang",
        F.expr("act div n_feat").alias("score_micro"),
        (F.expr("act div n_feat") >= 0).alias("keep"),
    )
    return (
        doc_scores.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("n_keep"),
            F.min("score_micro").alias("score_min"),
            F.max("score_micro").alias("score_max"),
            F.sum("score_micro").cast("long").alias("score_sum"),
        )
        .orderBy("lang")
    )


_CLS_BIGRAM_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) "
    f"for c in string_split(bigram, '')]), (a, c) -> (a*31 + c) % {T.FINGERPRINT_PRIME})"
)

ORACLE["docs_quality_classifier"] = f"""
WITH {DOCS_T_SQL.strip()},
big AS (
  SELECT doc_id, lang, toks[i + 1] || '_' || toks[i + 2] AS bigram
  FROM docs_t CROSS JOIN UNNEST(range(len(toks) - 1)) AS t(i)
),
feats AS (
  SELECT doc_id, lang, ({_CLS_BIGRAM_HASH}) % {CLS_DIM} AS f, count(*) AS tf
  FROM big GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT doc_id, lang,
         sum(((f * {CLS_MIX}) % {T.FINGERPRINT_PRIME} % {2 * CLS_WSPAN + 1} - {CLS_WSPAN}) * tf) AS act,
         sum(tf) AS n_feat
  FROM feats GROUP BY doc_id, lang
),
ds AS (
  SELECT doc_id, lang, act // n_feat AS score_micro,
         act // n_feat >= 0 AS keep
  FROM per_doc
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(min(score_micro) AS BIGINT) AS score_min,
       CAST(max(score_micro) AS BIGINT) AS score_max,
       CAST(sum(score_micro) AS BIGINT) AS score_sum
FROM ds GROUP BY lang ORDER BY lang
"""

QUERIES["docs_quality_classifier"] = docs_quality_classifier
