"""Full-text retrieval + neighborhood-graph construction.

Two retrieval-side capabilities a training-data platform needs beyond the
dedup/similarity family already judged in :mod:`.pipeline_queries`:

- ``docs_bm25_topk``  — BM25 ranked retrieval over the document corpus.
  Classic inverted-index shape: explode → (doc, term) postings with term
  frequencies (map-side combinable), document frequencies from the distinct
  postings, corpus scalars (N, total length) as a 1-row broadcast, query
  terms joined against the postings (never a doc×doc product), per-query
  top-k window.  The score is the **log-free rational BM25**: the standard
  Robertson idf ``ln((N-df+.5)/(df+.5))`` is replaced by the exact rational
  odds ``(2N-2df+1)/(2df+1)`` (same monotonicity in df), because a
  transcendental ``ln`` differs by ulps between the JVM and C libm and
  would poison the value hash.  With k1 = 6/5 and b = 3/4 every factor is
  a ratio of integers, so scoring runs entirely in integer micro-units —
  bit-identical on both engines (the same determinism rule as
  ``docs_tfidf_terms``).
- ``emb_knn_graph``   — the k-nearest-neighbor graph over the embedding
  corpus, the substrate for graph-based dedup/clustering and HNSW-style
  index construction.  All-pairs is quadratic and never shipped at scale;
  candidates are bounded to the vector's IVF cell (same deterministic
  coarse quantizer as ``emb_ivf_topk``: seed centroids = the ``K_IVF``
  lowest vec_ids), so pair count is Σ|cell|² ≪ n².  Per-vector top-k via
  a by-vector window, then a self-join on the reversed edge marks
  reciprocal pairs (the mutual-kNN signal graph clustering uses).

Scale shape: BM25 = two map-side-combinable aggregations + a broadcast of
(queries × ≤Q_TERMS) terms; the kNN graph's only data-sized shuffles are
the cell assignment and the within-cell self-join keyed on the cell id
(at 100 TB you raise K_IVF ∝ √n to keep cells bounded; the plumbing is
unchanged).  No UDFs, no collect, no global windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.functions import textops as T
from lets_talk_cdc_change_feed_playground_spark.operators.ops_feed import hash31
from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
    DOCS_T_SQL,
    K_IVF,
    TOKEN_HASHES_SQL,
    TOPK,
    TOPK_QUERIES,
    _DOT_SQL,
    _docs_t,
)
from lets_talk_cdc_change_feed_playground_spark.sources.testdata import load_table

BM25_TOPK = 10
BM25_QTERMS = 4  # query = the 4 alphabetically-first distinct tokens (len>=3, non-stop) of each query doc
M = 1_000_000  # micro-unit scale
# k1 = 6/5, b = 3/4 as exact rationals; see score derivation in the docstrings.

KNN_K = 5  # neighbors kept per vector in the kNN graph


def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval, exact integer micro-unit scoring.

    Per (query, doc, term):
      ``tf_norm = tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`` with k1=6/5,
      b=3/4 and ``avgdl = total_len/N`` becomes, after clearing
      denominators by ``10·total_len``:
      ``tf_norm_micro = (M·22·tf·total_len) div
      (10·total_len·tf + 3·total_len + 9·dl·N)``;
      ``idf_micro = (M·(2N-2df+1)) div (2df+1)`` (rational odds idf);
      ``term_score_micro = (idf_micro·tf_norm_micro) div M``.
    Summed per (query, doc) — every step is integer arithmetic with the
    identical rounding points on both engines."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    # the (doc, term) frequency frame feeds FOUR plan branches (scored main
    # side, doc lengths, document frequencies, query terms) — without
    # staging, each consumer re-runs the corpus explode+aggregate (profiled
    # r09: four ~8 s-CPU stages per run).  One pass per session (§2.4).
    tf = shared_df(
        spark,
        ("bm25_tf", sf_dir),
        lambda: (
            _docs_t(spark, sf_dir)
            .select("doc_id", F.explode("toks").alias("term"))
            .filter((F.length("term") >= 3) & ~F.col("term").isin(*T.STOPWORDS))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        ),
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    qw = W.partitionBy("query_id").orderBy("term")
    qterms = (
        tf.filter(F.col("doc_id") < TOPK_QUERIES)
        .select(F.col("doc_id").alias("query_id"), "term")
        .withColumn("qrn", F.row_number().over(qw))
        .filter(F.col("qrn") <= BM25_QTERMS)
        .drop("qrn")
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(dl, "doc_id")
        .join(F.broadcast(dfreq.join(F.broadcast(qterms), "term").select("term", "df").distinct()), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "tf_norm_micro",
            F.expr(
                f"({M}L * 22 * tf * total_len) div"
                " (10 * total_len * tf + 3 * total_len + 9 * dl * n_docs)"
            ),
        )
        .withColumn(
            "idf_micro",
            F.expr(f"({M}L * (2*n_docs - 2*df + 1)) div (2*df + 1)"),
        )
        .withColumn("term_score", F.expr(f"(idf_micro * tf_norm_micro) div {M}L"))
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("term_score").cast("long").alias("score_micro"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score_micro"), "doc_id")
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "doc_id", "n_terms", "score_micro")
        .orderBy("query_id", "rank")
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in T.STOPWORDS)

_BM25_SQL = f"""
WITH {DOCS_T_SQL.strip().rstrip()},
tok AS (
  SELECT doc_id, t.term FROM docs_t, UNNEST(toks) AS t(term)
  WHERE length(t.term) >= 3 AND t.term NOT IN ({_STOP_SQL})
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
qterms AS (
  SELECT query_id, term FROM (
    SELECT doc_id AS query_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY term) AS qrn
    FROM tf WHERE doc_id < {TOPK_QUERIES}
  ) WHERE qrn <= {BM25_QTERMS}
),
scored AS (
  SELECT q.query_id, t.doc_id,
         ({M} * 22 * t.tf * s.total_len) //
           (10 * s.total_len * t.tf + 3 * s.total_len + 9 * l.dl * s.n_docs)
           AS tf_norm_micro,
         ({M} * (2*s.n_docs - 2*f.df + 1)) // (2*f.df + 1) AS idf_micro
  FROM tf t
  JOIN qterms q ON t.term = q.term AND t.doc_id <> q.query_id
  JOIN dl l ON t.doc_id = l.doc_id
  JOIN dfreq f ON t.term = f.term
  CROSS JOIN stats s
),
per_doc AS (
  SELECT query_id, doc_id,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum((idf_micro * tf_norm_micro) // {M}) AS BIGINT) AS score_micro
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, n_terms, score_micro
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_micro DESC, doc_id) AS rank
  FROM per_doc
)
WHERE rank <= {BM25_TOPK}
ORDER BY query_id, rank
"""


def _ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-staged IVF cell assignment ``(vec_id, label, v, nrm, cell)``
    — ONE corpus × centroid argmin pass shared by every consumer of the
    seed-quantizer cells (``emb_knn_graph``'s self-join sides,
    ``emb_nprobe_curve``'s probed corpus; guide §2.4)."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    n = e.withColumn("nrm", T.l2_norm(F.col("v")))
    cents = n.filter(F.col("vec_id") < K_IVF).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    scored = n.crossJoin(F.broadcast(cents)).withColumn(
        "ccos", T.dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    )
    wv = W.partitionBy("vec_id").orderBy(F.desc("ccos"), "cent_id")
    return shared_df(
        spark,
        ("knn_assign", sf_dir),
        lambda: (
            scored.withColumn("crn", F.row_number().over(wv))
            .filter(F.col("crn") == 1)
            .select("vec_id", "label", "v", "nrm", F.col("cent_id").alias("cell"))
        ),
    )


def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN graph bounded by IVF cells, with reciprocal-edge marking.

    Every vector is assigned to its nearest seed centroid (identical rule
    to ``emb_ivf_topk``); candidate pairs are the within-cell self-join;
    the per-vector top-``KNN_K`` by exact cosine becomes the edge list;
    a self-join on the reversed (src, dst) flags mutual-kNN edges."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    # both sides of the within-cell self-join scan the assignment — persist
    # the one corpus × centroid argmin pass instead of running it twice
    assign = _ivf_assign(spark, sf_dir)
    a, b = assign.alias("a"), assign.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        (F.col("a.label") == F.col("b.label")).alias("same_label"),
        (T.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))).alias(
            "cosine"
        ),
    )
    w = W.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    # the reciprocal check reads the edge list twice (forward + reversed) —
    # persist the top-K result (corpus × KNN_K rows, tiny) so the |cell|²
    # pair scoring runs once
    edges = shared_df(
        spark,
        ("knn_edges", sf_dir),
        lambda: (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= KNN_K)
            .select(
                "src", "dst", F.col("rank").cast("int").alias("rank"),
                "same_label", "cosine",
            )
        ),
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(True).alias("_r"))
    return (
        edges.join(rev, ["src", "dst"], "left")
        .select(
            "src",
            "rank",
            "dst",
            "same_label",
            "cosine",
            F.coalesce(F.col("_r"), F.lit(False)).alias("reciprocal"),
        )
        .orderBy("src", "rank")
    )


_NRM_SQL = (
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(v, x -> x*x)), (a, x) -> a + x))"
)

# Shared CTE prefix for the kNN-graph oracle family (module-level constant
# both consumers compose from — never post-hoc string surgery on one).
_KNN_CTES = f"""n AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         {_NRM_SQL} AS nrm
  FROM embeddings
),
c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < {K_IVF}),
assign AS (
  SELECT vec_id, label, v, nrm, cent_id AS cell FROM (
    SELECT n.vec_id, n.label, n.v, n.nrm, c.cent_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {_DOT_SQL.format(a="n.v", b="c.cv")} / (n.nrm * c.cn) DESC,
                      c.cent_id) AS crn
    FROM n CROSS JOIN c
  ) WHERE crn = 1
),
edges AS (
  SELECT src, dst, rank, same_label, cosine FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           a.label = b.label AS same_label,
           {_DOT_SQL.format(a="a.v", b="b.v")} / (a.nrm * b.nrm) AS cosine,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_DOT_SQL.format(a="a.v", b="b.v")} / (a.nrm * b.nrm) DESC,
                      b.vec_id) AS rank
    FROM assign a JOIN assign b
      ON a.cell = b.cell AND a.vec_id <> b.vec_id
  ) WHERE rank <= {KNN_K}
)"""

_KNN_SQL = f"""
WITH {_KNN_CTES}
SELECT e.src, CAST(e.rank AS INT) AS rank, e.dst, e.same_label, e.cosine,
       r.src IS NOT NULL AS reciprocal
FROM edges e
LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src
ORDER BY e.src, e.rank
"""


def emb_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting + local clustering coefficient over the
    undirected kNN graph — the embedding-manifold density audit next to
    ``nations_trade_pagerank`` and the dedup connected components.

    Degree-ordered edge orientation (the classic MapReduce triangle trick):
    every undirected edge points from its lower (degree, id) endpoint to the
    higher, so each triangle is counted exactly ONCE at its lowest-degree
    apex and the wedge fan-out is Σ out-degree² with out-degree capped at
    O(√|E|) on ANY graph — no hub ever enumerates |hub-degree|² pairs.
    Wedges close via one equi-join back onto the oriented edge list.
    Clustering = 2T / (d·(d−1)) from exact integers, one rounded division."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    e = emb_knn_graph(spark, sf_dir)
    und = (
        e.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    # degrees feed the orientation twice plus the output grain; the oriented
    # edge list feeds both wedge sides plus the closing join — persist both
    # (both are |E|-sized, tiny next to the corpus)
    deg = shared_df(
        spark,
        ("knn_tri_deg", sf_dir),
        lambda: (
            und.select(F.col("u").alias("x"))
            .unionByName(und.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        ),
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    lo_first = F.struct("du", "u") < F.struct("dv", "v")
    # the (degree, id) orientation key packs into ONE long — d ≤ |E| and
    # vec_id both fit 31 bits, and (d << 32) + id preserves the (d, id)
    # lexicographic order exactly — so the wedge fan-out (the |E|·outdeg
    # hot path) shuffles and compares a single long instead of a 2-field
    # struct (guide §2.3 narrower types), and the closing join probes one
    # packed (a << 32) + b long instead of a composite 2-long key
    oriented = shared_df(
        spark,
        ("knn_tri_oriented", sf_dir),
        lambda: und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(
                lo_first,
                F.shiftleft(F.col("dv"), 32) + F.col("v"),
            )
            .otherwise(F.shiftleft(F.col("du"), 32) + F.col("u"))
            .alias("tk"),
        ),
    )
    o1 = oriented.select("s", F.col("t").alias("a"), F.col("tk").alias("ka"))
    o2 = oriented.select("s", F.col("t").alias("b"), F.col("tk").alias("kb"))
    wedges = (
        o1.join(o2, "s")
        .filter(F.col("ka") < F.col("kb"))
        .select("s", "a", "b", (F.shiftleft(F.col("a"), 32) + F.col("b")).alias("ab"))
    )
    tris = wedges.join(
        oriented.select(
            (F.shiftleft(F.col("s"), 32) + F.col("t")).alias("ab")
        ),
        "ab",
    )
    # one scan of the (unpersisted) triangle frame: a 3-way union would
    # recompute the wedge + closing joins once per branch — explode the
    # corners instead
    per_node = (
        tris.select(F.explode(F.array("s", "a", "b")).alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "x", "left")
        .select(
            F.col("x").alias("vec_id"),
            F.col("d").alias("degree"),
            F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    (2 * F.coalesce("n_triangles", F.lit(0))).cast("double")
                    / (F.col("d") * (F.col("d") - 1)).cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
        .orderBy("vec_id")
    )


_TRI_SQL = f"""
WITH {_KNN_CTES},
und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM edges),
deg AS (
  SELECT x, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
  GROUP BY x
),
o AS (
  SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.u ELSE und.v END AS s,
         CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.v ELSE und.u END AS t,
         CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN dv.d ELSE du.d END AS td
  FROM und
  JOIN deg du ON du.x = und.u
  JOIN deg dv ON dv.x = und.v
),
tris AS (
  SELECT o1.s, o1.t AS a, o2.t AS b
  FROM o o1 JOIN o o2 ON o1.s = o2.s AND (o1.td, o1.t) < (o2.td, o2.t)
  JOIN o oc ON oc.s = o1.t AND oc.t = o2.t
),
per_node AS (
  SELECT x, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT s AS x FROM tris UNION ALL SELECT a FROM tris UNION ALL SELECT b FROM tris)
  GROUP BY x
)
SELECT deg.x AS vec_id, deg.d AS degree,
       COALESCE(p.n_triangles, 0) AS n_triangles,
       CASE WHEN deg.d >= 2
            THEN round(CAST(2 * COALESCE(p.n_triangles, 0) AS DOUBLE)
                       / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN per_node p ON p.x = deg.x
ORDER BY vec_id
"""

QUERIES = {
    "docs_bm25_topk": docs_bm25_topk,
    "emb_knn_graph": emb_knn_graph,
    "emb_knn_triangles": emb_knn_triangles,
}

ORACLE = {
    "docs_bm25_topk": _BM25_SQL,
    "emb_knn_graph": _KNN_SQL,
    "emb_knn_triangles": _TRI_SQL,
}


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD'03)
# ---------------------------------------------------------------------------

WIN_K = 4  # tokens per k-gram
WIN_W = 5  # winnowing window (grams per window)
WIN_CAP = 8  # fingerprints shared by more docs are boilerplate — dropped
WIN_MIN_SHARED = 5  # pair threshold


def _win_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowing fingerprint sets, materialized once per session.

    Each stage (token hashes → gram hashes → window minima) is persisted:
    Catalyst's CollapseProject would otherwise inline the producing array
    lambda into every downstream ``slice``/``array_min`` reference, turning
    the row-local selection into an O(positions × window × k) interpreted
    re-computation per row (measured 90 s for 500 docs).  The cache
    boundary pins each array to compute exactly once — the 100 TB analogue
    is staging the fingerprint column to a table.  The stage caches are
    registry entries too, so ``clear_shared()`` releases them."""
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import (
        memo,
        shared_df,
    )

    P = T.FINGERPRINT_PRIME

    def build() -> DataFrame:
        d = _docs_t(spark, sf_dir)
        th = d.select("doc_id", T.token_hashes(F.col("toks")).alias("th")).filter(
            F.size("th") >= WIN_K + WIN_W - 1
        )
        memo(spark, ("win_th", sf_dir), th.persist)
        grams = th.select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, size(th) - {WIN_K}),"
                f" i -> aggregate(slice(th, i + 1, {WIN_K}),"
                f" 0L, (a, x) -> (a * 31 + x) % {P}))"
            ).alias("grams"),
        )
        memo(spark, ("win_grams", sf_dir), grams.persist)
        return grams.select(
            "doc_id",
            F.expr(
                f"array_distinct(transform(sequence(0, size(grams) - {WIN_W}),"
                f" j -> array_min(slice(grams, j + 1, {WIN_W}))))"
            ).alias("fps"),
        )

    return shared_df(spark, ("win_fps", sf_dir), build)


def docs_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints + pairwise overlap detection.

    The MOSS fingerprinting scheme: hash every ``WIN_K``-token gram, slide a
    ``WIN_W``-gram window and keep each window's **minimum** gram hash; the
    distinct window-minima are the document's fingerprints (guaranteed to
    catch any shared substring of ≥ k+w-1 tokens).  The whole selection is
    row-local higher-order-function work (sequence → slice-fold → window
    array_min → distinct) — zero shuffle until fingerprints are exploded.

    Cross-doc matching groups by fingerprint; hashes shared by more than
    ``WIN_CAP`` docs are dropped as boilerplate (the standard bound that
    keeps pair generation O(cap²·fps), never doc×doc).  Pairs sharing ≥
    ``WIN_MIN_SHARED`` fingerprints are reported with an overlap score in
    basis points (exact integer arithmetic)."""
    fps = _win_fps(spark, sf_dir)
    per_doc = fps.select("doc_id", F.size("fps").alias("n_fps"))
    ex = fps.select("doc_id", F.explode("fps").alias("fp"))
    shared = (
        ex.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= WIN_CAP))
    )
    exs = ex.join(shared.select("fp"), "fp")
    a, b = exs.alias("a"), exs.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_MIN_SHARED)
    )
    na = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("n_fps").alias("fps_a"))
    nb = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("n_fps").alias("fps_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.col("fps_a").cast("long").alias("fps_a"),
            F.col("fps_b").cast("long").alias("fps_b"),
            F.expr("10000 * 2 * n_shared div (fps_a + fps_b)").alias("overlap_bp"),
        )
        .orderBy("doc_a", "doc_b")
    )


_WINNOW_SQL = f"""
WITH {DOCS_T_SQL.strip()},
th AS (
  SELECT doc_id, {TOKEN_HASHES_SQL} AS th
  FROM docs_t WHERE len(string_split(norm, ' ')) >= {WIN_K + WIN_W - 1}
),
fps AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(0, len(th) - {WIN_K} - {WIN_W} + 1),
           j -> list_min(list_transform(
                  generate_series(j, j + {WIN_W} - 1),
                  i -> list_reduce(
                         list_prepend(CAST(0 AS BIGINT), th[i + 1 : i + {WIN_K}]),
                         (a, x) -> (a * 31 + x) % {T.FINGERPRINT_PRIME})))
         )) AS fps
  FROM th
),
per_doc AS (SELECT doc_id, len(fps) AS n_fps FROM fps),
ex AS (SELECT doc_id, t.fp FROM fps, UNNEST(fps) AS t(fp)),
shared AS (
  SELECT fp FROM ex GROUP BY fp
  HAVING count(*) >= 2 AND count(*) <= {WIN_CAP}
),
exs AS (SELECT e.doc_id, e.fp FROM ex e JOIN shared s ON e.fp = s.fp),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM exs a JOIN exs b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {WIN_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       CAST(na.n_fps AS BIGINT) AS fps_a,
       CAST(nb.n_fps AS BIGINT) AS fps_b,
       (10000 * 2 * p.n_shared) // (na.n_fps + nb.n_fps) AS overlap_bp
FROM pairs p
JOIN per_doc na ON p.doc_a = na.doc_id
JOIN per_doc nb ON p.doc_b = nb.doc_id
ORDER BY doc_a, doc_b
"""

QUERIES["docs_winnowing_overlap"] = docs_winnowing_overlap
ORACLE["docs_winnowing_overlap"] = _WINNOW_SQL


# ---------------------------------------------------------------------------
# Inverted-index shard build + IVF cell balance audit
# ---------------------------------------------------------------------------

IDX_SHARDS = 8  # term-hash index shards


def docs_index_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index shard layout: postings partitioned by term hash.

    The build side of ``docs_bm25_topk``'s read path: (term, doc) postings
    with term frequencies are routed to ``IDX_SHARDS`` shards by the
    deterministic term hash — one shuffle keyed exactly how the index will
    be queried.  Per shard: distinct terms, postings count, total term
    frequency, the heaviest term (most postings; ties to the smaller term)
    and its postings count — the skew signal that decides when a hot term
    needs its postings list split at scale."""
    d = _docs_t(spark, sf_dir)
    tok = d.select("doc_id", F.explode("toks").alias("term")).filter(
        (F.length("term") >= 3) & ~F.col("term").isin(*T.STOPWORDS)
    )
    tf = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    terms = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("postings"), F.sum("tf").alias("total_tf")
    ).withColumn(
        "shard", hash31(F.col("term"), mod=T.FINGERPRINT_PRIME) % IDX_SHARDS
    )
    per_shard = terms.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("postings").cast("long").alias("n_postings"),
        F.sum("total_tf").cast("long").alias("total_tf"),
        F.max("postings").cast("long").alias("max_postings"),
    )
    top = (
        terms.join(per_shard.select("shard", "max_postings"), "shard")
        .filter(F.col("postings") == F.col("max_postings"))
        .groupBy("shard")
        .agg(F.min("term").alias("top_term"))
    )
    return (
        per_shard.join(top, "shard")
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_terms", "n_postings", "total_tf", "max_postings", "top_term",
        )
        .orderBy("shard")
    )


_INDEX_SHARDS_SQL = f"""
WITH {DOCS_T_SQL.strip()},
tok AS (
  SELECT doc_id, t.term FROM docs_t, UNNEST(toks) AS t(term)
  WHERE length(t.term) >= 3 AND t.term NOT IN ({_STOP_SQL})
),
tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
terms AS (
  SELECT term, count(*) AS postings, sum(tf) AS total_tf,
         (list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(term, '')]),
            (a, c) -> (a*31 + c) % {T.FINGERPRINT_PRIME})) % {IDX_SHARDS} AS shard
  FROM tf GROUP BY term
),
per_shard AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(postings) AS BIGINT) AS n_postings,
         CAST(sum(total_tf) AS BIGINT) AS total_tf,
         CAST(max(postings) AS BIGINT) AS max_postings
  FROM terms GROUP BY shard
),
top AS (
  SELECT t.shard, min(t.term) AS top_term
  FROM terms t JOIN per_shard p ON t.shard = p.shard AND t.postings = p.max_postings
  GROUP BY t.shard
)
SELECT CAST(p.shard AS BIGINT) AS shard, p.n_terms, p.n_postings, p.total_tf,
       p.max_postings, top.top_term
FROM per_shard p JOIN top ON p.shard = top.shard
ORDER BY shard
"""

QUERIES["docs_index_shards"] = docs_index_shards
ORACLE["docs_index_shards"] = _INDEX_SHARDS_SQL


def emb_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quantizer balance audit + split plan.

    Cell-size skew is what actually limits IVF tail latency at scale: a
    query probing an oversized cell scans many times the average.  The
    audit reports each cell's population, its load in basis points of a
    balanced share, and the rebalancing plan — cells above 2× the average
    are flagged for split with the split fan-out ``ceil(n / avg)`` (in
    exact integers).  Same deterministic seed quantizer as the judged IVF
    search queries, so this reads the exact index they probe."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = e.withColumn("nrm", T.l2_norm(F.col("v")))
    cents = n.filter(F.col("vec_id") < K_IVF).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    scored = n.crossJoin(F.broadcast(cents)).withColumn(
        "ccos", T.dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    )
    wv = W.partitionBy("vec_id").orderBy(F.desc("ccos"), "cent_id")
    assign = (
        scored.withColumn("crn", F.row_number().over(wv))
        .filter(F.col("crn") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"))
    )
    cells = assign.groupBy("cell").agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    tot = cells.agg(F.sum("n_vectors").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_vectors",
            F.expr(f"10000 * n_vectors * {K_IVF} div n_total").alias("load_bp"),
            F.expr(f"n_vectors * {K_IVF} > 2 * n_total").alias("needs_split"),
            F.expr(
                f"CASE WHEN n_vectors * {K_IVF} > 2 * n_total"
                f" THEN (n_vectors * {K_IVF} + n_total - 1) div n_total"
                " ELSE 1 END"
            ).alias("split_into"),
        )
        .orderBy("cell")
    )


_IVF_BALANCE_SQL = f"""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_NRM_SQL} AS nrm
  FROM embeddings
),
c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < {K_IVF}),
assign AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT n.vec_id, c.cent_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {_DOT_SQL.format(a="n.v", b="c.cv")} / (n.nrm * c.cn) DESC,
                      c.cent_id) AS crn
    FROM n CROSS JOIN c
  ) WHERE crn = 1
),
cells AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors FROM assign GROUP BY cell),
tot AS (SELECT sum(n_vectors) AS n_total FROM cells)
SELECT CAST(cell AS BIGINT) AS cell, n_vectors,
       CAST((10000 * n_vectors * {K_IVF}) // n_total AS BIGINT) AS load_bp,
       n_vectors * {K_IVF} > 2 * n_total AS needs_split,
       CAST(CASE WHEN n_vectors * {K_IVF} > 2 * n_total
                 THEN (n_vectors * {K_IVF} + n_total - 1) // n_total
                 ELSE 1 END AS BIGINT) AS split_into
FROM cells, tot
ORDER BY cell
"""

QUERIES["emb_ivf_balance"] = emb_ivf_balance
ORACLE["emb_ivf_balance"] = _IVF_BALANCE_SQL


NPROBE_LEVELS = (1, 2, 4, 8)


def emb_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@k and candidate cost as a function of
    ``nprobe`` — the measurement that picks an ANN deployment's operating
    point.  One pass computes every level: query-to-cell ranks up to
    max(nprobe) join the cell-assigned corpus once; each sweep level
    filters that pair set (probe rank ≤ nprobe), takes its per-query
    top-k by exact cosine, and scores hits against the brute-force truth.
    Exact integer recall in basis points; candidates counted per level.

    Scale: the swept levels share one cell-keyed join — cost is the
    max-nprobe candidate set, not levels × join.  The three expensive
    subtrees are session-staged frames other emb queries already pay for:
    the corpus cell assignment (``_ivf_assign``, shared with
    ``emb_knn_graph``), the probed-pair scoring (staged here), and the
    brute-force truth (``_brute_pairs``, shared with
    ``emb_topk_similarity`` / ``emb_ann_recall``) — the r08 form re-planned
    the corpus × centroid ranking under BOTH the assign and probe sides and
    re-scored the exact pairs per call (guide §2.4)."""
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        _brute_pairs,
    )
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import shared_df

    def build_pairs() -> DataFrame:
        # query-to-cell probe ranks: only the TOPK_QUERIES query vectors
        # rank the K_IVF centroids — a queries × K crossJoin, NOT the full
        # corpus ranking the r08 form filtered down from
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        n = e.withColumn("nrm", T.l2_norm(F.col("v")))
        cents = n.filter(F.col("vec_id") < K_IVF).select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        q = n.filter(F.col("vec_id") < TOPK_QUERIES)
        wq = W.partitionBy("vec_id").orderBy(F.desc("ccos"), "cent_id")
        probe = (
            q.crossJoin(F.broadcast(cents))
            .withColumn(
                "ccos", T.dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
            )
            .withColumn("crn", F.row_number().over(wq))
            .filter(F.col("crn") <= max(NPROBE_LEVELS))
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qn"),
                F.col("cent_id").alias("cell"),
                F.col("crn").alias("probe_rank"),
            )
        )
        assign = _ivf_assign(spark, sf_dir)
        return assign.alias("a").join(
            F.broadcast(probe.alias("p")),
            (F.col("a.cell") == F.col("p.cell"))
            & (F.col("a.vec_id") != F.col("p.query_id")),
        ).select(
            "p.query_id",
            F.col("a.vec_id").alias("neighbor_id"),
            "p.probe_rank",
            (
                T.dot(F.col("p.qv"), F.col("a.v")) / (F.col("p.qn") * F.col("a.nrm"))
            ).alias("cosine"),
        )

    pairs = shared_df(spark, ("nprobe_pairs", sf_dir), build_pairs)
    levels = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in NPROBE_LEVELS])).alias("nprobe")
    )
    swept = pairs.join(F.broadcast(levels), F.col("probe_rank") <= F.col("nprobe"))
    w = W.partitionBy("nprobe", "query_id").orderBy(F.desc("cosine"), "neighbor_id")
    approx = swept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOPK)
    # brute-force truth: top-k of the session-staged exact pair frame
    we = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    exact = (
        _brute_pairs(spark, sf_dir)
        .withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= TOPK)
        .select("query_id", "neighbor_id")
    )
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    cand = swept.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    denom = TOPK_QUERIES * TOPK
    return (
        cand.join(hits, "nprobe", "left")
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_candidates",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.expr(f"10000 * coalesce(hits, 0) div {denom}").alias("recall_bp"),
        )
        .orderBy("nprobe")
    )


_NPROBE_LIST = ", ".join(str(x) for x in NPROBE_LEVELS)

_NPROBE_SQL = f"""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_NRM_SQL} AS nrm
  FROM embeddings
),
c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < {K_IVF}),
ranked AS (
  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
         row_number() OVER (
           PARTITION BY n.vec_id
           ORDER BY {_DOT_SQL.format(a="n.v", b="c.cv")} / (n.nrm * c.cn) DESC,
                    c.cent_id) AS crn
  FROM n CROSS JOIN c
),
assign AS (SELECT vec_id, v, nrm, cent_id AS cell FROM ranked WHERE crn = 1),
probe AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cent_id AS cell, crn AS probe_rank
  FROM ranked WHERE vec_id < {TOPK_QUERIES} AND crn <= {max(NPROBE_LEVELS)}
),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, p.probe_rank,
         {_DOT_SQL.format(a="p.qv", b="a.v")} / (p.qn * a.nrm) AS cosine
  FROM assign a JOIN probe p ON a.cell = p.cell AND a.vec_id <> p.query_id
),
swept AS (
  SELECT pr.*, lv.nprobe
  FROM pairs pr JOIN (SELECT UNNEST([{_NPROBE_LIST}]) AS nprobe) lv
    ON pr.probe_rank <= lv.nprobe
),
approx AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM swept
  ) WHERE rn <= {TOPK}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_DOT_SQL.format(a="q.v", b="x.v")} / (q.nrm * x.nrm) DESC,
                      x.vec_id) AS rn
    FROM n q JOIN n x ON x.vec_id <> q.vec_id
    WHERE q.vec_id < {TOPK_QUERIES}
  ) WHERE rn <= {TOPK}
),
hits AS (
  SELECT a.nprobe, CAST(count(*) AS BIGINT) AS hits
  FROM approx a JOIN exact e USING (query_id, neighbor_id)
  GROUP BY a.nprobe
),
cand AS (
  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_candidates
  FROM swept GROUP BY nprobe
)
SELECT CAST(c.nprobe AS INT) AS nprobe, c.n_candidates,
       COALESCE(h.hits, 0) AS hits,
       CAST(10000 * COALESCE(h.hits, 0) // {TOPK_QUERIES * TOPK} AS BIGINT) AS recall_bp
FROM cand c LEFT JOIN hits h ON c.nprobe = h.nprobe
ORDER BY nprobe
"""

QUERIES["emb_nprobe_curve"] = emb_nprobe_curve
ORACLE["emb_nprobe_curve"] = _NPROBE_SQL


# ---------------------------------------------------------------------------
# MinHash-LSH threshold sweep (the dedup tuning curve)
# ---------------------------------------------------------------------------

SWEEP_BP = (5000, 7000, 8000, 9000)  # jaccard thresholds in basis points
SWEEP_DOC_MOD = 4  # deterministic 1/4 doc sample => 1/16 of pairs (tuning readout)
_SWEEP_P = 2_147_483_647
_SWEEP_MIX = 2_654_435_761


def docs_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup operating-point curve: how many near-dup pairs the
    MinHash-LSH candidate set yields at each jaccard threshold — the
    measurement that picks a production dedup cutoff (too low removes
    distinct docs, too high leaves duplicates).  Candidates come from the
    judged 4×4 band join once; exact set jaccard is computed once per
    candidate in integer basis points and each sweep level classifies the
    same pair set.  Candidate precision per level shows how much exact
    verification the band join saves.  Documents are deterministically
    1/``SWEEP_DOC_MOD`` sampled first (so pairs sample at 1/MOD²) — a
    tuning readout needs the curve's shape, not every pair, and doc-level
    sampling shrinks the band join itself, not just its output (same
    sample on both engines, so still value-exact).

    Note: the LSH operating point is ≈0.71 jaccard (4 bands × 4 rows), so
    counts below that threshold are lower bounds over the candidate set —
    exactly the caveat a tuning readout must carry (logged in-row via
    ``below_lsh_point``)."""
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        _signatures,
        _small_vocab,
    )

    sig = _signatures(spark, sf_dir).filter(F.col("doc_id") % SWEEP_DOC_MOD == 0)
    # same adaptive set representation as the judged dedup: a 64-bit mask
    # carries the token set through the band join on dictionary-encodable
    # corpora, so jaccard is two bit_counts and no join-back (the
    # near-dup-degenerate test corpus makes band buckets quadratic)
    vocab = _small_vocab(spark, sf_dir)
    band_extra = []
    if vocab is not None:
        bitval_of = F.map_from_arrays(
            F.array(*[F.lit(h) for h in vocab]),
            F.array(*[F.lit(1 << i).cast("long") for i in range(len(vocab))]),
        )
        sig = sig.withColumn(
            "mask",
            F.aggregate(
                "tok_set", F.lit(0).cast("long"), lambda acc, h: acc.bitwiseOR(bitval_of[h])
            ),
        )
        band_extra = ["mask"]
    per_band = T.N_PERM // T.N_BANDS
    # one scan of the signature frame (a 4-way union would recompute the
    # per-row mask fold once per band branch — and twice more across the
    # self-join): posexplode the four band hashes in place
    band_hashes = [
        T.band_hash([F.col(f"mh{band * per_band + j}") for j in range(per_band)])
        for band in range(T.N_BANDS)
    ]
    bands = sig.select(
        "doc_id",
        "sz",
        *band_extra,
        F.posexplode(F.array(*band_hashes)).alias("band_id", "bh"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    join_cond = (
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if vocab is not None:
        isz = F.bit_count(F.col("a.mask").bitwiseAND(F.col("b.mask")))
        scored = (
            a.join(b, join_cond)
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.expr(
                    "10000 * bit_count(a.mask & b.mask)"
                    " div (a.sz + b.sz - bit_count(a.mask & b.mask))"
                ).alias("jaccard_bp"),
            )
            .distinct()
        )
    else:
        cand = (
            a.join(b, join_cond)
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("tok_set").alias("ta"))
        sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("tok_set").alias("tb"))
        scored = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.expr(
                    "10000 * size(array_intersect(ta, tb))"
                    " div (size(ta) + size(tb) - size(array_intersect(ta, tb)))"
                ).alias("jaccard_bp"),
            )
        )
    levels = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in SWEEP_BP])).alias("thr_bp")
    )
    tot = scored.agg(F.count(F.lit(1)).alias("n_candidates"))
    swept = (
        scored.crossJoin(F.broadcast(levels))
        .groupBy("thr_bp")
        .agg(
            F.sum(F.when(F.col("jaccard_bp") >= F.col("thr_bp"), 1).otherwise(0))
            .cast("long")
            .alias("n_pairs"),
        )
    )
    return (
        swept.crossJoin(F.broadcast(tot))
        .select(
            F.col("thr_bp").cast("int").alias("thr_bp"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            "n_pairs",
            F.expr("10000 * n_pairs div n_candidates").alias("precision_bp"),
            (F.col("thr_bp") < 7100).alias("below_lsh_point"),
        )
        .orderBy("thr_bp")
    )


def _sweep_sql() -> str:
    from lets_talk_cdc_change_feed_playground_spark.functions.pipeline_queries import (
        _bands_sql,
        _minhash_sql,
    )

    lv = ", ".join(str(x) for x in SWEEP_BP)
    # doc-sampled signature frame: rename full sig, re-expose filtered as sig
    mh = _minhash_sql().strip().lstrip(",").strip().replace(
        "sig AS (", "sig_full AS (", 1
    )
    return f"""
WITH {DOCS_T_SQL},
{mh},
sig AS (SELECT * FROM sig_full WHERE doc_id % {SWEEP_DOC_MOD} = 0),
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.tok_set AS ta, b.tok_set AS tb
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         10000 * len(list_intersect(ta, tb))
           // (len(ta) + len(tb) - len(list_intersect(ta, tb))) AS jaccard_bp
  FROM cand
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM scored),
swept AS (
  SELECT lv.thr_bp,
         CAST(sum(CASE WHEN s.jaccard_bp >= lv.thr_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
  FROM scored s CROSS JOIN (SELECT UNNEST([{lv}]) AS thr_bp) lv
  GROUP BY lv.thr_bp
)
SELECT CAST(s.thr_bp AS INT) AS thr_bp, t.n_candidates, s.n_pairs,
       CAST(10000 * s.n_pairs // t.n_candidates AS BIGINT) AS precision_bp,
       s.thr_bp < 7100 AS below_lsh_point
FROM swept s CROSS JOIN tot t
ORDER BY thr_bp
"""


QUERIES["docs_dedup_threshold_sweep"] = docs_dedup_threshold_sweep
ORACLE["docs_dedup_threshold_sweep"] = _sweep_sql()


# ---------------------------------------------------------------------------
# Corpus drift detection (term-distribution shift between two snapshots)
# ---------------------------------------------------------------------------

DRIFT_TOP = 20  # most-drifted terms reported


def docs_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two corpus snapshots (docs split
    by id parity — the stand-in for yesterday's vs today's crawl): per-term
    two-sample drift scores ``1e6·(o1·n2 − o2·n1)² div (n1·n2·(o1+o2))``
    (the χ²-statistic's per-cell form cleared to exact integers), the
    ``DRIFT_TOP`` most drifted terms ranked, plus each term's per-mille
    rate in both snapshots — what a data-quality monitor pages on when an
    ingest source changes underneath the pipeline.

    Scale: one tokenize+count pass per snapshot (map-side combinable),
    a term-keyed full-outer join of two term-histograms, top-k by window.
    Corpus scalars broadcast."""
    d = _docs_t(spark, sf_dir)
    tok = d.select(
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.explode("toks").alias("term"),
    ).filter((F.length("term") >= 3) & ~F.col("term").isin(*T.STOPWORDS))
    hist = tok.groupBy("term").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("o1"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("o2"),
    )
    tot = hist.agg(F.sum("o1").alias("n1"), F.sum("o2").alias("n2"))
    scored = hist.crossJoin(F.broadcast(tot)).select(
        "term",
        "o1",
        "o2",
        F.expr("1000 * o1 div n1").alias("rate_a_pm"),
        F.expr("1000 * o2 div n2").alias("rate_b_pm"),
        # decimal(38) arithmetic: the squared cross term overflows BIGINT at
        # corpus scale (DuckDB auto-promotes to HUGEINT; Spark must be told)
        F.expr(
            "cast(cast(1000000 as decimal(38,0))"
            " * cast(o1 * n2 - o2 * n1 as decimal(38,0))"
            " * cast(o1 * n2 - o2 * n1 as decimal(38,0))"
            " div (cast(n1 as decimal(38,0)) * n2 * (o1 + o2)) as bigint)"
        ).alias("drift_micro"),
    )
    w = W.orderBy(F.desc("drift_micro"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= DRIFT_TOP)
        .select(
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("o1").cast("long").alias("o1"),
            F.col("o2").cast("long").alias("o2"),
            "rate_a_pm",
            "rate_b_pm",
            "drift_micro",
        )
        .orderBy("rank")
    )


_DRIFT_SQL = f"""
WITH {DOCS_T_SQL},
tok AS (
  SELECT (doc_id % 2 = 0) AS is_a, t.term
  FROM docs_t, UNNEST(toks) AS t(term)
  WHERE length(t.term) >= 3 AND t.term NOT IN ({_STOP_SQL})
),
hist AS (
  SELECT term,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS o1,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS o2
  FROM tok GROUP BY term
),
tot AS (SELECT sum(o1) AS n1, sum(o2) AS n2 FROM hist),
scored AS (
  SELECT term, o1, o2,
         CAST(1000 * o1 // n1 AS BIGINT) AS rate_a_pm,
         CAST(1000 * o2 // n2 AS BIGINT) AS rate_b_pm,
         CAST(CAST(1000000 AS HUGEINT)
              * CAST(o1 * n2 - o2 * n1 AS HUGEINT)
              * CAST(o1 * n2 - o2 * n1 AS HUGEINT)
              // (CAST(n1 AS HUGEINT) * n2 * (o1 + o2)) AS BIGINT) AS drift_micro
  FROM hist CROSS JOIN tot
)
SELECT CAST(rank AS INT) AS rank, term,
       CAST(o1 AS BIGINT) AS o1, CAST(o2 AS BIGINT) AS o2,
       rate_a_pm, rate_b_pm, drift_micro
FROM (
  SELECT *, row_number() OVER (ORDER BY drift_micro DESC, term) AS rank
  FROM scored
)
WHERE rank <= {DRIFT_TOP}
ORDER BY rank
"""

QUERIES["docs_corpus_drift"] = docs_corpus_drift
ORACLE["docs_corpus_drift"] = _DRIFT_SQL
