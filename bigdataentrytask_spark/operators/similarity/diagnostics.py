from __future__ import annotations

import random  # noqa: F401

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql.functions import pandas_udf  # noqa: F401
from pyspark.sql.types import ArrayType, LongType  # noqa: F401

from bigdataentrytask_spark.catalog import load_table  # noqa: F401
from bigdataentrytask_spark.functions.vector import (  # noqa: F401
    cosine,
    cosine_seq,
    norm,
    seq_dot,
    stack_f64,
)
from bigdataentrytask_spark.operators import (  # noqa: F401
    materialize,
    operator,
    with_persisted,
)
from bigdataentrytask_spark.session import ensure_session_confs  # noqa: F401

from bigdataentrytask_spark.operators.similarity.core import (  # noqa: F401,E501
    N_QUERIES,
    TOP_K,
    EMB_DIM,
    LSH_TABLES,
    LSH_BITS,
    _rng,
    HYPERPLANES,
    _emb,
    _SQL_NORMS,
    embedding_norms,
    knn_bruteforce,
    knn_ivf_label,
    _sql_planes,
    _SQL_CODES,
    _bucket_keys,
    _lsh_codes,
    _bucketed,
    knn_lsh,
    embedding_quantize,
    NEARDUP_COS,
    NEARDUP_TILE_GROUPS,
    _NEARDUP_ORACLE,
    embedding_neardup_pairs,
    _neardup_tile,
    _neardup_bucket_kernel,
    embedding_neardup_lsh,
    _HOF_BIG,
    embedding_hof_stats,
    embedding_label_centroids,
    _semdedup_oracle,
    semdedup_resolve,
    knn_lsh_multiprobe,
    KMEANS_K,
    kmeans_step,
    _IVF_CTES,
    knn_ivf_kmeans,
    _RERANK_POOL,
    _QUANT_AMAX_SQL,
    knn_quantized_rerank,
    pca_power_iteration,
    _MAHA_TOP,
    embedding_outlier_mahalanobis,
    _PQ_SUB,
    _PQ_K,
    _PQ_DIM,
    embedding_pq_assign,
)


# --------------------------------------------------------------------------
# Round-5 compositions over the exact near-dup layer: a similarity
# histogram and a threshold-sweep calibration curve. Both reuse the
# verified pair machinery (`embedding_neardup_pairs` — tiled Arrow
# kernels above NEARDUP_COS) and its oracle as a CTE, so the
# candidate set itself stays differentially checked.
# --------------------------------------------------------------------------
def _register_pair_compositions() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    hist_oracle = f"""
    WITH pairs AS ({ORACLES["embedding_neardup_pairs"]})
    SELECT CAST(FLOOR(cosine * 20) AS BIGINT) AS sim_bin,
           CAST(COUNT(*) AS BIGINT)           AS n_pairs,
           ROUND(MIN(cosine), 6)              AS bin_min,
           ROUND(MAX(cosine), 6)              AS bin_max
    FROM pairs GROUP BY 1 ORDER BY sim_bin
    """

    @operator("pairwise_sim_histogram", oracle=hist_oracle)
    def pairwise_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Cosine-similarity histogram (0.05-wide bins) of the
        above-threshold pair population — the corpus-duplication
        profile a dedup-threshold decision is read from. Bins are cut
        on the 6-decimal ROUNDED cosine (both engines bin the
        identical value)."""
        pairs = REGISTRY["embedding_neardup_pairs"](spark, sf_dir)
        return (
            pairs.groupBy(
                F.floor(F.col("cosine") * 20).cast("bigint").alias("sim_bin")
            )
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(F.min("cosine"), 6).alias("bin_min"),
                F.round(F.max("cosine"), 6).alias("bin_max"),
            )
            .orderBy("sim_bin")
        )

    sweep_oracle = f"""
    WITH pairs AS ({ORACLES["embedding_neardup_pairs"]}),
    taus AS (SELECT UNNEST(CAST([0.40, 0.50, 0.60, 0.70, 0.80, 0.90]
                           AS DOUBLE[])) AS tau)
    SELECT tau,
           CAST(COUNT(p.cosine) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT p.vec_a) + COUNT(DISTINCT p.vec_b)
                AS BIGINT)                 AS n_touched_sides
    FROM taus LEFT JOIN pairs p ON p.cosine >= taus.tau
    GROUP BY 1 ORDER BY tau
    """

    @operator("neardup_threshold_sweep", oracle=sweep_oracle)
    def neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Dedup-threshold calibration: how many pairs (and distinct
        endpoint docs) survive each candidate cosine cutoff — computed
        in ONE pass over the verified pair table (the pair build is
        not repeated per threshold)."""
        pairs = REGISTRY["embedding_neardup_pairs"](spark, sf_dir)
        # NO tau join at all: an outer theta-join against the pair
        # table cannot broadcast the 6-row side (BNLJ may only build
        # the non-preserved side, whichever way the outer points), so
        # the thresholds become conditional aggregates in ONE pass
        # over the pair table, unpivoted to rows afterwards
        taus = (0.40, 0.50, 0.60, 0.70, 0.80, 0.90)
        aggs = []
        for i, t in enumerate(taus):
            hit = F.col("cosine") >= t
            aggs.append(
                F.coalesce(F.sum(hit.cast("bigint")), F.lit(0))
                .cast("bigint")
                .alias(f"np_{i}")
            )
            aggs.append(
                (
                    F.count_distinct(F.when(hit, F.col("vec_a")))
                    + F.count_distinct(F.when(hit, F.col("vec_b")))
                ).cast("bigint").alias(f"nt_{i}")
            )
        wide = pairs.agg(*aggs)
        stacked = wide.select(
            F.expr(
                "stack({n}, {args}) AS (tau, n_pairs, n_touched_sides)".format(
                    n=len(taus),
                    args=", ".join(
                        f"double({t}), np_{i}, nt_{i}"
                        for i, t in enumerate(taus)
                    ),
                )
            )
        )
        return stacked.orderBy("tau")


_register_pair_compositions()


def _register_knn_recall_eval() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    oracle = f"""
    WITH bf AS ({ORACLES["knn_bruteforce"]}),
    approx AS ({ORACLES["knn_lsh"]}),
    hits AS (
      SELECT bf.query_id,
             CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
             CAST(COUNT(*) AS BIGINT)             AS n_truth
      FROM bf LEFT JOIN approx a
        ON a.query_id = bf.query_id AND a.neighbor_id = bf.neighbor_id
      GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT)        AS n_queries,
           CAST(SUM(n_hits) AS BIGINT)     AS n_hits,
           CAST(SUM(n_truth) AS BIGINT)    AS n_truth,
           ROUND(SUM(n_hits) / CAST(SUM(n_truth) AS DOUBLE), 6)
                                           AS recall_at_k
    FROM hits
    """

    @operator("knn_recall_eval", oracle=oracle)
    def knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Recall@k of single-probe LSH ANN against the brute-force
        truth — the eval every ANN deployment publishes next to its
        speedup (the multiprobe variant's measured lift, 0.44→0.90,
        lives in the knn_lsh_multiprobe notes). Composes the two
        verified plans; micro join on (query, neighbor)."""
        bf = REGISTRY["knn_bruteforce"](spark, sf_dir).select(
            "query_id", "neighbor_id"
        )
        ap = (
            REGISTRY["knn_lsh"](spark, sf_dir)
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        hits = (
            bf.join(ap, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.sum(F.coalesce("hit", F.lit(0)))
                .cast("bigint")
                .alias("n_hits"),
                F.count(F.lit(1)).alias("n_truth"),
            )
        )
        return hits.agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("n_hits").cast("bigint").alias("n_hits"),
            F.sum("n_truth").cast("bigint").alias("n_truth"),
            F.round(
                F.sum("n_hits") / F.sum("n_truth").cast("double"), 6
            ).alias("recall_at_k"),
        )


_register_knn_recall_eval()


@operator(
    "lsh_bucket_balance",
    oracle=f"""
    WITH {_sql_planes()},
    {_SQL_CODES},
    occ AS (
      SELECT t, code, CAST(COUNT(*) AS BIGINT) AS sz
      FROM codes GROUP BY 1, 2
    )
    SELECT t AS table_id,
           CAST(COUNT(*) AS BIGINT)  AS n_buckets,
           CAST(MAX(sz) AS BIGINT)   AS max_bucket,
           CAST(MIN(sz) AS BIGINT)   AS min_bucket,
           ROUND(MAX(sz) / (SUM(sz) / CAST(COUNT(*) AS DOUBLE)), 6)
                                     AS skew_ratio,
           CAST(SUM(sz * sz) AS BIGINT) AS sum_sq_sizes
    FROM occ GROUP BY 1 ORDER BY table_id
    """,
)
def lsh_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy balance per hash table — THE capacity
    diagnostic for every bucket-kernel operator here (`knn_lsh`,
    `embedding_neardup_lsh`): sum of squared bucket sizes IS the
    candidate-pair volume, and max/mean skew predicts the straggler
    kernel. Reuses the shared hyperplane codes; one count per
    (table, code)."""
    e = _emb(spark, sf_dir)
    keyed = e.select(
        "vec_id", F.explode(_bucket_keys("embedding")).alias("k")
    ).select("k.t", "k.code")
    occ = keyed.groupBy("t", "code").agg(F.count(F.lit(1)).alias("sz"))
    return (
        occ.groupBy(F.col("t").alias("table_id"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("sz").cast("bigint").alias("max_bucket"),
            F.min("sz").cast("bigint").alias("min_bucket"),
            F.round(
                F.max("sz") / (F.sum("sz") / F.count(F.lit(1)).cast("double")),
                6,
            ).alias("skew_ratio"),
            F.sum(F.col("sz") * F.col("sz"))
            .cast("bigint")
            .alias("sum_sq_sizes"),
        )
        .orderBy("table_id")
    )


_MRL_DIM = 16  # matryoshka prefix length


@operator(
    "matryoshka_prefix_recall",
    oracle=f"""
    WITH bf AS (
      WITH norms AS (
        SELECT vec_id,
               sqrt((SELECT SUM(u.e * u.e) FROM
                     (SELECT UNNEST(embedding::DOUBLE[]) AS e) u)) AS nrm
        FROM embeddings
      ),
      dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               (SELECT SUM(z.qe * z.ce) FROM
                (SELECT UNNEST(q.embedding::DOUBLE[]) AS qe,
                        UNNEST(c.embedding::DOUBLE[]) AS ce) z) AS d
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
      )
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY d / (nq.nrm * nc.nrm) DESC, neighbor_id) AS rnk
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id
      QUALIFY rnk <= {TOP_K}
    ),
    pre AS (
      WITH pnorms AS (
        SELECT vec_id,
               sqrt((SELECT SUM(u.e * u.e) FROM
                     (SELECT UNNEST((embedding::DOUBLE[])[1:{_MRL_DIM}])
                        AS e) u)) AS nrm
        FROM embeddings
      ),
      pdots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               (SELECT SUM(z.qe * z.ce) FROM
                (SELECT UNNEST((q.embedding::DOUBLE[])[1:{_MRL_DIM}]) AS qe,
                        UNNEST((c.embedding::DOUBLE[])[1:{_MRL_DIM}]) AS ce)
                  z) AS d
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
      )
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY d / (nq.nrm * nc.nrm) DESC, neighbor_id) AS rnk
      FROM pdots
      JOIN pnorms nq ON nq.vec_id = query_id
      JOIN pnorms nc ON nc.vec_id = neighbor_id
      QUALIFY rnk <= {TOP_K}
    )
    SELECT CAST(COUNT(DISTINCT bf.query_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT)                    AS n_truth,
           CAST(COUNT(p.neighbor_id) AS BIGINT)        AS n_hits,
           ROUND(COUNT(p.neighbor_id) / CAST(COUNT(*) AS DOUBLE), 6)
                                                       AS prefix_recall
    FROM bf LEFT JOIN pre p
      ON p.query_id = bf.query_id AND p.neighbor_id = bf.neighbor_id
    """,
)
def matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation eval: top-k retrieval on
    the first _MRL_DIM dimensions vs the full-vector truth (Kusupati et
    al., 2022 — MRL prefixes as cheap first-stage retrievers). The
    production shape is prefix-ANN then full-dim re-rank
    (`knn_quantized_rerank` is the int8 sibling); this operator
    measures what the prefix alone retains. Both sides are bounded by
    N_QUERIES, so the scan stays linear in the corpus."""
    e = _emb(spark, sf_dir)
    full_q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )

    def topk(pref):
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), "neighbor_id"
        )
        base = (
            F.broadcast(
                full_q.select(
                    "query_id",
                    (
                        F.slice(F.col("q_emb"), 1, _MRL_DIM)
                        if pref
                        else F.col("q_emb")
                    ).alias("qv"),
                )
            )
            .crossJoin(
                corpus.select(
                    "neighbor_id",
                    (
                        F.slice(F.col("c_emb"), 1, _MRL_DIM)
                        if pref
                        else F.col("c_emb")
                    ).alias("cv"),
                )
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("sim", cosine("qv", "cv"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
        )
        return base.select("query_id", "neighbor_id")

    bf = topk(pref=False)
    pre = topk(pref=True).withColumn("hit", F.lit(1))
    j = bf.join(pre, ["query_id", "neighbor_id"], "left")
    return j.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("prefix_recall"),
    )


_DRIFT_CUT = 250  # vec_id split between "old" and "new" halves


@operator(
    "embedding_centroid_drift",
    oracle=f"""
    WITH dims AS (
      SELECT label,
             CASE WHEN vec_id < {_DRIFT_CUT} THEN 0 ELSE 1 END AS half,
             i, CAST(ROUND(x * 1000000) AS BIGINT) AS xi
      FROM (SELECT label, vec_id,
                   UNNEST(embedding::DOUBLE[]) AS x,
                   UNNEST(range(len(embedding))) AS i
            FROM embeddings)
    ),
    cent AS (
      SELECT label, half, i, CAST(SUM(xi) AS BIGINT) AS s
      FROM dims GROUP BY 1, 2, 3
    ),
    paired AS (
      SELECT a.label, a.i, a.s AS s0, b.s AS s1
      FROM cent a JOIN cent b
        ON b.label = a.label AND b.i = a.i AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           ROUND(CAST(SUM(s0::HUGEINT * s1) AS DOUBLE)
                 / (sqrt(CAST(SUM(s0::HUGEINT * s0) AS DOUBLE))
                    * sqrt(CAST(SUM(s1::HUGEINT * s1) AS DOUBLE))), 6)
             AS centroid_cosine
    FROM paired GROUP BY 1 ORDER BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-label centroid of the 'old' half
    of the corpus vs the 'new' half, compared by cosine — the check
    that catches a silently swapped/retrained embedding model before
    it poisons the ANN index. Dimension-level rows throughout (the
    kmeans_step posture): centroids are (label, half, dim) grouped
    means; no whole-vector shuffles, no driver collect.

    Engine parity by construction (round-8 hardening): the per-half
    scale 1/(n_half * g) cancels out of the cosine, so it reduces to
    the snapped per-dimension centroid SUMS — exact integers in any
    summation order — with one pinned double expression at the end
    (the centroid_affinity_matrix argument)."""
    e = _emb(spark, sf_dir)
    dims = e.select(
        "label",
        (F.col("vec_id") >= _DRIFT_CUT).cast("int").alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i", "x"
        ),
    ).select(
        "label", "half", "i",
        F.round(F.col("x") * 1000000).cast("bigint").alias("xi"),
    )
    cent = dims.groupBy("label", "half", "i").agg(F.sum("xi").alias("s"))
    d19 = "decimal(19,0)"
    a = cent.filter(F.col("half") == 0).select(
        "label", "i", F.col("s").cast(d19).alias("s0")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "i", F.col("s").cast(d19).alias("s1")
    )
    paired = a.join(b, ["label", "i"])
    return (
        paired.groupBy("label")
        .agg(
            F.round(
                F.sum(F.col("s0") * F.col("s1")).cast("double")
                / (
                    F.sqrt(F.sum(F.col("s0") * F.col("s0")).cast("double"))
                    * F.sqrt(F.sum(F.col("s1") * F.col("s1")).cast("double"))
                ),
                6,
            ).alias("centroid_cosine")
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Per-dimension moment profile of the embedding table (round 7): the
# PCA-readiness / dead-dimension diagnostic. A healthy embedding
# space has roughly isotropic per-dimension variance; collapsed or
# dominant dimensions distort every cosine downstream, and this is
# the one-pass check that catches them (the per-dim twin of
# embedding_norms' per-vector view). Dimension-level rows only — the
# whole-vector payload is never shuffled, and the 64-key aggregation
# is map-side combinable.
# --------------------------------------------------------------------------
@operator(
    "embedding_dim_variance",
    oracle="""
    WITH dims AS (
      SELECT generate_subscripts(e, 1) - 1 AS pos, UNNEST(e) AS x,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings)
    )
    SELECT pos,
           CAST(COUNT(*) AS BIGINT)                          AS n,
           ROUND(CAST(SUM(xi) AS DOUBLE)
                 / (COUNT(*) * 1000000.0), 6)                AS mean,
           ROUND((CAST(SUM(xi::HUGEINT * xi) AS DOUBLE) / COUNT(*)
                  - (CAST(SUM(xi) AS DOUBLE) / COUNT(*))
                    * (CAST(SUM(xi) AS DOUBLE) / COUNT(*)))
                 / 1e12, 6)                                  AS variance,
           ROUND(MIN(x), 6)                                  AS min_x,
           ROUND(MAX(x), 6)                                  AS max_x
    FROM dims GROUP BY pos ORDER BY pos
    """,
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 hardening: mean/variance come from snapped-coordinate
    integer power sums (exact in any summation order; min/max need no
    treatment — extrema of identical doubles are order-free), with one
    pinned double expression per output. Moments are of the grid-
    snapped values; at g = 1e6 the snap perturbs the variance by
    O(1e-13), far below the 6-dp readout."""
    dims = _emb(spark, sf_dir).select(
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "x")
    ).select(
        "pos", "x", F.round(F.col("x") * 1000000).cast("bigint").alias("xi")
    )
    d19 = "decimal(19,0)"
    s1 = F.sum("xi").cast("double")
    s2 = F.sum(F.col("xi").cast(d19) * F.col("xi").cast(d19)).cast("double")
    cnt = F.count(F.lit(1))
    return (
        dims.groupBy("pos")
        .agg(
            cnt.alias("n"),
            F.round(s1 / (cnt * 1000000.0), 6).alias("mean"),
            F.round(
                (s2 / cnt - (s1 / cnt) * (s1 / cnt)) / 1e12, 6
            ).alias("variance"),
            F.round(F.min("x"), 6).alias("min_x"),
            F.round(F.max("x"), 6).alias("max_x"),
        )
        .orderBy("pos")
    )


# --------------------------------------------------------------------------
# Label-centroid affinity matrix: pairwise cosine between the class
# centroids of embedding_label_centroids — the confusability map
# that says which labels a cluster-based router or a semantic-dedup
# pass will blur together. Centroids are |labels| x |dims| rows; the
# pairwise join is |labels|²/2 over dimension-level rows — tiny at
# any corpus scale because the fact table reduced first.
#
# Engine parity by construction (round-8 hardening of the advisor-
# flagged double-AVG centroid): cosine is invariant to the per-label
# scale 1/(n*g), so it reduces to the SNAPPED per-dimension centroid
# SUMS S_pos = sum(round(x * 1e6)) — exact integers in any summation
# order — and cosine = sum(Sa*Sb) / (sqrt(sum Sa^2) * sqrt(sum Sb^2))
# is one pinned double expression over exact 128-bit inputs.
# --------------------------------------------------------------------------
@operator(
    "centroid_affinity_matrix",
    oracle="""
    WITH dims AS (
      SELECT label, generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings)
    ),
    cent AS (
      SELECT label, pos, CAST(SUM(xi) AS BIGINT) AS s FROM dims
      GROUP BY label, pos
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(a.s::HUGEINT * b.s) AS DOUBLE) AS dot,
             CAST(SUM(a.s::HUGEINT * a.s) AS DOUBLE) AS na2,
             CAST(SUM(b.s::HUGEINT * b.s) AS DOUBLE) AS nb2
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT label_a, label_b,
           ROUND(dot / (sqrt(na2) * sqrt(nb2)), 6) AS cosine
    FROM pairs ORDER BY label_a, label_b
    """,
)
def centroid_affinity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    dims = _emb(spark, sf_dir).select(
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "x"),
    ).select(
        "label", "pos", F.round(F.col("x") * 1000000).cast("bigint").alias("xi")
    )
    cent = dims.groupBy("label", "pos").agg(F.sum("xi").alias("s"))
    d19 = "decimal(19,0)"
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("s").cast(d19).alias("sa")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("s").cast(d19).alias("sb")
    )
    pairs = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).cast("double").alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).cast("double").alias("na2"),
            F.sum(F.col("sb") * F.col("sb")).cast("double").alias("nb2"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(
            F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2")), 6
        ).alias("cosine"),
    ).orderBy("label_a", "label_b")


# --------------------------------------------------------------------------
# Reciprocal-rank fusion of the exact and LSH retrievers (round 7):
# the standard hybrid-search combiner — score(d) = Σ_lists
# 1/(K + rank_list(d)) with K = 60, over the two top-k lists the
# registry already verifies independently (knn_bruteforce truth,
# knn_lsh production path). RRF needs no score calibration between
# retrievers, which is exactly why fusion layers use it. Ranks are
# INTEGERS, so the fused score is the same IEEE double on both
# engines and the (rrf DESC, neighbor_id) cutoff is deterministic.
# Scale: operates on the top-k lists (|queries| x k rows), never the
# corpus — the fusion cost is independent of collection size.
# --------------------------------------------------------------------------
def _register_rrf_fusion() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    k_rrf = 60
    oracle = f"""
    WITH bf AS ({ORACLES["knn_bruteforce"]}),
    approx AS ({ORACLES["knn_lsh"]}),
    pooled AS (
      SELECT query_id, neighbor_id, rnk, 'exact' AS src FROM bf
      UNION ALL
      SELECT query_id, neighbor_id, rnk, 'lsh' FROM approx
    ),
    fused AS (
      SELECT query_id, neighbor_id,
             SUM(1.0 / ({k_rrf} + rnk))       AS rrf,
             CAST(COUNT(*) AS BIGINT)         AS n_lists
      FROM pooled GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, neighbor_id, rrf, n_lists,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rrf DESC, neighbor_id) AS fused_rank
      FROM fused
    )
    SELECT query_id, fused_rank, neighbor_id, n_lists,
           ROUND(rrf, 6) AS rrf_score
    FROM ranked WHERE fused_rank <= {TOP_K}
    ORDER BY query_id, fused_rank
    """

    @operator("knn_rrf_fusion", oracle=oracle)
    def knn_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the one-shot cost here is intrinsic (the fusion AUDITS the
        # exact and LSH rankings, so both verified paths must run);
        # with_persisted pins the pooled rankings for the fuse+rank
        # stage and materialize releases everything before returning
        # the bounded top-k table (queries x TOP_K rows)
        bf = REGISTRY["knn_bruteforce"](spark, sf_dir).select(
            "query_id", "neighbor_id", "rnk"
        )
        ap = REGISTRY["knn_lsh"](spark, sf_dir).select(
            "query_id", "neighbor_id", "rnk"
        )
        pooled = bf.unionByName(ap)
        with with_persisted(pooled):
            fused = pooled.groupBy("query_id", "neighbor_id").agg(
                F.sum(1.0 / (F.lit(k_rrf) + F.col("rnk"))).alias("rrf"),
                F.count(F.lit(1)).alias("n_lists"),
            )
            w = Window.partitionBy("query_id").orderBy(
                F.col("rrf").desc(), "neighbor_id"
            )
            return materialize(
                fused.withColumn("fused_rank", F.row_number().over(w))
                .filter(F.col("fused_rank") <= TOP_K)
                .select(
                    "query_id",
                    "fused_rank",
                    "neighbor_id",
                    "n_lists",
                    F.round("rrf", 6).alias("rrf_score"),
                )
                .orderBy("query_id", "fused_rank")
            )


_register_rrf_fusion()


# --------------------------------------------------------------------------
# Transitivity audit of the near-duplicate graph (round-8 slate):
# near-duplication is "approximately transitive" — if a~b and b~c,
# usually a~c. The fraction of open wedges (3*triangles / wedges)
# quantifies how aggressive the downstream connected-component
# resolution (dedup_resolve / semdedup_resolve) will be: LOW
# transitivity means CC chains together documents that are NOT
# pairwise similar (the classic over-merging failure). Runs on the
# audit-scale exact pair set; wedge counts come from the degree
# histogram (sum d*(d-1)/2 — never a wedge enumeration), triangles
# from one ordered edge-edge-edge join over the bounded pair list.
# --------------------------------------------------------------------------
@operator(
    "neardup_transitivity_audit",
    oracle=f"""
    WITH pairs AS ({{NEARDUP}}),
    edges AS (SELECT vec_a AS a, vec_b AS b FROM pairs),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
      ) GROUP BY 1
    ),
    wed AS (
      SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           wed.n_wedges, tri.n_triangles,
           CAST(wed.n_wedges - 3 * tri.n_triangles AS BIGINT) AS n_open_wedges,
           CASE WHEN wed.n_wedges > 0
                THEN ROUND(3.0 * tri.n_triangles / wed.n_wedges, 6)
           END AS transitivity
    FROM wed CROSS JOIN tri
    """.replace("{NEARDUP}", _NEARDUP_ORACLE),
)
def neardup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the exact tile-kernel pair set feeds FIVE consumers (degree
    # union x2, three triangle-join sides, edge count) — persist it so
    # the kernel runs once, not per consumer, and release the blocks
    # on exit (with_persisted + materialize; the audit is ONE row)
    edges = embedding_neardup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b")
    )
    with with_persisted(edges):
        deg = (
            edges.select(F.col("a").alias("v"))
            .unionByName(edges.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )
        wed = deg.agg(
            F.expr("CAST(sum(d * (d - 1)) div 2 AS BIGINT)").alias("n_wedges")
        )
        e1 = edges.select(F.col("a").alias("a1"), F.col("b").alias("b1"))
        e2 = edges.select(F.col("a").alias("a2"), F.col("b").alias("b2"))
        e3 = edges.select(F.col("a").alias("a3"), F.col("b").alias("b3"))
        tri = (
            e1.join(e2, (F.col("a2") == F.col("a1")) & (F.col("b2") > F.col("b1")))
            .join(e3, (F.col("a3") == F.col("b1")) & (F.col("b3") == F.col("b2")))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        )
        ne = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        j = ne.crossJoin(F.broadcast(wed)).crossJoin(F.broadcast(tri))
        return materialize(
            j.select(
                "n_edges",
                "n_wedges",
                "n_triangles",
                (F.col("n_wedges") - 3 * F.col("n_triangles")).cast("bigint").alias(
                    "n_open_wedges"
                ),
                F.when(
                    F.col("n_wedges") > 0,
                    F.round(
                        F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
                    ),
                ).alias("transitivity"),
            )
        )


# --------------------------------------------------------------------------
# Mutual-kNN symmetry diagnostic (round-8 slate): the fraction of
# directed kNN edges whose reverse edge also exists, at k=1 and k=5.
# Low symmetry flags hubness (a few vectors appear in everyone's
# top-k — the curse-of-dimensionality failure mode that degrades both
# ANN recall and kNN-graph clustering). Exact all-pairs scoring, so
# audit-scale by contract (run on a corpus sample; the production ANN
# paths are knn_lsh / knn_ivf_kmeans); ranking reuses the
# knn_bruteforce ordering (raw sim desc, id asc) so the directed graph
# is deterministic in both engines.
# --------------------------------------------------------------------------
@operator(
    "mutual_knn_symmetry",
    oracle=f"""
    WITH {_SQL_NORMS},
    dots AS (
      SELECT q.vec_id AS src, c.vec_id AS dst,
             (SELECT SUM(z.qe * z.ce) FROM
              (SELECT UNNEST(q.embedding::DOUBLE[]) AS qe,
                      UNNEST(c.embedding::DOUBLE[]) AS ce) z) AS d
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY d / (ns.nrm * nd.nrm) DESC, dst) AS rnk
      FROM dots
      JOIN norms ns ON ns.vec_id = src
      JOIN norms nd ON nd.vec_id = dst
    ),
    knn AS (SELECT src, dst, rnk FROM ranked WHERE rnk <= 5),
    j AS (
      SELECT ks.k, a.src, a.dst,
             CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END AS mut
      FROM knn a
      CROSS JOIN (SELECT UNNEST([1, 5]) AS k) ks
      LEFT JOIN knn b ON b.src = a.dst AND b.dst = a.src AND b.rnk <= ks.k
      WHERE a.rnk <= ks.k
    )
    SELECT CAST(k AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
           CAST(SUM(mut) AS BIGINT) AS n_mutual_edges,
           ROUND(CAST(SUM(mut) AS DOUBLE) / COUNT(*), 6) AS mutual_fraction
    FROM j GROUP BY 1 ORDER BY k
    """,
)
def mutual_knn_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("src"), F.col("embedding").alias("s_emb"))
    c = e.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("c_emb"))
    sim = cosine("s_emb", "c_emb")
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), "dst")
    knn = (
        a.crossJoin(c)
        .filter(F.col("dst") != F.col("src"))
        .withColumn("sim", sim)
        .select("src", "dst", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 5)
    )
    ks = spark.range(2).select(
        F.when(F.col("id") == 0, 1).otherwise(5).alias("k")
    )
    rev = knn.select(
        F.col("src").alias("bsrc"), F.col("dst").alias("bdst"),
        F.col("rnk").alias("brnk"),
    )
    j = (
        knn.crossJoin(F.broadcast(ks))
        .filter(F.col("rnk") <= F.col("k"))
        .join(
            rev,
            (F.col("bsrc") == F.col("dst"))
            & (F.col("bdst") == F.col("src"))
            & (F.col("brnk") <= F.col("k")),
            "left",
        )
        .select(
            "k",
            F.when(F.col("bsrc").isNotNull(), 1).otherwise(0).alias("mut"),
        )
    )
    nn = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return (
        j.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_directed_edges"),
            F.sum("mut").cast("bigint").alias("n_mutual_edges"),
            F.round(F.sum("mut").cast("double") / F.count(F.lit(1)), 6).alias(
                "mutual_fraction"
            ),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("k").cast("bigint").alias("k"),
            "n_nodes",
            "n_directed_edges",
            "n_mutual_edges",
            "mutual_fraction",
        )
        .orderBy("k")
    )


from bigdataentrytask_spark.operators import ORACLES as _ORACLES


# --------------------------------------------------------------------------
# IVF nprobe recall sweep (round-8 slate): recall@5 and candidate
# volume for nprobe in {1, 2, 4, 8} against the brute-force truth —
# the tuning table behind knn_ivf_kmeans' fixed nprobe=1 (the knob a
# platform turns BEFORE paying for an index build at 100 TB; nprobe=8
# probes every cell, so its recall must be exactly 1.0 — a built-in
# sanity row). Dots are computed ONCE for the query x corpus slab and
# reused across probe levels; candidate membership is a join against
# the centroid-distance ranking (grid-integer distances, the
# kmeans_step hardening), and recall is a ratio of exact hit counts.
# Query side bounded by N_QUERIES — audit-scale by the same contract
# as knn_recall_eval.
# --------------------------------------------------------------------------
@operator(
    "ivf_nprobe_recall_sweep",
    oracle=f"""
    WITH {_IVF_CTES},
    {_SQL_NORMS},
    probes AS (SELECT UNNEST([1, 2, 4, 8]) AS nprobe),
    qcells AS (
      SELECT vec_id AS query_id, k,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dd, k) AS cell_rnk
      FROM dist WHERE vec_id < {N_QUERIES}
    ),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             (SELECT SUM(z.qe * z.ce) FROM
              (SELECT UNNEST(q.embedding::DOUBLE[]) AS qe,
                      UNNEST(c.embedding::DOUBLE[]) AS ce) z)
             / (nq.nrm * nc.nrm) AS sim
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id
      JOIN norms nq ON nq.vec_id = q.vec_id
      JOIN norms nc ON nc.vec_id = c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({_ORACLES["knn_bruteforce"]})
    ),
    cand AS (
      SELECT DISTINCT p.nprobe, qc.query_id, ac.vec_id AS neighbor_id
      FROM probes p
      JOIN qcells qc ON qc.cell_rnk <= p.nprobe
      JOIN assigned ac ON ac.k = qc.k
      WHERE ac.vec_id <> qc.query_id
    ),
    scored AS (
      SELECT c.nprobe, c.query_id, c.neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY c.nprobe, c.query_id
                                ORDER BY d.sim DESC, c.neighbor_id) AS rnk
      FROM cand c
      JOIN dots d ON d.query_id = c.query_id
                 AND d.neighbor_id = c.neighbor_id
    ),
    hits AS (
      SELECT s.nprobe,
             CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT) AS n_hits
      FROM scored s
      LEFT JOIN truth t ON t.query_id = s.query_id
                       AND t.neighbor_id = s.neighbor_id
      WHERE s.rnk <= {TOP_K}
      GROUP BY 1
    ),
    vol AS (
      SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM cand GROUP BY 1
    )
    SELECT CAST(h.nprobe AS BIGINT) AS nprobe,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           ROUND(CAST(v.n_candidates AS DOUBLE) / {N_QUERIES}, 6)
             AS mean_candidates,
           h.n_hits,
           ROUND(CAST(h.n_hits AS DOUBLE) / ({N_QUERIES} * {TOP_K}), 6)
             AS recall_at_5
    FROM hits h JOIN vol v ON v.nprobe = h.nprobe
    ORDER BY nprobe
    """,
)
def ivf_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    seeds = (
        e.filter(F.col("vec_id") < KMEANS_K)
        .select(
            F.col("vec_id").alias("k"),
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("pos0", "x"),
        )
        .select("k", (F.col("pos0") + 1).alias("pos"), grid.alias("si"))
    )
    diff = F.col("xi") - F.col("si")
    dist = (
        dims.join(F.broadcast(seeds), "pos")
        .groupBy("vec_id", "k")
        .agg(F.sum(diff * diff).cast("bigint").alias("dd"))
    )
    # grid distances are exact integers — plain (dd, k) order suffices
    wa = Window.partitionBy("vec_id").orderBy("dd", "k")
    assigned = (
        dist.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "k")
    )
    qcells = (
        dist.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            "k",
            F.row_number().over(wa).alias("cell_rnk"),
        )
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    dots = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine("q_emb", "c_emb").alias("sim"))
    )
    probes = spark.range(4).select(
        F.when(F.col("id") == 0, 1)
        .when(F.col("id") == 1, 2)
        .when(F.col("id") == 2, 4)
        .otherwise(8)
        .alias("nprobe")
    )
    ac = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("k").alias("k")
    )
    cand = (
        qcells.crossJoin(F.broadcast(probes))
        .filter(F.col("cell_rnk") <= F.col("nprobe"))
        .join(ac, "k")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("nprobe", "query_id", "neighbor_id")
        .distinct()
    )
    ws = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    scored = (
        cand.join(dots, ["query_id", "neighbor_id"])
        .withColumn("rnk", F.row_number().over(ws))
        .filter(F.col("rnk") <= TOP_K)
    )
    truth = knn_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("is_true")
    )
    hits = (
        scored.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.sum(F.when(F.col("is_true").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits")
        )
    )
    vol = cand.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    return (
        hits.join(vol, "nprobe")
        .select(
            F.col("nprobe").cast("bigint").alias("nprobe"),
            F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
            F.round(
                F.col("n_candidates").cast("double") / F.lit(N_QUERIES), 6
            ).alias("mean_candidates"),
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.lit(N_QUERIES * TOP_K), 6
            ).alias("recall_at_5"),
        )
        .orderBy("nprobe")
    )


# --------------------------------------------------------------------------
# nDCG@5 of the cosine retriever under LABEL relevance — "when I
# retrieve 5 nearest vectors, how many share the query's class, and
# how early" — the ranking-quality eval that recall@k (hit the exact
# truth id) cannot see. Composes the verified brute-force top-k plan
# with the label dimension. Engine parity: the log2 discounts are
# PRECOMPUTED 1e12-grid INTEGER literals (no libm in either engine),
# so per-query DCG/IDCG are order-free integer sums; the only double
# is the final ratio. IDCG uses min(total relevant, k) cumulative
# weights — the standard binary-relevance ideal.
# --------------------------------------------------------------------------
def _register_knn_ndcg_eval() -> None:
    from bigdataentrytask_spark.operators import ORACLES

    # round(1e12 / log2(rank + 1)) for rank 1..5, and cumulative sums
    w = [1000000000000, 630929753571, 500000000000, 430676558073,
         386852807235]
    c = [1000000000000, 1630929753571, 2130929753571, 2561606311644,
         2948459118879]
    w_case = " ".join(
        f"WHEN rnk = {i + 1} THEN {w[i]}" for i in range(5)
    )
    c_case = " ".join(
        f"WHEN r_eff = {i + 1} THEN {c[i]}" for i in range(5)
    )
    oracle = f"""
    WITH bf AS ({ORACLES["knn_bruteforce"]}),
    lab AS (SELECT vec_id, label FROM embeddings),
    lc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_lab FROM lab GROUP BY 1),
    judged AS (
      SELECT bf.query_id, bf.rnk,
             CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END AS rel
      FROM bf
      JOIN lab lq ON lq.vec_id = bf.query_id
      JOIN lab ln ON ln.vec_id = bf.neighbor_id
    ),
    per_q AS (
      SELECT query_id,
             CAST(SUM(rel) AS BIGINT) AS n_rel_at_k,
             CAST(SUM(rel * (CASE {w_case} END)) AS BIGINT) AS dcg_grid
      FROM judged GROUP BY 1
    ),
    truth AS (
      SELECT lq.vec_id AS query_id,
             CAST(lc.n_lab - 1 AS BIGINT) AS n_rel_total
      FROM lab lq JOIN lc ON lc.label = lq.label
      WHERE lq.vec_id < 10
    ),
    ideal AS (
      SELECT query_id, n_rel_total,
             CASE WHEN n_rel_total >= 5 THEN {c[4]}
                  WHEN n_rel_total <= 0 THEN 0
                  ELSE (CASE {c_case.replace('r_eff', 'n_rel_total')} END)
             END AS idcg_grid
      FROM truth
    )
    SELECT p.query_id, p.n_rel_at_k, i.n_rel_total,
           p.dcg_grid, i.idcg_grid,
           ROUND(CASE WHEN i.idcg_grid = 0 THEN 0.0
                      ELSE CAST(p.dcg_grid AS DOUBLE) / i.idcg_grid END, 6)
             AS ndcg_at_5
    FROM per_q p JOIN ideal i ON i.query_id = p.query_id
    ORDER BY p.query_id
    """

    @operator("knn_ndcg_eval", oracle=oracle)
    def knn_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """nDCG@5 of brute-force cosine retrieval under same-label
        relevance. Scale: per-query rows are N_QUERIES-bounded; the
        label-count dimension is |labels| rows, broadcast."""
        from bigdataentrytask_spark.operators import REGISTRY

        bf = REGISTRY["knn_bruteforce"](spark, sf_dir).select(
            "query_id", "rnk", "neighbor_id"
        )
        lab = _emb(spark, sf_dir).select("vec_id", "label")
        lc = lab.groupBy("label").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lab")
        )
        lq = lab.select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
        )
        ln = lab.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
        )
        rel = F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0)
        w_col = F.when(F.col("rnk") == 1, w[0])
        for i in range(1, 5):
            w_col = w_col.when(F.col("rnk") == i + 1, w[i])
        judged = (
            bf.join(F.broadcast(lq), "query_id")
            .join(F.broadcast(ln), "neighbor_id")
            .select("query_id", rel.alias("rel"), w_col.alias("w"))
        )
        per_q = judged.groupBy("query_id").agg(
            F.sum("rel").cast("bigint").alias("n_rel_at_k"),
            F.sum(F.col("rel") * F.col("w")).cast("bigint").alias("dcg_grid"),
        )
        truth = (
            lq.filter(F.col("query_id") < N_QUERIES)
            .join(F.broadcast(lc), lq.q_label == lc.label)
            .select(
                "query_id",
                (F.col("n_lab") - 1).cast("bigint").alias("n_rel_total"),
            )
        )
        r_eff = F.col("n_rel_total")
        c_col = F.when(r_eff >= 5, c[4]).when(r_eff <= 0, 0)
        for i in range(4):
            c_col = c_col.when(r_eff == i + 1, c[i])
        c_col = c_col.otherwise(c[4])
        ideal = truth.select(
            "query_id", "n_rel_total", c_col.cast("bigint").alias("idcg_grid")
        )
        out = per_q.join(ideal, "query_id")
        return out.select(
            "query_id", "n_rel_at_k", "n_rel_total", "dcg_grid", "idcg_grid",
            F.round(
                F.when(F.col("idcg_grid") == 0, F.lit(0.0)).otherwise(
                    F.col("dcg_grid").cast("double") / F.col("idcg_grid")
                ), 6
            ).alias("ndcg_at_5"),
        ).orderBy("query_id")


_register_knn_ndcg_eval()


# --------------------------------------------------------------------------
# Simplified (centroid-based) silhouette per label: a_i = distance to
# own centroid, b_i = min distance to any OTHER label's centroid,
# s_i = (b_i - a_i) / max(a_i, b_i). The O(N * L * d) assignment-join
# form of the O(N^2) exact silhouette — the variant that exists at
# corpus scale (centroids broadcast; dimension-level rows; one
# partial-agg shuffle per vec).
#
# Engine parity by construction (the snap-to-grid discipline, applied
# here after the round-7 advisor flagged the double-AVG centroid as
# order-dependent): every coordinate is snapped onto a 1e6 integer
# grid FIRST, so the three power sums per (vec, label) cell —
# A = sum xi^2, B = sum xi*S_pos, C = sum S_pos^2 with S_pos the
# per-dimension centroid SUM — are exact 128-bit integers in any
# summation order, and the distance
#   dist_L = sqrt((A - 2B/n_L + C_L/n_L^2))   [grid units]
# is ONE pinned double expression over exact inputs. s_i is scale-
# invariant so grid units cancel; the per-point score is itself
# snapped (s_grid = round(s * 1e6)) so the label mean is an exact
# BIGINT sum divided once — no float accumulation anywhere.
# --------------------------------------------------------------------------
@operator(
    "silhouette_by_label",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
    ),
    dims AS (
      SELECT vec_id, label,
             generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    nlab AS (
      SELECT label AS c_label, CAST(COUNT(*) AS BIGINT) AS n_lab
      FROM v GROUP BY 1
    ),
    cent AS (
      SELECT label AS c_label, pos, CAST(SUM(xi) AS BIGINT) AS s_pos
      FROM dims GROUP BY 1, 2
    ),
    csq AS (
      SELECT c_label,
             CAST(SUM(s_pos::HUGEINT * s_pos) AS DOUBLE) AS c2
      FROM cent GROUP BY 1
    ),
    vsq AS (
      SELECT vec_id,
             CAST(SUM(xi::HUGEINT * xi) AS DOUBLE) AS a2
      FROM dims GROUP BY 1
    ),
    dots AS (
      SELECT d.vec_id, d.label, ct.c_label,
             CAST(SUM(d.xi::HUGEINT * ct.s_pos) AS DOUBLE) AS b1
      FROM dims d JOIN cent ct ON ct.pos = d.pos
      GROUP BY 1, 2, 3
    ),
    dist AS (
      SELECT dt.vec_id, dt.label, dt.c_label,
             sqrt(GREATEST(
               vs.a2 - 2 * dt.b1 / nl.n_lab
                     + cs.c2 / (CAST(nl.n_lab AS DOUBLE) * nl.n_lab),
               0.0)) AS dst
      FROM dots dt
      JOIN vsq vs ON vs.vec_id = dt.vec_id
      JOIN csq cs ON cs.c_label = dt.c_label
      JOIN nlab nl ON nl.c_label = dt.c_label
    ),
    ab AS (
      SELECT vec_id, label,
             MIN(CASE WHEN c_label = label THEN dst END)  AS a_own,
             MIN(CASE WHEN c_label <> label THEN dst END) AS b_other
      FROM dist GROUP BY 1, 2
    ),
    sil AS (
      SELECT label,
             CAST(ROUND((b_other - a_own) / GREATEST(a_own, b_other)
                        * 1000000) AS BIGINT) AS s_grid
      FROM ab
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT)               AS n_vecs,
           ROUND(SUM(s_grid) / (COUNT(*) * 1000000.0), 6)
                                                  AS mean_silhouette,
           CAST(count_if(s_grid < 0) AS BIGINT)   AS n_negative
    FROM sil GROUP BY label ORDER BY label
    """,
)
def silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    v = e.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    dims = v.select(
        "vec_id", "label",
        F.posexplode("e").alias("pos0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("x") * 1000000).cast("bigint").alias("xi"),
    )
    nlab = v.groupBy(F.col("label").alias("c_label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lab")
    )
    cent = dims.groupBy(F.col("label").alias("c_label"), "pos").agg(
        F.sum("xi").alias("s_pos")
    )
    # products in DECIMAL(38,0) (the Spark twin of DuckDB's HUGEINT):
    # exact in any order, one deterministic narrowing to double
    d19 = "decimal(19,0)"
    csq = cent.groupBy("c_label").agg(
        F.sum(F.col("s_pos").cast(d19) * F.col("s_pos").cast(d19))
        .cast("double")
        .alias("c2")
    )
    vsq = dims.groupBy("vec_id").agg(
        F.sum(F.col("xi").cast(d19) * F.col("xi").cast(d19))
        .cast("double")
        .alias("a2")
    )
    dots = (
        dims.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.sum(F.col("xi").cast(d19) * F.col("s_pos").cast(d19))
            .cast("double")
            .alias("b1")
        )
    )
    dist = (
        dots.join(vsq, "vec_id")
        .join(F.broadcast(csq), "c_label")
        .join(F.broadcast(nlab), "c_label")
        .select(
            "vec_id", "label", "c_label",
            F.sqrt(
                F.greatest(
                    F.col("a2")
                    - 2 * F.col("b1") / F.col("n_lab")
                    + F.col("c2")
                    / (F.col("n_lab").cast("double") * F.col("n_lab")),
                    F.lit(0.0),
                )
            ).alias("dst"),
        )
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("c_label") == F.col("label"), F.col("dst")))
        .alias("a_own"),
        F.min(F.when(F.col("c_label") != F.col("label"), F.col("dst")))
        .alias("b_other"),
    )
    s = (F.col("b_other") - F.col("a_own")) / F.greatest("a_own", "b_other")
    sil = ab.select(
        "label", F.round(s * 1000000).cast("bigint").alias("s_grid")
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(
                F.sum("s_grid") / (F.count(F.lit(1)) * 1000000.0), 6
            ).alias("mean_silhouette"),
            F.count(F.when(F.col("s_grid") < 0, 1))
            .cast("bigint")
            .alias("n_negative"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# DBSCAN core/border/noise census at eps = the neardup cosine
# threshold, minPts = 3 neighbors: degree over the symmetrized
# eps-pair graph classifies every vector. Composes the VERIFIED
# embedding_neardup_pairs plan (tiled Arrow kernel / its exact
# oracle), so the census inherits the production pair path — at
# corpus scale you swap in the LSH pair list (embedding_neardup_lsh)
# and this plan is unchanged: degree agg + one semi-join against the
# core set. All counts integer-exact.
# --------------------------------------------------------------------------
def _register_dbscan_core_census() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    min_pts = 3
    oracle = f"""
    WITH pairs AS ({ORACLES["embedding_neardup_pairs"]}),
    sym AS (SELECT vec_a AS u, vec_b AS v FROM pairs
            UNION ALL SELECT vec_b, vec_a FROM pairs),
    deg AS (SELECT u AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM sym GROUP BY 1),
    uni AS (
      SELECT e.vec_id, COALESCE(d.degree, 0) AS degree
      FROM embeddings e LEFT JOIN deg d ON d.vec_id = e.vec_id
    ),
    core AS (SELECT vec_id FROM uni WHERE degree >= {min_pts}),
    cls AS (
      SELECT u.vec_id, u.degree,
             CASE WHEN u.degree >= {min_pts} THEN 'core'
                  WHEN EXISTS (SELECT 1 FROM sym s JOIN core c
                               ON c.vec_id = s.v WHERE s.u = u.vec_id)
                       THEN 'border'
                  ELSE 'noise' END AS cls
      FROM uni u
    )
    SELECT cls AS dbscan_class,
           CAST(COUNT(*) AS BIGINT)     AS n_points,
           CAST(SUM(degree) AS BIGINT)  AS sum_degree,
           ROUND(CAST(SUM(degree) AS DOUBLE) / COUNT(*), 6) AS mean_degree
    FROM cls GROUP BY 1 ORDER BY dbscan_class
    """

    @operator("dbscan_core_census", oracle=oracle)
    def dbscan_core_census(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the pair list feeds THREE consumers (degree agg, the core
        # semi-join, the class census) — persist it so the tiled Arrow
        # kernel runs once, not per consumer, and release the blocks
        # before returning (with_persisted + materialize: the census
        # is 3 rows, squarely inside the bounded-summary contract)
        pairs = REGISTRY["embedding_neardup_pairs"](spark, sf_dir).select(
            "vec_a", "vec_b"
        )
        with with_persisted(pairs):
            sym = pairs.select(
                F.col("vec_a").alias("u"), F.col("vec_b").alias("v")
            ).unionAll(
                pairs.select(F.col("vec_b").alias("u"), F.col("vec_a").alias("v"))
            )
            deg = sym.groupBy(F.col("u").alias("vec_id")).agg(
                F.count(F.lit(1)).cast("bigint").alias("degree")
            )
            uni = (
                _emb(spark, sf_dir)
                .select("vec_id")
                .join(deg, "vec_id", "left")
                .select("vec_id", F.coalesce("degree", F.lit(0)).alias("degree"))
            )
            core = uni.filter(F.col("degree") >= min_pts).select(
                F.col("vec_id").alias("core_id")
            )
            near_core = (
                sym.join(core, sym.v == F.col("core_id"))
                .select(F.col("u").alias("vec_id"))
                .distinct()
                .withColumn("near_core", F.lit(1))
            )
            cls = (
                uni.join(near_core, "vec_id", "left")
                .select(
                    "degree",
                    F.when(F.col("degree") >= min_pts, "core")
                    .when(F.col("near_core").isNotNull(), "border")
                    .otherwise("noise")
                    .alias("dbscan_class"),
                )
            )
            return materialize(
                cls.groupBy("dbscan_class")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_points"),
                    F.sum("degree").cast("bigint").alias("sum_degree"),
                    F.round(
                        F.sum("degree").cast("double") / F.count(F.lit(1)), 6
                    ).alias("mean_degree"),
                )
                .orderBy("dbscan_class")
            )


_register_dbscan_core_census()


# --------------------------------------------------------------------------
# Top-10 most-correlated embedding dimension PAIRS — the redundancy
# map that says whether the representation wastes capacity (near-
# duplicate dimensions => whitening / PCA would compress it; the
# per-dimension complement of embedding_dim_variance). Engine parity
# by construction: every coordinate is snapped onto a 1e6 integer
# grid FIRST, so all five moments per dim pair are exact BIGINT sums
# and the correlation is one pinned double expression — no float
# accumulation anywhere. Scale: the (pos_i, pos_j) self-join is over
# DIMENSION-level rows keyed by vec_id; moments reduce map-side onto
# d^2/2 cells (2016 for d=64) regardless of corpus size.
# --------------------------------------------------------------------------
@operator(
    "embedding_dim_correlation_top",
    oracle="""
    WITH dims AS (
      SELECT vec_id,
             generate_subscripts(embedding::DOUBLE[], 1) AS pos,
             CAST(ROUND(UNNEST(embedding::DOUBLE[]) * 1000000.0) AS BIGINT)
               AS xi
      FROM embeddings
    ),
    cells AS (
      SELECT a.pos AS dim_i, b.pos AS dim_j,
             CAST(COUNT(*) AS BIGINT)        AS n,
             CAST(SUM(a.xi) AS BIGINT)       AS sx,
             CAST(SUM(b.xi) AS BIGINT)       AS sy,
             SUM(CAST(a.xi AS HUGEINT) * a.xi) AS sxx,
             SUM(CAST(b.xi AS HUGEINT) * b.xi) AS syy,
             SUM(CAST(a.xi AS HUGEINT) * b.xi) AS sxy
      FROM dims a JOIN dims b
        ON a.vec_id = b.vec_id AND a.pos < b.pos
      GROUP BY 1, 2
    ),
    corr AS (
      SELECT dim_i, dim_j, n,
             ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS corr
      FROM cells
    )
    SELECT dim_i, dim_j, n, corr
    FROM corr
    ORDER BY ABS(corr) DESC, dim_i, dim_j
    LIMIT 10
    """,
)
def embedding_dim_correlation_top(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _emb(spark, sf_dir)
    dims = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("pos0", "x"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("x") * 1000000.0).cast("bigint").alias("xi"),
    )
    a = dims.select("vec_id", F.col("pos").alias("dim_i"), F.col("xi").alias("ai"))
    b = dims.select("vec_id", F.col("pos").alias("dim_j"), F.col("xi").alias("bi"))
    cells = (
        a.join(b, "vec_id")
        .filter(F.col("dim_i") < F.col("dim_j"))
        .groupBy("dim_i", "dim_j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("ai").cast("bigint").alias("sx"),
            F.sum("bi").cast("bigint").alias("sy"),
            F.sum(F.col("ai").cast("decimal(38,0)") * F.col("ai")).alias("sxx"),
            F.sum(F.col("bi").cast("decimal(38,0)") * F.col("bi")).alias("syy"),
            F.sum(F.col("ai").cast("decimal(38,0)") * F.col("bi")).alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = F.sqrt(
        (n * F.col("sxx").cast("double")
         - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (n * F.col("syy").cast("double")
           - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    corr = cells.select(
        "dim_i", "dim_j", "n", F.round(num / den, 6).alias("corr")
    )
    return corr.orderBy(F.abs(F.col("corr")).desc(), "dim_i", "dim_j").limit(10)


# --------------------------------------------------------------------------
# Embedding isotropy score WITHOUT a pair expansion: for unit-
# normalized vectors, mean pairwise cosine = (||sum(u)||^2 - N)
# / (N * (N - 1)) — the O(N^2) statistic collapses to one O(N*d)
# per-dimension sum pass (the algebraic identity every isotropy
# paper uses but pipelines rarely implement). High mean cosine =
# a dominant common direction = wasted embedding capacity (the
# anisotropy problem); reported with the common-direction vector's
# share of total mass. Per-dim sums snapped onto a 1e6 grid before
# squaring so the norm is an exact integer computation.
# --------------------------------------------------------------------------
@operator(
    "embedding_isotropy_score",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    nrm AS (
      SELECT vec_id,
             sqrt((SELECT SUM(x * x)
                   FROM (SELECT UNNEST(e) AS x))) AS l2
      FROM v
    ),
    dims AS (
      SELECT d.vec_id,
             generate_subscripts(d.e, 1) AS pos,
             UNNEST(d.e) / n.l2 AS u
      FROM v d JOIN nrm n ON n.vec_id = d.vec_id
    ),
    per_dim AS (
      SELECT pos,
             CAST(SUM(CAST(ROUND(u * 1000000.0) AS BIGINT)) AS BIGINT) AS su
      FROM dims GROUP BY 1
    ),
    m AS (
      SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n,
             CAST(SUM(CAST(su AS HUGEINT) * su) AS DOUBLE) AS norm2_g
      FROM per_dim
    )
    SELECT n,
           ROUND((norm2_g / 1000000.0 / 1000000.0 - n)
                 / (CAST(n AS DOUBLE) * (n - 1)), 6) AS mean_pairwise_cosine,
           ROUND(sqrt(norm2_g) / 1000000.0 / n, 6)   AS common_direction_norm
    FROM m
    """,
)
def embedding_isotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    nrm = v.select(
        "vec_id",
        F.sqrt(
            F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x)
        ).alias("l2"),
    )
    dims = (
        v.join(nrm, "vec_id")
        .select(
            "vec_id",
            F.posexplode("e").alias("pos0", "x"),
            "l2",
        )
        .select(
            (F.col("pos0") + 1).alias("pos"),
            (F.col("x") / F.col("l2")).alias("u"),
        )
    )
    per_dim = dims.groupBy("pos").agg(
        F.sum(F.round(F.col("u") * 1000000.0).cast("bigint"))
        .cast("bigint").alias("su")
    )
    n_row = v.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    m = per_dim.agg(
        F.sum(F.col("su").cast("decimal(38,0)") * F.col("su"))
        .cast("double").alias("norm2_g")
    ).crossJoin(F.broadcast(n_row))
    n = F.col("n")
    return m.select(
        "n",
        F.round(
            (F.col("norm2_g") / 1000000.0 / 1000000.0 - n)
            / (n.cast("double") * (n - 1)), 6
        ).alias("mean_pairwise_cosine"),
        F.round(F.sqrt("norm2_g") / 1000000.0 / n, 6)
        .alias("common_direction_norm"),
    )


# --------------------------------------------------------------------------
# Hubness diagnostic: run exact top-5 cosine retrieval from EVERY
# vector (the all-queries extension of knn_bruteforce — quadratic,
# audit-scale by contract like jaccard_pairs; the LSH twin swaps in
# at corpus scale with this census unchanged) and census the
# k-occurrence counts N_5(v): a heavy right tail ("hubs" that appear
# in everyone's neighbor list) plus a mass of never-retrieved
# anti-hubs is THE high-dimensional failure mode that silently skews
# kNN classification and retrieval. Skewness from exact integer
# moment sums over the N_5 table; all counts integers.
# --------------------------------------------------------------------------
@operator(
    "embedding_hubness",
    oracle=f"""
    WITH {_SQL_NORMS},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             (SELECT SUM(z.qe * z.ce) FROM
              (SELECT UNNEST(q.embedding::DOUBLE[]) AS qe,
                      UNNEST(c.embedding::DOUBLE[]) AS ce) z) AS d
      FROM embeddings q, embeddings c
      WHERE c.vec_id <> q.vec_id
    ),
    sims AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d / (nq.nrm * nc.nrm) DESC,
                                         neighbor_id) AS rnk
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id
    ),
    occ AS (
      SELECT e.vec_id,
             CAST(COALESCE(k.n_occ, 0) AS BIGINT) AS n_occ
      FROM embeddings e
      LEFT JOIN (
        SELECT neighbor_id, COUNT(*) AS n_occ
        FROM sims WHERE rnk <= 5 GROUP BY 1
      ) k ON k.neighbor_id = e.vec_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT)              AS n,
             CAST(SUM(n_occ) AS BIGINT)            AS s1,
             CAST(SUM(n_occ * n_occ) AS BIGINT)    AS s2,
             CAST(SUM(n_occ * n_occ * n_occ) AS BIGINT) AS s3,
             CAST(MAX(n_occ) AS BIGINT)            AS max_occ,
             CAST(count_if(n_occ = 0) AS BIGINT)   AS n_antihubs
      FROM occ
    )
    SELECT n, max_occ, n_antihubs,
           ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean_occ,
           ROUND((CAST(s3 AS DOUBLE) / n
                  - 3.0 * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s2 AS DOUBLE) / n)
                  + 2.0 * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                 / sqrt((CAST(s2 AS DOUBLE) / n
                         - (CAST(s1 AS DOUBLE) / n)
                           * (CAST(s1 AS DOUBLE) / n))
                        * (CAST(s2 AS DOUBLE) / n
                           - (CAST(s1 AS DOUBLE) / n)
                             * (CAST(s1 AS DOUBLE) / n))
                        * (CAST(s2 AS DOUBLE) / n
                           - (CAST(s1 AS DOUBLE) / n)
                             * (CAST(s1 AS DOUBLE) / n))), 6)
             AS occ_skewness
    FROM m
    """,
)
def embedding_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("ev"))
    nrm = v.select(
        "vec_id",
        F.sqrt(F.aggregate("ev", F.lit(0.0), lambda a, x: a + x * x))
        .alias("nrm"),
    )
    q = v.join(nrm, "vec_id").select(
        F.col("vec_id").alias("query_id"),
        F.col("ev").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = v.join(nrm, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("ev").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    dots = (
        q.crossJoin(c)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            (
                F.zip_with("qe", "ce", lambda a, b: a * b)
                .alias("prods")
            ),
            "qn", "cn",
        )
        .select(
            "query_id", "neighbor_id",
            (
                F.aggregate("prods", F.lit(0.0), lambda a, x: a + x)
                / (F.col("qn") * F.col("cn"))
            ).alias("sim"),
        )
    )
    from pyspark.sql import Window
    rnk = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    )
    top = dots.select("query_id", "neighbor_id", rnk.alias("rnk")).filter(
        F.col("rnk") <= 5
    )
    k = top.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ_raw")
    )
    occ = (
        e.select("vec_id")
        .join(k, e.vec_id == k.neighbor_id, "left")
        .select(F.coalesce("n_occ_raw", F.lit(0)).cast("bigint").alias("n_occ"))
    )
    m = occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_occ").cast("bigint").alias("s1"),
        F.sum(F.col("n_occ") * F.col("n_occ")).cast("bigint").alias("s2"),
        F.sum(F.col("n_occ") * F.col("n_occ") * F.col("n_occ"))
        .cast("bigint").alias("s3"),
        F.max("n_occ").cast("bigint").alias("max_occ"),
        F.count(F.when(F.col("n_occ") == 0, 1)).cast("bigint")
        .alias("n_antihubs"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    var = m2 - m1 * m1
    return m.select(
        "n", "max_occ", "n_antihubs",
        F.round(m1, 6).alias("mean_occ"),
        F.round(
            (m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1)
            / F.sqrt(var * var * var), 6
        ).alias("occ_skewness"),
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss distortion audit: project 64-d embeddings to
# 16-d with a DETERMINISTIC Rademacher matrix (sign = md5 parity of
# "proj:dim" — engine-portable, no RNG) and measure how pairwise
# DISTANCES survive on the exact top-5 truth pairs (the bounded pair
# set knn_bruteforce already verifies). Reports mean/max of the
# per-pair distortion |proj/orig - 1| — the number that says whether
# a 4x cheaper index preserves neighborhoods. Projection is one
# dimension-level join against the broadcast 64x16 sign table;
# per-pair math is exact sums of products of snapped coordinates.
# --------------------------------------------------------------------------
_JL_K = 16


def _jl_oracle() -> str:
    from bigdataentrytask_spark.operators import ORACLES

    return f"""
    WITH bf AS ({ORACLES["knn_bruteforce"]}),
    pairs AS (SELECT query_id AS a, neighbor_id AS b FROM bf),
    dims AS (
      SELECT vec_id,
             generate_subscripts(embedding::DOUBLE[], 1) AS pos,
             CAST(ROUND(UNNEST(embedding::DOUBLE[]) * 1000000.0) AS BIGINT)
               AS xi
      FROM embeddings
    ),
    signs AS (
      SELECT p.p AS proj, d.d AS pos,
             CASE WHEN ('0x' || substr(md5(CAST(p.p AS VARCHAR) || ':'
                        || CAST(d.d AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT UNNEST(range(1, {_JL_K} + 1)) AS p) p
      CROSS JOIN (SELECT UNNEST(range(1, 65)) AS d) d
    ),
    proj AS (
      SELECT dm.vec_id, s.proj,
             CAST(SUM(s.sgn * dm.xi) AS BIGINT) AS y
      FROM dims dm JOIN signs s ON s.pos = dm.pos
      GROUP BY 1, 2
    ),
    orig_d AS (
      SELECT pr.a, pr.b,
             SUM(CAST(da.xi - db.xi AS HUGEINT) * (da.xi - db.xi)) AS d2
      FROM pairs pr
      JOIN dims da ON da.vec_id = pr.a
      JOIN dims db ON db.vec_id = pr.b AND db.pos = da.pos
      GROUP BY 1, 2
    ),
    proj_d AS (
      SELECT pr.a, pr.b,
             SUM(CAST(pa.y - pb.y AS HUGEINT) * (pa.y - pb.y)) AS d2
      FROM pairs pr
      JOIN proj pa ON pa.vec_id = pr.a
      JOIN proj pb ON pb.vec_id = pr.b AND pb.proj = pa.proj
      GROUP BY 1, 2
    ),
    ratio AS (
      SELECT o.a, o.b,
             sqrt(CAST(p.d2 AS DOUBLE) / {_JL_K})
             / sqrt(CAST(o.d2 AS DOUBLE)) AS r
      FROM orig_d o JOIN proj_d p ON p.a = o.a AND p.b = o.b
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(ROUND(ABS(r - 1.0) * 1000000.0) AS BIGINT))
                  AS BIGINT) AS sum_dist_g,
             ROUND(MAX(ABS(r - 1.0)), 6) AS max_distortion
      FROM ratio
    )
    SELECT n_pairs,
           ROUND(CAST(sum_dist_g AS DOUBLE) / n_pairs / 1000000.0, 6)
             AS mean_distortion,
           max_distortion
    FROM g
    """


@operator("jl_projection_distortion", oracle=_jl_oracle())
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataentrytask_spark.operators import REGISTRY

    bf = REGISTRY["knn_bruteforce"](spark, sf_dir).select(
        F.col("query_id").alias("a"), F.col("neighbor_id").alias("b")
    )
    e = _emb(spark, sf_dir)
    dims = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("pos0", "x"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("x") * 1000000.0).cast("bigint").alias("xi"),
    )
    spark_ = e.sparkSession
    signs = (
        spark_.range(1, _JL_K + 1).select(F.col("id").alias("proj"))
        .crossJoin(spark_.range(1, 65).select(F.col("id").alias("pos")))
        .select(
            "proj", "pos",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("proj").cast("string"),
                                F.lit(":"),
                                F.col("pos").cast("string"),
                            )
                        ), 1, 15,
                    ), 16, 10,
                ).cast("bigint") % 2 == 0, 1
            ).otherwise(-1).alias("sgn"),
        )
    )
    proj = (
        dims.join(F.broadcast(signs), "pos")
        .groupBy("vec_id", "proj")
        .agg(F.sum(F.col("sgn") * F.col("xi")).cast("bigint").alias("y"))
    )
    da = dims.select(F.col("vec_id").alias("a"), "pos", F.col("xi").alias("xa"))
    db = dims.select(F.col("vec_id").alias("b"), "pos", F.col("xi").alias("xb"))
    orig_d = (
        bf.join(da, "a").join(db, ["b", "pos"])
        .groupBy("a", "b")
        .agg(
            F.sum(
                (F.col("xa") - F.col("xb")).cast("decimal(38,0)")
                * (F.col("xa") - F.col("xb"))
            ).alias("d2o")
        )
    )
    pa = proj.select(F.col("vec_id").alias("a"), "proj", F.col("y").alias("ya"))
    pb = proj.select(F.col("vec_id").alias("b"), "proj", F.col("y").alias("yb"))
    proj_d = (
        bf.join(pa, "a").join(pb, ["b", "proj"])
        .groupBy("a", "b")
        .agg(
            F.sum(
                (F.col("ya") - F.col("yb")).cast("decimal(38,0)")
                * (F.col("ya") - F.col("yb"))
            ).alias("d2p")
        )
    )
    ratio = orig_d.join(proj_d, ["a", "b"]).select(
        (
            F.sqrt(F.col("d2p").cast("double") / _JL_K)
            / F.sqrt(F.col("d2o").cast("double"))
        ).alias("r")
    )
    g = ratio.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.round(F.abs(F.col("r") - 1.0) * 1000000.0).cast("bigint")
        ).cast("bigint").alias("sum_dist_g"),
        F.round(F.max(F.abs(F.col("r") - 1.0)), 6).alias("max_distortion"),
    )
    return g.select(
        "n_pairs",
        F.round(
            F.col("sum_dist_g").cast("double") / F.col("n_pairs") / 1000000.0,
            6,
        ).alias("mean_distortion"),
        "max_distortion",
    )


# --------------------------------------------------------------------------
# Round-10 addition (registry FROZEN in round 9 — VERDICT r8 item 2;
# ROADMAP "Retrieval / embeddings"). Matryoshka truncation sweep:
# recall@5 of prefix-dimension retrieval (d = 8/16/32) against the
# full-64d brute-force truth (knn_bruteforce) — the tuning table for
# Matryoshka-representation serving (Kusupati et al. 2022,
# arXiv:2205.13147): how much recall a platform keeps when it ranks
# on a truncated prefix to cut index bytes / dot-product FLOPs.
#
# Determinism: prefix dot products and prefix norms reduce to EXACT
# grid-integer sums (|x| < 0.6 -> grid ints < 6e5, products < 3.6e11,
# <= 32-term sums < 1.2e13 — inside both BIGINT and the 2^53 exact-
# double range), summed exactly then cast to double ONCE; ranking ties
# break on neighbor_id. Same audit-scale contract as
# ivf_nprobe_recall_sweep (quadratic truth side, bounded by N_QUERIES).
# --------------------------------------------------------------------------
_MATRYOSHKA_DIMS = [8, 16, 32]

_MATRYOSHKA_ORACLE = f"""
    WITH dims AS (SELECT UNNEST([8, 16, 32]) AS d),
    pn AS (
      SELECT dm.d, e.vec_id,
             (SELECT CAST(SUM(CAST(ROUND(z.x * 1000000) AS BIGINT)
                              * CAST(ROUND(z.x * 1000000) AS BIGINT))
                     AS DOUBLE)
              FROM (SELECT UNNEST((e.embedding[1:dm.d])::DOUBLE[]) AS x) z
             ) AS cc
      FROM embeddings e, dims dm
    ),
    dotg AS (
      SELECT dm.d, q.vec_id AS query_id, c.vec_id AS neighbor_id,
             (SELECT CAST(SUM(CAST(ROUND(z.qe * 1000000) AS BIGINT)
                              * CAST(ROUND(z.ce * 1000000) AS BIGINT))
                     AS DOUBLE)
              FROM (SELECT UNNEST((q.embedding[1:dm.d])::DOUBLE[]) AS qe,
                           UNNEST((c.embedding[1:dm.d])::DOUBLE[]) AS ce) z
             ) AS dot
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id
      CROSS JOIN dims dm
      WHERE q.vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT g.d, g.query_id, g.neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY g.d, g.query_id
               ORDER BY CASE WHEN p.cc = 0 THEN CAST(-2.0 AS DOUBLE)
                        ELSE g.dot / sqrt(p.cc) END DESC,
                        g.neighbor_id) AS rnk
      FROM dotg g JOIN pn p ON p.d = g.d AND p.vec_id = g.neighbor_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    )
    SELECT CAST(s.d AS BIGINT) AS d_prefix,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT) AS n_hits,
           ROUND(CAST(count_if(t.neighbor_id IS NOT NULL) AS DOUBLE)
                 / ({N_QUERIES} * {TOP_K}), 6) AS recall_at_5
    FROM scored s
    LEFT JOIN truth t ON t.query_id = s.query_id
                     AND t.neighbor_id = s.neighbor_id
    WHERE s.rnk <= {TOP_K}
    GROUP BY s.d
    ORDER BY d_prefix
    """


@operator(
    "matryoshka_recall_sweep",
    oracle=(
        _MATRYOSHKA_ORACLE.replace("{KNN_TRUTH}", _ORACLES["knn_bruteforce"])
    ),
)
def matryoshka_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dimension recall sweep (see block comment). One
    shuffle computes all three prefix dots via conditional sums over
    the pos <= 32 product rows — the per-d work shares a single
    (query, neighbor) aggregation instead of re-scanning per prefix."""
    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    max_d = max(_MATRYOSHKA_DIMS)
    dims = (
        e.select(
            "vec_id",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("pos0", "x"),
        )
        .filter(F.col("pos0") < max_d)
        .select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    )
    # prefix norms per (vec_id, d): conditional exact-integer sums
    pn = dims.groupBy("vec_id").agg(
        *[
            F.sum(
                F.when(F.col("pos") <= d, F.col("xi") * F.col("xi")).otherwise(
                    F.lit(0)
                )
            )
            .cast("double")
            .alias(f"cc_{d}")
            for d in _MATRYOSHKA_DIMS
        ]
    )
    q = dims.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("xi").alias("qi")
    )
    c = dims.select(
        F.col("vec_id").alias("neighbor_id"), "pos", F.col("xi").alias("ci")
    )
    prods = (
        F.broadcast(q)
        .join(c, "pos")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    dots = prods.groupBy("query_id", "neighbor_id").agg(
        *[
            F.sum(
                F.when(F.col("pos") <= d, F.col("qi") * F.col("ci")).otherwise(
                    F.lit(0)
                )
            )
            .cast("double")
            .alias(f"dot_{d}")
            for d in _MATRYOSHKA_DIMS
        ]
    )
    # ONE join + a stack generator scores every prefix in a single
    # pass over the dots frame — a per-d join+union would recompute
    # the (query, neighbor) aggregation once per prefix
    # cc = 0 guard (ADVICE r9): a prefix whose grid-rounded components
    # are all zero has no direction — Spark's non-ANSI x/0 yields NULL
    # while DuckDB's IEEE float division yields inf/nan, so the two
    # engines would rank such a neighbor differently. Pin the sim to a
    # -2.0 sentinel (below any real cosine) on BOTH engines so
    # zero-norm prefixes deterministically rank last.
    stack_expr = ", ".join(
        f"CAST({d} AS BIGINT), "
        f"CASE WHEN cc_{d} = 0 THEN CAST(-2.0 AS DOUBLE) "
        f"ELSE dot_{d} / sqrt(cc_{d}) END"
        for d in _MATRYOSHKA_DIMS
    )
    scored = dots.join(
        pn.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(
            f"stack({len(_MATRYOSHKA_DIMS)}, {stack_expr})"
            " AS (d_prefix, sim)"
        ),
    )
    ws = Window.partitionBy("d_prefix", "query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    top = scored.withColumn("rnk", F.row_number().over(ws)).filter(
        F.col("rnk") <= TOP_K
    )
    truth = knn_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("is_true")
    )
    return (
        top.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("d_prefix")
        .agg(F.sum(F.coalesce("is_true", F.lit(0))).cast("bigint").alias("n_hits"))
        .select(
            "d_prefix",
            F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / (N_QUERIES * TOP_K), 6
            ).alias("recall_at_5"),
        )
        .orderBy("d_prefix")
    )
