"""Similarity package: coarse-quantizer (cell-side) Lloyd
diagnostics — the round-13 chain (split from codebook.py at its
round-section boundary; zero behavior change): ivf_cell_lloyd_probe,
quantization_budget_pareto, ivf_cell_lloyd_convergence."""

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
from bigdataentrytask_spark.operators import ORACLES as _REG_ORACLES  # noqa: E402


# ==========================================================================
# Round-13 additions (VERDICT r11 item 6).
# ==========================================================================

# --------------------------------------------------------------------------
# Coarse-quantizer (cell-seed) Lloyd refinement (ROADMAP round-13
# "Retrieval", the chain's coarse side): ivf_adc_lloyd_recall refined
# the PQ CODEBOOK under the toy coarse quantizer and broke the
# falling-recall regime; this op refines the COARSE CELLS themselves
# (one Lloyd step on the KMEANS_K first-K seeds: per-cell per-dim
# integer-grid mean, reassign) and prices what the coarse side alone
# buys, per (variant, nprobe): the true-neighbor CELL COVERAGE — the
# fraction of brute-force top-5 neighbors living in the query's top-
# nprobe cells, i.e. the recall CEILING any in-cell scorer inherits —
# plus the probed-candidate volume, with the per-variant Lloyd
# yardsticks (total coarse distortion, max cell share) alongside.
# Exact math: integer-grid distances throughout; refined centroids
# are ROUND(SUM(xi)/n) on exact integer sums (both engines round the
# identical double, away-from-zero on ties); coverage and candidate
# ratios are the only two final roundings.
# Scale posture: the seed/centroid side is K x dim rows (broadcast);
# assignment is one keyed argmin window per variant over dimension
# rows; coverage is a TOP_K x N_QUERIES-domain join. One stacked
# pass computes both variants (the seed_spread_advisor pattern).
# --------------------------------------------------------------------------
_CELL_PROBES = [1, 2, 4]

_CELL_LLOYD_ORACLE = f"""
    WITH {{IVF_CTES}},
    cent AS (
      SELECT a.k, d.pos,
             CAST(ROUND(SUM(d.xi) * 1.0 / COUNT(*)) AS BIGINT) AS si
      FROM assigned a JOIN dims d ON d.vec_id = a.vec_id
      GROUP BY a.k, d.pos
    ),
    dist2 AS (
      SELECT d.vec_id, c.k,
             CAST(SUM((d.xi - c.si) * (d.xi - c.si)) AS BIGINT) AS dd
      FROM dims d JOIN cent c ON c.pos = d.pos
      GROUP BY d.vec_id, c.k
    ),
    alldist AS (
      SELECT 'a_toy' AS variant, vec_id, k, dd FROM dist
      UNION ALL
      SELECT 'b_lloyd1', vec_id, k, dd FROM dist2
    ),
    asg AS (
      SELECT variant, vec_id, k, dd FROM (
        SELECT variant, vec_id, k, dd,
               ROW_NUMBER() OVER (PARTITION BY variant, vec_id
                                  ORDER BY dd, k) AS rn
        FROM alldist
      ) WHERE rn = 1
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
           FROM dims),
    cells AS (
      SELECT variant, k, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM asg GROUP BY 1, 2
    ),
    vstats AS (
      SELECT a.variant,
             CAST(SUM(a.dd) AS BIGINT) AS total_distortion,
             (SELECT CAST(ROUND(MAX(c.n_vecs * 1000000.0 / nn.n))
                          AS BIGINT)
                FROM cells c CROSS JOIN nn
               WHERE c.variant = a.variant) AS max_cell_share_ppm
      FROM asg a GROUP BY a.variant
    ),
    qrank AS (
      SELECT variant, vec_id AS query_id, k,
             ROW_NUMBER() OVER (PARTITION BY variant, vec_id
                                ORDER BY dd, k) AS cell_rank
      FROM alldist WHERE vec_id < {N_QUERIES}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    ),
    tcell AS (
      SELECT t.query_id, t.neighbor_id, an.variant,
             qr.cell_rank
      FROM truth t
      JOIN asg an ON an.vec_id = t.neighbor_id
      JOIN qrank qr ON qr.variant = an.variant
                   AND qr.query_id = t.query_id AND qr.k = an.k
    ),
    pr(nprobe) AS (VALUES {", ".join(f"({p})" for p in _CELL_PROBES)}),
    cand AS (
      SELECT qr.variant, pr.nprobe,
             CAST(SUM(c.n_vecs) AS BIGINT) AS n_probed_vecs
      FROM qrank qr
      CROSS JOIN pr
      JOIN cells c ON c.variant = qr.variant AND c.k = qr.k
      WHERE qr.cell_rank <= pr.nprobe
      GROUP BY qr.variant, pr.nprobe
    )
    SELECT v.variant,
           CAST(pr.nprobe AS BIGINT) AS nprobe,
           CAST(ROUND((SELECT count_if(tc.cell_rank <= pr.nprobe)
                         FROM tcell tc
                        WHERE tc.variant = v.variant) * 1000000.0
                      / ({N_QUERIES} * {TOP_K})) AS BIGINT)
             AS coverage_ppm,
           (SELECT CAST(ROUND((ca.n_probed_vecs - {N_QUERIES}) * 1.0
                              / {N_QUERIES}) AS BIGINT)
              FROM cand ca
             WHERE ca.variant = v.variant AND ca.nprobe = pr.nprobe)
             AS mean_candidates,
           v.total_distortion,
           v.max_cell_share_ppm
    FROM vstats v CROSS JOIN pr
    ORDER BY v.variant, nprobe
    """


@operator(
    "ivf_cell_lloyd_probe",
    oracle=(
        _CELL_LLOYD_ORACLE.replace("{IVF_CTES}", _IVF_CTES)
        .replace("{KNN_TRUTH}", _REG_ORACLES["knn_bruteforce"])
    ),
)
def ivf_cell_lloyd_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toy vs one-Lloyd-step coarse quantizer, priced as per-nprobe
    true-neighbor cell coverage (the recall ceiling), candidate
    volume, and the Lloyd yardsticks (see block comment)."""
    from bigdataentrytask_spark.operators import REGISTRY

    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    with with_persisted(dims) as dims_p:
        seeds = dims_p.filter(F.col("vec_id") < KMEANS_K).select(
            F.col("vec_id").alias("k"), "pos", F.col("xi").alias("si")
        )
        dist = (
            dims_p.join(seeds, "pos")
            .groupBy("vec_id", "k")
            .agg(
                F.sum(
                    (F.col("xi") - F.col("si"))
                    * (F.col("xi") - F.col("si"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        wv = Window.partitionBy("vec_id").orderBy("dd", "k")
        assigned = (
            dist.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", "k")
        )
        cent = (
            assigned.join(dims_p, "vec_id")
            .groupBy("k", "pos")
            .agg(
                F.round(F.sum("xi") * 1.0 / F.count(F.lit(1)))
                .cast("bigint")
                .alias("si")
            )
        )
        dist2 = (
            dims_p.join(cent, "pos")
            .groupBy("vec_id", "k")
            .agg(
                F.sum(
                    (F.col("xi") - F.col("si"))
                    * (F.col("xi") - F.col("si"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        alldist = dist.select(
            F.lit("a_toy").alias("variant"), "vec_id", "k", "dd"
        ).unionByName(
            dist2.select(
                F.lit("b_lloyd1").alias("variant"), "vec_id", "k", "dd"
            )
        )
        with with_persisted(alldist) as ad:
            wva = Window.partitionBy("variant", "vec_id").orderBy(
                "dd", "k"
            )
            asg = (
                ad.withColumn("rn", F.row_number().over(wva))
                .filter(F.col("rn") == 1)
                .select("variant", "vec_id", "k", "dd")
            )
            with with_persisted(asg) as asg_p:
                nn = dims_p.agg(F.count_distinct("vec_id").alias("n"))
                cells = asg_p.groupBy("variant", "k").agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_vecs")
                )
                vstats = (
                    asg_p.groupBy("variant")
                    .agg(
                        F.sum("dd")
                        .cast("bigint")
                        .alias("total_distortion")
                    )
                    .join(
                        cells.crossJoin(F.broadcast(nn))
                        .groupBy("variant")
                        .agg(
                            F.round(
                                F.max(
                                    F.col("n_vecs")
                                    * 1000000.0
                                    / F.col("n")
                                )
                            )
                            .cast("bigint")
                            .alias("max_cell_share_ppm")
                        ),
                        "variant",
                    )
                )
                qrank = (
                    ad.filter(F.col("vec_id") < N_QUERIES)
                    .withColumn(
                        "cell_rank",
                        F.row_number().over(
                            Window.partitionBy(
                                "variant", "vec_id"
                            ).orderBy("dd", "k")
                        ),
                    )
                    .select(
                        "variant",
                        F.col("vec_id").alias("query_id"),
                        "k",
                        "cell_rank",
                    )
                )
                truth = REGISTRY["knn_bruteforce"](spark, sf_dir).select(
                    "query_id", "neighbor_id"
                )
                tcell = truth.join(
                    asg_p.select(
                        "variant",
                        F.col("vec_id").alias("neighbor_id"),
                        "k",
                    ),
                    "neighbor_id",
                ).join(
                    qrank.select(
                        "variant", "query_id", "k", "cell_rank"
                    ),
                    ["variant", "query_id", "k"],
                )
                pr = spark.createDataFrame(
                    [(p,) for p in _CELL_PROBES], "nprobe long"
                )
                cov = (
                    tcell.crossJoin(F.broadcast(pr))
                    .groupBy("variant", "nprobe")
                    .agg(
                        F.sum(
                            (
                                F.col("cell_rank") <= F.col("nprobe")
                            ).cast("long")
                        ).alias("n_covered")
                    )
                )
                cand = (
                    qrank.crossJoin(F.broadcast(pr))
                    .filter(F.col("cell_rank") <= F.col("nprobe"))
                    .join(cells, ["variant", "k"])
                    .groupBy("variant", "nprobe")
                    .agg(
                        F.sum("n_vecs")
                        .cast("bigint")
                        .alias("n_probed_vecs")
                    )
                )
                out = (
                    vstats.crossJoin(F.broadcast(pr))
                    .join(cov, ["variant", "nprobe"])
                    .join(cand, ["variant", "nprobe"])
                    .select(
                        "variant",
                        F.col("nprobe").cast("bigint").alias("nprobe"),
                        F.round(
                            F.col("n_covered")
                            * 1000000.0
                            / (N_QUERIES * TOP_K)
                        )
                        .cast("bigint")
                        .alias("coverage_ppm"),
                        F.round(
                            (F.col("n_probed_vecs") - N_QUERIES)
                            * 1.0
                            / N_QUERIES
                        )
                        .cast("bigint")
                        .alias("mean_candidates"),
                        "total_distortion",
                        "max_cell_share_ppm",
                    )
                    .orderBy("variant", "nprobe")
                )
                return materialize(out)


# --------------------------------------------------------------------------
# Budget-normalized quantization pareto (ROADMAP round-13
# "Retrieval"): quantization_pareto_table prices bytes/vector vs
# recall with each codec ranking the WHOLE corpus; a serving system
# instead spends a fixed exact-scoring budget B — the codec's cheap
# score picks B candidates, the f32 vectors re-rank them, and recall
# is whatever survives the funnel. This table crosses three
# candidate generators (a_exact_f32 256 B — the calibration row
# whose funnel is lossless by construction once B >= TOP_K;
# b_matryoshka_d16 64 B prefix cosine; c_binary_asym 8 B sign-dot)
# with the candidate budgets, all sharing ONE exact-cosine rerank
# and ONE brute-force truth. Read it as recall-per-byte at equal
# exact-scoring spend — the number that actually sizes a two-stage
# retrieval tier.
# Exact math: grid-integer dots everywhere (the binary cheap score
# is an exact INTEGER — query grid ints times sign bits); the only
# doubles are the two norm divisions (identical expressions both
# engines) and the final recall rounding.
# Scale: scores are query-domain x corpus rows (N_QUERIES bounded);
# at index scale the cheap-score scan is the codec's compressed
# sweep and the rerank touches exactly B f32 rows per query.
# --------------------------------------------------------------------------
_QBP_BUDGETS = [10, 50]
_QBP_PREFIX = 16  # matryoshka prefix dims (b_matryoshka_d16)

_QBP_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    dims AS (
      SELECT vec_id, generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    cc AS (
      SELECT vec_id, CAST(SUM(xi * xi) AS DOUBLE) AS cc,
             CAST(SUM(CASE WHEN pos <= {_QBP_PREFIX}
                           THEN xi * xi ELSE 0 END) AS DOUBLE) AS cc16
      FROM dims GROUP BY vec_id
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(q.xi * c.xi) AS BIGINT) AS dot,
             CAST(SUM(CASE WHEN q.pos <= {_QBP_PREFIX}
                           THEN q.xi * c.xi ELSE 0 END) AS BIGINT)
               AS dot16,
             CAST(SUM(q.xi * CASE WHEN c.xi >= 0 THEN 1 ELSE -1 END)
                  AS BIGINT) AS sdot
      FROM dims q
      JOIN dims c ON c.pos = q.pos AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.query_id, p.neighbor_id,
             CASE WHEN n.cc = 0 THEN -2.0
                  ELSE p.dot / sqrt(n.cc) END AS s_exact,
             CASE WHEN n.cc16 = 0 THEN -2.0
                  ELSE p.dot16 / sqrt(n.cc16) END AS s_m16,
             CAST(p.sdot AS DOUBLE) AS s_bin
      FROM pairs p JOIN cc n ON n.vec_id = p.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, s_exact,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY s_exact DESC, neighbor_id)
               AS r_exact,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY s_m16 DESC, neighbor_id)
               AS r_m16,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY s_bin DESC, neighbor_id)
               AS r_bin
      FROM scored
    ),
    bud(budget) AS (VALUES {", ".join(f"({b})" for b in _QBP_BUDGETS)}),
    cfg(config, bytes_per_vec, rcol) AS (VALUES
      ('a_exact_f32', 256, 'r_exact'),
      ('b_matryoshka_d16', {_QBP_PREFIX * 4}, 'r_m16'),
      ('c_binary_asym', 8, 'r_bin')),
    funnel AS (
      SELECT cf.config, cf.bytes_per_vec, b.budget,
             r.query_id, r.neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY cf.config, b.budget,
                                             r.query_id
                                ORDER BY r.s_exact DESC, r.neighbor_id)
               AS rr
      FROM ranked r
      CROSS JOIN bud b
      JOIN cfg cf ON (CASE cf.rcol WHEN 'r_exact' THEN r.r_exact
                                   WHEN 'r_m16' THEN r.r_m16
                                   ELSE r.r_bin END) <= b.budget
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    )
    SELECT f.config, CAST(f.bytes_per_vec AS BIGINT) AS bytes_per_vec,
           CAST(f.budget AS BIGINT) AS budget,
           CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT)
             AS n_hits,
           ROUND(CAST(count_if(t.neighbor_id IS NOT NULL) AS DOUBLE)
                 / ({N_QUERIES} * {TOP_K}), 6) AS recall_at_5
    FROM (SELECT * FROM funnel WHERE rr <= {TOP_K}) f
    LEFT JOIN truth t ON t.query_id = f.query_id
                     AND t.neighbor_id = f.neighbor_id
    GROUP BY f.config, f.bytes_per_vec, f.budget
    ORDER BY f.config, f.budget
    """


@operator(
    "quantization_budget_pareto",
    oracle=_QBP_ORACLE.replace("{KNN_TRUTH}", _REG_ORACLES["knn_bruteforce"]),
)
def quantization_budget_pareto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three candidate generators x candidate budgets through one
    exact-cosine rerank funnel against one brute-force truth (see
    block comment): bytes/vector vs recall at equal exact-scoring
    spend."""
    from bigdataentrytask_spark.operators import REGISTRY

    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    with with_persisted(dims) as dims_p:
        cc = dims_p.groupBy("vec_id").agg(
            F.sum(F.col("xi") * F.col("xi")).cast("double").alias("cc"),
            F.sum(
                F.when(
                    F.col("pos") <= _QBP_PREFIX,
                    F.col("xi") * F.col("xi"),
                ).otherwise(F.lit(0))
            )
            .cast("double")
            .alias("cc16"),
        )
        q = dims_p.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            "pos",
            F.col("xi").alias("qx"),
        )
        c = dims_p.select(
            F.col("vec_id").alias("neighbor_id"),
            "pos",
            F.col("xi").alias("cx"),
        )
        pairs = (
            q.join(c, "pos")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.sum(F.col("qx") * F.col("cx"))
                .cast("bigint")
                .alias("dot"),
                F.sum(
                    F.when(
                        F.col("pos") <= _QBP_PREFIX,
                        F.col("qx") * F.col("cx"),
                    ).otherwise(F.lit(0))
                )
                .cast("bigint")
                .alias("dot16"),
                F.sum(
                    F.col("qx")
                    * F.when(F.col("cx") >= 0, 1).otherwise(-1)
                )
                .cast("bigint")
                .alias("sdot"),
            )
        )
        scored = pairs.join(
            cc.select(
                F.col("vec_id").alias("neighbor_id"), "cc", "cc16"
            ),
            "neighbor_id",
        ).select(
            "query_id",
            "neighbor_id",
            F.when(F.col("cc") == 0, F.lit(-2.0))
            .otherwise(F.col("dot") / F.sqrt("cc"))
            .alias("s_exact"),
            F.when(F.col("cc16") == 0, F.lit(-2.0))
            .otherwise(F.col("dot16") / F.sqrt("cc16"))
            .alias("s_m16"),
            F.col("sdot").cast("double").alias("s_bin"),
        )
        wq = Window.partitionBy("query_id")
        ranked = scored.select(
            "query_id",
            "neighbor_id",
            "s_exact",
            F.row_number()
            .over(wq.orderBy(F.col("s_exact").desc(), "neighbor_id"))
            .alias("r_exact"),
            F.row_number()
            .over(wq.orderBy(F.col("s_m16").desc(), "neighbor_id"))
            .alias("r_m16"),
            F.row_number()
            .over(wq.orderBy(F.col("s_bin").desc(), "neighbor_id"))
            .alias("r_bin"),
        )
        with with_persisted(ranked) as ranked_p:
            bud = spark.createDataFrame(
                [(b,) for b in _QBP_BUDGETS], "budget long"
            )
            cfg = spark.createDataFrame(
                [
                    ("a_exact_f32", 256, "r_exact"),
                    ("b_matryoshka_d16", _QBP_PREFIX * 4, "r_m16"),
                    ("c_binary_asym", 8, "r_bin"),
                ],
                "config string, bytes_per_vec long, rcol string",
            )
            cheap_rank = (
                F.when(F.col("rcol") == "r_exact", F.col("r_exact"))
                .when(F.col("rcol") == "r_m16", F.col("r_m16"))
                .otherwise(F.col("r_bin"))
            )
            funnel = (
                ranked_p.crossJoin(F.broadcast(bud))
                .crossJoin(F.broadcast(cfg))
                .filter(cheap_rank <= F.col("budget"))
                .withColumn(
                    "rr",
                    F.row_number().over(
                        Window.partitionBy(
                            "config", "budget", "query_id"
                        ).orderBy(F.col("s_exact").desc(), "neighbor_id")
                    ),
                )
                .filter(F.col("rr") <= TOP_K)
            )
            truth = REGISTRY["knn_bruteforce"](spark, sf_dir).select(
                "query_id", "neighbor_id", F.lit(1).alias("hit")
            )
            out = (
                funnel.join(truth, ["query_id", "neighbor_id"], "left")
                .groupBy("config", "bytes_per_vec", "budget")
                .agg(
                    F.sum(F.coalesce("hit", F.lit(0)))
                    .cast("bigint")
                    .alias("n_hits")
                )
                .select(
                    "config",
                    F.col("bytes_per_vec")
                    .cast("bigint")
                    .alias("bytes_per_vec"),
                    F.col("budget").cast("bigint").alias("budget"),
                    "n_hits",
                    F.round(
                        F.col("n_hits")
                        / F.lit(float(N_QUERIES * TOP_K)),
                        6,
                    ).alias("recall_at_5"),
                )
                .orderBy("config", "budget")
            )
            return materialize(out)


# --------------------------------------------------------------------------
# Coarse-cell Lloyd convergence (round-12 original; completes the
# Lloyd chain's symmetry — PQ side has pq_lloyd_refinement +
# pq_lloyd_convergence, the coarse side has ivf_cell_lloyd_probe +
# THIS): the stop-decision curve for the cell trainer. Steps 0/1/2
# of Lloyd on the KMEANS_K coarse seeds, each step's total
# assignment distortion, per-step gain, and live-cell count. Step 0
# and step 1 cross-pin ivf_cell_lloyd_probe's a_toy/b_lloyd1 totals
# (same arithmetic, independent implementation). At 100 TB each
# Lloyd pass is a full corpus sweep over the dimension rows — this
# curve says when to stop paying for them.
# Exact math: grid-integer distances; centroids ROUND(SUM/n) on
# exact integer sums per step, so every step's distortion is an
# exact integer in any accumulation order.
# Scale: |steps| keyed argmin windows over dimension rows with
# K x dim broadcast centroids — the kmeans_step posture iterated a
# fixed, bounded number of times.
# --------------------------------------------------------------------------
_CELL_CONV_STEPS = 2


def _cell_conv_oracle() -> str:
    # unrolled fixed-step Lloyd: dist0 uses the first-K seeds; each
    # subsequent step recomputes integer-grid centroids from the
    # previous assignment and re-measures
    ctes = [f"""{_IVF_CTES},
    asg0 AS (
      SELECT vec_id, k, dd FROM (
        SELECT vec_id, k, dd,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, k) AS rn
        FROM dist
      ) WHERE rn = 1
    )"""]
    for s in range(1, _CELL_CONV_STEPS + 1):
        ctes.append(f"""
    cent{s} AS (
      SELECT a.k, d.pos,
             CAST(ROUND(SUM(d.xi) * 1.0 / COUNT(*)) AS BIGINT) AS si
      FROM asg{s - 1} a JOIN dims d ON d.vec_id = a.vec_id
      GROUP BY a.k, d.pos
    ),
    dist{s} AS (
      SELECT d.vec_id, c.k,
             CAST(SUM((d.xi - c.si) * (d.xi - c.si)) AS BIGINT) AS dd
      FROM dims d JOIN cent{s} c ON c.pos = d.pos
      GROUP BY d.vec_id, c.k
    ),
    asg{s} AS (
      SELECT vec_id, k, dd FROM (
        SELECT vec_id, k, dd,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, k) AS rn
        FROM dist{s}
      ) WHERE rn = 1
    )""")
    steps_union = " UNION ALL ".join(
        f"""SELECT {s} AS step,
               CAST(SUM(dd) AS BIGINT) AS total_distortion,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS n_cells_used
        FROM asg{s}"""
        for s in range(_CELL_CONV_STEPS + 1)
    )
    return f"""
    WITH {",".join(ctes)},
    steps AS ({steps_union})
    SELECT CAST(step AS BIGINT) AS step, total_distortion,
           n_cells_used,
           CAST(COALESCE(LAG(total_distortion)
                           OVER (ORDER BY step)
                         - total_distortion, 0) AS BIGINT) AS gain
    FROM steps
    ORDER BY step
    """


@operator("ivf_cell_lloyd_convergence", oracle=_cell_conv_oracle())
def ivf_cell_lloyd_convergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distortion trajectory of 0/1/2 Lloyd steps on the coarse cell
    seeds with per-step gains and live-cell counts (see block
    comment)."""
    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    with with_persisted(dims) as dims_p:
        seeds = dims_p.filter(F.col("vec_id") < KMEANS_K).select(
            F.col("vec_id").alias("k"), "pos", F.col("xi").alias("si")
        )

        def assign(cent):
            dist = (
                dims_p.join(cent, "pos")
                .groupBy("vec_id", "k")
                .agg(
                    F.sum(
                        (F.col("xi") - F.col("si"))
                        * (F.col("xi") - F.col("si"))
                    )
                    .cast("bigint")
                    .alias("dd")
                )
            )
            wv = Window.partitionBy("vec_id").orderBy("dd", "k")
            return (
                dist.withColumn("rn", F.row_number().over(wv))
                .filter(F.col("rn") == 1)
                .select("vec_id", "k", "dd")
            )

        def recenter(asg):
            return (
                asg.join(dims_p, "vec_id")
                .groupBy("k", "pos")
                .agg(
                    F.round(F.sum("xi") * 1.0 / F.count(F.lit(1)))
                    .cast("bigint")
                    .alias("si")
                )
            )

        steps = None
        asg = assign(seeds)
        for s in range(_CELL_CONV_STEPS + 1):
            stat = asg.agg(
                F.lit(s).alias("step"),
                F.sum("dd").cast("bigint").alias("total_distortion"),
                F.count_distinct("k").cast("bigint").alias(
                    "n_cells_used"
                ),
            )
            steps = stat if steps is None else steps.unionByName(stat)
            if s < _CELL_CONV_STEPS:
                asg = assign(recenter(asg))
        wlag = Window.orderBy("step")
        out = (
            steps.withColumn(
                "gain",
                F.coalesce(
                    F.lag("total_distortion").over(wlag)
                    - F.col("total_distortion"),
                    F.lit(0),
                ).cast("bigint"),
            )
            .select(
                F.col("step").cast("bigint").alias("step"),
                "total_distortion",
                "n_cells_used",
                "gain",
            )
            .orderBy("step")
        )
        return materialize(out)
