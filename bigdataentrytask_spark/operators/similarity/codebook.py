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
from bigdataentrytask_spark.operators import ORACLES as _REG_ORACLES
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

from bigdataentrytask_spark.operators.similarity.diagnostics import (  # noqa: F401,E501
    _register_pair_compositions,
    _register_knn_recall_eval,
    lsh_bucket_balance,
    _MRL_DIM,
    matryoshka_prefix_recall,
    _DRIFT_CUT,
    embedding_centroid_drift,
    embedding_dim_variance,
    centroid_affinity_matrix,
    _register_rrf_fusion,
    neardup_transitivity_audit,
    mutual_knn_symmetry,
    _ORACLES,
    ivf_nprobe_recall_sweep,
    _register_knn_ndcg_eval,
    silhouette_by_label,
    _register_dbscan_core_census,
    embedding_dim_correlation_top,
    embedding_isotropy_score,
    embedding_hubness,
    _JL_K,
    _jl_oracle,
    jl_projection_distortion,
    _MATRYOSHKA_DIMS,
    _MATRYOSHKA_ORACLE,
    matryoshka_recall_sweep,
)

from bigdataentrytask_spark.operators.similarity.quantization import (  # noqa: F401,E501
    _RESIDUAL_PQ_ORACLE,
    residual_pq_distortion,
    _HNSW_M,
    _HNSW_MAX_LEVEL,
    _HNSW_HASH_A,
    _HNSW_HASH_P,
    _HNSW_LEVEL_SQL,
    _HNSW_AUDIT_ORACLE,
    hnsw_layer_audit,
    _BINQ_ORACLE,
    binary_quantization_recall,
    _GEXP_M,
    _GRAPH_EXPANSION_ORACLE,
    graph_expansion_recall,
    _ASYM_BINQ_ORACLE,
    asymmetric_binary_retrieval,
    _TWO_HOP_ORACLE,
    two_hop_expansion_ceiling,
    _pareto_oracle,
    quantization_pareto_table,
    _PROBE_RADII,
    _PROBE_SCHEDULE_ORACLE,
    multiprobe_schedule_advisor,
    _PQ_ADC_ORACLE,
    pq_adc_recall,
    _IVF_ADC_PROBES,
    _IVF_ADC_ORACLE,
    ivf_adc_recall,
)


# ==========================================================================
# Round-12 additions (VERDICT r10 item 7).
# ==========================================================================

# --------------------------------------------------------------------------
# IVF cell-balance audit (ROADMAP round-12 "Retrieval"): the
# retrieval twin of partition_skew_report. IVFADC's cost model
# assumes roughly uniform cell populations; a skewed coarse quantizer
# makes nprobe=1 either scan a giant cell (latency) or miss most of
# the corpus (recall) — it is the mechanism BEHIND ivf_adc_recall's
# pinned honest negative, surfaced as a table: per cell (empties
# included), population, share, size rank, and the cumulative share
# of the top-r cells — read row r as "probing the r largest cells
# scans this fraction of the corpus". Assignment is the verified
# knn_ivf_kmeans coarse quantizer (first-K seeds, exact grid-integer
# distances).
# Scale: one broadcast seed join + one keyed argmin window + a
# K-domain rollup; the audit is O(n * K) with K fixed.
# --------------------------------------------------------------------------
_CELL_BALANCE_ORACLE = f"""
    WITH {_IVF_CTES},
    counts AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM assigned GROUP BY k
    ),
    cells AS (
      SELECT UNNEST(range(0, {KMEANS_K})) AS cell
    ),
    full_c AS (
      SELECT c.cell, COALESCE(t.n_vecs, 0) AS n_vecs,
             (SELECT SUM(n_vecs) FROM counts) AS n_total
      FROM cells c LEFT JOIN counts t ON t.k = c.cell
    ),
    ranked AS (
      SELECT cell, n_vecs, n_total,
             ROW_NUMBER() OVER (ORDER BY n_vecs DESC, cell) AS size_rank,
             SUM(n_vecs) OVER (ORDER BY n_vecs DESC, cell
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM full_c
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(ROUND(n_vecs * 1000000.0 / n_total) AS BIGINT)
             AS share_ppm,
           CAST(size_rank AS BIGINT) AS size_rank,
           CAST(ROUND(cum * 1000000.0 / n_total) AS BIGINT)
             AS cum_share_ppm
    FROM ranked
    ORDER BY cell
    """


@operator("ivf_cell_balance_audit", oracle=_CELL_BALANCE_ORACLE)
def ivf_cell_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell population census of the IVF coarse quantizer (see
    block comment): skew here is the mechanism behind nprobe recall
    pathologies."""
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
    wa = Window.partitionBy("vec_id").orderBy("dd", "k")
    assigned = (
        dist.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "k")
    )
    counts = assigned.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    cells = spark.createDataFrame(
        [(c,) for c in range(KMEANS_K)], "cell long"
    )
    tot = counts.agg(F.sum("n_vecs").alias("n_total"))
    full_c = (
        cells.join(counts.withColumnRenamed("k", "cell"), "cell", "left")
        .select("cell", F.coalesce("n_vecs", F.lit(0)).alias("n_vecs"))
        .crossJoin(F.broadcast(tot))
    )
    wr = Window.orderBy(F.col("n_vecs").desc(), "cell")
    ranked = full_c.select(
        "cell",
        "n_vecs",
        "n_total",
        F.row_number().over(wr).alias("size_rank"),
        F.sum("n_vecs")
        .over(wr.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    return ranked.select(
        F.col("cell").cast("bigint").alias("cell"),
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.round(F.col("n_vecs") * 1000000.0 / F.col("n_total"))
        .cast("bigint")
        .alias("share_ppm"),
        F.col("size_rank").cast("bigint").alias("size_rank"),
        F.round(F.col("cum") * 1000000.0 / F.col("n_total"))
        .cast("bigint")
        .alias("cum_share_ppm"),
    ).orderBy("cell")


# --------------------------------------------------------------------------
# PQ codebook Lloyd refinement (ROADMAP round-12 "Retrieval"; the
# learned-codebook-quality advisor VERDICT r10 item 7 asked for):
# ivf_adc_recall pinned an honest negative — recall FALLS with nprobe
# under the toy first-K-vectors codebook — and ivf_cell_balance_audit
# shows the coarse cells are balanced, so the defect is subspace
# codebook DISTORTION. This operator runs exactly ONE Lloyd step on
# the PQ codebook (assign -> per-(sub, code) centroid update ->
# re-assign; empty codes keep their old centroid) and prices both
# codebooks on the same table: total assignment distortion, dead
# codes, and end-to-end ADC recall@5 vs exact-L2 truth. The update
# arithmetic is exact: centroids snap back onto the 1e6 integer grid
# via ROUND(SUM/COUNT) (sums < 2^53, so the double division is the
# same on both engines); distances stay grid-integer BIGINTs.
# Plan shape: dims feeds both assignment passes, the ADC query side,
# and the exact truth -> with_persisted; the two variants stack into
# ONE tagged assignment/codebook frame so the ADC ranking pipeline
# runs once over both (the ivf_adc_recall composition lesson —
# score the superset once, rank per variant in one window).
# --------------------------------------------------------------------------
_LLOYD_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    dims AS (
      SELECT vec_id,
             ((generate_subscripts(e, 1) - 1) * {_PQ_SUB}) // {_PQ_DIM}
               AS sub,
             generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    cb0 AS (
      SELECT vec_id AS code, ((pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             pos, xi AS ci
      FROM (SELECT vec_id, generate_subscripts(e, 1) AS pos,
                   CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
            FROM v WHERE vec_id < {_PQ_K}) t
    ),
    d0 AS (
      SELECT d.vec_id, d.sub, cb.code,
             CAST(SUM((d.xi - cb.ci) * (d.xi - cb.ci)) AS BIGINT) AS dd
      FROM dims d
      JOIN cb0 cb ON cb.pos = d.pos AND cb.sub = d.sub
      GROUP BY 1, 2, 3
    ),
    a0 AS (
      SELECT vec_id, sub, code, dd FROM (
        SELECT vec_id, sub, code, dd,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM d0
      ) WHERE rn = 1
    ),
    refined AS (
      SELECT a.sub, a.code, d.pos,
             CAST(ROUND(SUM(d.xi) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
               AS ci
      FROM a0 a
      JOIN dims d ON d.vec_id = a.vec_id AND d.sub = a.sub
      GROUP BY 1, 2, 3
    ),
    cb1 AS (
      SELECT c.code, c.sub, c.pos, COALESCE(r.ci, c.ci) AS ci
      FROM cb0 c
      LEFT JOIN refined r ON r.sub = c.sub AND r.code = c.code
                         AND r.pos = c.pos
    ),
    d1 AS (
      SELECT d.vec_id, d.sub, cb.code,
             CAST(SUM((d.xi - cb.ci) * (d.xi - cb.ci)) AS BIGINT) AS dd
      FROM dims d
      JOIN cb1 cb ON cb.pos = d.pos AND cb.sub = d.sub
      GROUP BY 1, 2, 3
    ),
    a1 AS (
      SELECT vec_id, sub, code, dd FROM (
        SELECT vec_id, sub, code, dd,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM d1
      ) WHERE rn = 1
    ),
    a AS (
      SELECT 'a_toy' AS variant, * FROM a0
      UNION ALL
      SELECT 'b_lloyd1', * FROM a1
    ),
    cb AS (
      SELECT 'a_toy' AS variant, * FROM cb0
      UNION ALL
      SELECT 'b_lloyd1', * FROM cb1
    ),
    adc AS (
      SELECT a.variant, q.vec_id AS query_id, a.vec_id AS neighbor_id,
             CAST(SUM((q.xi - cb.ci) * (q.xi - cb.ci)) AS BIGINT) AS dd
      FROM a
      JOIN cb ON cb.variant = a.variant AND cb.sub = a.sub
             AND cb.code = a.code
      JOIN dims q ON q.pos = cb.pos AND q.vec_id <> a.vec_id
      WHERE q.vec_id < {N_QUERIES}
      GROUP BY 1, 2, 3
    ),
    top_adc AS (
      SELECT variant, query_id, neighbor_id FROM (
        SELECT variant, query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY variant, query_id
                                  ORDER BY dd, neighbor_id) AS rnk
        FROM adc
      ) WHERE rnk <= {TOP_K}
    ),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM((q.xi - c.xi) * (q.xi - c.xi)) AS BIGINT) AS dd
      FROM dims q
      JOIN dims c ON c.pos = q.pos AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dd, neighbor_id) AS rnk
        FROM exact
      ) WHERE rnk <= {TOP_K}
    ),
    hits AS (
      SELECT a.variant,
             CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT)
               AS n_hits
      FROM top_adc a
      LEFT JOIN truth t ON t.query_id = a.query_id
                       AND t.neighbor_id = a.neighbor_id
      GROUP BY 1
    ),
    dist_tot AS (
      SELECT variant, CAST(SUM(dd) AS BIGINT) AS total_distortion,
             CAST({_PQ_SUB * _PQ_K} - COUNT(DISTINCT (sub, code))
                  AS BIGINT) AS n_dead_codes
      FROM a GROUP BY 1
    )
    SELECT d.variant, d.total_distortion, d.n_dead_codes,
           h.n_hits,
           ROUND(CAST(h.n_hits AS DOUBLE)
                 / ({N_QUERIES} * {TOP_K}), 6) AS recall_at_5
    FROM dist_tot d JOIN hits h ON h.variant = d.variant
    ORDER BY d.variant
    """


@operator("pq_lloyd_refinement", oracle=_LLOYD_ORACLE)
def pq_lloyd_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd step on the PQ subspace codebook, priced end-to-end
    (see block comment): distortion, dead codes, and ADC recall for
    the toy vs refined codebook on one tagged pipeline."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select(
        "vec_id",
        ((F.col("pos0") * _PQ_SUB) / _PQ_DIM).cast("long").alias("sub"),
        (F.col("pos0") + 1).alias("pos"),
        grid.alias("xi"),
    )
    with with_persisted(dims) as dims_p:
        cb0 = (
            e.filter(F.col("vec_id") < _PQ_K)
            .select(
                F.col("vec_id").alias("code"),
                F.posexplode(
                    F.transform("embedding", lambda x: x.cast("double"))
                ).alias("pos0", "x"),
            )
            .select(
                "code",
                ((F.col("pos0") * _PQ_SUB) / _PQ_DIM)
                .cast("long")
                .alias("sub"),
                (F.col("pos0") + 1).alias("pos"),
                grid.alias("ci"),
            )
        )

        def _assign(cb):
            diff = F.col("xi") - F.col("ci")
            dist = (
                dims_p.join(
                    F.broadcast(cb),
                    (F.col("cb_pos") == F.col("pos"))
                    & (F.col("cb_sub") == F.col("sub")),
                )
                .groupBy("vec_id", "sub", "code")
                .agg(F.sum(diff * diff).cast("bigint").alias("dd"))
            )
            wa = Window.partitionBy("vec_id", "sub").orderBy("dd", "code")
            return materialize(
                dist.withColumn("rn", F.row_number().over(wa))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", "code", "dd")
            )

        def _cb_joinable(cb):
            return cb.select(
                "code",
                F.col("sub").alias("cb_sub"),
                F.col("pos").alias("cb_pos"),
                "ci",
            )

        a0 = _assign(_cb_joinable(cb0))
        refined = (
            a0.select(
                F.col("vec_id").alias("a_vid"),
                F.col("sub").alias("a_sub"),
                "code",
            )
            .join(
                dims_p,
                (F.col("a_vid") == F.col("vec_id"))
                & (F.col("a_sub") == F.col("sub")),
            )
            .groupBy(F.col("a_sub").alias("g_sub"), "code", "pos")
            .agg(
                F.round(F.sum("xi") / F.count(F.lit(1)).cast("double"))
                .cast("bigint")
                .alias("r_ci")
            )
            .withColumnRenamed("g_sub", "sub")
        )
        cb1 = (
            cb0.join(refined, ["sub", "code", "pos"], "left")
            .select(
                "code",
                "sub",
                "pos",
                F.coalesce("r_ci", "ci").alias("ci"),
            )
        )
        a1 = _assign(_cb_joinable(cb1))
        a = a0.select(F.lit("a_toy").alias("variant"), "*").unionByName(
            a1.select(F.lit("b_lloyd1").alias("variant"), "*")
        )
        cbs = cb0.select(
            F.lit("a_toy").alias("variant"), "code", "sub", "pos", "ci"
        ).unionByName(
            cb1.select(
                F.lit("b_lloyd1").alias("variant"), "code", "sub", "pos",
                "ci",
            )
        )
        qd = dims_p.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("pos").alias("q_pos"),
            F.col("xi").alias("qi"),
        )
        adc = (
            a.join(
                F.broadcast(
                    cbs.withColumnRenamed("sub", "cb_sub")
                    .withColumnRenamed("pos", "cb_pos")
                ),
                ["variant", "code"],
            )
            .filter(F.col("cb_sub") == F.col("sub"))
            .join(
                F.broadcast(qd),
                (F.col("q_pos") == F.col("cb_pos"))
                & (F.col("query_id") != F.col("vec_id")),
            )
            .groupBy(
                "variant", "query_id", F.col("vec_id").alias("neighbor_id")
            )
            .agg(
                F.sum(
                    (F.col("qi") - F.col("ci"))
                    * (F.col("qi") - F.col("ci"))
                )
                .cast("bigint")
                .alias("qdd")
            )
        )
        wr = Window.partitionBy("variant", "query_id").orderBy(
            "qdd", "neighbor_id"
        )
        top_adc = adc.withColumn("rnk", F.row_number().over(wr)).filter(
            F.col("rnk") <= TOP_K
        )
        qx = dims_p.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "pos",
            F.col("xi").alias("qi"),
        )
        cx = dims_p.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("pos").alias("pos_c"),
            F.col("xi").alias("ci2"),
        )
        exact = (
            F.broadcast(qx)
            .join(cx, F.col("pos_c") == F.col("pos"))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.sum(
                    (F.col("qi") - F.col("ci2"))
                    * (F.col("qi") - F.col("ci2"))
                )
                .cast("bigint")
                .alias("edd")
            )
        )
        wt = Window.partitionBy("query_id").orderBy("edd", "neighbor_id")
        truth = (
            exact.withColumn("rnk", F.row_number().over(wt))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "neighbor_id", F.lit(1).alias("is_true"))
        )
        hits = (
            top_adc.join(truth, ["query_id", "neighbor_id"], "left")
            .groupBy("variant")
            .agg(
                F.sum(F.coalesce("is_true", F.lit(0)))
                .cast("bigint")
                .alias("n_hits")
            )
        )
        dist_tot = a.groupBy("variant").agg(
            F.sum("dd").cast("bigint").alias("total_distortion"),
            (
                F.lit(_PQ_SUB * _PQ_K)
                - F.count_distinct("sub", "code")
            )
            .cast("bigint")
            .alias("n_dead_codes"),
        )
        return materialize(
            dist_tot.join(hits, "variant")
            .select(
                "variant",
                "total_distortion",
                "n_dead_codes",
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / (N_QUERIES * TOP_K),
                    6,
                ).alias("recall_at_5"),
            )
            .orderBy("variant")
        )


# --------------------------------------------------------------------------
# Candidate-budget recall (ROADMAP round-12 "Retrieval"): the
# apples-to-apples index selector. ivf_nprobe_recall_sweep and
# two_hop_expansion_ceiling each vary their OWN knob, so their rows
# are not comparable — this table fixes the one resource that costs
# money (exact-scoring candidates per query) and asks which index
# family spends it better. Per (method, budget): LSH candidates are
# truncated in neighbor_id order (the scan-order contract — scoring
# order would defeat the budget), IVF candidates in (cell-distance
# rank, neighbor_id) order (probe order — the order a real IVF scan
# discovers them); the kept set is exact-cosine scored and its top-5
# compared to the brute-force truth.
# Plan shape: the two methods' kept sets (budget = max budget;
# smaller budgets are prefixes by construction) merge via one full
# outer join into a superset pair frame; dots are computed ONCE over
# it and every (method, budget) ranks via conditional running counts
# over ONE shared window (the two_hop single-window lesson).
# Zero-norm sentinel: cc = 0 -> sim -2.0 on both engines (ADVICE r9).
# --------------------------------------------------------------------------
_CBR_BUDGETS = [10, 50]

_CBR_ORACLE = f"""
    WITH {{SQL_PLANES}},
    {{SQL_CODES}},
    {{IVF_CTES}},
    lsh0 AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM codes q JOIN codes c ON q.t = c.t AND q.code = c.code
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ),
    lshc AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY neighbor_id) AS rn
      FROM lsh0
    ),
    qrank AS (
      SELECT vec_id AS query_id, k,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dd, k) AS cell_rank
      FROM dist WHERE vec_id < {N_QUERIES}
    ),
    ivf0 AS (
      SELECT qr.query_id, a.vec_id AS neighbor_id, qr.cell_rank
      FROM qrank qr JOIN assigned a ON a.k = qr.k
      WHERE a.vec_id <> qr.query_id
    ),
    ivfc AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cell_rank, neighbor_id) AS rn
      FROM ivf0
    ),
    sup AS (
      SELECT COALESCE(l.query_id, i.query_id) AS query_id,
             COALESCE(l.neighbor_id, i.neighbor_id) AS neighbor_id,
             l.rn AS rn_lsh, i.rn AS rn_ivf
      FROM (SELECT * FROM lshc WHERE rn <= {max(_CBR_BUDGETS)}) l
      FULL JOIN (SELECT * FROM ivfc WHERE rn <= {max(_CBR_BUDGETS)}) i
        ON i.query_id = l.query_id AND i.neighbor_id = l.neighbor_id
    ),
    pn AS (
      SELECT vec_id, CAST(SUM(xi * xi) AS DOUBLE) AS cc
      FROM dims GROUP BY 1
    ),
    dotg AS (
      SELECT s.query_id, s.neighbor_id, s.rn_lsh, s.rn_ivf,
             CAST(SUM(dq.xi * dn.xi) AS DOUBLE) AS dot
      FROM sup s
      JOIN dims dq ON dq.vec_id = s.query_id
      JOIN dims dn ON dn.vec_id = s.neighbor_id AND dn.pos = dq.pos
      GROUP BY 1, 2, 3, 4
    ),
    ranked AS (
      SELECT d.query_id, d.neighbor_id, d.rn_lsh, d.rn_ivf,
             {", ".join(
               f'''SUM(CASE WHEN d.rn_{m} <= {b} THEN 1 ELSE 0 END)
                     OVER w AS rk_{m}{b}'''
               for m in ("lsh", "ivf") for b in _CBR_BUDGETS)}
      FROM dotg d JOIN pn p ON p.vec_id = d.neighbor_id
      WINDOW w AS (PARTITION BY d.query_id
                   ORDER BY CASE WHEN p.cc = 0
                                 THEN CAST(-2.0 AS DOUBLE)
                            ELSE d.dot / sqrt(p.cc) END DESC,
                            d.neighbor_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    picks AS (
      {" UNION ALL ".join(
        f'''SELECT '{'a_lsh' if m == 'lsh' else 'b_ivf'}' AS method,
               {b} AS budget, query_id, neighbor_id
        FROM ranked WHERE rn_{m} <= {b} AND rk_{m}{b} <= {TOP_K}'''
        for m in ("lsh", "ivf") for b in _CBR_BUDGETS)}
    ),
    vol AS (
      {" UNION ALL ".join(
        f'''SELECT '{'a_lsh' if m == 'lsh' else 'b_ivf'}' AS method,
               {b} AS budget, CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM {m}c WHERE rn <= {b}'''
        for m in ("lsh", "ivf") for b in _CBR_BUDGETS)}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    ),
    hits AS (
      SELECT p.method, p.budget,
             CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT)
               AS n_hits
      FROM picks p
      LEFT JOIN truth t ON t.query_id = p.query_id
                       AND t.neighbor_id = p.neighbor_id
      GROUP BY 1, 2
    )
    SELECT h.method, CAST(h.budget AS BIGINT) AS budget,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           ROUND(CAST(v.n_kept AS DOUBLE) / {N_QUERIES}, 6)
             AS mean_candidates,
           h.n_hits,
           ROUND(CAST(h.n_hits AS DOUBLE) / ({N_QUERIES} * {TOP_K}), 6)
             AS recall_at_5
    FROM hits h JOIN vol v ON v.method = h.method AND v.budget = h.budget
    ORDER BY h.method, h.budget
    """


@operator(
    "candidate_budget_recall",
    oracle=(
        _CBR_ORACLE.replace("{SQL_PLANES}", _sql_planes())
        .replace("{SQL_CODES}", _SQL_CODES.strip())
        .replace("{IVF_CTES}", _IVF_CTES)
        .replace("{KNN_TRUTH}", _REG_ORACLES["knn_bruteforce"])
    ),
)
def candidate_budget_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH vs IVF recall at a FIXED exact-scoring candidate budget
    (see block comment): superset pairs scored once, every
    (method, budget) ranked in one shared window."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

    bmax = max(_CBR_BUDGETS)
    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    bucketed = _bucketed(e)
    with with_persisted(dims) as dims_p:
        qb = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "bucket"
        )
        cb = bucketed.select(F.col("vec_id").alias("neighbor_id"), "bucket")
        wl = Window.partitionBy("query_id").orderBy("neighbor_id")
        lshc = materialize(
            qb.join(cb, "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
            .distinct()
            .withColumn("rn", F.row_number().over(wl))
            .filter(F.col("rn") <= bmax)
        )
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
            dims_p.join(F.broadcast(seeds), "pos")
            .groupBy("vec_id", "k")
            .agg(F.sum(diff * diff).cast("bigint").alias("dd"))
        )
        wa = Window.partitionBy("vec_id").orderBy("dd", "k")
        assigned = (
            dist.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .select("vec_id", "k")
        )
        qrank = (
            dist.filter(F.col("vec_id") < N_QUERIES)
            .withColumn("cell_rank", F.row_number().over(wa))
            .select(F.col("vec_id").alias("query_id"), "k", "cell_rank")
        )
        wi = Window.partitionBy("query_id").orderBy(
            "cell_rank", "neighbor_id"
        )
        ivfc = materialize(
            qrank.join(
                assigned.select(
                    F.col("vec_id").alias("neighbor_id"), "k"
                ),
                "k",
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("rn", F.row_number().over(wi))
            .filter(F.col("rn") <= bmax)
            .select("query_id", "neighbor_id", "rn")
        )
        sup = lshc.select(
            "query_id", "neighbor_id", F.col("rn").alias("rn_lsh")
        ).join(
            ivfc.select(
                "query_id", "neighbor_id", F.col("rn").alias("rn_ivf")
            ),
            ["query_id", "neighbor_id"],
            "full",
        )
        pn = dims_p.groupBy("vec_id").agg(
            F.sum(F.col("xi") * F.col("xi")).cast("double").alias("cc")
        )
        dq = dims_p.select(
            F.col("vec_id").alias("query_id"), "pos",
            F.col("xi").alias("qi"),
        )
        dn = dims_p.select(
            F.col("vec_id").alias("nb"),
            F.col("pos").alias("pos_n"),
            F.col("xi").alias("ni"),
        )
        dotg = (
            sup.join(dq, "query_id")
            .join(
                dn,
                (F.col("pos_n") == F.col("pos"))
                & (F.col("nb") == F.col("neighbor_id")),
            )
            .groupBy("query_id", "neighbor_id", "rn_lsh", "rn_ivf")
            .agg(
                F.sum(F.col("qi") * F.col("ni")).cast("double").alias("dot")
            )
        )
        scored = dotg.join(
            pn.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        ).withColumn(
            "sim",
            F.when(F.col("cc") == 0, F.lit(-2.0)).otherwise(
                F.col("dot") / F.sqrt("cc")
            ),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), "neighbor_id"
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rank_cols = [
            F.sum(
                F.when(F.col(f"rn_{m}") <= b, 1).otherwise(0)
            )
            .over(w)
            .alias(f"rk_{m}{b}")
            for m in ("lsh", "ivf")
            for b in _CBR_BUDGETS
        ]
        flagged = scored.select(
            "query_id", "neighbor_id", "rn_lsh", "rn_ivf", *rank_cols
        )
        stack_args = ", ".join(
            f"'{'a_lsh' if m == 'lsh' else 'b_ivf'}', {b}, "
            f"rn_{m} IS NOT NULL AND rn_{m} <= {b} AND rk_{m}{b} <= {TOP_K}"
            for m in ("lsh", "ivf")
            for b in _CBR_BUDGETS
        )
        picks = (
            flagged.select(
                "query_id",
                "neighbor_id",
                F.expr(
                    f"stack({2 * len(_CBR_BUDGETS)}, {stack_args})"
                    " AS (method, budget, in_top)"
                ),
            )
            .filter(F.col("in_top"))
            .select("method", "budget", "query_id", "neighbor_id")
        )
        vol = None
        for m, frame in (("a_lsh", lshc), ("b_ivf", ivfc)):
            for b in _CBR_BUDGETS:
                arm = frame.filter(F.col("rn") <= b).agg(
                    F.lit(m).alias("method"),
                    F.lit(b).alias("budget"),
                    F.count(F.lit(1)).cast("bigint").alias("n_kept"),
                )
                vol = arm if vol is None else vol.unionByName(arm)
        truth = knn_bruteforce(spark, sf_dir).select(
            "query_id", "neighbor_id", F.lit(1).alias("is_true")
        )
        hits = (
            picks.join(truth, ["query_id", "neighbor_id"], "left")
            .groupBy("method", "budget")
            .agg(
                F.sum(F.coalesce("is_true", F.lit(0)))
                .cast("bigint")
                .alias("n_hits")
            )
        )
        return materialize(
            hits.join(vol, ["method", "budget"])
            .select(
                "method",
                F.col("budget").cast("bigint").alias("budget"),
                F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                F.round(
                    F.col("n_kept").cast("double") / N_QUERIES, 6
                ).alias("mean_candidates"),
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / (N_QUERIES * TOP_K), 6
                ).alias("recall_at_5"),
            )
            .orderBy("method", "budget")
        )


# --------------------------------------------------------------------------
# Seed-spread advisor (ROADMAP round-13, pulled forward): the cheap
# fix the weak-codebook regime suggests trying FIRST. The verified
# coarse quantizer seeds on the first K vectors (knn_ivf_kmeans);
# k-means++ intuition says spread seeds beat adjacent ones. This
# table prices two deterministic seeding policies — a_first (vec_id
# < K) vs b_strided (every floor(n/K)-th vec_id) — on the numbers a
# quantizer owner reads: min pairwise seed distance (the spread),
# total assignment distortion, and the largest cell share. Both
# policies assign in ONE stacked pass (seeds tagged by policy; the
# per-policy argmin windows share a shuffle).
# Exact math: grid-integer L2 throughout; stride = n // K from an
# exact count.
# --------------------------------------------------------------------------
_SEED_SPREAD_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    dims AS (
      SELECT vec_id, generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    seeds AS (
      SELECT 'a_first' AS policy, vec_id AS k, pos, xi
      FROM dims WHERE vec_id < {KMEANS_K}
      UNION ALL
      SELECT 'b_strided', CAST(vec_id / GREATEST(1, nn.n // {KMEANS_K}) AS BIGINT),
             pos, xi
      FROM dims CROSS JOIN nn
      WHERE vec_id % GREATEST(1, nn.n // {KMEANS_K}) = 0
        AND vec_id < {KMEANS_K} * GREATEST(1, nn.n // {KMEANS_K})
    ),
    spread AS (
      SELECT a.policy,
             CAST(MIN(p.dd) AS BIGINT) AS min_seed_dist
      FROM (SELECT DISTINCT policy FROM seeds) a
      JOIN (
        SELECT s1.policy, s1.k AS k1, s2.k AS k2,
               CAST(SUM((s1.xi - s2.xi) * (s1.xi - s2.xi)) AS BIGINT)
                 AS dd
        FROM seeds s1
        JOIN seeds s2 ON s2.policy = s1.policy AND s2.pos = s1.pos
                     AND s2.k > s1.k
        GROUP BY 1, 2, 3
      ) p ON p.policy = a.policy
      GROUP BY 1
    ),
    dist AS (
      SELECT s.policy, d.vec_id, s.k,
             CAST(SUM((d.xi - s.xi) * (d.xi - s.xi)) AS BIGINT) AS dd
      FROM dims d JOIN seeds s ON s.pos = d.pos
      GROUP BY 1, 2, 3
    ),
    assigned AS (
      SELECT policy, vec_id, k, dd FROM (
        SELECT policy, vec_id, k, dd,
               ROW_NUMBER() OVER (PARTITION BY policy, vec_id
                                  ORDER BY dd, k) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    cells AS (
      SELECT policy, k, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM assigned GROUP BY 1, 2
    )
    SELECT a.policy,
           s.min_seed_dist,
           CAST(SUM(a.dd) AS BIGINT) AS total_distortion,
           (SELECT CAST(ROUND(MAX(c.n_vecs * 1000000.0 / nn.n))
                        AS BIGINT)
              FROM cells c CROSS JOIN nn
             WHERE c.policy = a.policy) AS max_cell_share_ppm
    FROM assigned a JOIN spread s ON s.policy = a.policy
    GROUP BY a.policy, s.min_seed_dist
    ORDER BY a.policy
    """


@operator("seed_spread_advisor", oracle=_SEED_SPREAD_ORACLE)
def seed_spread_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-K vs strided-K coarse-quantizer seeding, priced as seed
    spread, assignment distortion, and max cell share (see block
    comment); both policies share one stacked assignment pass."""
    from bigdataentrytask_spark.operators import collect_bounded

    e = _emb(spark, sf_dir)
    n = int(collect_bounded(e.agg(F.count(F.lit(1)).alias("n")))[0].n)
    # clamp (ADVICE r11): n < KMEANS_K would make stride 0 — Spark
    # % 0 yields NULLs while DuckDB's % 0 errors; with stride 1 the
    # b_strided arm degrades to a_first's seed set in BOTH engines.
    stride = max(1, n // KMEANS_K)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    seeds = (
        dims.filter(F.col("vec_id") < KMEANS_K)
        .select(
            F.lit("a_first").alias("policy"),
            F.col("vec_id").alias("k"),
            "pos",
            "xi",
        )
        .unionByName(
            dims.filter(
                (F.col("vec_id") % stride == 0)
                & (F.col("vec_id") < KMEANS_K * stride)
            ).select(
                F.lit("b_strided").alias("policy"),
                (F.col("vec_id") / stride).cast("bigint").alias("k"),
                "pos",
                "xi",
            )
        )
    )
    s1 = seeds.select(
        "policy", F.col("k").alias("k1"), "pos", F.col("xi").alias("x1")
    )
    s2 = seeds.select(
        "policy",
        F.col("k").alias("k2"),
        F.col("pos").alias("pos2"),
        F.col("xi").alias("x2"),
    )
    sd = F.col("x1") - F.col("x2")
    spread = (
        s1.join(
            s2,
            (F.col("pos2") == F.col("pos"))
            & (s1.policy == s2.policy)
            & (F.col("k2") > F.col("k1")),
        )
        .drop(s2.policy)
        .groupBy("policy", "k1", "k2")
        .agg(F.sum(sd * sd).cast("bigint").alias("dd"))
        .groupBy("policy")
        .agg(F.min("dd").cast("bigint").alias("min_seed_dist"))
    )
    diff = F.col("xi") - F.col("sx")
    dist = (
        dims.join(
            F.broadcast(
                seeds.select(
                    "policy",
                    "k",
                    F.col("pos").alias("s_pos"),
                    F.col("xi").alias("sx"),
                )
            ),
            F.col("s_pos") == F.col("pos"),
        )
        .groupBy("policy", "vec_id", "k")
        .agg(F.sum(diff * diff).cast("bigint").alias("dd"))
    )
    wa = Window.partitionBy("policy", "vec_id").orderBy("dd", "k")
    assigned = (
        dist.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("policy", "vec_id", "k", "dd")
    )
    cells = assigned.groupBy("policy", "k").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    maxshare = cells.groupBy("policy").agg(
        F.round(F.max("n_vecs") * 1000000.0 / n)
        .cast("bigint")
        .alias("max_cell_share_ppm")
    )
    tot = assigned.groupBy("policy").agg(
        F.sum("dd").cast("bigint").alias("total_distortion")
    )
    return (
        tot.join(spread, "policy")
        .join(maxshare, "policy")
        .select(
            "policy", "min_seed_dist", "total_distortion",
            "max_cell_share_ppm",
        )
        .orderBy("policy")
    )


# --------------------------------------------------------------------------
# PQ Lloyd convergence curve (ROADMAP round-13, pulled forward):
# pq_lloyd_refinement prices ONE step; this runs the loop one step
# further and emits the distortion trajectory (step 0 = toy seeds,
# 1, 2), per-step gain, and dead codes — the diminishing-returns
# curve a 100 TB codebook trainer reads to decide when to stop
# (training cost per Lloyd pass at scale is a full corpus sweep).
# The first step's gain dwarfs the second's (28% vs <5% here,
# pinned): the plateau arrives immediately on this corpus.
# Exact math: same grid-snapped ROUND(SUM/COUNT) centroid update and
# grid-integer distances as pq_lloyd_refinement; the per-step
# distortion chain is monotone non-increasing (pinned — the Lloyd
# update+reassign argument, robust here to the 1e-6 grid snap).
# Plan: dims persisted once; each step is one broadcast-codebook
# assignment pass + one domain-sized centroid update.
# --------------------------------------------------------------------------
_LLOYD_STEPS = 2


def _sql_lloyd_chain() -> str:
    """CTE chain cb0/a0 -> cb1/a1 -> ... for _LLOYD_STEPS updates."""
    parts = [f"""
    cb0 AS (
      SELECT vec_id AS code, ((pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             pos, xi AS ci
      FROM (SELECT vec_id, generate_subscripts(e, 1) AS pos,
                   CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
            FROM v WHERE vec_id < {_PQ_K}) t
    )"""]
    for s in range(_LLOYD_STEPS + 1):
        parts.append(f"""
    d{s} AS (
      SELECT d.vec_id, d.sub, cb.code,
             CAST(SUM((d.xi - cb.ci) * (d.xi - cb.ci)) AS BIGINT) AS dd
      FROM dims d
      JOIN cb{s} cb ON cb.pos = d.pos AND cb.sub = d.sub
      GROUP BY 1, 2, 3
    ),
    a{s} AS (
      SELECT vec_id, sub, code, dd FROM (
        SELECT vec_id, sub, code, dd,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM d{s}
      ) WHERE rn = 1
    )""")
        if s < _LLOYD_STEPS:
            parts.append(f"""
    ref{s + 1} AS (
      SELECT a.sub, a.code, d.pos,
             CAST(ROUND(SUM(d.xi) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
               AS ci
      FROM a{s} a
      JOIN dims d ON d.vec_id = a.vec_id AND d.sub = a.sub
      GROUP BY 1, 2, 3
    ),
    cb{s + 1} AS (
      SELECT c.code, c.sub, c.pos, COALESCE(r.ci, c.ci) AS ci
      FROM cb{s} c
      LEFT JOIN ref{s + 1} r ON r.sub = c.sub AND r.code = c.code
                            AND r.pos = c.pos
    )""")
    return ",".join(parts)


_LLOYD_CONV_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    dims AS (
      SELECT vec_id,
             ((generate_subscripts(e, 1) - 1) * {_PQ_SUB}) // {_PQ_DIM}
               AS sub,
             generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    {_sql_lloyd_chain()},
    steps AS (
      {" UNION ALL ".join(
        f'''SELECT {s} AS step,
               CAST(SUM(dd) AS BIGINT) AS total_distortion,
               CAST({_PQ_SUB * _PQ_K} - COUNT(DISTINCT (sub, code))
                    AS BIGINT) AS n_dead_codes
        FROM a{s}''' for s in range(_LLOYD_STEPS + 1))}
    )
    SELECT CAST(step AS BIGINT) AS step, total_distortion, n_dead_codes,
           CAST(COALESCE(LAG(total_distortion) OVER (ORDER BY step)
                         - total_distortion, 0) AS BIGINT) AS gain,
           CAST(ROUND(COALESCE(LAG(total_distortion) OVER (ORDER BY step)
                               - total_distortion, 0) * 1000000.0
                      / MAX(total_distortion) OVER ()) AS BIGINT)
             AS gain_ppm_of_step0
    FROM steps
    ORDER BY step
    """


@operator("pq_lloyd_convergence", oracle=_LLOYD_CONV_ORACLE)
def pq_lloyd_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distortion trajectory over _LLOYD_STEPS Lloyd iterations of the
    PQ codebook (see block comment): the diminishing-returns curve."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select(
        "vec_id",
        ((F.col("pos0") * _PQ_SUB) / _PQ_DIM).cast("long").alias("sub"),
        (F.col("pos0") + 1).alias("pos"),
        grid.alias("xi"),
    )
    with with_persisted(dims) as dims_p:
        cb = (
            e.filter(F.col("vec_id") < _PQ_K)
            .select(
                F.col("vec_id").alias("code"),
                F.posexplode(
                    F.transform("embedding", lambda x: x.cast("double"))
                ).alias("pos0", "x"),
            )
            .select(
                "code",
                ((F.col("pos0") * _PQ_SUB) / _PQ_DIM)
                .cast("long")
                .alias("sub"),
                (F.col("pos0") + 1).alias("pos"),
                grid.alias("ci"),
            )
        )

        def assign(cbf):
            j = cbf.select(
                "code",
                F.col("sub").alias("cb_sub"),
                F.col("pos").alias("cb_pos"),
                "ci",
            )
            diff = F.col("xi") - F.col("ci")
            dist = (
                dims_p.join(
                    F.broadcast(j),
                    (F.col("cb_pos") == F.col("pos"))
                    & (F.col("cb_sub") == F.col("sub")),
                )
                .groupBy("vec_id", "sub", "code")
                .agg(F.sum(diff * diff).cast("bigint").alias("dd"))
            )
            wa = Window.partitionBy("vec_id", "sub").orderBy("dd", "code")
            return materialize(
                dist.withColumn("rn", F.row_number().over(wa))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", "code", "dd")
            )

        def update(cbf, a):
            refined = (
                a.select(
                    F.col("vec_id").alias("a_vid"),
                    F.col("sub").alias("a_sub"),
                    "code",
                )
                .join(
                    dims_p,
                    (F.col("a_vid") == F.col("vec_id"))
                    & (F.col("a_sub") == F.col("sub")),
                )
                .groupBy(F.col("a_sub").alias("g_sub"), "code", "pos")
                .agg(
                    F.round(
                        F.sum("xi") / F.count(F.lit(1)).cast("double")
                    )
                    .cast("bigint")
                    .alias("r_ci")
                )
                .withColumnRenamed("g_sub", "sub")
            )
            return cbf.join(refined, ["sub", "code", "pos"], "left").select(
                "code", "sub", "pos",
                F.coalesce("r_ci", "ci").alias("ci"),
            )

        rows = None
        a = assign(cb)
        for s in range(_LLOYD_STEPS + 1):
            stat = a.agg(
                F.lit(s).cast("bigint").alias("step"),
                F.sum("dd").cast("bigint").alias("total_distortion"),
                (
                    F.lit(_PQ_SUB * _PQ_K) - F.count_distinct("sub", "code")
                )
                .cast("bigint")
                .alias("n_dead_codes"),
            )
            rows = stat if rows is None else rows.unionByName(stat)
            if s < _LLOYD_STEPS:
                cb = update(cb, a)
                a = assign(cb)
        w0 = Window.orderBy("step")
        gain = F.coalesce(
            F.lag("total_distortion").over(w0) - F.col("total_distortion"),
            F.lit(0),
        )
        return materialize(
            rows.select(
                "step",
                "total_distortion",
                "n_dead_codes",
                gain.cast("bigint").alias("gain"),
                F.round(
                    gain
                    * 1000000.0
                    / F.max("total_distortion").over(
                        Window.partitionBy()
                    )
                )
                .cast("bigint")
                .alias("gain_ppm_of_step0"),
            ).orderBy("step")
        )


# --------------------------------------------------------------------------
# IVFADC with the Lloyd-refined PQ codebook (ROADMAP round-13,
# pulled forward — "Stronger-codebook IVFADC", the direct attempt to
# flip ivf_adc_recall's pinned honest negative). The diagnostic
# chain so far: cells are balanced (ivf_cell_balance_audit), the
# toy codebook's distortion is the defect (pq_lloyd_refinement cuts
# it 28% in one step), and one step is where the gains live
# (pq_lloyd_convergence). This operator re-runs the IVFADC
# nprobe sweep with the ONE-STEP-REFINED subspace codebook —
# identical coarse probe, identical superset-ADC/nested-rank plan —
# so the row-by-row diff against ivf_adc_recall isolates the
# codebook's effect on end-to-end retrieval. The regime answer is
# pinned in tests, whichever way it lands.
# --------------------------------------------------------------------------
_IVF_ADC_LLOYD_ORACLE = f"""
    WITH {{IVF_CTES}},
    cb0 AS (
      SELECT vec_id AS code, ((pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             pos, xi AS ci
      FROM (SELECT vec_id, generate_subscripts(e, 1) AS pos,
                   CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
            FROM v WHERE vec_id < {_PQ_K}) t
    ),
    pq_dist0 AS (
      SELECT d.vec_id, ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             cb.code,
             CAST(SUM((d.xi - cb.ci) * (d.xi - cb.ci)) AS BIGINT) AS dd
      FROM dims d
      JOIN cb0 cb ON cb.pos = d.pos
                 AND cb.sub = ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM}
      GROUP BY 1, 2, 3
    ),
    pq_assigned0 AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM pq_dist0
      ) WHERE rn = 1
    ),
    refined AS (
      SELECT a.sub, a.code, d.pos,
             CAST(ROUND(SUM(d.xi) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
               AS ci
      FROM pq_assigned0 a
      JOIN dims d ON d.vec_id = a.vec_id
                 AND ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} = a.sub
      GROUP BY 1, 2, 3
    ),
    codebook AS (
      SELECT c.code, c.sub, c.pos, COALESCE(r.ci, c.ci) AS ci
      FROM cb0 c
      LEFT JOIN refined r ON r.sub = c.sub AND r.code = c.code
                         AND r.pos = c.pos
    ),
    pq_dist AS (
      SELECT d.vec_id, ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             cb.code,
             CAST(SUM((d.xi - cb.ci) * (d.xi - cb.ci)) AS BIGINT) AS dd
      FROM dims d
      JOIN codebook cb ON cb.pos = d.pos
                      AND cb.sub = ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM}
      GROUP BY 1, 2, 3
    ),
    pq_assigned AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM pq_dist
      ) WHERE rn = 1
    ),
    qcells AS (
      SELECT vec_id AS query_id, k,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dd, k) AS cell_rnk
      FROM dist WHERE vec_id < {N_QUERIES}
    ),
    need AS (
      SELECT qc.query_id, ac.vec_id AS neighbor_id,
             MIN(qc.cell_rnk) AS need_probe
      FROM qcells qc
      JOIN assigned ac ON ac.k = qc.k
      WHERE ac.vec_id <> qc.query_id
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT n.query_id, n.neighbor_id, n.need_probe,
             CAST(SUM((q.xi - cb.ci) * (q.xi - cb.ci)) AS BIGINT) AS dd
      FROM need n
      JOIN pq_assigned a ON a.vec_id = n.neighbor_id
      JOIN codebook cb ON cb.sub = a.sub AND cb.code = a.code
      JOIN dims q ON q.vec_id = n.query_id AND q.pos = cb.pos
      WHERE n.need_probe <= {max(_IVF_ADC_PROBES)}
      GROUP BY 1, 2, 3
    ),
    pr(nprobe) AS (VALUES {", ".join(f"({p})" for p in _IVF_ADC_PROBES)}),
    ranked AS (
      SELECT pr.nprobe, a.query_id, a.neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY pr.nprobe, a.query_id
                                ORDER BY a.dd, a.neighbor_id) AS rnk
      FROM adc a JOIN pr ON a.need_probe <= pr.nprobe
    ),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM((q.xi - c.xi) * (q.xi - c.xi)) AS BIGINT) AS dd
      FROM dims q
      JOIN dims c ON c.pos = q.pos AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dd, neighbor_id) AS rnk
        FROM exact
      ) WHERE rnk <= {TOP_K}
    ),
    vol AS (
      SELECT pr.nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM need n JOIN pr ON n.need_probe <= pr.nprobe
      GROUP BY 1
    ),
    hits AS (
      SELECT r.nprobe,
             CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT) AS n_hits
      FROM ranked r
      LEFT JOIN truth t ON t.query_id = r.query_id
                       AND t.neighbor_id = r.neighbor_id
      WHERE r.rnk <= {TOP_K}
      GROUP BY 1
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
    """


@operator(
    "ivf_adc_lloyd_recall",
    oracle=_IVF_ADC_LLOYD_ORACLE.replace("{IVF_CTES}", _IVF_CTES),
)
def ivf_adc_lloyd_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC nprobe sweep under the one-Lloyd-step PQ codebook (see
    block comment; plan identical to ivf_adc_recall plus the
    assignment/update refinement stage)."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select(
        "vec_id",
        ((F.col("pos0") * _PQ_SUB) / _PQ_DIM).cast("long").alias("sub"),
        (F.col("pos0") + 1).alias("pos"),
        grid.alias("xi"),
    )
    with with_persisted(dims) as dims_p:
        seeds = dims_p.filter(F.col("vec_id") < KMEANS_K).select(
            F.col("vec_id").alias("k"),
            F.col("pos").alias("s_pos"),
            F.col("xi").alias("si"),
        )
        cdist = (
            dims_p.join(F.broadcast(seeds), F.col("s_pos") == F.col("pos"))
            .groupBy("vec_id", "k")
            .agg(
                F.sum(
                    (F.col("xi") - F.col("si")) * (F.col("xi") - F.col("si"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        wc = Window.partitionBy("vec_id").orderBy("dd", "k")
        cell_rank = cdist.withColumn("rn", F.row_number().over(wc))
        assigned_cell = materialize(
            cell_rank.filter(F.col("rn") == 1).select("vec_id", "k")
        )
        qcells = materialize(
            cell_rank.filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id"),
                "k",
                F.col("rn").alias("cell_rnk"),
            )
        )
        need = materialize(
            qcells.join(
                assigned_cell.withColumnRenamed("vec_id", "neighbor_id"),
                "k",
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(F.min("cell_rnk").alias("need_probe"))
        )
        cb0 = (
            e.filter(F.col("vec_id") < _PQ_K)
            .select(
                F.col("vec_id").alias("cb_code"),
                F.posexplode(
                    F.transform("embedding", lambda x: x.cast("double"))
                ).alias("pos0", "x"),
            )
            .select(
                "cb_code",
                ((F.col("pos0") * _PQ_SUB) / _PQ_DIM)
                .cast("long")
                .alias("cb_sub"),
                (F.col("pos0") + 1).alias("cb_pos"),
                grid.alias("ci"),
            )
        )

        def pq_assign(cbf):
            dist0 = (
                dims_p.join(
                    F.broadcast(cbf),
                    (F.col("cb_pos") == F.col("pos"))
                    & (F.col("cb_sub") == F.col("sub")),
                )
                .groupBy("vec_id", "sub", F.col("cb_code").alias("code"))
                .agg(
                    F.sum(
                        (F.col("xi") - F.col("ci"))
                        * (F.col("xi") - F.col("ci"))
                    )
                    .cast("bigint")
                    .alias("dd")
                )
            )
            wp = Window.partitionBy("vec_id", "sub").orderBy("dd", "code")
            return materialize(
                dist0.withColumn("rn", F.row_number().over(wp))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", "code")
            )

        a0 = pq_assign(cb0)
        refined = (
            a0.select(
                F.col("vec_id").alias("a_vid"),
                F.col("sub").alias("a_sub"),
                "code",
            )
            .join(
                dims_p,
                (F.col("a_vid") == F.col("vec_id"))
                & (F.col("a_sub") == F.col("sub")),
            )
            .groupBy(
                F.col("a_sub").alias("cb_sub"),
                F.col("code").alias("cb_code"),
                F.col("pos").alias("cb_pos"),
            )
            .agg(
                F.round(F.sum("xi") / F.count(F.lit(1)).cast("double"))
                .cast("bigint")
                .alias("r_ci")
            )
        )
        codebook = (
            cb0.join(refined, ["cb_sub", "cb_code", "cb_pos"], "left")
            .select(
                "cb_code",
                "cb_sub",
                "cb_pos",
                F.coalesce("r_ci", "ci").alias("ci"),
            )
        )
        pq_assigned = pq_assign(codebook)
        rmax = max(_IVF_ADC_PROBES)
        qd = dims_p.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_qid"),
            F.col("pos").alias("q_pos"),
            F.col("xi").alias("qi"),
        )
        adc = (
            need.filter(F.col("need_probe") <= rmax)
            .join(
                pq_assigned.withColumnRenamed("vec_id", "neighbor_id"),
                "neighbor_id",
            )
            .join(
                F.broadcast(codebook),
                (F.col("cb_sub") == F.col("sub"))
                & (F.col("cb_code") == F.col("code")),
            )
            .join(
                F.broadcast(qd),
                (F.col("q_pos") == F.col("cb_pos"))
                & (F.col("q_qid") == F.col("query_id")),
            )
            .groupBy("query_id", "neighbor_id", "need_probe")
            .agg(
                F.sum(
                    (F.col("qi") - F.col("ci")) * (F.col("qi") - F.col("ci"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        wr = Window.partitionBy("query_id").orderBy(
            "dd", "neighbor_id"
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        flags = adc.select(
            "query_id",
            "neighbor_id",
            *[
                F.sum((F.col("need_probe") <= p).cast("long"))
                .over(wr)
                .alias(f"rnk_{p}")
                for p in _IVF_ADC_PROBES
            ],
            *[
                (F.col("need_probe") <= p).cast("int").alias(f"in_{p}")
                for p in _IVF_ADC_PROBES
            ],
        )
        stack_expr = ", ".join(
            f"CAST({p} AS BIGINT), in_{p} = 1 AND rnk_{p} <= {TOP_K}"
            for p in _IVF_ADC_PROBES
        )
        ranked = flags.select(
            "query_id",
            "neighbor_id",
            F.expr(
                f"stack({len(_IVF_ADC_PROBES)}, {stack_expr})"
                " AS (nprobe, in_top)"
            ),
        ).filter(F.col("in_top")).select("nprobe", "query_id", "neighbor_id")
        cx = dims_p.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("pos").alias("pos_c"),
            F.col("xi").alias("ci2"),
        )
        exact = (
            F.broadcast(
                dims_p.filter(F.col("vec_id") < N_QUERIES).select(
                    F.col("vec_id").alias("query_id"),
                    "pos",
                    F.col("xi").alias("qi"),
                )
            )
            .join(cx, F.col("pos_c") == F.col("pos"))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.sum(
                    (F.col("qi") - F.col("ci2"))
                    * (F.col("qi") - F.col("ci2"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        wt = Window.partitionBy("query_id").orderBy("dd", "neighbor_id")
        truth = (
            exact.withColumn("rnk", F.row_number().over(wt))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "neighbor_id", F.lit(1).alias("is_true"))
        )
        pr = spark.createDataFrame(
            [(p,) for p in _IVF_ADC_PROBES], "nprobe long"
        )
        vol = (
            need.crossJoin(F.broadcast(pr))
            .filter(F.col("need_probe") <= F.col("nprobe"))
            .groupBy("nprobe")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        )
        hits = (
            ranked.join(truth, ["query_id", "neighbor_id"], "left")
            .groupBy("nprobe")
            .agg(
                F.sum(F.coalesce("is_true", F.lit(0)))
                .cast("bigint")
                .alias("n_hits")
            )
        )
        return materialize(
            hits.join(vol, "nprobe")
            .select(
                F.col("nprobe").cast("bigint").alias("nprobe"),
                F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                F.round(
                    F.col("n_candidates").cast("double") / N_QUERIES, 6
                ).alias("mean_candidates"),
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / (N_QUERIES * TOP_K), 6
                ).alias("recall_at_5"),
            )
            .orderBy("nprobe")
        )
