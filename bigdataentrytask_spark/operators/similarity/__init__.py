"""Similarity / retrieval operator package (split from the former
single-module similarity.py at its section boundaries; VERDICT r11
item 7 — mechanical, zero behavior change):

* core         — embedding load, norms, brute-force kNN, LSH codes/
                 buckets, near-dup pair kernels, centroids, IVF CTEs,
                 PQ assignment (the shared machinery).
* diagnostics  — pair compositions, recall/ndcg eval, bucket balance,
                 matryoshka, drift/variance/isotropy/hubness audits.
* quantization — round-10/11 PQ/HNSW/binary-quant/ADC recall surface.
* codebook     — round-12 codebook diagnostic chain (cell balance,
                 Lloyd refinement/convergence, candidate budgets,
                 seed spread, IVFADC-under-Lloyd).
* lloyd        — round-13 coarse-quantizer (cell-side) Lloyd chain
                 (split from codebook.py at its round-section
                 boundary — mechanical, zero behavior change).
* residual     — round-14 residual-PQ 2x2 completion (same split).

Submodules import in this fixed order: later ones compose earlier
ones' ORACLES at import time. Every top-level name is re-exported
here so `from bigdataentrytask_spark.operators.similarity import X`
keeps working for operators, oracles, and constants alike.
"""

from __future__ import annotations

from bigdataentrytask_spark.operators.similarity.core import (  # noqa: F401,E402
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

from bigdataentrytask_spark.operators.similarity.diagnostics import (  # noqa: F401,E402
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

from bigdataentrytask_spark.operators.similarity.quantization import (  # noqa: F401,E402
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

from bigdataentrytask_spark.operators.similarity.codebook import (  # noqa: F401,E402
    _CELL_BALANCE_ORACLE,
    ivf_cell_balance_audit,
    _LLOYD_ORACLE,
    pq_lloyd_refinement,
    _CBR_BUDGETS,
    _CBR_ORACLE,
    candidate_budget_recall,
    _SEED_SPREAD_ORACLE,
    seed_spread_advisor,
    _LLOYD_STEPS,
    _sql_lloyd_chain,
    _LLOYD_CONV_ORACLE,
    pq_lloyd_convergence,
    _IVF_ADC_LLOYD_ORACLE,
    ivf_adc_lloyd_recall,
)

from bigdataentrytask_spark.operators.similarity.lloyd import (  # noqa: F401,E402
    _CELL_PROBES,
    _CELL_LLOYD_ORACLE,
    ivf_cell_lloyd_probe,
    _QBP_BUDGETS,
    _QBP_PREFIX,
    _QBP_ORACLE,
    quantization_budget_pareto,
    _CELL_CONV_STEPS,
    _cell_conv_oracle,
    ivf_cell_lloyd_convergence,
)

from bigdataentrytask_spark.operators.similarity.residual import (  # noqa: F401,E402
    _IVF_ADC_2X2_ORACLE,
    ivf_adc_refined_joint_recall,
    _RPQ_REFINED_ORACLE,
    residual_pq_refined_cells,
    _RESIDUAL_ADC_ORACLE,
    residual_adc_recall,
    _RCU_ORACLE,
    residual_code_utilization,
    _ART_ORACLE,
    adc_recall_tail,
)
