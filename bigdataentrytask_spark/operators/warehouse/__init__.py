"""Warehouse-modeling & mining operator package (split from the
former single-module warehouse.py at its section boundaries; VERDICT
r12 item 5 / r13 item 3 — mechanical, zero behavior change):

* core       — shared IVM/CDC cores, frequent-itemset pairs,
               referential-integrity audits, SCD1/SCD2 history,
               linear attribution, snapshot diff/checksum, z-order
               locality, PIT joins, lifecycle/cadence rollups.
* audits     — expectation suites, skew/idempotence/zone-map/
               freshness audits, association rules, time-decay /
               position / Markov attribution, drift profiles, IVM
               join maintenance, FD audits, sort-order advisor.
* layout     — the round-10/11/12 physical-layout advisor surface
               (encodings, ranged sort, bucketing, partition sizing,
               compaction planning/pruning/floor sweep).
* compaction — the round-13/14 compaction-economics chain (workload-
               weighted sort, write amp, schedule amortizer, read
               bill, policy Pareto).

Submodules import in this fixed order: later ones compose earlier
ones' ORACLES and helpers at import time. Every top-level name is
re-exported here so
`from bigdataentrytask_spark.operators.warehouse import X` keeps
working for operators, oracles, and constants alike.
"""

from __future__ import annotations

from bigdataentrytask_spark.operators.warehouse.core import (  # noqa: F401,E402
    _t,
    merge_partial_aggs,
    diff_snapshots,
    apply_changelog,
    _BP_MIN_SUPPORT,
    basket_part_pairs,
    _RI_REPORT_COLS,
    _fk_check,
    _unique_check,
    _predicate_check,
    referential_integrity_audit,
    _SCD2_OPEN_END,
    scd2_priority_history,
    _ATTR_WINDOW,
    attribution_linear_multitouch,
    _SNAP_T1,
    snapshot_table_diff,
    _CKSUM_MOD,
    _row_hash_sql,
    table_checksum,
    _Z_EPOCH,
    _z_interleave_sql,
    zorder_locality_stats,
    segment_order_cadence,
    _RECO_K,
    _register_part_recommendations,
    _CDC_T1,
    _CDC_T2,
    cdc_apply_changelog,
    _PR_DAMP,
    _PR_TOPK,
    pagerank_step,
    _IVM_CUT,
    incremental_agg_merge,
    scd1_latest_merge,
    join_key_skew_stats,
    _BERN_PCT,
    bernoulli_hash_sample,
    temporal_sanity_audit,
    key_uniqueness_audit,
    _IDM_LO,
    _IDM_HI,
    incremental_dedup_merge,
    _register_pit_join,
    _SLA_DAYS,
    order_fill_rate_sla,
    user_lifecycle_stages,
    compact_changelogs,
    _NET_W,
    cdc_net_changes,
    _BAND_CENTS,
    price_band_join_bucketed,
    _RETAIN_N,
    key_version_retention,
)

from bigdataentrytask_spark.operators.warehouse.audits import (  # noqa: F401,E402
    value_range_expectations,
    _ASOF_TOL_US,
    asof_nearest_tolerance,
    _SKEW_BUCKETS,
    partition_skew_report,
    _IDEM_CUT,
    merge_idempotence_check,
    small_file_compaction_plan,
    zone_map_skipping_stats,
    variance_merge_check,
    source_freshness_lag,
    association_rules_metrics,
    attribution_time_decay,
    column_profile_drift,
    column_profile_drift_approx,
    _mk_exprs,
    _register_attribution_markov_removal,
    cluster_sample_design_effect,
    _IVM_CUTOFF,
    incremental_join_maintenance,
    join_cardinality_estimate,
    _FD_CANDIDATES,
    _fd_sql,
    functional_dependency_audit,
    _CKS_COLS,
    column_level_checksums,
    attribution_position_based,
    _SORT_ADVISOR_ORACLE,
    sort_order_advisor,
)

from bigdataentrytask_spark.operators.warehouse.layout import (  # noqa: F401,E402
    _DICT_COLS,
    _ceil_log2_case,
    _dict_advisor_oracle,
    dict_encoding_advisor,
    _rle_advisor_oracle,
    rle_bitpack_advisor,
    _SORT_ADVISOR_RANGED_ORACLE,
    sort_order_advisor_ranged,
    _BUCKET_CANDIDATES,
    _BUCKET_PLANNING_ORACLE,
    bucketed_join_planning,
    _PART_MIN_ROWS,
    _PART_ADVISOR_ORACLE,
    partition_size_advisor,
    _COMPACT_TARGET_ROWS,
    _COMPACTION_ORACLE,
    compaction_planner,
    _BS_JOINT_BUCKETS,
    _BS_JOINT_ORACLE,
    bucket_sort_joint_advisor,
    _CZP_PREDS,
    _CZP_ORACLE,
    compacted_zone_pruning,
    _SKB_RG_ROWS,
    _SKB_CANDS,
    _SKB_PRED_SQL,
    _skb_overlap_sql,
    _SKB_ORACLE,
    sort_key_benefit_ranking,
    _CFS_FLOORS,
    _CFS_ORACLE,
    compaction_floor_sweep,
)

from bigdataentrytask_spark.operators.warehouse.compaction import (  # noqa: F401,E402
    _WSA_WEIGHT_PCT,
    _WSA_ORACLE,
    workload_weighted_sort_advisor,
    _CWA_ORACLE,
    compaction_write_amp,
    _CSA_ORACLE,
    compaction_schedule_amortizer,
    _CRB_ORACLE,
    compaction_read_bill,
    _CPP_ORACLE,
    compaction_policy_pareto,
)
