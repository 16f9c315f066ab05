"""Round-11 operator slate (VERDICT r9 item 6): the 22 operators
added during round 10, each with its oracle differential and
per-operator invariants.

Differentials go through DuckDB's PANDAS path with the dtype check
(the preverify gate) so the HUGEINT class is covered before any op
reaches the driver.
"""

from __future__ import annotations

import pytest

from bigdataentrytask_spark.operators import ORACLES, REGISTRY, load_all

from .conftest import SF_DIR, assert_matches_oracle

# Staged-slate suite: excluded from the default driver gate (see
# pytest.ini); run with `pytest -m slow`.
pytestmark = pytest.mark.slow

load_all()

STAGED_NAMES = (
    "allowed_lateness_sweep",
    "asymmetric_binary_retrieval",
    "bucket_sort_joint_advisor",
    "bucketed_join_planning",
    "compaction_planner",
    "contamination_source_crosstab",
    "cross_source_duplicate_flow",
    "dedup_order_sensitivity",
    "domain_mix_planner",
    "intra_doc_repetition_audit",
    "ivf_adc_recall",
    "multiprobe_schedule_advisor",
    "partition_size_advisor",
    "pq_adc_recall",
    "quality_pruning_curve",
    "quality_threshold_pruning",
    "quantization_pareto_table",
    "session_gap_state_cost",
    "sort_order_advisor_ranged",
    "substring_dedup_prod",
    "trigger_lateness_joint_cost",
    "two_hop_expansion_ceiling",
)


def test_round11_staged_all_have_oracles():
    for name in STAGED_NAMES:
        fn, osql = REGISTRY[name], ORACLES[name]
        assert callable(fn) and isinstance(osql, str) and "SELECT" in osql
        assert "{" not in osql, f"{name}: unexpanded template in oracle"


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_matches_oracle(spark, duck, name):
    fn, osql = REGISTRY[name], ORACLES[name]
    assert_matches_oracle(fn(spark, SF_DIR), duck, osql, name)


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_pandas_dtype_parity(spark, duck, name):
    """The preverify gate: DuckDB's pandas fetch must not coerce an
    integral column to float64 (HUGEINT fingerprint) while the Spark
    side stays integral."""
    fn, osql = REGISTRY[name], ORACLES[name]
    spdf = fn(spark, SF_DIR).toPandas()
    odf = duck.execute(osql).fetch_df()
    assert sorted(spdf.columns) == sorted(odf.columns)
    for c in odf.columns:
        if spdf[c].dtype.kind in "iu":
            assert odf[c].dtype.kind in "iu", (
                f"{name}.{c}: oracle {odf[c].dtype} vs spark {spdf[c].dtype}"
            )


def test_substring_prod_equals_audit_twin(spark):
    """The entire point of the production twin: the xxhash64 gram
    payload reproduces the exact-gram answer bit-for-bit (collision-
    free at audit scale by the 2^-64 argument in the block comment)."""
    from bigdataentrytask_spark.operators.dedup import (
        substring_dedup_audit,
        substring_dedup_prod,
    )

    exact = substring_dedup_audit(spark, SF_DIR).toPandas()
    prod = substring_dedup_prod(spark, SF_DIR).toPandas()
    assert exact.equals(prod)


def test_dedup_order_sensitivity_partition(spark):
    fn = REGISTRY["dedup_order_sensitivity"]
    row = fn(spark, SF_DIR).toPandas().iloc[0]
    assert row.n_keeper_same + row.n_keeper_diff == row.n_texts
    assert row.n_dup_groups <= row.n_texts <= row.n_docs
    # keepers can only differ inside duplicate groups
    assert row.n_keeper_diff <= row.n_dup_groups


def test_dedup_order_sensitivity_nonzero_drift(spark, tmp_path):
    """ADVICE r10: the original policy B ranked on n_chars, constant
    within an exact-text group, so drift was provably 0. Pin the
    repaired source-priority policy on a corpus where it MUST flip a
    keeper: doc 1 (crawl) and doc 2 (curated) share a text — id-order
    keeps 1, source-order keeps 2."""
    import pandas as pd

    rows = [
        (1, "the same text", "en", "crawl", 13),
        (2, "the same text", "en", "archive", 13),
        (3, "another text entirely", "en", "crawl", 21),
        (4, "another text entirely", "en", "crawl", 21),
        (5, "a unique document", "en", "wiki", 17),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )
    fn = REGISTRY["dedup_order_sensitivity"]
    row = fn(spark, sf).toPandas().iloc[0]
    assert row.n_texts == 3 and row.n_docs == 5 and row.n_dup_groups == 2
    # group "the same text": id policy -> 1, source policy -> 2 (diff)
    # group "another text entirely": same source, tiebreak agrees
    assert row.n_keeper_diff == 1 and row.n_keeper_same == 2


def test_contamination_crosstab_invariants(spark):
    fn = REGISTRY["contamination_source_crosstab"]
    pdf = fn(spark, SF_DIR).toPandas()
    # every surviving source appears with both eval sets
    assert (pdf.groupby("source").size() == 2).all()
    assert (pdf.n_contaminated <= pdf.n_docs).all()
    assert (pdf.contamination_ppm <= 1_000_000).all()
    flagged = pdf[pdf.exceeds_gate]
    assert (flagged.contamination_ppm > 100_000).all()


def test_asymmetric_beats_symmetric_here(spark):
    """The asymmetric-distance observation (full-precision query vs
    sign-bit corpus) must recover recall over symmetric Hamming on
    this corpus — a sign flip means the corpus regen changed regime,
    worth knowing (the residual_pq honest-pin pattern)."""
    fn = REGISTRY["asymmetric_binary_retrieval"]
    row = fn(spark, SF_DIR).toPandas().iloc[0]
    assert row.n_hits_asym >= row.n_hits_sym
    assert row.n_hits_asym <= row.n_queries * 5
    assert 0.0 <= row.recall_sym <= row.recall_asym <= 1.0


def test_two_hop_curve_monotone(spark):
    """Candidate supersets: volumes grow by construction, and recall
    cannot drop (a candidate displacing a truth hit from the exact-
    cosine top-5 must itself rank in the global top-5, i.e. be truth)."""
    fn = REGISTRY["two_hop_expansion_ceiling"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("stage")
    a, b, c = (
        pdf.loc["a_lsh"], pdf.loc["b_1hop"], pdf.loc["c_2hop"]
    )
    assert a.mean_candidates <= b.mean_candidates <= c.mean_candidates
    assert a.n_hits <= b.n_hits <= c.n_hits
    assert (pdf.n_hits <= pdf.n_queries * 5).all()


def test_ranged_advisor_brackets_global(spark):
    """The documented error bound: per-range run counts equal the
    global count plus at most one extra run per range boundary."""
    g_fn = REGISTRY["sort_order_advisor"]
    r_fn = REGISTRY["sort_order_advisor_ranged"]
    g = (
        g_fn(spark, SF_DIR)
        .toPandas()
        .set_index(["ordering", "col_name"])
        .loc["shipdate"]
    )
    r = r_fn(spark, SF_DIR).toPandas().set_index("col_name")
    for col in r.index:
        lo = g.loc[col, "n_runs"]
        hi = lo + r.loc[col, "n_ranges"] - 1
        assert lo <= r.loc[col, "n_runs_ranged"] <= hi, col


def test_bucket_planning_invariants(spark):
    fn = REGISTRY["bucketed_join_planning"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert pdf.li_rows.nunique() == 1  # row counts don't depend on B
    assert pdf.ord_rows.nunique() == 1
    assert (pdf.li_buckets_used <= pdf.bucket_count).all()
    # max bucket must cover at least the mean
    assert (
        pdf.max_li_bucket * pdf.bucket_count >= pdf.li_rows
    ).all()
    assert (pdf.li_skew_ppm >= 1_000_000).all()


def test_partition_advisor_invariants(spark):
    fn = REGISTRY["partition_size_advisor"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("candidate")
    assert pdf.total_rows.nunique() == 1
    assert (pdf.min_rows <= pdf.max_rows).all()
    assert (pdf.skew_ppm >= 1_000_000).all()
    assert pdf.loc["o_orderpriority", "n_partitions"] == 5
    assert pdf.loc["o_orderstatus", "n_partitions"] <= 3


def test_intra_doc_repetition_invariants(spark):
    fn = REGISTRY["intra_doc_repetition_audit"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert (pdf.mean_rep_ppm <= pdf.max_rep_ppm).all()
    assert (pdf.max_rep_ppm <= 1_000_000).all()
    assert (pdf.n_flagged <= pdf.n_docs).all()


def test_domain_mix_invariants(spark):
    fn = REGISTRY["domain_mix_planner"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert abs(pdf.token_share_ppm.sum() - 1_000_000) <= len(pdf)
    assert (pdf.uniform_weight_ppm <= 4_000_000).all()
    # clamped rows sit exactly at the ceiling
    assert (
        pdf[pdf.weight_clamped].uniform_weight_ppm == 4_000_000
    ).all()


def test_lateness_sweep_monotone(spark):
    fn = REGISTRY["allowed_lateness_sweep"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("delay_us")
    # drops fall and re-emits rise as the delay grows
    assert pdf.n_dropped.is_monotonic_decreasing
    assert pdf.n_late_kept.is_monotonic_increasing
    z = pdf[pdf.delay_us == 0].iloc[0]
    assert z.n_late_kept == 0 and z.n_windows_updated == 0
    # every late-kept row lands in some window
    late = pdf[pdf.n_late_kept > 0]
    assert (late.n_windows_updated <= late.n_late_kept).all()
    assert (late.n_windows_updated >= 1).all()
    # conservation: dropped + late_kept = all late events, any delay
    assert (pdf.n_dropped + pdf.n_late_kept == z.n_dropped).all()


def test_pruning_curve_monotone(spark):
    fn = REGISTRY["quality_pruning_curve"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("drop_frac_ppm")
    assert pdf.n_docs_kept.is_monotonic_decreasing
    assert pdf.tokens_kept.is_monotonic_decreasing
    assert pdf.kept_score_e6.is_monotonic_decreasing
    assert (pdf.token_retention_ppm <= 1_000_000).all()
    # pruning by score keeps the BEST docs: kept mean score must not
    # fall as the cut deepens
    mean_score = pdf.kept_score_e6 / pdf.n_docs_kept
    assert mean_score.is_monotonic_increasing


def test_threshold_pruning_gates_and_consistency(spark, duck):
    """The sketch gate booleans must be TRUE (contract held) and the
    exact columns must agree with the exact curve: the exact kept
    count at cut f can exceed the nominal cut only by threshold
    ties."""
    fn = REGISTRY["quality_threshold_pruning"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("drop_frac_ppm")
    assert pdf.sketch_rank_ok.all() and pdf.kept_gap_ok.all()
    curve_fn = REGISTRY["quality_pruning_curve"]
    curve = curve_fn(spark, SF_DIR).toPandas().set_index("drop_frac_ppm")
    for f in pdf.index:
        nominal = pdf.loc[f, "n_total"] - (pdf.loc[f, "n_total"] * f) // 1_000_000
        assert pdf.loc[f, "n_kept_exact"] >= nominal
        # the rank-based curve keeps EXACTLY the nominal count
        assert curve.loc[f, "n_docs_kept"] == nominal


def test_cross_source_flow_invariants(spark):
    fn = REGISTRY["cross_source_duplicate_flow"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert len(pdf) > 0  # chunk granularity must carry content at sf0.01
    assert (pdf.src_lo < pdf.src_hi).all()
    assert (pdf.n_shared_chunks >= 1).all()
    assert (pdf.overlap_ppm_of_smaller <= 1_000_000).all()


def test_trigger_lateness_joint_invariants(spark):
    fn = REGISTRY["trigger_lateness_joint_cost"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert (pdf.total_emits >= pdf.n_windows).all()
    assert (pdf.re_emits == pdf.total_emits - pdf.n_windows).all()
    # zero allowed lateness -> in-order-front rows only; a window can
    # still span trigger batches, but emits can never exceed kept rows
    assert (pdf.total_emits <= pdf.n_kept).all()
    # longer trigger batches late rows into fewer or equal re-fires
    for lbl in pdf.delay_label.unique():
        sub = pdf[pdf.delay_label == lbl].sort_values("trigger_s")
        assert sub.re_emits.is_monotonic_decreasing or (
            sub.re_emits.iloc[0] == sub.re_emits.iloc[-1]
        )
    # longer delay keeps more rows
    for t in pdf.trigger_s.unique():
        sub = pdf[pdf.trigger_s == t].sort_values("delay_label")
        assert sub.n_kept.is_monotonic_increasing


def test_compaction_planner_invariants(spark, duck):
    fn = REGISTRY["compaction_planner"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("group_id").reset_index(
        drop=True
    )
    # the floor rule's only under-fill mode: a group below the file
    # floor must either follow an oversized month's overshoot
    # (spans_from_prev) or be the final group
    under = pdf[pdf.under_target]
    last_gid = pdf.group_id.iloc[-1]
    assert (
        under.spans_from_prev | (under.group_id == last_gid)
    ).all()
    # adjacency: group month ranges must not interleave
    assert (
        pdf.last_month.iloc[:-1].values <= pdf.first_month.iloc[1:].values
    ).all()
    # conservation vs the raw table
    total = duck.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    assert pdf.n_rows.sum() == total


def test_pareto_table_consistency(spark):
    """The pareto rows must equal their source operators' numbers and
    be self-consistent (the full-precision anchor dominates)."""
    fn = REGISTRY["quantization_pareto_table"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("config")
    assert pdf.loc["a_full_f32", "recall_at_5"] == 1.0
    assert (pdf.recall_at_5 <= 1.0).all()
    # asymmetric scoring beats symmetric at identical bytes
    assert (
        pdf.loc["c_binary_asym", "recall_at_5"]
        >= pdf.loc["d_binary_sym", "recall_at_5"]
    )
    m_fn = REGISTRY["matryoshka_recall_sweep"]
    m = m_fn(spark, SF_DIR).toPandas().set_index("d_prefix")
    for d in (8, 16, 32):
        assert (
            pdf.loc[f"b_matryoshka_d{d}", "recall_at_5"]
            == m.loc[d, "recall_at_5"]
        )


def test_probe_schedule_monotone(spark):
    """Nested radii: volume and recall can only grow with the probe
    radius; radius 0 must equal the plain LSH bucket recall (same
    candidate set as graph-expansion stage a)."""
    fn = REGISTRY["multiprobe_schedule_advisor"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("probe_radius")
    assert pdf.mean_candidates.is_monotonic_increasing
    assert pdf.n_hits.is_monotonic_increasing
    assert (pdf.n_hits <= pdf.n_queries * 5).all()
    fn2 = REGISTRY["two_hop_expansion_ceiling"]
    a = fn2(spark, SF_DIR).toPandas().set_index("stage").loc["a_lsh"]
    r0 = pdf[pdf.probe_radius == 0].iloc[0]
    assert r0.n_hits == a.n_hits
    assert r0.mean_candidates == a.mean_candidates


def test_session_state_cost_invariants(spark, duck):
    fn = REGISTRY["session_gap_state_cost"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("gap_s")
    # a larger gap merges sessions: fewer sessions, each longer
    assert pdf.n_sessions.is_monotonic_decreasing
    assert pdf.mean_events_ppm.is_monotonic_increasing
    assert (pdf.max_concurrent_state >= 1).all()
    assert (pdf.max_concurrent_state <= pdf.n_sessions).all()
    # state ceiling: never more open sessions than distinct users
    n_users = duck.execute(
        "SELECT COUNT(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    assert (pdf.max_concurrent_state <= n_users).all()
    # event conservation across sessionizations
    n_ev = duck.execute("SELECT COUNT(*) FROM events").fetchone()[0]
    assert (
        (pdf.n_sessions * pdf.mean_events_ppm / 1_000_000).round()
        == n_ev
    ).all()


def test_bucket_sort_joint_invariants(spark):
    """Bucketing splinters date clustering: runs grow with B, and the
    B=1 baseline equals the global shipdate-sort run count the
    sort-order advisor reports."""
    fn = REGISTRY["bucket_sort_joint_advisor"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("bucket_count")
    assert pdf.n_rows.nunique() == 1
    assert pdf.n_runs_shipdate.is_monotonic_increasing
    assert pdf.avg_run_len_ppm.is_monotonic_decreasing
    g_fn = REGISTRY["sort_order_advisor"]
    g = (
        g_fn(spark, SF_DIR)
        .toPandas()
        .set_index(["ordering", "col_name"])
        .loc[("shipdate", "l_shipdate"), "n_runs"]
    )
    assert pdf[pdf.bucket_count == 1].n_runs_shipdate.iloc[0] == g


def test_pq_adc_recall_invariants(spark):
    fn = REGISTRY["pq_adc_recall"]
    row = fn(spark, SF_DIR).toPandas().iloc[0]
    assert row.bytes_per_vec == 2
    assert 0 <= row.n_hits <= row.n_queries * 5
    # 16-dim subspace quantization must retain SOME signal: strictly
    # better than random (random recall ~ 5/499 ~ 0.01)
    assert row.recall_at_5 >= 0.05


def test_ivf_adc_invariants(spark):
    """Volume grows with nprobe by construction. Recall FALLS here
    (0.36 -> 0.32): with a 16-centroid toy codebook, widening the
    candidate pool admits quantization-error imposters that displace
    true hits from the ADC top-5 — the classic weak-codebook IVFADC
    regime (probes only buy recall when the quantizer is strong).
    Pinned as a regime detector (the residual_pq honest-negative
    pattern); a flip means the corpus or codebook regime changed."""
    fn = REGISTRY["ivf_adc_recall"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("nprobe")
    assert pdf.mean_candidates.is_monotonic_increasing
    assert (pdf.n_hits <= pdf.n_queries * 5).all()
    assert pdf.n_hits.is_monotonic_decreasing
    # nprobe=1 ADC recall cannot beat the all-cells ADC ceiling by
    # more than quantization noise allows: cross-check against
    # pq_adc_recall (same codebook, no cell filter)
    pq_fn = REGISTRY["pq_adc_recall"]
    pq = pq_fn(spark, SF_DIR).toPandas().iloc[0]
    assert abs(int(pdf.n_hits.iloc[0]) - int(pq.n_hits)) <= 5
