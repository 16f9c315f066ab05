"""Round-14 operator slate (ROADMAP §"Round 14+"): the 14 operators
added during round 13, each with its oracle differential and
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
    "adc_recall_tail",
    "compaction_policy_pareto",
    "compaction_read_bill",
    "compaction_schedule_amortizer",
    "dedup_ttl_policy_joint",
    "funnel_order_sensitivity",
    "funnel_threshold_provenance",
    "gate_stacking_ledger",
    "ivf_adc_refined_joint_recall",
    "post_gate_mix_rebalance",
    "residual_adc_recall",
    "residual_code_utilization",
    "residual_pq_refined_cells",
    "trigger_sampling_deficit",
)


def test_round14_staged_all_have_oracles():
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


# ------------------------------------------------------------ warehouse


def test_compaction_schedule_amortizer_frontier(spark):
    """The pinned schedule frontier: eager pays the largest write
    bill but holds the fewest live files; at_end pays the on_close
    bill but keeps every part loose; on_close sits between on BOTH
    axes. The on_close rewrite bill is exactly compaction_write_amp's
    end-state number per floor."""
    fn = REGISTRY["compaction_schedule_amortizer"]
    pdf = fn(spark, SF_DIR).toPandas().set_index(["floor_rows", "policy"])
    wa = (
        REGISTRY["compaction_write_amp"](spark, SF_DIR)
        .toPandas()
        .set_index("floor_rows")
    )
    for f in wa.index:
        eager = pdf.loc[(f, "eager")]
        close = pdf.loc[(f, "on_close")]
        end = pdf.loc[(f, "at_end")]
        # one ingest total, all policies
        assert eager.rows_ingested == close.rows_ingested == end.rows_ingested
        # write bill: eager >= on_close == at_end (== the end-state op)
        assert eager.rows_rewritten >= close.rows_rewritten
        assert close.rows_rewritten == end.rows_rewritten
        assert close.rows_rewritten == wa.loc[f, "rows_rewritten"]
        assert close.rows_ingested == wa.loc[f, "rows_total"]
        assert close.write_amp_ppm == wa.loc[f, "write_amp_ppm"]
        # file-count cost: eager <= on_close <= at_end, strictly at
        # the ends (multi-part groups exist at every audited floor)
        assert eager.mean_live_files_e3 < close.mean_live_files_e3
        assert close.mean_live_files_e3 < end.mean_live_files_e3
        assert eager.max_live_files <= close.max_live_files
        assert close.max_live_files <= end.max_live_files
    # at_end's live-file trajectory is schedule-independent: the same
    # (n_months) max at every floor
    ends = pdf.xs("at_end", level="policy")
    assert ends.max_live_files.nunique() == 1
    # larger floors merge more aggressively on arrival: eager's write
    # bill grows with the floor
    eagers = pdf.xs("eager", level="policy").sort_index()
    assert eagers.rows_rewritten.is_monotonic_increasing


# ------------------------------------------------------------ streaming


def test_dedup_ttl_policy_joint_cross_pins(spark):
    """Sampling never exceeds the continuous endpoint sweep: per TTL,
    the sampled per-policy peaks are bounded by the twins' continuous
    peak_state_keys — and on this corpus the 60 s trigger samples
    densely enough to HIT both continuous peaks exactly."""
    fn = REGISTRY["dedup_ttl_policy_joint"]
    pdf = fn(spark, SF_DIR).toPandas()
    sl = (
        REGISTRY["dedup_ttl_state_projection"](spark, SF_DIR)
        .toPandas()
        .set_index("ttl_s")
    )
    fx = (
        REGISTRY["dedup_ttl_fixed_twin"](spark, SF_DIR)
        .toPandas()
        .set_index("ttl_s")
    )
    for _, r in pdf.iterrows():
        assert r.peak_sliding_rows <= sl.loc[r.ttl_s, "peak_state_keys"]
        assert r.peak_fixed_rows <= fx.loc[r.ttl_s, "peak_state_keys"]
        assert r.peak_sliding_bytes == r.peak_sliding_rows * 48
        assert r.peak_fixed_bytes == r.peak_fixed_rows * 48
        assert (
            r.delta_peak_bytes
            == r.peak_fixed_bytes - r.peak_sliding_bytes
        )
    # the 60 s trigger samples densely enough to sit within one key
    # of the continuous peak everywhere, and to HIT it at most TTLs
    # (the ttl=1800 peak lives between ticks on this corpus — the
    # honest sampling gap the joint table exists to make visible)
    at60 = pdf[pdf.trigger_s == 60].set_index("ttl_s")
    s_gap = sl.loc[at60.index, "peak_state_keys"] - at60.peak_sliding_rows
    f_gap = fx.loc[at60.index, "peak_state_keys"] - at60.peak_fixed_rows
    assert ((s_gap >= 0) & (s_gap <= 1)).all()
    assert ((f_gap >= 0) & (f_gap <= 1)).all()
    assert (s_gap == 0).sum() >= 2
    assert (f_gap == 0).sum() >= 2
    # denser trigger -> more batches, never fewer peak rows
    for ttl in at60.index:
        a, b = (
            pdf[(pdf.ttl_s == ttl) & (pdf.trigger_s == 60)].iloc[0],
            pdf[(pdf.ttl_s == ttl) & (pdf.trigger_s == 300)].iloc[0],
        )
        assert a.n_batches > b.n_batches
        assert a.peak_sliding_rows >= b.peak_sliding_rows
        assert a.peak_fixed_rows >= b.peak_fixed_rows
    # the stores genuinely CROSS (why marginal peaks don't subtract):
    # some batch has sliding retention outliving the fixed anchor
    assert (pdf.max_sliding_over_fixed > 0).any()
    # longer memory, bigger store — both policies monotone in TTL
    for tr in (60, 300):
        sub = pdf[pdf.trigger_s == tr].sort_values("ttl_s")
        assert sub.peak_sliding_rows.is_monotonic_increasing
        assert sub.peak_fixed_rows.is_monotonic_increasing


# ------------------------------------------------------------- curation


def test_gate_stacking_ledger_funnel(spark):
    """Monotone funnel per source on both axes, with stage totals
    pinned against the standalone gates: stage-1 survivors are
    exactly dedup_exact's group count, and the raw mass is exactly
    the documents table."""
    fn = REGISTRY["gate_stacking_ledger"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert (pdf.n_raw >= pdf.n_dedup).all()
    assert (pdf.n_dedup >= pdf.n_ppl).all()
    assert (pdf.n_ppl >= pdf.n_quality).all()
    assert (pdf.tok_raw >= pdf.tok_dedup).all()
    assert (pdf.tok_dedup >= pdf.tok_ppl).all()
    assert (pdf.tok_ppl >= pdf.tok_quality).all()
    assert (pdf.kept_docs_ppm <= 1_000_000).all()
    assert (pdf.kept_tokens_ppm <= 1_000_000).all()
    dexact = REGISTRY["dedup_exact"](spark, SF_DIR).toPandas()
    # dedup_exact's dup_cnt partitions the corpus; its group count is
    # exactly the stage-1 survivor total
    assert pdf.n_raw.sum() == dexact.dup_cnt.sum()
    assert pdf.n_dedup.sum() == len(dexact)
    # every gate bites somewhere on this corpus
    assert pdf.n_ppl.sum() < pdf.n_dedup.sum()
    assert pdf.n_quality.sum() < pdf.n_ppl.sum()


def test_post_gate_mix_rebalance_closes_the_loop(spark):
    """The raw-side weights are EXACTLY domain_mix_planner's (same
    clamp, same rounding), kept mass never exceeds raw mass, the
    kept shares re-normalize to ~1e6, and the shift column is the
    signed difference it claims to be."""
    fn = REGISTRY["post_gate_mix_rebalance"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("source")
    mix = (
        REGISTRY["domain_mix_planner"](spark, SF_DIR)
        .toPandas()
        .set_index("source")
    )
    assert set(pdf.index) == set(mix.index)
    for s in pdf.index:
        assert (
            pdf.loc[s, "weight_raw_ppm"]
            == mix.loc[s, "uniform_weight_ppm"]
        )
        assert pdf.loc[s, "n_tokens_kept"] <= mix.loc[s, "n_tokens"]
        assert (
            pdf.loc[s, "weight_shift_ppm"]
            == pdf.loc[s, "weight_kept_ppm"] - pdf.loc[s, "weight_raw_ppm"]
        )
    assert abs(pdf.token_share_kept_ppm.sum() - 1_000_000) <= len(pdf)
    # the gate moved the mix, so at least one weight had to move
    assert (pdf.weight_shift_ppm != 0).any()
    # and re-balancing is zero-ish-sum: shifts can't all point one way
    assert (pdf.weight_shift_ppm > 0).any()
    assert (pdf.weight_shift_ppm < 0).any()


# ----------------------------------------------------------- similarity


def test_ivf_adc_refined_joint_completes_2x2(spark):
    """The missing quadrant's schema matches both siblings row-for-
    row on the sweep axis, its candidate volumes stay sane, and the
    refined coarse quantizer genuinely moves the candidate sets (the
    two refinements are not redundant)."""
    fn = REGISTRY["ivf_adc_refined_joint_recall"]
    joint = fn(spark, SF_DIR).toPandas().set_index("nprobe")
    lloyd = (
        REGISTRY["ivf_adc_lloyd_recall"](spark, SF_DIR)
        .toPandas()
        .set_index("nprobe")
    )
    assert list(joint.columns) == list(lloyd.columns)
    assert list(joint.index) == list(lloyd.index) == [1, 2, 4]
    assert (joint.n_queries == 10).all()
    assert ((joint.recall_at_5 >= 0) & (joint.recall_at_5 <= 1)).all()
    assert joint.mean_candidates.is_monotonic_increasing
    assert (joint.n_hits <= 10 * 5).all()
    # refined cells re-shape the inverted lists: candidate volume
    # differs from the toy-cell sweep somewhere
    assert (joint.mean_candidates != lloyd.mean_candidates).any()


def test_residual_pq_refined_cells_sign_flips(spark):
    """The queued question, answered and pinned: the toy-seed
    residual trade is NEGATIVE in every subspace (the original op's
    honest negative, recomputed bit-for-bit), and ONE cell-Lloyd
    step flips it POSITIVE in every subspace — residual variance
    drops below raw variance once the coarse centroids are real."""
    fn = REGISTRY["residual_pq_refined_cells"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("sub")
    base = (
        REGISTRY["residual_pq_distortion"](spark, SF_DIR)
        .toPandas()
        .set_index("sub")
    )
    for s in pdf.index:
        assert pdf.loc[s, "flat_sq_error"] == base.loc[s, "flat_sq_error"]
        assert (
            pdf.loc[s, "resid_toy_sq_error"]
            == base.loc[s, "residual_sq_error"]
        )
        assert pdf.loc[s, "gain_toy_ppm"] == base.loc[s, "gain_ppm"]
    assert (pdf.gain_toy_ppm < 0).all()
    assert (pdf.gain_lloyd_ppm > 0).all()
    assert pdf.sign_flipped.all()
    # the refined residual beats BOTH baselines outright
    assert (pdf.resid_lloyd_sq_error < pdf.flat_sq_error).all()
    assert (pdf.resid_lloyd_sq_error < pdf.resid_toy_sq_error).all()


def test_funnel_order_sensitivity_is_real(spark):
    """The absolute quality cut means only the ppl THRESHOLDS move
    under re-ordering — but they do move, and both directions of
    unique keeps occur on this corpus. Consistency: n_final_a is
    exactly gate_stacking_ledger's n_quality (order A IS the
    ledger's funnel)."""
    fn = REGISTRY["funnel_order_sensitivity"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("source")
    ledger_fn = REGISTRY["gate_stacking_ledger"]
    ledger = ledger_fn(spark, SF_DIR).toPandas().set_index("source")
    for s in pdf.index:
        assert pdf.loc[s, "n_final_a"] == ledger.loc[s, "n_quality"]
        assert pdf.loc[s, "tok_final_a"] == ledger.loc[s, "tok_quality"]
        # unique-keep columns decompose the count delta exactly
        assert (
            pdf.loc[s, "n_final_a"] - pdf.loc[s, "n_final_b"]
            == pdf.loc[s, "only_a"] - pdf.loc[s, "only_b"]
        )
    # the sf0.01 verdict, pinned: this corpus is order-INSENSITIVE —
    # no (lang, source) threshold crosses a kept doc's score when the
    # quality-cut docs leave the ranking population. That "certified
    # insensitive" answer is the audit's product; the machinery's
    # ability to detect real divergence is exercised by the
    # adversarial random-input differential suite (and sf0.001, where
    # src15 diverges by one doc / -43544 ppm).
    assert (pdf.only_a + pdf.only_b).sum() == 0
    assert (pdf.order_delta_ppm == 0).all()
    assert (pdf.n_final_a == pdf.n_final_b).all()


def test_trigger_sampling_deficit_monotone(spark):
    """Sampling can only miss: deficit >= 0 everywhere, non-
    decreasing in trigger_s per (ttl, policy), and the joint table's
    pinned ttl=1800 one-key miss reproduces on both policies."""
    fn = REGISTRY["trigger_sampling_deficit"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert (pdf.deficit_keys >= 0).all()
    assert (
        pdf.sampled_peak_keys + pdf.deficit_keys == pdf.cont_peak_keys
    ).all()
    for (ttl, pol), sub in pdf.groupby(["ttl_s", "policy"]):
        sub = sub.sort_values("trigger_s")
        assert sub.deficit_keys.is_monotonic_increasing, (ttl, pol)
    m1800 = pdf[pdf.ttl_s == 1800]
    assert (m1800.deficit_keys == 1).all()
    # the continuous peaks pin to the TTL twins' columns
    sl = (
        REGISTRY["dedup_ttl_state_projection"](spark, SF_DIR)
        .toPandas()
        .set_index("ttl_s")
    )
    fx = (
        REGISTRY["dedup_ttl_fixed_twin"](spark, SF_DIR)
        .toPandas()
        .set_index("ttl_s")
    )
    for _, r in pdf.iterrows():
        twin = sl if r.policy == "a_sliding" else fx
        assert r.cont_peak_keys == twin.loc[r.ttl_s, "peak_state_keys"]


def test_residual_adc_recall_vs_raw_codebook(spark):
    """True IVF-PQ under refined cells: the candidate funnel is
    IDENTICAL to the raw-codebook 2x2 (same cells -> same need sets,
    exactly equal mean_candidates) — only the in-cell scorer differs.
    The distortion win does NOT automatically carry to recall; both
    directions stay pinned by the shared schema for the row diff."""
    fn = REGISTRY["residual_adc_recall"]
    res = fn(spark, SF_DIR).toPandas().set_index("nprobe")
    joint_fn = REGISTRY["ivf_adc_refined_joint_recall"]
    joint = joint_fn(spark, SF_DIR).toPandas().set_index("nprobe")
    assert list(res.columns) == list(joint.columns)
    assert list(res.index) == list(joint.index)
    for p in res.index:
        assert res.loc[p, "mean_candidates"] == joint.loc[p, "mean_candidates"]
        assert res.loc[p, "n_queries"] == 10
    assert ((res.recall_at_5 >= 0) & (res.recall_at_5 <= 1)).all()
    assert (res.n_hits <= 10 * 5).all()


def test_compaction_read_bill_prunes_loose_parts(spark):
    """The honest inversion the read bill exposes: LOOSE month parts
    zone-prune better than merged wide-range files, so at_end's
    stream read bill is the LOWEST and eager's open-file layout the
    highest — merging buys file count (the amortizer's axis), not
    scanned rows. at_end's bill is floor-independent (no merging
    ever happens), and merged policies' bills grow with the floor."""
    fn = REGISTRY["compaction_read_bill"]
    pdf = fn(spark, SF_DIR).toPandas().set_index(["floor_rows", "policy"])
    floors = sorted({f for f, _ in pdf.index})
    for f in floors:
        end = pdf.loc[(f, "at_end")]
        close = pdf.loc[(f, "on_close")]
        eager = pdf.loc[(f, "eager")]
        assert end.rows_matched_total == close.rows_matched_total
        assert close.rows_matched_total == eager.rows_matched_total
        assert end.rows_scanned_total <= close.rows_scanned_total
        assert close.rows_scanned_total <= eager.rows_scanned_total
        assert end.n_obs == close.n_obs == eager.n_obs
    ends = pdf.xs("at_end", level="policy")
    assert ends.rows_scanned_total.nunique() == 1
    for pol in ("on_close", "eager"):
        sub = pdf.xs(pol, level="policy").sort_index()
        assert sub.rows_scanned_total.is_monotonic_increasing


def test_residual_code_utilization_not_collapsed(spark):
    """The diagnostic behind residual_adc_recall's honest negative:
    the refined-residual codebook is NOT collapsing — all 16 codes
    live in every subspace for both codebooks, and the max share
    stays far from degeneracy. The no-recall-gain is corpus isotropy,
    not encode pathology."""
    fn = REGISTRY["residual_code_utilization"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert set(pdf.codebook) == {"a_flat", "b_residual"}
    assert (pdf.n_codes_used == 16).all()
    assert (pdf.n_dead == 0).all()
    # no single code owns even half a subspace
    assert (pdf.max_share_ppm < 500_000).all()
    assert (pdf.n_vecs == pdf.n_vecs.iloc[0]).all()


def test_funnel_threshold_provenance_mechanism(spark):
    """The mechanism behind the order-(in)sensitivity verdict: the
    order-B population is the order-A population minus the quality-
    cut docs, thresholds move only where population dropped, and
    pruned counts respect the 10% ceiling in both orders."""
    fn = REGISTRY["funnel_threshold_provenance"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert (pdf.pop_drop >= 0).all()
    assert (pdf.n_pop_b + pdf.pop_drop == pdf.n_pop_a).all()
    assert (pdf.n_pruned_a <= pdf.n_pop_a // 10).all()
    assert (pdf.n_pruned_b <= pdf.n_pop_b // 10).all()
    # where nothing left the population, the gate is bit-identical
    same = pdf[pdf.pop_drop == 0]
    assert (same.th_shift_e6 == 0).all()
    # the sf0.01 mechanism, pinned: the quality cut DOES shrink two
    # ranking populations (pop_drop > 0), but neither dropped doc sat
    # at a decile boundary, so every threshold — and therefore every
    # pruned set — is bit-identical across orders. This is the
    # per-group WHY behind funnel_order_sensitivity's certified
    # order-insensitivity on this corpus.
    assert (pdf.pop_drop > 0).any()
    assert (pdf.th_shift_e6 == 0).all()
    assert (pdf.n_pruned_a == pdf.n_pruned_b).all()


def test_compaction_policy_pareto_face(spark):
    """Metrics columns bit-identical to the parents', dominance flag
    consistent with the count — and the sf0.01 face pinned exactly.
    The face is SCALE-DEPENDENT (the honest headline): at sf0.01 the
    months are large relative to every floor, merging is rare, and
    at_end is DOMINATED at every floor (eager@200 matches its write
    and read bills while holding fewer live files); at sf0.001 the
    same op puts at_end ON the face (merging is common and the
    zone-pruning inversion bites). A compaction owner cannot reuse a
    face across corpus scales — which is why the op exists."""
    fn = REGISTRY["compaction_policy_pareto"]
    pdf = fn(spark, SF_DIR).toPandas().set_index(["floor_rows", "policy"])
    am_fn = REGISTRY["compaction_schedule_amortizer"]
    am = am_fn(spark, SF_DIR).toPandas().set_index(["floor_rows", "policy"])
    rb_fn = REGISTRY["compaction_read_bill"]
    rb = rb_fn(spark, SF_DIR).toPandas().set_index(["floor_rows", "policy"])
    for idx in pdf.index:
        assert pdf.loc[idx, "write_amp_ppm"] == am.loc[idx, "write_amp_ppm"]
        assert (
            pdf.loc[idx, "mean_live_files_e3"]
            == am.loc[idx, "mean_live_files_e3"]
        )
        assert pdf.loc[idx, "read_amp_ppm"] == rb.loc[idx, "read_amp_ppm"]
        assert pdf.loc[idx, "dominated"] == (
            pdf.loc[idx, "n_dominators"] > 0
        )
    # eager is on the face at every floor (live-files axis)
    for f in sorted({f for f, _ in pdf.index}):
        assert not pdf.loc[(f, "eager"), "dominated"]
        assert pdf.loc[(f, "at_end"), "dominated"]
    assert pdf.loc[(200, "on_close"), "dominated"]
    assert not pdf.loc[(400, "on_close"), "dominated"]
    assert not pdf.loc[(800, "on_close"), "dominated"]


def test_adc_recall_tail_ties_to_sweeps(spark):
    """The tail table's mean column is bit-consistent with the two
    sweeps it decomposes (b_joint == ivf_adc_refined_joint_recall,
    c_residual == residual_adc_recall), and the tail is the story:
    BOTH scorers strand at least one query at zero hits at every
    nprobe — the mean hides a worst-query SLO violation."""
    fn = REGISTRY["adc_recall_tail"]
    pdf = fn(spark, SF_DIR).toPandas().set_index(["variant", "nprobe"])
    joint = (
        REGISTRY["ivf_adc_refined_joint_recall"](spark, SF_DIR)
        .toPandas()
        .set_index("nprobe")
    )
    res = (
        REGISTRY["residual_adc_recall"](spark, SF_DIR)
        .toPandas()
        .set_index("nprobe")
    )
    for p in joint.index:
        assert (
            pdf.loc[("b_joint", p), "recall_ppm"]
            == round(joint.loc[p, "recall_at_5"] * 1_000_000)
        )
        assert (
            pdf.loc[("c_residual", p), "recall_ppm"]
            == round(res.loc[p, "recall_at_5"] * 1_000_000)
        )
    assert (pdf.min_hits <= pdf.p50_hits).all()
    assert (pdf.p50_hits <= pdf.max_hits).all()
    assert (pdf.max_hits <= 5).all()
    assert (pdf.min_hits == 0).all()
