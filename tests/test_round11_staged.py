"""Round-12 operator slate (VERDICT r10 item 7): the 16 operators
added during round 11, each with its oracle differential and
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
    "candidate_budget_recall",
    "chunk_decay_source_mix",
    "compacted_zone_pruning",
    "compaction_floor_sweep",
    "duplicate_decay_mixture",
    "ivf_adc_lloyd_recall",
    "ivf_cell_balance_audit",
    "pack_length_sweep",
    "perplexity_pruning_gate",
    "pq_lloyd_convergence",
    "pq_lloyd_refinement",
    "seed_spread_advisor",
    "session_state_batch_peaks",
    "shard_mix_uniformity",
    "sort_key_benefit_ranking",
    "watermark_state_bytes_joint",
)


def test_round12_staged_all_have_oracles():
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


# ---------------------------------------------------------------- dedup


def test_duplicate_decay_mixture_invariants(spark):
    fn = REGISTRY["duplicate_decay_mixture"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("cluster_size")
    # the k = 1 band reclaims nothing; every k >= 2 band reclaims
    assert pdf.loc[1, "tokens_reclaimed"] == 0
    multi = pdf[pdf.index >= 2]
    assert len(multi) >= 1, "fixture must have duplicate chunks"
    assert (multi.tokens_reclaimed > 0).all()
    # exact identities of the decay rule
    assert (pdf.n_occurrences == pdf.index * pdf.n_chunks).all()
    assert (
        pdf.tokens_reclaimed == pdf.raw_tokens - pdf.decayed_tokens
    ).all()
    assert (pdf.raw_tokens >= pdf.decayed_tokens).all()
    # shares are a partition of the budget (ppm rounding slack)
    assert abs(pdf.raw_share_ppm.sum() - 1_000_000) <= len(pdf)
    assert abs(pdf.decayed_share_ppm.sum() - 1_000_000) <= len(pdf)


def test_chunk_decay_source_mix_invariants(spark):
    """Keeper attribution is a sub-multiset of each source's own
    occurrences, and the kept total IS duplicate_decay_mixture's
    decayed total (same distinct-chunk mass, different grouping)."""
    fn = REGISTRY["chunk_decay_source_mix"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert (pdf.kept_tokens <= pdf.raw_tokens).all()
    # shares are partitions of their budgets; shifts cancel
    assert abs(pdf.raw_share_ppm.sum() - 1_000_000) <= len(pdf)
    assert abs(pdf.kept_share_ppm.sum() - 1_000_000) <= len(pdf)
    assert abs(pdf.shift_ppm.sum()) <= 2 * len(pdf)
    # dedup genuinely re-mixes: some source moves by > 0.1%
    assert pdf.shift_ppm.abs().max() > 1_000
    dm_fn = REGISTRY["duplicate_decay_mixture"]
    decayed_total = dm_fn(spark, SF_DIR).toPandas().decayed_tokens.sum()
    assert pdf.kept_tokens.sum() == decayed_total


# ------------------------------------------------------------- curation


def test_perplexity_pruning_gate_invariants(spark):
    fn = REGISTRY["perplexity_pruning_gate"]
    pdf = fn(spark, SF_DIR).toPandas()
    # the sketch rank contract must hold on every source
    assert pdf.sketch_rank_ok.all()
    # strict-below-threshold pruning can never exceed the 10% target
    assert (pdf.n_pruned <= pdf.n_scored // 10).all()
    assert (pdf.prune_ppm <= 100_000).all()
    # every source is scored (docs with >= 2 tokens exist everywhere)
    assert len(pdf) == 20
    # thresholds are genuine per-source values, not one global number
    assert pdf.exact_thresh_e6.nunique() > 1


# ------------------------------------------------------------ warehouse


def test_compacted_zone_pruning_invariants(spark):
    fn = REGISTRY["compacted_zone_pruning"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("pred_id")
    # scanning is a superset of matching on both layouts
    assert (pdf.rows_scanned_month >= pdf.rows_matched).all()
    assert (pdf.rows_scanned_compacted >= pdf.rows_scanned_month).all()
    # merge groups are month supersets -> fewer-or-equal units touched
    assert (pdf.n_groups_scanned <= pdf.n_parts_month).all()
    assert (pdf.read_amp_month_ppm >= 1_000_000).all()
    assert (
        pdf.read_amp_compacted_ppm >= pdf.read_amp_month_ppm
    ).all()
    # the single-day predicate is the pathological read-amp case
    assert pdf.read_amp_compacted_ppm.idxmax() == "p4_day"


def test_sort_key_benefit_ranking_invariants(spark):
    fn = REGISTRY["sort_key_benefit_ranking"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("sort_col")
    assert sorted(pdf["rank"]) == [1, 2, 3, 4]
    own = {
        "o_orderdate": "pr_date_prune_ppm",
        "o_custkey": "pr_cust_prune_ppm",
        "o_totalprice": "pr_price_prune_ppm",
        "o_orderpriority": "pr_prio_prune_ppm",
    }
    pcols = list(own.values())
    for col, own_pred in own.items():
        row = pdf.loc[col]
        # sorting by a column makes its own predicate prunable...
        assert row[own_pred] >= 500_000, (col, own_pred, row[own_pred])
        # ...and (these columns being uncorrelated) dominates the row
        assert row[own_pred] == max(row[p] for p in pcols)
        # the mean column is the exact mean of the per-predicate ppms
        assert row["mean_prune_ppm"] == round(
            sum(row[p] for p in pcols) / len(pcols)
        )


def test_compaction_floor_sweep_frontier(spark):
    """The knob's frontier: bigger floors mean fewer groups and less
    small-file residue but never less data scanned per predicate; the
    400-row column must reproduce compacted_zone_pruning's table."""
    fn = REGISTRY["compaction_floor_sweep"]
    pdf = fn(spark, SF_DIR).toPandas()
    g = pdf.groupby("floor_rows").first().sort_index()
    assert g.n_groups.is_monotonic_decreasing
    assert g.n_under_floor.is_monotonic_decreasing
    for p in pdf.pred_id.unique():
        sub = pdf[pdf.pred_id == p].sort_values("floor_rows")
        assert sub.rows_scanned.is_monotonic_increasing
        assert (sub.read_amp_ppm >= 1_000_000).all()
    czp_fn = REGISTRY["compacted_zone_pruning"]
    czp = (
        czp_fn(spark, SF_DIR).toPandas().set_index("pred_id")
    )
    at400 = pdf[pdf.floor_rows == 400].set_index("pred_id")
    assert (
        at400.rows_scanned == czp.rows_scanned_compacted
    ).all()
    assert (at400.read_amp_ppm == czp.read_amp_compacted_ppm).all()


# ------------------------------------------------------------ streaming


def test_session_batch_peaks_bounded_by_continuous_sweep(spark):
    """The sampled peak can never exceed the continuous endpoint
    sweep's peak; and the 300 s sample grid is a SUBSET of the 60 s
    grid (300 = 5 x 60), so its peak is <= the 60 s peak."""
    from bigdataentrytask_spark.operators.streaming_bridge import (
        session_gap_state_cost,
    )

    fn = REGISTRY["session_state_batch_peaks"]
    pdf = fn(spark, SF_DIR).toPandas()
    cont = (
        session_gap_state_cost(spark, SF_DIR)
        .toPandas()
        .set_index("gap_s")["max_concurrent_state"]
    )
    for _, r in pdf.iterrows():
        assert r.max_state_at_batch <= cont[r.gap_s]
    by_gap = pdf.set_index(["gap_s", "trigger_s"])["max_state_at_batch"]
    for g in pdf.gap_s.unique():
        assert by_gap[(g, 300)] <= by_gap[(g, 60)]
    # the coarse grid holds ~1/5 the samples of the fine grid
    nb = pdf.set_index(["gap_s", "trigger_s"])["n_batches"]
    for g in pdf.gap_s.unique():
        assert abs(nb[(g, 60)] - 5 * nb[(g, 300)]) <= 5


def test_watermark_state_bytes_monotone_in_delay(spark):
    fn = REGISTRY["watermark_state_bytes_joint"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("delay_us")
    # longer retention -> peaks and spans can only grow
    assert pdf.max_open_windows.is_monotonic_increasing
    assert pdf.mean_open_span_s_ppm.is_monotonic_increasing
    assert pdf.n_windows_open.is_monotonic_increasing
    assert (pdf.peak_state_bytes == pdf.max_open_windows * 40).all()
    # delay 0 still holds the in-flight window
    assert pdf.max_open_windows.iloc[0] >= 1


# ------------------------------------------------------------ retrieval


def test_ivf_cell_balance_invariants(spark):
    fn = REGISTRY["ivf_cell_balance_audit"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert pdf.n_vecs.sum() == 500
    assert sorted(pdf.size_rank) == list(range(1, len(pdf) + 1))
    assert abs(pdf.share_ppm.sum() - 1_000_000) <= len(pdf)
    assert (
        pdf.sort_values("size_rank").cum_share_ppm.iloc[-1] == 1_000_000
    )
    # the diagnostic this table exists for: the coarse quantizer is
    # BALANCED on this corpus (max cell ~14%), so ivf_adc_recall's
    # honest negative is codebook distortion, not cell skew
    assert pdf.share_ppm.max() < 300_000


def test_pq_lloyd_refinement_regime(spark):
    """The Lloyd guarantee and the honest regime note: one
    assign/update/reassign step cuts total distortion (~28% here)
    while ADC recall@5 on the 10-query slice DIPS 0.34 -> 0.30 —
    reconstruction distortion and retrieval rank decouple at this
    codebook size. The distortion inequality is the pinned law; the
    recall pair is the pinned fixture regime."""
    fn = REGISTRY["pq_lloyd_refinement"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("variant")
    assert (
        pdf.loc["b_lloyd1", "total_distortion"]
        < pdf.loc["a_toy", "total_distortion"]
    )
    assert (pdf.n_dead_codes == 0).all()
    assert pdf.loc["a_toy", "recall_at_5"] == 0.34
    assert pdf.loc["b_lloyd1", "recall_at_5"] == 0.30


def test_candidate_budget_recall_invariants(spark):
    fn = REGISTRY["candidate_budget_recall"]
    pdf = fn(spark, SF_DIR).toPandas().set_index(["method", "budget"])
    # recall grows with budget within each method
    for m in ("a_lsh", "b_ivf"):
        assert (
            pdf.loc[(m, 50), "recall_at_5"]
            >= pdf.loc[(m, 10), "recall_at_5"]
        )
    # the budget is respected
    for (m, b), r in pdf.iterrows():
        assert r.mean_candidates <= b
        assert r.recall_at_5 <= 1.0
    # the selector's answer on this corpus: probe-ordered IVF beats
    # scan-ordered LSH at the same exact-scoring spend (0.60 vs 0.12)
    assert (
        pdf.loc[("b_ivf", 50), "recall_at_5"]
        > pdf.loc[("a_lsh", 50), "recall_at_5"]
    )


def test_seed_spread_advisor_regime(spark):
    """Strided seeds genuinely spread more (+8% min pairwise
    distance, pinned as an inequality) — and the honest regime note:
    on this isotropic synthetic corpus the assignment distortion is
    UNCHANGED to within 0.1%, i.e. seed spread alone does not fix a
    weak coarse quantizer here (the Lloyd step is the lever that
    moves distortion; see pq_lloyd_refinement)."""
    fn = REGISTRY["seed_spread_advisor"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("policy")
    a, b = pdf.loc["a_first"], pdf.loc["b_strided"]
    assert b.min_seed_dist > a.min_seed_dist
    rel = abs(int(b.total_distortion) - int(a.total_distortion)) / int(
        a.total_distortion
    )
    assert rel < 0.001
    assert (pdf.max_cell_share_ppm < 300_000).all()


def test_seed_spread_degenerate_tiny_corpus(spark, tmp_path):
    """ADVICE r11 regression: with fewer embeddings than KMEANS_K (8)
    the stride clamps to 1 in BOTH engines (pre-fix: Spark % 0 gave
    NULLs while DuckDB's % 0 errored) — b_strided degrades to
    a_first's seed set and the differential still holds."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(7)
    n = 5  # < KMEANS_K
    emb = pa.table(
        {
            "vec_id": pa.array(range(n)),
            "embedding": pa.array(
                [
                    [rng.uniform(-0.6, 0.6) for _ in range(64)]
                    for _ in range(n)
                ],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array([i % 3 for i in range(n)], type=pa.int32()),
        }
    )
    pq.write_table(emb, str(tmp_path / "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet'"
    )
    fn, osql = REGISTRY["seed_spread_advisor"], ORACLES["seed_spread_advisor"]
    assert_matches_oracle(
        fn(spark, str(tmp_path)), con, osql, "seed_spread_tiny"
    )
    pdf = fn(spark, str(tmp_path)).toPandas().set_index("policy")
    # stride 1 -> identical seed sets -> identical numbers
    assert (
        pdf.loc["a_first"].tolist() == pdf.loc["b_strided"].tolist()
    )
    con.close()


def test_pq_lloyd_convergence_plateau(spark):
    """The trajectory is monotone non-increasing and the plateau is
    immediate: step-1 gain (28.1% of step-0 distortion) dwarfs
    step-2's (2.1%) by more than 5x. Steps 0/1 cross-pin to
    pq_lloyd_refinement's a_toy/b_lloyd1 totals — same arithmetic,
    independent implementations."""
    fn = REGISTRY["pq_lloyd_convergence"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("step")
    assert pdf.total_distortion.is_monotonic_decreasing
    assert (pdf.n_dead_codes == 0).all()
    assert pdf.loc[1, "gain"] > 5 * pdf.loc[2, "gain"]
    assert pdf.loc[0, "gain"] == 0
    ref_fn = REGISTRY["pq_lloyd_refinement"]
    ref = ref_fn(spark, SF_DIR).toPandas().set_index("variant")
    assert (
        pdf.loc[0, "total_distortion"]
        == ref.loc["a_toy", "total_distortion"]
    )
    assert (
        pdf.loc[1, "total_distortion"]
        == ref.loc["b_lloyd1", "total_distortion"]
    )


def test_pack_length_sweep_tradeoff(spark):
    """The context-length trade, pinned from both sides: shrinking L
    improves fill (tail waste amortizes over more sequences) but
    raises the share of documents straddling a sequence boundary —
    both columns are strictly monotone across the candidate grid
    (0.96/0.86/0.66 fill, 39%/8%/0% straddle at sf0.01)."""
    fn = REGISTRY["pack_length_sweep"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("context_len")
    assert pdf.fill_ppm.is_monotonic_decreasing
    assert pdf.straddle_ppm.is_monotonic_decreasing
    assert pdf.total_tok.nunique() == 1  # same corpus, every L
    # sequences shrink at least proportionally to L growth
    assert pdf.n_seqs.is_monotonic_decreasing
    assert (pdf.fill_ppm <= 1_000_000).all()


def test_shard_mix_uniformity_invariants(spark):
    """Shards partition the corpus; TV is a [0, 1e6] ppm; finer
    sharding has WORSE per-shard composition on a fixed corpus (the
    IID-shards-need-volume story): mean TV at S=16 exceeds S=4."""
    fn = REGISTRY["shard_mix_uniformity"]
    pdf = fn(spark, SF_DIR).toPandas()
    for s, grp in pdf.groupby("shard_count"):
        assert grp.n_docs.sum() == 500
        assert len(grp) == s
        assert (grp.tv_ppm <= 1_000_000).all()
        assert (grp.tv_ppm >= 0).all()
    m = pdf.groupby("shard_count").tv_ppm.mean()
    assert m[16] > m[4]


def test_ivf_adc_lloyd_breaks_falling_regime(spark):
    """The diagnostic chain's payoff. ivf_adc_recall pinned the
    weak-codebook regime: recall STRICTLY FALLS with nprobe
    (0.36/0.34/0.32) because the toy codebook mis-ranks far
    candidates above near ones as probing widens the pool. Under the
    one-Lloyd-step codebook the falling regime is BROKEN: the widest
    probe is the best row (0.36) and beats the toy codebook's widest
    probe (0.32). Candidate volumes are identical by construction
    (same coarse probe)."""
    import __spark_entry__ as e

    fn = REGISTRY["ivf_adc_lloyd_recall"]
    lloyd = fn(spark, SF_DIR).toPandas().set_index("nprobe")
    toy = (
        e.queries()["ivf_adc_recall"](spark, SF_DIR)
        .toPandas()
        .set_index("nprobe")
    )
    # same coarse probe -> identical candidate budgets row-for-row
    assert (lloyd.mean_candidates == toy.mean_candidates).all()
    # the toy regime detector still fires...
    assert toy.recall_at_5.is_monotonic_decreasing
    # ...and the refined codebook clears it
    assert not lloyd.recall_at_5.is_monotonic_decreasing
    pmax = lloyd.index.max()
    assert lloyd.loc[pmax, "recall_at_5"] > toy.loc[pmax, "recall_at_5"]
    assert lloyd.recall_at_5.idxmax() == pmax
