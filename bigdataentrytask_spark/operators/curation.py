"""Corpus-curation operators: the decision layer of a training-data
pipeline — model-based quality filtering and deterministic sharding.

Not in the reference (its batch surface is single-table GROUP BY,
/root/reference/doc/temp.md:509-530); mandated by the north-star
LLM-pipeline scope (SURVEY.md §2.8).

* quality_classifier_score — a fastText-style LINEAR classifier
  applied at corpus scale: hashed unigram features, a broadcast
  weight table, one per-doc aggregate, a sigmoid. The weights here
  are a deterministic synthetic table (the fixture has no trained
  model); swapping in real learned weights changes ONE DataFrame,
  not the plan. This is the plan shape of every "educational value" /
  "quality" model pass over a 100 TB corpus.
* shard_manifest — deterministic hash-sharding of the corpus with a
  per-shard manifest (doc counts, token totals, id ranges): the
  write-side contract of a training run (shards must be stable across
  re-runs, balanced, and auditable).

Scale posture: the classifier is explode → broadcast join (weights:
D rows, KBs) → one partial-agg shuffle on doc_id. Weight sums are
INTEGER, so per-doc totals are exact under any accumulation order —
the sigmoid is computed once per doc from exact integers (no
float-order drift between engines, and no nondeterminism between
cluster runs). The manifest is one grouped agg over integer columns;
shard count is a constant, so the final shuffle has bounded keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataentrytask_spark.catalog import load_table
from bigdataentrytask_spark.functions.text import (
    LM_SCORED_CTES,
    lm_doc_scores,
    sql_token_hash,
    sql_tokens,
    token_hash,
    tokens,
)
from bigdataentrytask_spark.operators import (
    collect_bounded,
    materialize,
    operator,
)
from bigdataentrytask_spark.session import ensure_session_confs


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_confs(spark)
    return load_table(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# Model-based quality filter (fastText-linear shape).
# --------------------------------------------------------------------------
_QC_DIM = 1024          # feature buckets
_QC_MULT = 2654435761   # Knuth multiplicative constant (weight synth)
_QC_MOD = 10007         # prime; weight_int in [-5003, 5003]
_QC_BIAS = 0.0
_QC_GAIN = 8.0


@operator(
    "quality_classifier_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             ({sql_token_hash('tok')} % {_QC_DIM}) AS bucket
      FROM (SELECT doc_id, UNNEST({sql_tokens('text')}) AS tok
            FROM documents)
    ),
    weights AS (
      SELECT range AS bucket,
             (range * {_QC_MULT}) % {_QC_MOD} - {(_QC_MOD - 1) // 2} AS w_int
      FROM range({_QC_DIM})
    ),
    per_doc AS (
      SELECT f.doc_id,
             COUNT(*)       AS n_tokens,
             SUM(w.w_int)   AS w_sum
      FROM feats f JOIN weights w ON w.bucket = f.bucket
      GROUP BY f.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(1.0 / (1.0 + exp(-({_QC_BIAS} + {_QC_GAIN} * w_sum
                 / (n_tokens * {(_QC_MOD - 1) / 2})))), 6) AS score,
           (ROUND(1.0 / (1.0 + exp(-({_QC_BIAS} + {_QC_GAIN} * w_sum
                 / (n_tokens * {(_QC_MOD - 1) / 2})))), 6) > 0.5) AS keep
    FROM per_doc
    ORDER BY doc_id
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality model over hashed unigrams. Per-doc weight sums
    are INTEGERS (exact under any accumulation order); the sigmoid is
    evaluated once per doc — so the score is bit-stable across runs,
    partitionings, and engines. The weight table is broadcast (D=1024
    rows; a real fastText bucket table at 2M rows is still ~MBs)."""
    feats = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(tokens("text")).alias("tok"),
    ).select("doc_id", (token_hash("tok") % _QC_DIM).alias("bucket"))
    half = (_QC_MOD - 1) // 2
    # The synthetic weight table is a pure function of the bucket id,
    # so the lookup INLINES as one integer expression at the scan —
    # no broadcast build, no join stage (one less exchange in the
    # plan; same exact integers as the former 1024-row broadcast
    # join). A real fastText table (learned weights, ~2M rows) is not
    # expressible as a formula and would go back to the broadcast-join
    # shape this op previously demonstrated.
    w_int = (F.col("bucket") * _QC_MULT) % _QC_MOD - half
    per_doc = (
        feats.select("doc_id", w_int.alias("w_int"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w_int").alias("w_sum"),
        )
    )
    score = F.round(
        1.0
        / (
            1.0
            + F.exp(
                -(
                    _QC_BIAS
                    + _QC_GAIN
                    * F.col("w_sum")
                    / (F.col("n_tokens") * float(half))
                )
            )
        ),
        6,
    )
    return (
        per_doc.select(
            "doc_id",
            "n_tokens",
            score.alias("score"),
            (score > 0.5).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Deterministic corpus sharding + manifest.
# --------------------------------------------------------------------------
_N_SHARDS = 16


@operator(
    "shard_manifest",
    oracle=f"""
    SELECT ({sql_token_hash("doc_id::VARCHAR")} % {_N_SHARDS}) AS shard,
           COUNT(*)                              AS n_docs,
           CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT)          AS total_chars,
           MIN(doc_id)                           AS min_doc,
           MAX(doc_id)                           AS max_doc
    FROM documents
    GROUP BY 1 ORDER BY shard
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-shard the corpus (shard = md5(doc_id) mod N — stable
    across runs and engines, unlike any partition-index scheme) and
    emit the per-shard manifest a training job audits before reading:
    doc counts, token totals, id ranges. All-integer aggregates.
    The real write is `df.repartition(N_SHARDS, shard).write...`;
    the manifest is the differential-checkable contract of it."""
    d = _docs(spark, sf_dir).select(
        (token_hash(F.col("doc_id").cast("string")) % _N_SHARDS).alias("shard"),
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        "n_chars",
    )
    return (
        d.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# Corpus heavy hitters: two-pass bounded-memory hot-key detection.
# --------------------------------------------------------------------------
_HH_CAPACITY = 199      # Misra-Gries counters per Arrow batch
_HH_DENOM = _HH_CAPACITY + 1
# Largest candidate set compiled into an isin() plan literal; beyond
# this the candidate set stays distributed (broadcast left-semi join).
_HH_INSET_MAX = 10_000


@operator(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST({sql_tokens('text')}) AS tok FROM documents
    ),
    n AS (SELECT COUNT(*) AS total FROM toks)
    SELECT tok, COUNT(*) AS cnt,
           ROUND(COUNT(*) / (SELECT CAST(total AS DOUBLE) FROM n), 6)
               AS share
    FROM toks
    GROUP BY tok
    HAVING COUNT(*) * {_HH_DENOM} > (SELECT total FROM n)
    ORDER BY cnt DESC, tok
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens with frequency > N/{denom}: pass 1 runs a Misra-Gries
    summary (capacity {cap}) inside each Arrow batch — bounded memory,
    NO shuffle of the full token domain — whose survivors are a
    guaranteed superset of every global heavy hitter (pigeonhole: an
    item with global share > 1/{denom} exceeds the local threshold in
    at least one batch). Pass 2 exact-counts ONLY the candidate set
    (broadcast semi join, candidate cardinality <= batches x {cap}) so
    the emitted counts are exact and independent of partitioning —
    which is what makes the DuckDB oracle a plain HAVING. At 100 TB
    the full-domain groupBy this replaces is the single most skewed
    shuffle in corpus statistics; here only candidates shuffle.

    The integer guard `cnt * {denom} > total` avoids any float
    threshold compare.""".format(denom=_HH_DENOM, cap=_HH_CAPACITY)
    import pandas as pd  # noqa: F401 (kernel-side import below)

    toks = _docs(spark, sf_dir).select(
        F.explode(tokens("text")).alias("tok")
    )

    def mg_kernel(batches):
        """Per batch: the top-{cap} tokens by exact in-batch count
        (batch_n = 0) plus one tally row (tok = NULL, batch_n = rows
        seen) — the tally rows give the exact global N without a
        separate corpus scan.

        The candidate rule is the same pigeonhole superset the classic
        Misra-Gries summary gives: at most {cap} tokens can have batch
        share > 1/{denom} (their shares would exceed 1), so the batch
        top-{cap} contains every token whose batch count clears
        n/{denom} — and a global heavy hitter must clear that bar in
        at least one batch. value_counts() is one vectorized C pass
        per batch where the pointer-chasing MG loop was interpreted
        Python per TOKEN (the measured bottleneck of this operator:
        ~0.9s of its 1.4s at sf0.1); memory stays bounded by the
        Arrow batch size (<= maxRecordsPerBatch distinct values).
        Correctness is unaffected by the summary's exact shape: pass 2
        exact-counts the candidates and applies the exact global
        threshold.""".format(cap=_HH_CAPACITY, denom=_HH_DENOM)
        import pandas as pd

        for pdf in batches:
            top = pdf["tok"].value_counts().head(_HH_CAPACITY)
            yield pd.DataFrame(
                {
                    "tok": list(top.index) + [None],
                    "batch_n": [0] * len(top) + [len(pdf)],
                }
            )

    summaries = toks.mapInPandas(mg_kernel, schema="tok string, batch_n long")
    # ONE aggregation job over the summary (batches x capacity rows,
    # tiny at bench scale) yields both the exact corpus N (the NULL
    # tally row) and the distinct candidate set — the corpus itself is
    # scanned exactly TWICE (sketch pass, count pass). Collecting the
    # agg is scale-equivalent to the broadcast-join formulation (a
    # broadcast IS a driver collect + ship of the same distinct set)
    # and lets the candidate filter compile to an InSet probe at the
    # scan instead of a join (one fewer exchange in the count pass) —
    # BUT the candidate cardinality grows with the Arrow batch count
    # (<= capacity per batch), so at much larger corpora the list
    # outgrows a sane plan literal. The limit probe below detects
    # that WITHOUT an extra job: if the agg has more than
    # _HH_INSET_MAX rows, fall back to keeping the candidate set
    # distributed — persist the (tiny, candidate-domain-sized) agg,
    # read N from its tally row, and left-semi broadcast-join the
    # candidates into the count pass (the pre-r15 shape, VERDICT r15
    # item 4 / ADVICE r15).
    grouped = summaries.groupBy("tok").agg(F.sum("batch_n").alias("n"))
    agg_rows = collect_bounded(grouped.limit(_HH_INSET_MAX + 2))
    if len(agg_rows) <= _HH_INSET_MAX + 1:  # complete set: cands + tally
        total = sum(r.n for r in agg_rows if r.tok is None)
        cands = [r.tok for r in agg_rows if r.tok is not None]
        counted = toks.filter(F.col("tok").isin(cands)).groupBy("tok").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        return materialize(
            counted.filter(F.col("cnt") * _HH_DENOM > F.lit(total))
            .select(
                "tok",
                "cnt",
                F.round(F.col("cnt") / F.lit(float(total)), 6).alias("share"),
            )
            .orderBy(F.col("cnt").desc(), "tok")
        )
    # Candidate set too large for a plan literal: distributed path.
    from bigdataentrytask_spark.operators import with_persisted

    with with_persisted(grouped):
        total = collect_bounded(
            grouped.filter(F.col("tok").isNull()).agg(
                F.sum("n").alias("total")
            )
        )[0].total
        cand_df = grouped.filter(F.col("tok").isNotNull()).select("tok")
        counted = (
            toks.join(F.broadcast(cand_df), "tok", "left_semi")
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return materialize(
            counted.filter(F.col("cnt") * _HH_DENOM > F.lit(total))
            .select(
                "tok",
                "cnt",
                F.round(F.col("cnt") / F.lit(float(total)), 6).alias("share"),
            )
            .orderBy(F.col("cnt").desc(), "tok")
        )


# --------------------------------------------------------------------------
# Zipf fit: the corpus rank-frequency diagnostic — regression of
# ln(count) on ln(rank) over the vocabulary. Natural corpora fit a
# slope near -1; a synthetic or heavily deduplicated corpus shows a
# flatter curve (this fixture's 31-token uniform vocabulary is exactly
# such a case, and the number proves it). One token-count agg, one
# ranking window over the VOCABULARY (bounded), one regression agg.
# Logs of exact integer counts are bit-identical across engines;
# measured regr agreement is 10+ digits (see segment_price_trend).
# --------------------------------------------------------------------------
@operator(
    "corpus_zipf_fit",
    oracle=f"""
    WITH counts AS (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT UNNEST({sql_tokens('text')}) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
      FROM counts
    )
    SELECT COUNT(*)                                   AS vocab_size,
           CAST(SUM(cnt) AS BIGINT)                   AS total_tokens,
           ROUND(regr_slope(ln(cnt), ln(rnk)), 6)     AS zipf_slope,
           ROUND(regr_r2(ln(cnt), ln(rnk)), 6)        AS fit_r2
    FROM ranked
    """,
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    counts = (
        _docs(spark, sf_dir)
        .select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), "tok")
    ranked = counts.select(
        "cnt", F.row_number().over(w).alias("rnk")
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("cnt").alias("total_tokens"),
        F.round(
            F.expr("regr_slope(ln(cnt), ln(rnk))"), 6
        ).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(cnt), ln(rnk))"), 6).alias("fit_r2"),
    )


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
# each doc draws u in (0, 1] from the engine-portable md5-prefix hash
# of its id and races with key = -ln(u) / w (w = n_chars, the "longer
# docs more likely" curation weight); the k smallest keys win. The
# exponential-race form is the standard distributed weighted sampler:
# one scan, a top-k (TakeOrdered — per-partition heads merged on the
# driver, never a global sort), no sampling state. Deterministic seed
# => reproducible sample manifests across engines and reruns.
# --------------------------------------------------------------------------
_ARES_K = 50
_ARES_DENOM = float(1 << 60)


@operator(
    "weighted_sample_ares",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  + 1) / {_ARES_DENOM}) / n_chars AS k
      FROM documents
    )
    SELECT doc_id, n_chars, ROUND(k, 6) AS priority
    FROM keyed
    ORDER BY k, doc_id
    LIMIT {_ARES_K}
    """,
)
def weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    # +1 happens in INTEGER space before the double conversion, so the
    # rounding to double is applied to the same exact value as the
    # oracle's BIGINT + 1 (a double-side +1 after conversion could
    # differ by 1 ulp near rounding boundaries).
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        + 1
    ).cast("double") / F.lit(_ARES_DENOM)
    keyed = docs.withColumn("k", -F.log(u) / F.col("n_chars"))
    return (
        keyed.orderBy("k", "doc_id")
        .limit(_ARES_K)
        .select("doc_id", "n_chars", F.round("k", 6).alias("priority"))
    )


# --------------------------------------------------------------------------
# Corpus-mix rebalancing: PER-LANGUAGE sampling rates (the uniform
# per-source stratified sampler lives in text_analysis.py)
# applied via a content-stable hash predicate (md5(doc_id) mod 1000 <
# rate‰). This is the corpus-mix primitive — downsample the dominant
# language, keep the long tail — and because the predicate is a pure
# function of doc_id it is reproducible across engines, runs, and
# partitionings (no RNG state, no sample() seed drift). At 100 TB it
# is a scan-time filter: no shuffle at all, prunes to (doc_id, lang),
# composes with any downstream op. The summary proves both the
# selection (per-language counts) and the mass kept (chars).
# --------------------------------------------------------------------------
_STRATA_PER_MILLE = {"en": 120, "de": 400, "fr": 400, "es": 640, "zh": 640}
_STRATA_DEFAULT = 500


def _strata_rate_sql() -> str:
    arms = " ".join(
        f"WHEN '{lang}' THEN {rate}"
        for lang, rate in sorted(_STRATA_PER_MILLE.items())
    )
    return f"CASE lang {arms} ELSE {_STRATA_DEFAULT} END"


@operator(
    "language_rebalance_sample",
    oracle=f"""
    WITH sampled AS (
      SELECT lang, n_chars
      FROM documents
      WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000
            < ({_strata_rate_sql()})
    )
    SELECT lang,
           COUNT(*)                            AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT)        AS chars_kept
    FROM sampled
    GROUP BY lang ORDER BY lang
    """,
)
def language_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    rate = F.lit(_STRATA_DEFAULT)
    for lang, r in sorted(_STRATA_PER_MILLE.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    h = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 1000
    )
    return (
        docs.filter(h < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
        )
        .orderBy("lang")
    )


@operator(
    "dataset_token_budget_report",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS toks
      FROM documents GROUP BY 1
    ),
    ranked AS (
      SELECT source, toks,
             ROW_NUMBER() OVER (ORDER BY toks DESC, source) AS rk,
             SUM(toks) OVER (ORDER BY toks DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(toks) OVER () AS total
      FROM per_src
    )
    SELECT CAST(rk AS BIGINT) AS rank,
           source, toks,
           CAST(cum AS BIGINT) AS cum_tokens,
           ROUND(cum / CAST(total AS DOUBLE), 6) AS cum_share
    FROM ranked ORDER BY rank
    """,
)
def dataset_token_budget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget planning table: sources ranked by token
    contribution with the cumulative-coverage curve — answers "how
    many feeds cover 80% of the corpus" before a training-mix
    decision. Exact token counts; one dimension-sized window."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    per_src = d.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("bigint").alias("toks")
    )
    w = Window.orderBy(F.col("toks").desc(), "source")
    ranked = per_src.select(
        "source",
        "toks",
        F.row_number().over(w).alias("rank"),
        F.sum("toks")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    ).crossJoin(
        F.broadcast(per_src.agg(F.sum("toks").alias("total")))
    )
    return ranked.select(
        F.col("rank").cast("bigint").alias("rank"),
        "source",
        "toks",
        F.col("cum").cast("bigint").alias("cum_tokens"),
        F.round(F.col("cum") / F.col("total").cast("double"), 6).alias(
            "cum_share"
        ),
    ).orderBy("rank")


# --------------------------------------------------------------------------
# Smoothed target encoding (round 7): replace the categorical
# c_mktsegment with its shrunk positive-rate toward the global prior
# — enc = (n_pos + m * prior) / (n + m) — the leakage-resistant
# categorical feature every tabular quality/routing model uses.
# Positives are exact integer counts; the prior and the shrinkage
# are scalar math on the 5-row aggregate, so the encoding is
# bit-stable. At 100 TB this is one map-side-combinable count pass
# per categorical column; high-cardinality categories (urls, hosts)
# use the identical plan with a count-min fallback for the tail.
# --------------------------------------------------------------------------
_TE_SMOOTH_M = 100
_TE_HIGH_CENTS = 15_000_000  # o_totalprice > 150k


@operator(
    "target_encoding_smoothed",
    oracle=f"""
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) > {_TE_HIGH_CENTS}
               AS pos
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT)        AS n,
             CAST(count_if(pos) AS BIGINT)   AS n_pos
      FROM j GROUP BY segment
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all,
                 CAST(SUM(n_pos) AS BIGINT) AS pos_all FROM g)
    SELECT g.segment, g.n, g.n_pos,
           ROUND(g.n_pos / CAST(g.n AS DOUBLE), 6) AS raw_rate,
           ROUND((g.n_pos + {_TE_SMOOTH_M}
                  * (t.pos_all / CAST(t.n_all AS DOUBLE)))
                 / (g.n + {_TE_SMOOTH_M}), 6)      AS encoded
    FROM g CROSS JOIN t
    ORDER BY g.segment
    """,
)
def target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_confs(spark)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pos = F.round(F.col("o_totalprice") * 100).cast("bigint") > _TE_HIGH_CENTS
    j = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == F.col("c_custkey"),
    ).select(F.col("c_mktsegment").alias("segment"), pos.alias("pos"))
    g = j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("pos"), 1)).alias("n_pos"),
    )
    from pyspark.sql import Window

    w_tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    prior = F.sum("n_pos").over(w_tot) / F.sum("n").over(w_tot).cast("double")
    return (
        g.select(
            "segment",
            "n",
            "n_pos",
            F.round(F.col("n_pos") / F.col("n").cast("double"), 6).alias(
                "raw_rate"
            ),
            F.round(
                (F.col("n_pos") + _TE_SMOOTH_M * prior)
                / (F.col("n") + _TE_SMOOTH_M),
                6,
            ).alias("encoded"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# Decision-stump split gain (round 7): information gain of splitting
# "is this a high-priority order" on o_totalprice at each of 9 fixed
# thresholds — the single-feature importance probe behind stump-based
# feature ranking. Same joinless shape as neardup_threshold_sweep
# (the plan-pinned BNLJ lesson, CONTRIBUTING.md pitfall 5): 9
# thresholds = 18 conditional aggregates in ONE scan, unpivoted with
# stack(); the entropy algebra runs on the 9-row table with exact
# integer counts.
# --------------------------------------------------------------------------
_STUMP_TAUS = [50, 100, 150, 200, 250, 300, 350, 400, 450]  # k$ cents*1e5


def _register_stump_split_gain() -> None:
    pos_sql = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    cents_sql = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    agg_cols = ", ".join(
        f"CAST(count_if({cents_sql} <= {t * 100_000}) AS BIGINT) AS nl_{t},"
        f" CAST(count_if({cents_sql} <= {t * 100_000} AND {pos_sql})"
        f" AS BIGINT) AS pl_{t}"
        for t in _STUMP_TAUS
    )
    unpivot = " UNION ALL ".join(
        f"SELECT {t} AS tau_kd, nl_{t} AS n_left, pl_{t} AS pos_left,"
        f" n, pos FROM s"
        for t in _STUMP_TAUS
    )
    oracle = f"""
    WITH s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(count_if({pos_sql}) AS BIGINT) AS pos,
             {agg_cols}
      FROM orders
    ),
    u AS ({unpivot}),
    h AS (
      SELECT tau_kd, n_left, pos_left, n, pos,
             n - n_left AS n_right, pos - pos_left AS pos_right
      FROM u
    )
    SELECT tau_kd, n_left, pos_left,
      ROUND(
        (CASE WHEN pos IN (0, n) THEN 0 ELSE
          -(pos / CAST(n AS DOUBLE)) * ln(pos / CAST(n AS DOUBLE))
          - ((n - pos) / CAST(n AS DOUBLE)) * ln((n - pos) / CAST(n AS DOUBLE))
         END)
        - (n_left / CAST(n AS DOUBLE)) *
          (CASE WHEN n_left = 0 OR pos_left IN (0, n_left) THEN 0 ELSE
            -(pos_left / CAST(n_left AS DOUBLE))
              * ln(pos_left / CAST(n_left AS DOUBLE))
            - ((n_left - pos_left) / CAST(n_left AS DOUBLE))
              * ln((n_left - pos_left) / CAST(n_left AS DOUBLE))
           END)
        - (n_right / CAST(n AS DOUBLE)) *
          (CASE WHEN n_right = 0 OR pos_right IN (0, n_right) THEN 0 ELSE
            -(pos_right / CAST(n_right AS DOUBLE))
              * ln(pos_right / CAST(n_right AS DOUBLE))
            - ((n_right - pos_right) / CAST(n_right AS DOUBLE))
              * ln((n_right - pos_right) / CAST(n_right AS DOUBLE))
           END), 9) AS info_gain
    FROM h ORDER BY tau_kd
    """

    @operator("stump_split_gain", oracle=oracle)
    def stump_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_session_confs(spark)
        o = load_table(spark, sf_dir, "orders")
        cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
        pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(pos, 1)).alias("pos"),
        ]
        for t in _STUMP_TAUS:
            le = cents <= t * 100_000
            aggs.append(F.count(F.when(le, 1)).alias(f"nl_{t}"))
            aggs.append(F.count(F.when(le & pos, 1)).alias(f"pl_{t}"))
        s = o.agg(*aggs)
        stack_expr = ", ".join(
            f"{t}L, nl_{t}, pl_{t}" for t in _STUMP_TAUS
        )
        u = s.select(
            F.expr(
                f"stack({len(_STUMP_TAUS)}, {stack_expr})"
                " AS (tau_kd, n_left, pos_left)"
            ),
            "n",
            "pos",
        )
        n = F.col("n").cast("double")
        n_right = F.col("n") - F.col("n_left")
        pos_right = F.col("pos") - F.col("pos_left")

        def h2(p_, n_):
            # binary entropy of (p_, n_ - p_) with the 0/pure guard
            q = p_ / n_.cast("double")
            r = (n_ - p_) / n_.cast("double")
            return F.when(
                (n_ == 0) | (p_ == 0) | (p_ == n_), F.lit(0.0)
            ).otherwise(-q * F.log(q) - r * F.log(r))

        gain = (
            h2(F.col("pos"), F.col("n"))
            - (F.col("n_left") / n) * h2(F.col("pos_left"), F.col("n_left"))
            - (n_right / n) * h2(pos_right, n_right)
        )
        return u.select(
            "tau_kd",
            "n_left",
            "pos_left",
            F.round(gain, 9).alias("info_gain"),
        ).orderBy("tau_kd")


_register_stump_split_gain()


# --------------------------------------------------------------------------
# Deterministic train/val/test split assignment (round-8 slate): every
# training-data pipeline must assign each document to a split BEFORE
# any model sees it, and the assignment must be (a) reproducible
# across re-runs, engines, and repartitionings, (b) independent of
# the shard hash (different salt), and (c) auditable per source. A
# rand()-based split fails (a); a mod-on-doc_id split correlates with
# ingestion order. The standard answer is a salted content hash:
# md5('split:' || doc_id) per-mille, train < 900, val < 950, test
# rest. Same engine-portable md5 idiom as `shard_manifest` /
# `bernoulli_hash_sample` (warehouse.py).
#
# Scale posture (100 TB): the split expression is a pure per-row
# projection computed inside the scan stage — no shuffle, no state;
# the audit rollup is one partial-agg shuffle with |sources|x3 keys.
# The per-source per-mille share is integer division on BIGINT counts
# (exact both engines). split_leakage_audit (evaluation.py) is the
# downstream consumer: it proves near-dup clusters do not straddle
# these split boundaries.
# --------------------------------------------------------------------------
_SPLIT_SALT = "split:"
_SPLIT_TRAIN_PM = 900   # per-mille thresholds: [0,900) train
_SPLIT_VAL_PM = 950     # [900,950) val, [950,1000) test


@operator(
    "hash_split_assignment",
    oracle=f"""
    WITH assigned AS (
      SELECT source, n_chars,
             CASE WHEN pm < {_SPLIT_TRAIN_PM} THEN 'train'
                  WHEN pm < {_SPLIT_VAL_PM} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT source, n_chars,
               ('0x' || substr(md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT % 1000 AS pm
        FROM documents
      )
    ), rolled AS (
      SELECT source, split,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM assigned GROUP BY 1, 2
    )
    SELECT source, split, n_docs, sum_chars,
           CAST((n_docs * 1000) // SUM(n_docs) OVER (PARTITION BY source)
                AS BIGINT) AS per_mille_of_source
    FROM rolled ORDER BY source, split
    """,
)
def hash_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-hash train/val/test assignment with a per-source audit
    rollup. Reference scope: not present (single-table GROUP BY only,
    /root/reference/doc/temp.md:509-530); mandated by the SURVEY.md
    §2.8 LLM-pipeline north star."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    pm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000
    )
    split = (
        F.when(pm < _SPLIT_TRAIN_PM, F.lit("train"))
        .when(pm < _SPLIT_VAL_PM, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    rolled = (
        d.select("source", "n_chars", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )
    return rolled.select(
        "source",
        "split",
        "n_docs",
        "sum_chars",
        F.expr("(n_docs * 1000) div (sum(n_docs) OVER (PARTITION BY source))")
        .cast("bigint")
        .alias("per_mille_of_source"),
    ).orderBy("source", "split")


# --------------------------------------------------------------------------
# k-anonymity / l-diversity census over the customer table: treat
# (nation, acctbal-band) as the quasi-identifier, market segment as
# the sensitive attribute, and report — for each k in {2,5,10,20} —
# how many QID groups and rows fall below the anonymity threshold,
# plus the worst-case l-diversity. This is the privacy-risk audit a
# training-data pipeline runs before releasing per-user aggregates
# (PII string scrubbing is `pii_scrub`; this measures REIDENTIFICATION
# risk, which scrubbing alone cannot). One grouped pass to the QID
# table (group count + COUNT DISTINCT sensitive), then joinless
# conditional aggregates unpivoted with stack() — the
# value_range_expectations shape; no theta-join, no BNLJ bait.
# Scale: the QID table is |nations x bands| << facts; everything
# downstream of the first groupBy is constant-size.
# --------------------------------------------------------------------------
@operator(
    "k_anonymity_census",
    oracle="""
    WITH q AS (
      SELECT c_nationkey,
             CAST(FLOOR(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                        / 100000.0) AS BIGINT) AS bal_band,
             c_mktsegment
      FROM customer
    ), g AS (
      SELECT c_nationkey, bal_band,
             CAST(COUNT(*) AS BIGINT)                    AS grp_rows,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_div
      FROM q GROUP BY 1, 2
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT)      AS qid_groups,
             CAST(SUM(grp_rows) AS BIGINT) AS total_rows,
             CAST(MIN(l_div) AS BIGINT)    AS min_l_diversity,
             CAST(count_if(l_div = 1) AS BIGINT) AS groups_l_eq_1,
             CAST(count_if(grp_rows < 2) AS BIGINT)  AS gb2,
             CAST(count_if(grp_rows < 5) AS BIGINT)  AS gb5,
             CAST(count_if(grp_rows < 10) AS BIGINT) AS gb10,
             CAST(count_if(grp_rows < 20) AS BIGINT) AS gb20,
             CAST(COALESCE(SUM(CASE WHEN grp_rows < 2 THEN grp_rows END), 0)
                  AS BIGINT) AS ra2,
             CAST(COALESCE(SUM(CASE WHEN grp_rows < 5 THEN grp_rows END), 0)
                  AS BIGINT) AS ra5,
             CAST(COALESCE(SUM(CASE WHEN grp_rows < 10 THEN grp_rows END), 0)
                  AS BIGINT) AS ra10,
             CAST(COALESCE(SUM(CASE WHEN grp_rows < 20 THEN grp_rows END), 0)
                  AS BIGINT) AS ra20
      FROM g
    )
    SELECT k, qid_groups, groups_below_k, rows_at_risk,
           ROUND(CAST(rows_at_risk AS DOUBLE) / total_rows, 6) AS at_risk_pct,
           min_l_diversity, groups_l_eq_1
    FROM (
      SELECT 2  AS k, qid_groups, gb2  AS groups_below_k, ra2  AS rows_at_risk,
             total_rows, min_l_diversity, groups_l_eq_1 FROM m
      UNION ALL
      SELECT 5, qid_groups, gb5, ra5, total_rows, min_l_diversity,
             groups_l_eq_1 FROM m
      UNION ALL
      SELECT 10, qid_groups, gb10, ra10, total_rows, min_l_diversity,
             groups_l_eq_1 FROM m
      UNION ALL
      SELECT 20, qid_groups, gb20, ra20, total_rows, min_l_diversity,
             groups_l_eq_1 FROM m
    )
    ORDER BY k
    """,
)
def k_anonymity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_confs(spark)
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    band = F.floor(cents / F.lit(100000.0)).cast("bigint")
    q = c.select(
        "c_nationkey", band.alias("bal_band"), "c_mktsegment"
    )
    g = q.groupBy("c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("grp_rows"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("l_div"),
    )
    below = {
        k: F.count(F.when(F.col("grp_rows") < k, 1)).cast("bigint")
        for k in (2, 5, 10, 20)
    }
    risk = {
        k: F.coalesce(
            F.sum(F.when(F.col("grp_rows") < k, F.col("grp_rows"))), F.lit(0)
        ).cast("bigint")
        for k in (2, 5, 10, 20)
    }
    m = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("qid_groups"),
        F.sum("grp_rows").cast("bigint").alias("total_rows"),
        F.min("l_div").cast("bigint").alias("min_l_diversity"),
        F.count(F.when(F.col("l_div") == 1, 1)).cast("bigint")
        .alias("groups_l_eq_1"),
        *(below[k].alias(f"gb{k}") for k in (2, 5, 10, 20)),
        *(risk[k].alias(f"ra{k}") for k in (2, 5, 10, 20)),
    )
    stacked = m.select(
        F.expr(
            "stack(4, "
            "2,  gb2,  ra2, "
            "5,  gb5,  ra5, "
            "10, gb10, ra10, "
            "20, gb20, ra20) AS (k, groups_below_k, rows_at_risk)"
        ),
        "qid_groups", "total_rows", "min_l_diversity", "groups_l_eq_1",
    )
    return stacked.select(
        F.col("k").cast("bigint").alias("k"),
        "qid_groups",
        F.col("groups_below_k").cast("bigint").alias("groups_below_k"),
        F.col("rows_at_risk").cast("bigint").alias("rows_at_risk"),
        F.round(
            F.col("rows_at_risk").cast("double") / F.col("total_rows"), 6
        ).alias("at_risk_pct"),
        "min_l_diversity", "groups_l_eq_1",
    ).orderBy("k")


# --------------------------------------------------------------------------
# MODEL-SCORE drift (PSI over classifier scores): the monitoring twin
# of drift_psi_report (raw column PSI) applied to the quality
# classifier's output distribution between two document cohorts
# (doc_id parity — the stand-in for "last week's scoring run vs this
# week's"). Score drift fires when the MODEL's view of the corpus
# shifts even if no single raw column moved — the first alarm for
# silent upstream changes. Composes the verified scoring plan; bins
# are decile-width on the score's (0,1) range; per-bin psi_term
# follows drift_psi_report's exact formula shape.
# --------------------------------------------------------------------------
def _register_score_drift_psi() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    oracle = f"""
    WITH scored AS ({ORACLES["quality_classifier_score"]}),
    tagged AS (
      SELECT CAST(doc_id % 2 AS INT) AS period,
             LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin
      FROM scored
    ),
    counts AS (
      SELECT bin,
             CAST(COUNT(*) FILTER (WHERE period = 0) AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (WHERE period = 1) AS BIGINT) AS c2
      FROM tagged GROUP BY 1
    ),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM counts)
    SELECT c.bin, c.c1, c.c2,
           ROUND(c.c2 / CAST(t.n2 AS DOUBLE)
                 - c.c1 / CAST(t.n1 AS DOUBLE), 6) AS share_delta,
           ROUND(CASE WHEN c.c1 = 0 OR c.c2 = 0 THEN 0.0
                 ELSE (c.c2 / CAST(t.n2 AS DOUBLE)
                       - c.c1 / CAST(t.n1 AS DOUBLE))
                      * ln((c.c2 / CAST(t.n2 AS DOUBLE))
                           / (c.c1 / CAST(t.n1 AS DOUBLE))) END, 6)
             AS psi_term
    FROM counts c CROSS JOIN tot t
    ORDER BY c.bin
    """

    @operator("score_drift_psi", oracle=oracle)
    def score_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
        scored = REGISTRY["quality_classifier_score"](spark, sf_dir).select(
            "doc_id", "score"
        )
        tagged = scored.select(
            (F.col("doc_id") % 2).cast("int").alias("period"),
            F.least(F.floor(F.col("score") * 10).cast("bigint"), F.lit(9))
            .alias("bin"),
        )
        counts = tagged.groupBy("bin").agg(
            F.count(F.when(F.col("period") == 0, 1)).cast("bigint")
            .alias("c1"),
            F.count(F.when(F.col("period") == 1, 1)).cast("bigint")
            .alias("c2"),
        )
        tot = counts.agg(
            F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
        )
        j = counts.crossJoin(F.broadcast(tot))
        p1 = F.col("c1") / F.col("n1").cast("double")
        p2 = F.col("c2") / F.col("n2").cast("double")
        return j.select(
            "bin", "c1", "c2",
            F.round(p2 - p1, 6).alias("share_delta"),
            F.round(
                F.when((F.col("c1") == 0) | (F.col("c2") == 0), F.lit(0.0))
                .otherwise((p2 - p1) * F.log(p2 / p1)), 6
            ).alias("psi_term"),
        ).orderBy("bin")


_register_score_drift_psi()


# ==========================================================================
# Round-11 additions (VERDICT r9 item 6).
# ==========================================================================

# --------------------------------------------------------------------------
# Quality pruning curve: for each candidate drop fraction, what
# pruning the bottom-f of the corpus by quality_classifier_score
# actually costs/keeps — docs kept, tokens kept, token retention, and
# the kept mass's summed score. This is the prune-to-budget planning
# table (the "filter harder vs train on more" decision) evaluated on
# the SAME bit-stable linear scorer the registry already verifies.
#
# Determinism: ranking on (score DESC, doc_id) — the score is
# bit-stable (exact integer weight sums, one sigmoid per doc, see
# quality_classifier_score) and doc_id breaks ties; keep_n uses exact
# integer arithmetic. Kept-mass score is summed as per-doc ROUND(
# score*1e6) BIGINTs — exact under any accumulation order.
# Scale: the global rank is audit-scale; the production path replaces
# it with an approx-quantile score THRESHOLD per fraction (one
# percentile_approx pass, no global sort) — same trade as
# sort_order_advisor vs its _ranged twin, documented here.
# --------------------------------------------------------------------------
_PRUNE_FRACS_PPM = [100_000, 250_000, 500_000]


def _register_quality_pruning_curve() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    oracle = f"""
    WITH scored AS ({ORACLES["quality_classifier_score"]}),
    ranked AS (
      SELECT doc_id, n_tokens, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk,
             COUNT(*) OVER () AS n_total,
             SUM(n_tokens) OVER () AS tok_total
      FROM scored
    ),
    fr(drop_frac_ppm) AS (VALUES
      {", ".join(f"({f})" for f in _PRUNE_FRACS_PPM)}
    )
    SELECT CAST(fr.drop_frac_ppm AS BIGINT) AS drop_frac_ppm,
           CAST(count_if(r.rnk <= FLOOR(
             r.n_total * (1000000 - fr.drop_frac_ppm) / 1000000.0))
             AS BIGINT) AS n_docs_kept,
           CAST(SUM(CASE WHEN r.rnk <= FLOOR(
             r.n_total * (1000000 - fr.drop_frac_ppm) / 1000000.0)
             THEN r.n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
           CAST(ROUND(SUM(CASE WHEN r.rnk <= FLOOR(
             r.n_total * (1000000 - fr.drop_frac_ppm) / 1000000.0)
             THEN r.n_tokens ELSE 0 END) * 1000000.0 / MAX(r.tok_total))
             AS BIGINT) AS token_retention_ppm,
           CAST(SUM(CASE WHEN r.rnk <= FLOOR(
             r.n_total * (1000000 - fr.drop_frac_ppm) / 1000000.0)
             THEN CAST(ROUND(r.score * 1000000) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS kept_score_e6
    FROM ranked r CROSS JOIN fr
    GROUP BY fr.drop_frac_ppm
    ORDER BY drop_frac_ppm
    """

    @operator("quality_pruning_curve", oracle=oracle)
    def quality_pruning_curve(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Prune-to-budget planning curve over the verified quality
        scorer (see block comment for the determinism + scale
        contract)."""
        from pyspark.sql import Window

        scored = REGISTRY["quality_classifier_score"](spark, sf_dir).select(
            "doc_id", "n_tokens", "score"
        )
        w = Window.orderBy(F.col("score").desc(), "doc_id")
        ranked = scored.select(
            "n_tokens",
            "score",
            F.row_number().over(w).alias("rnk"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n_total"),
            F.sum("n_tokens").over(Window.partitionBy()).alias("tok_total"),
        )
        fr = spark.createDataFrame(
            [(f,) for f in _PRUNE_FRACS_PPM], "drop_frac_ppm long"
        )
        keep_n = F.floor(
            F.col("n_total") * (1_000_000 - F.col("drop_frac_ppm")) / 1e6
        )
        kept = F.col("rnk") <= keep_n
        return (
            ranked.crossJoin(F.broadcast(fr))
            .groupBy("drop_frac_ppm")
            .agg(
                F.sum(kept.cast("long")).cast("bigint").alias("n_docs_kept"),
                F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
                .cast("bigint")
                .alias("tokens_kept"),
                F.round(
                    F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
                    * 1000000.0
                    / F.max("tok_total")
                )
                .cast("bigint")
                .alias("token_retention_ppm"),
                F.sum(
                    F.when(
                        kept,
                        F.round(F.col("score") * 1000000).cast("bigint"),
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("kept_score_e6"),
            )
            .select(
                F.col("drop_frac_ppm").cast("bigint").alias("drop_frac_ppm"),
                "n_docs_kept",
                "tokens_kept",
                "token_retention_ppm",
                "kept_score_e6",
            )
            .orderBy("drop_frac_ppm")
        )


_register_quality_pruning_curve()


# --------------------------------------------------------------------------
# Threshold pruning — the PRODUCTION twin quality_pruning_curve's
# scale contract names: instead of globally ranking every document
# (a full sort), compute a score THRESHOLD per drop fraction with
# percentile_approx (one mergeable-sketch pass) and keep score >=
# threshold (one filter pass) — the only way a prune-to-budget gate
# runs at 100 TB. Differential follows the column_quantile_sketch_gate
# pattern: the sketch threshold itself has no cross-engine twin
# (DuckDB has no GK/KLL with Spark's accuracy semantics), so the
# oracle verifies (a) EXACT content — the exact discrete threshold
# (first kept score at the exact rank cut) and its kept count, both
# engines computing them independently — and (b) TRUE gates that the
# sketch obeyed its documented rank contract (rank error <= n/ACC)
# and that the sketch-kept count stays within the provable gap bound
# of the exact cut (err*n + ties at both thresholds + 1 rounding).
# The exact-rank columns are the AUDIT content; at production only
# the sketch+filter path runs (no global sort anywhere).
# --------------------------------------------------------------------------
_THRESH_ACC = 100  # percentile_approx accuracy: rank err <= n/100


def _register_quality_threshold_pruning() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY, collect_bounded

    oracle = f"""
    WITH scored AS ({ORACLES["quality_classifier_score"]}),
    ranked AS (
      SELECT score,
             ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn,
             COUNT(*) OVER () AS n_total
      FROM scored
    ),
    fr(drop_frac_ppm) AS (VALUES
      {", ".join(f"({f})" for f in _PRUNE_FRACS_PPM)}
    ),
    cut AS (
      SELECT fr.drop_frac_ppm, r.n_total,
             MIN(CASE WHEN r.rn > FLOOR(r.n_total * fr.drop_frac_ppm
                                        / 1000000.0)
                      THEN r.score END) AS exact_thresh
      FROM ranked r CROSS JOIN fr
      GROUP BY fr.drop_frac_ppm, r.n_total
    )
    SELECT CAST(c.drop_frac_ppm AS BIGINT) AS drop_frac_ppm,
           CAST(c.n_total AS BIGINT) AS n_total,
           CAST(ROUND(c.exact_thresh * 1000000) AS BIGINT)
             AS exact_thresh_e6,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ranked r2
             WHERE r2.score >= c.exact_thresh) AS n_kept_exact,
           TRUE AS sketch_rank_ok,
           TRUE AS kept_gap_ok
    FROM cut c
    ORDER BY drop_frac_ppm
    """

    @operator("quality_threshold_pruning", oracle=oracle)
    def quality_threshold_pruning(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Sketch-threshold prune gate (see block comment). The sketch
        path is two passes (percentile_approx, then counting
        aggregates); the exact-rank columns are audit content."""
        from pyspark.sql import Window

        scored = REGISTRY["quality_classifier_score"](spark, sf_dir).select(
            "doc_id", "score"
        )
        fracs = [f / 1e6 for f in _PRUNE_FRACS_PPM]
        # pass 1: the mergeable sketch (production)
        row = collect_bounded(
            scored.agg(
                F.percentile_approx(
                    "score", F.array(*[F.lit(f) for f in fracs]), _THRESH_ACC
                ).alias("ts"),
                F.count(F.lit(1)).alias("n"),
            )
        )[0]
        thresholds, n_total = list(row.ts), int(row.n)
        # audit side: exact discrete threshold at each exact rank cut
        w = Window.orderBy("score", "doc_id")
        ranked = scored.select(
            "score", F.row_number().over(w).alias("rn")
        )
        err = -(-n_total // _THRESH_ACC)  # ceil(n/ACC)
        # pass 2 (production + audit content): ONE counting aggregate
        # computes every fraction's sketch-threshold counts AND the
        # exact discrete thresholds — a per-fraction loop of collects
        # ran 7 jobs where one suffices (5.7s -> ~1s at sf0.1)
        drop_ns = {
            f_ppm: (n_total * f_ppm) // 1_000_000
            for f_ppm in _PRUNE_FRACS_PPM
        }
        aggs = []
        for f_ppm, t in zip(_PRUNE_FRACS_PPM, thresholds):
            aggs += [
                F.sum((F.col("score") < t).cast("long")).alias(
                    f"n_lt_{f_ppm}"
                ),
                F.sum((F.col("score") <= t).cast("long")).alias(
                    f"n_le_{f_ppm}"
                ),
                F.sum((F.col("score") == t).cast("long")).alias(
                    f"n_eq_{f_ppm}"
                ),
                F.min(
                    F.when(F.col("rn") > drop_ns[f_ppm], F.col("score"))
                ).alias(f"exact_t_{f_ppm}"),
            ]
        row2 = collect_bounded(ranked.agg(*aggs))[0]
        # pass 3 (audit content): exact kept counts for all fractions
        row3 = collect_bounded(
            ranked.agg(
                *[
                    F.sum(
                        (
                            F.col("score")
                            >= float(row2[f"exact_t_{f_ppm}"])
                        ).cast("long")
                    ).alias(f"k_{f_ppm}")
                    for f_ppm in _PRUNE_FRACS_PPM
                ]
            )
        )[0]
        out_rows = []
        for f_ppm, t in zip(_PRUNE_FRACS_PPM, thresholds):
            n_lt = int(row2[f"n_lt_{f_ppm}"])
            n_le = int(row2[f"n_le_{f_ppm}"])
            n_eq = int(row2[f"n_eq_{f_ppm}"])
            exact_t = float(row2[f"exact_t_{f_ppm}"])
            n_kept_exact = int(row3[f"k_{f_ppm}"])
            n_kept_sketch = n_total - n_lt
            target = n_total * f_ppm / 1_000_000.0
            rank_ok = n_lt <= target + err and n_le >= target - err
            # ties at the exact threshold spill the exact kept count
            # above the nominal cut (n_total - drop_n); they widen the
            # provable gap the same way sketch-threshold ties (n_eq) do
            exact_excess = n_kept_exact - (n_total - drop_ns[f_ppm])
            gap_ok = abs(n_kept_sketch - n_kept_exact) <= (
                err + n_eq + exact_excess + 1
            )
            out_rows.append(
                (
                    f_ppm,
                    n_total,
                    int(round(exact_t * 1_000_000)),
                    n_kept_exact,
                    bool(rank_ok),
                    bool(gap_ok),
                )
            )
        return spark.createDataFrame(
            out_rows,
            "drop_frac_ppm long, n_total long, exact_thresh_e6 long, "
            "n_kept_exact long, sketch_rank_ok boolean, "
            "kept_gap_ok boolean",
        ).orderBy("drop_frac_ppm")


_register_quality_threshold_pruning()


# ==========================================================================
# Round-12 additions (VERDICT r10 item 7).
# ==========================================================================

# --------------------------------------------------------------------------
# Shard-mix uniformity (round-11 addition to the LLM-pipeline north
# star): partition_skew_report checks shard SIZES; training quality
# also needs shard COMPOSITION — every shard of a shuffled corpus
# should look like the corpus (IID batches), and a source-clustered
# layout silently feeds the model hour-long single-source phases.
# For each candidate shard count S the docs are assigned by the
# salted-md5 convention (hash_split_assignment's), and each shard's
# source distribution is compared to the global one by total
# variation distance. ALL-INTEGER determinism: TV is accumulated as
# SUM |n_{shard,src} * n_total - n_src * n_shard| over the source
# domain (exact BIGINTs; the fixture's magnitudes cap at ~500 * 500
# * 20 << 2^63) and divided once at the end — no float accumulation
# order to diverge between engines.
# Scale: one doc-keyed pass to (S, shard, source) counts (domain-
# sized output), then domain-only arithmetic.
# --------------------------------------------------------------------------
_SHARD_COUNTS = [4, 16]
_SHARD_SALT = "shard:"

_SHARD_MIX_ORACLE = f"""
    WITH assigned AS (
      SELECT source,
             ('0x' || substr(md5('{_SHARD_SALT}' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS h
      FROM documents
    ),
    sc(shard_count) AS (VALUES
      {", ".join(f"({s})" for s in _SHARD_COUNTS)}),
    tagged AS (
      SELECT sc.shard_count, a.h % sc.shard_count AS shard, a.source
      FROM assigned a CROSS JOIN sc
    ),
    cell AS (
      SELECT shard_count, shard, source,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM tagged GROUP BY 1, 2, 3
    ),
    gsrc AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src,
             CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_total
      FROM documents GROUP BY source
    ),
    per_shard AS (
      SELECT shard_count, shard, CAST(SUM(n) AS BIGINT) AS n_docs
      FROM cell GROUP BY 1, 2
    ),
    tv AS (
      SELECT p.shard_count, p.shard, p.n_docs, g.n_total,
             CAST(SUM(ABS(COALESCE(c.n, 0) * g.n_total
                          - g.n_src * p.n_docs)) AS BIGINT) AS tv_num
      FROM per_shard p
      CROSS JOIN gsrc g
      LEFT JOIN cell c ON c.shard_count = p.shard_count
                      AND c.shard = p.shard AND c.source = g.source
      GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(shard_count AS BIGINT) AS shard_count,
           CAST(shard AS BIGINT) AS shard,
           n_docs,
           CAST(ROUND(tv_num * 1000000.0 / (2.0 * n_docs * n_total))
                AS BIGINT) AS tv_ppm
    FROM tv
    ORDER BY shard_count, shard
    """


@operator("shard_mix_uniformity", oracle=_SHARD_MIX_ORACLE)
def shard_mix_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard source-composition deviation (total variation, ppm)
    for candidate shard counts under the salted-hash assignment (see
    block comment: all-integer TV accumulation)."""
    from bigdataentrytask_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(_SHARD_SALT), F.col("doc_id").cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    sc = spark.createDataFrame(
        [(s,) for s in _SHARD_COUNTS], "shard_count long"
    )
    tagged = d.select("source", h.alias("h")).crossJoin(F.broadcast(sc))
    cell = tagged.groupBy(
        "shard_count", (F.col("h") % F.col("shard_count")).alias("shard"),
        "source",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    glob = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_src")
    )
    glob = glob.crossJoin(
        F.broadcast(d.agg(F.count(F.lit(1)).cast("bigint").alias("n_total")))
    )
    per_shard = cell.groupBy("shard_count", "shard").agg(
        F.sum("n").cast("bigint").alias("n_docs")
    )
    tv = (
        per_shard.crossJoin(F.broadcast(glob))
        .join(cell, ["shard_count", "shard", "source"], "left")
        .groupBy("shard_count", "shard", "n_docs", "n_total")
        .agg(
            F.sum(
                F.abs(
                    F.coalesce("n", F.lit(0)) * F.col("n_total")
                    - F.col("n_src") * F.col("n_docs")
                )
            )
            .cast("bigint")
            .alias("tv_num")
        )
    )
    return (
        tv.select(
            F.col("shard_count").cast("bigint").alias("shard_count"),
            F.col("shard").cast("bigint").alias("shard"),
            "n_docs",
            F.round(
                F.col("tv_num")
                * 1000000.0
                / (2.0 * F.col("n_docs") * F.col("n_total"))
            )
            .cast("bigint")
            .alias("tv_ppm"),
        )
        .orderBy("shard_count", "shard")
    )


# ==========================================================================
# Round-13 additions (VERDICT r11 item 6).
# ==========================================================================

# --------------------------------------------------------------------------
# Stratified shard assignment twin (ROADMAP round-13, the fix
# shard_mix_uniformity motivates): that audit pinned the problem —
# salted-hash sharding leaves per-shard source composition drifting
# from the corpus mix, and FINER sharding drifts worse (mean TV at
# S=16 > S=4). The standard fix is stratified assignment: round-robin
# WITHIN each source (shard = rank-within-source mod S), which by
# construction places floor/ceil(n_src/S) docs of every source in
# every shard. This table prices both policies on the same TV yard-
# stick, aggregated per (shard_count, policy): mean and max per-shard
# TV ppm. Pinned regime: stratified mean TV is a small fraction of
# hashed mean TV at BOTH shard counts (the per-shard cell error is
# <= 1 doc per source under round-robin).
# Exact math: the same all-integer |n_cell*n_total - n_src*n_docs|
# TV numerator as shard_mix_uniformity; per-shard tv_ppm is the one
# double rounding, and the mean re-accumulates those BIGINTs exactly
# (SUM/COUNT, one ROUND) per the module convention.
# Scale: rank-within-source is a keyed window (bounded per-source
# state); everything downstream is the same bounded
# (shard_count x S x source) rollup as the audit. At 100 TB the
# round-robin rank is per-shard-prefix counts (the deterministic
# manifest contract), not a global sort.
# --------------------------------------------------------------------------
_STRAT_TWIN_ORACLE = f"""
    WITH sc(shard_count) AS (VALUES
      {", ".join(f"({s})" for s in _SHARD_COUNTS)}),
    hashed AS (
      SELECT source,
             ('0x' || substr(md5('{_SHARD_SALT}' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS h
      FROM documents
    ),
    strat AS (
      SELECT source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1
               AS rk
      FROM documents
    ),
    tagged AS (
      SELECT sc.shard_count, 'a_hashed' AS policy,
             h % sc.shard_count AS shard, source
      FROM hashed CROSS JOIN sc
      UNION ALL
      SELECT sc.shard_count, 'b_stratified',
             rk % sc.shard_count, source
      FROM strat CROSS JOIN sc
    ),
    cell AS (
      SELECT shard_count, policy, shard, source,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM tagged GROUP BY 1, 2, 3, 4
    ),
    gsrc AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src,
             CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_total
      FROM documents GROUP BY source
    ),
    per_shard AS (
      SELECT shard_count, policy, shard, CAST(SUM(n) AS BIGINT) AS n_docs
      FROM cell GROUP BY 1, 2, 3
    ),
    tv AS (
      SELECT p.shard_count, p.policy, p.shard, p.n_docs, g.n_total,
             CAST(SUM(ABS(COALESCE(c.n, 0) * g.n_total
                          - g.n_src * p.n_docs)) AS BIGINT) AS tv_num
      FROM per_shard p
      CROSS JOIN gsrc g
      LEFT JOIN cell c ON c.shard_count = p.shard_count
                      AND c.policy = p.policy
                      AND c.shard = p.shard AND c.source = g.source
      GROUP BY 1, 2, 3, 4, 5
    ),
    shard_tv AS (
      SELECT shard_count, policy,
             CAST(ROUND(tv_num * 1000000.0 / (2.0 * n_docs * n_total))
                  AS BIGINT) AS tv_ppm,
             n_docs
      FROM tv
    )
    SELECT CAST(shard_count AS BIGINT) AS shard_count,
           policy,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(ROUND(SUM(tv_ppm) * 1.0 / COUNT(*)) AS BIGINT)
             AS mean_tv_ppm,
           CAST(MAX(tv_ppm) AS BIGINT) AS max_tv_ppm
    FROM shard_tv
    GROUP BY 1, 2
    ORDER BY shard_count, policy
    """


@operator("shard_stratified_twin", oracle=_STRAT_TWIN_ORACLE)
def shard_stratified_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-hash vs round-robin-per-source shard assignment, priced
    as per-(shard_count, policy) mean/max total-variation ppm against
    the corpus source mix (see block comment; same all-integer TV
    numerator as shard_mix_uniformity)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sc = spark.createDataFrame(
        [(s,) for s in _SHARD_COUNTS], "shard_count long"
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(_SHARD_SALT), F.col("doc_id").cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    hashed = d.select("source", h.alias("k")).crossJoin(
        F.broadcast(sc)
    ).select(
        "shard_count",
        F.lit("a_hashed").alias("policy"),
        (F.col("k") % F.col("shard_count")).alias("shard"),
        "source",
    )
    rk = (
        F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
        - 1
    )
    strat = d.select("source", rk.alias("rk")).crossJoin(
        F.broadcast(sc)
    ).select(
        "shard_count",
        F.lit("b_stratified").alias("policy"),
        (F.col("rk") % F.col("shard_count")).alias("shard"),
        "source",
    )
    tagged = hashed.unionByName(strat)
    cell = tagged.groupBy("shard_count", "policy", "shard", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    glob = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_src")
    )
    glob = glob.crossJoin(
        F.broadcast(d.agg(F.count(F.lit(1)).cast("bigint").alias("n_total")))
    )
    per_shard = cell.groupBy("shard_count", "policy", "shard").agg(
        F.sum("n").cast("bigint").alias("n_docs")
    )
    tv = (
        per_shard.crossJoin(F.broadcast(glob))
        .join(cell, ["shard_count", "policy", "shard", "source"], "left")
        .groupBy("shard_count", "policy", "shard", "n_docs", "n_total")
        .agg(
            F.sum(
                F.abs(
                    F.coalesce("n", F.lit(0)) * F.col("n_total")
                    - F.col("n_src") * F.col("n_docs")
                )
            )
            .cast("bigint")
            .alias("tv_num")
        )
    )
    shard_tv = tv.select(
        "shard_count",
        "policy",
        F.round(
            F.col("tv_num")
            * 1000000.0
            / (2.0 * F.col("n_docs") * F.col("n_total"))
        )
        .cast("bigint")
        .alias("tv_ppm"),
        "n_docs",
    )
    return (
        shard_tv.groupBy("shard_count", "policy")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shards"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.round(F.sum("tv_ppm") * 1.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_tv_ppm"),
            F.max("tv_ppm").cast("bigint").alias("max_tv_ppm"),
        )
        .select(
            F.col("shard_count").cast("bigint").alias("shard_count"),
            "policy",
            "n_shards",
            "n_docs",
            "mean_tv_ppm",
            "max_tv_ppm",
        )
        .orderBy("shard_count", "policy")
    )


# ==========================================================================
# Round-14 additions (ROADMAP §"Round 14+").
# ==========================================================================

# --------------------------------------------------------------------------
# Gate-stacking ledger (ROADMAP round-14 "Curation"): the single-gate
# ops price each filter in isolation; a pretraining corpus passes a
# FUNNEL — exact dedup, then the per-(lang, source) perplexity gate,
# then the quality classifier — and per-source attrition compounds
# differently than any one gate suggests. This ledger applies the
# three gates in sequence and reports the surviving doc and token
# mass per source after each stage:
#   stage 1 — exact dedup: dedup_exact's convention (keep MIN doc_id
#             per md5(normalized text) group).
#   stage 2 — perplexity gate: the full-corpus bigram-LM score
#             (perplexity_gate_by_lang's exact 1e6-grid arithmetic),
#             but the 10% percentile threshold is computed over the
#             STAGE-1 SURVIVORS per (lang, source) — a funnel gates
#             the population it actually receives. Unscored docs
#             (< 2 tokens) pass untouched, matching the single-gate
#             convention.
#   stage 3 — quality classifier: quality_classifier_score's
#             absolute keep (score > 0.5) on stage-2 survivors
#             (unclassifiable docs pass).
# Token mass = tokens() count (quality_prune_mix_shift's convention).
# Pinned shape: per source, n_raw >= n_dedup >= n_ppl >= n_quality
# (monotone funnel) and likewise for token mass.
# Exact math: the LM scores are the module's verified integer-grid
# sums; thresholds are exact discrete percentiles; the two ppm
# columns are the only doubles.
# Scale: one fingerprint shuffle (dedup), the bigram-LM's two count
# joins, one (lang, source)-keyed rank, three doc_id-keyed left
# joins, one per-source rollup — no pair enumeration, no collect.
# --------------------------------------------------------------------------
_GSL_FRAC_PPM = 100_000  # pins text_analysis._PPG_FRAC_PPM (worst 10%)

_GSL_ORACLE = f"""
    WITH fp AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id, md5({{GSL_NORM}}) AS fp FROM documents)
      GROUP BY fp
    ),
    {LM_SCORED_CTES}    tagged AS (
      SELECT d2.lang, d2.source, s.doc_id, s.score_e6,
             ROW_NUMBER() OVER (PARTITION BY d2.lang, d2.source
                                ORDER BY s.score_e6, s.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d2.lang, d2.source) AS n_grp
      FROM scored s
      JOIN fp ON fp.doc_id = s.doc_id
      JOIN documents d2 ON d2.doc_id = s.doc_id
    ),
    cut AS (
      SELECT lang, source,
             MIN(CASE WHEN rn > n_grp * {_GSL_FRAC_PPM} // 1000000
                      THEN score_e6 END) AS th
      FROM tagged GROUP BY 1, 2
    ),
    pr2 AS (
      SELECT t.doc_id
      FROM tagged t
      JOIN cut c ON c.lang = t.lang AND c.source = t.source
      WHERE t.score_e6 < c.th
    ),
    q AS ({{GSL_QUALITY}}),
    flags AS (
      SELECT d.source,
             CAST(len({sql_tokens('text')}) AS BIGINT) AS tok,
             (fp.doc_id IS NOT NULL) AS f1,
             (fp.doc_id IS NOT NULL AND pr2.doc_id IS NULL) AS f2,
             (fp.doc_id IS NOT NULL AND pr2.doc_id IS NULL
              AND COALESCE(q.keep, TRUE)) AS f3
      FROM documents d
      LEFT JOIN fp ON fp.doc_id = d.doc_id
      LEFT JOIN pr2 ON pr2.doc_id = d.doc_id
      LEFT JOIN q ON q.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(tok) AS BIGINT) AS tok_raw,
           CAST(count_if(f1) AS BIGINT) AS n_dedup,
           CAST(SUM(CASE WHEN f1 THEN tok ELSE 0 END) AS BIGINT)
             AS tok_dedup,
           CAST(count_if(f2) AS BIGINT) AS n_ppl,
           CAST(SUM(CASE WHEN f2 THEN tok ELSE 0 END) AS BIGINT)
             AS tok_ppl,
           CAST(count_if(f3) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN f3 THEN tok ELSE 0 END) AS BIGINT)
             AS tok_quality,
           CAST(ROUND(count_if(f3) * 1000000.0 / COUNT(*)) AS BIGINT)
             AS kept_docs_ppm,
           CAST(ROUND(SUM(CASE WHEN f3 THEN tok ELSE 0 END) * 1000000.0
                      / SUM(tok)) AS BIGINT) AS kept_tokens_ppm
    FROM flags
    GROUP BY source
    ORDER BY source
    """


def _gsl_oracle() -> str:
    """Late-compose the dedup fingerprint + quality CTE (ORACLES is
    populated by the decorators above in this module; the normalize
    helper lives in functions.text)."""
    from bigdataentrytask_spark.functions.text import sql_normalize_text
    from bigdataentrytask_spark.operators import ORACLES

    return _GSL_ORACLE.replace(
        "{GSL_NORM}", sql_normalize_text("text")
    ).replace("{GSL_QUALITY}", ORACLES["quality_classifier_score"])


@operator("gate_stacking_ledger", oracle=_gsl_oracle())
def gate_stacking_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc/token survivorship through the stacked corpus
    funnel: exact dedup -> per-(lang, source) perplexity gate ->
    quality classifier (see block comment)."""
    from pyspark.sql import Window

    from bigdataentrytask_spark.functions.text import normalize_text
    from bigdataentrytask_spark.operators import REGISTRY

    d = _docs(spark, sf_dir)
    keep1 = (
        d.select("doc_id", F.md5(normalize_text("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("s1"))
    )
    scored = lm_doc_scores(d)
    ws = Window.partitionBy("lang", "source").orderBy(
        "score_e6", "doc_id"
    )
    ranked = (
        scored.join(keep1.select("doc_id"), "doc_id")
        .join(d.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "lang",
            "source",
            "doc_id",
            "score_e6",
            F.row_number().over(ws).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("lang", "source"))
            .alias("n_grp"),
        )
    )
    cut = ranked.groupBy("lang", "source").agg(
        F.min(
            F.when(
                F.col("rn")
                > F.floor(F.col("n_grp") * _GSL_FRAC_PPM / 1000000),
                F.col("score_e6"),
            )
        ).alias("th")
    )
    pruned2 = (
        ranked.join(F.broadcast(cut), ["lang", "source"])
        .filter(F.col("score_e6") < F.col("th"))
        .select("doc_id", F.lit(True).alias("p2"))
    )
    qk = REGISTRY["quality_classifier_score"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("qkeep")
    )
    f1 = F.coalesce("s1", F.lit(False))
    f2 = f1 & ~F.coalesce("p2", F.lit(False))
    f3 = f2 & F.coalesce("qkeep", F.lit(True))
    flags = (
        d.select(
            "source",
            "doc_id",
            F.size(tokens("text")).cast("bigint").alias("tok"),
        )
        .join(keep1, "doc_id", "left")
        .join(pruned2, "doc_id", "left")
        .join(qk, "doc_id", "left")
        .select(
            "source",
            "tok",
            f1.alias("f1"),
            f2.alias("f2"),
            f3.alias("f3"),
        )
    )
    kept_tok = F.sum(F.when(F.col("f3"), F.col("tok")).otherwise(0))
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_raw"),
            F.sum("tok").cast("bigint").alias("tok_raw"),
            F.sum(F.col("f1").cast("long")).cast("bigint").alias("n_dedup"),
            F.sum(F.when(F.col("f1"), F.col("tok")).otherwise(0))
            .cast("bigint")
            .alias("tok_dedup"),
            F.sum(F.col("f2").cast("long")).cast("bigint").alias("n_ppl"),
            F.sum(F.when(F.col("f2"), F.col("tok")).otherwise(0))
            .cast("bigint")
            .alias("tok_ppl"),
            F.sum(F.col("f3").cast("long"))
            .cast("bigint")
            .alias("n_quality"),
            kept_tok.cast("bigint").alias("tok_quality"),
            F.round(
                F.sum(F.col("f3").cast("long")) * 1000000.0
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("kept_docs_ppm"),
            F.round(kept_tok * 1000000.0 / F.sum("tok"))
            .cast("bigint")
            .alias("kept_tokens_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Funnel-order sensitivity (round-15 queue item, pulled forward):
# gate_stacking_ledger fixes the funnel order (dedup -> perplexity ->
# quality). The quality cut is ABSOLUTE (score > 0.5), so re-ordering
# it cannot change WHICH docs it rejects — but it changes the
# POPULATION the perplexity percentile ranks over, which moves every
# (lang, source) threshold, which moves the final corpus. This table
# prices exactly that: order A = ppl-gate the dedup survivors, then
# quality (the ledger's order); order B = quality-cut the dedup
# survivors, then ppl-gate what remains. Per source: final doc/token
# mass under each order, the docs kept by exactly one order (both
# directions — thresholds move both ways), and the signed token
# delta as ppm of the raw mass. A release pipeline whose output
# moves under re-ordering needs its order pinned in config; this op
# is the audit that says whether yours does.
# Exact math: one LM scoring pass (the module's integer-grid bigram
# sums), two exact discrete thresholds per (lang, source), integer
# mass everywhere; the one ppm column is the only double.
# Scale: gate_stacking_ledger's plan plus ONE extra (lang, source)
# rank over the quality-kept survivor subset — no new fact-scale
# shuffles.
# --------------------------------------------------------------------------
_FOS_ORACLE = f"""
    WITH fp AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id, md5({{FOS_NORM}}) AS fp FROM documents)
      GROUP BY fp
    ),
    {LM_SCORED_CTES}    q AS ({{FOS_QUALITY}}),
    tagged_a AS (
      SELECT d2.lang, d2.source, s.doc_id, s.score_e6,
             ROW_NUMBER() OVER (PARTITION BY d2.lang, d2.source
                                ORDER BY s.score_e6, s.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d2.lang, d2.source) AS n_grp
      FROM scored s
      JOIN fp ON fp.doc_id = s.doc_id
      JOIN documents d2 ON d2.doc_id = s.doc_id
    ),
    cut_a AS (
      SELECT lang, source,
             MIN(CASE WHEN rn > n_grp * {_GSL_FRAC_PPM} // 1000000
                      THEN score_e6 END) AS th
      FROM tagged_a GROUP BY 1, 2
    ),
    pr_a AS (
      SELECT t.doc_id
      FROM tagged_a t
      JOIN cut_a c ON c.lang = t.lang AND c.source = t.source
      WHERE t.score_e6 < c.th
    ),
    tagged_b AS (
      SELECT d2.lang, d2.source, s.doc_id, s.score_e6,
             ROW_NUMBER() OVER (PARTITION BY d2.lang, d2.source
                                ORDER BY s.score_e6, s.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d2.lang, d2.source) AS n_grp
      FROM scored s
      JOIN fp ON fp.doc_id = s.doc_id
      JOIN q ON q.doc_id = s.doc_id AND q.keep
      JOIN documents d2 ON d2.doc_id = s.doc_id
    ),
    cut_b AS (
      SELECT lang, source,
             MIN(CASE WHEN rn > n_grp * {_GSL_FRAC_PPM} // 1000000
                      THEN score_e6 END) AS th
      FROM tagged_b GROUP BY 1, 2
    ),
    pr_b AS (
      SELECT t.doc_id
      FROM tagged_b t
      JOIN cut_b c ON c.lang = t.lang AND c.source = t.source
      WHERE t.score_e6 < c.th
    ),
    flags AS (
      SELECT d.source,
             CAST(len({sql_tokens('text')}) AS BIGINT) AS tok,
             (fp.doc_id IS NOT NULL AND pa.doc_id IS NULL
              AND COALESCE(q.keep, TRUE)) AS fa,
             (fp.doc_id IS NOT NULL AND COALESCE(q.keep, TRUE)
              AND pb.doc_id IS NULL) AS fb
      FROM documents d
      LEFT JOIN fp ON fp.doc_id = d.doc_id
      LEFT JOIN pr_a pa ON pa.doc_id = d.doc_id
      LEFT JOIN pr_b pb ON pb.doc_id = d.doc_id
      LEFT JOIN q ON q.doc_id = d.doc_id
    )
    SELECT source,
           CAST(count_if(fa) AS BIGINT) AS n_final_a,
           CAST(count_if(fb) AS BIGINT) AS n_final_b,
           CAST(count_if(fa AND NOT fb) AS BIGINT) AS only_a,
           CAST(count_if(fb AND NOT fa) AS BIGINT) AS only_b,
           CAST(SUM(CASE WHEN fa THEN tok ELSE 0 END) AS BIGINT)
             AS tok_final_a,
           CAST(SUM(CASE WHEN fb THEN tok ELSE 0 END) AS BIGINT)
             AS tok_final_b,
           CAST(ROUND((SUM(CASE WHEN fa THEN tok ELSE 0 END)
                       - SUM(CASE WHEN fb THEN tok ELSE 0 END))
                      * 1000000.0 / SUM(tok)) AS BIGINT)
             AS order_delta_ppm
    FROM flags
    GROUP BY source
    ORDER BY source
    """


def _fos_oracle() -> str:
    from bigdataentrytask_spark.functions.text import sql_normalize_text
    from bigdataentrytask_spark.operators import ORACLES

    return _FOS_ORACLE.replace(
        "{FOS_NORM}", sql_normalize_text("text")
    ).replace("{FOS_QUALITY}", ORACLES["quality_classifier_score"])


@operator("funnel_order_sensitivity", oracle=_fos_oracle())
def funnel_order_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Final per-source corpus mass under the two funnel orders —
    ppl-then-quality vs quality-then-ppl — with the docs each order
    uniquely keeps and the signed token delta (see block comment)."""
    from pyspark.sql import Window

    from bigdataentrytask_spark.functions.text import normalize_text
    from bigdataentrytask_spark.operators import REGISTRY

    d = _docs(spark, sf_dir)
    keep1 = (
        d.select("doc_id", F.md5(normalize_text("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("s1"))
    )
    scored = lm_doc_scores(d)
    qk = REGISTRY["quality_classifier_score"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("qkeep")
    )

    def pruned_over(pop):
        ws = Window.partitionBy("lang", "source").orderBy(
            "score_e6", "doc_id"
        )
        ranked = pop.select(
            "lang",
            "source",
            "doc_id",
            "score_e6",
            F.row_number().over(ws).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("lang", "source"))
            .alias("n_grp"),
        )
        cut = ranked.groupBy("lang", "source").agg(
            F.min(
                F.when(
                    F.col("rn")
                    > F.floor(F.col("n_grp") * _GSL_FRAC_PPM / 1000000),
                    F.col("score_e6"),
                )
            ).alias("th")
        )
        return (
            ranked.join(F.broadcast(cut), ["lang", "source"])
            .filter(F.col("score_e6") < F.col("th"))
            .select("doc_id")
        )

    base = scored.join(keep1.select("doc_id"), "doc_id").join(
        d.select("doc_id", "lang", "source"), "doc_id"
    )
    pr_a = pruned_over(base).select("doc_id", F.lit(True).alias("pa"))
    pr_b = pruned_over(
        base.join(qk.filter(F.col("qkeep")).select("doc_id"), "doc_id")
    ).select("doc_id", F.lit(True).alias("pb"))
    fa = (
        F.coalesce("s1", F.lit(False))
        & ~F.coalesce("pa", F.lit(False))
        & F.coalesce("qkeep", F.lit(True))
    )
    fb = (
        F.coalesce("s1", F.lit(False))
        & F.coalesce("qkeep", F.lit(True))
        & ~F.coalesce("pb", F.lit(False))
    )
    flags = (
        d.select(
            "source",
            "doc_id",
            F.size(tokens("text")).cast("bigint").alias("tok"),
        )
        .join(keep1, "doc_id", "left")
        .join(pr_a, "doc_id", "left")
        .join(pr_b, "doc_id", "left")
        .join(qk, "doc_id", "left")
        .select("source", "tok", fa.alias("fa"), fb.alias("fb"))
    )
    tok_a = F.sum(F.when(F.col("fa"), F.col("tok")).otherwise(0))
    tok_b = F.sum(F.when(F.col("fb"), F.col("tok")).otherwise(0))
    return (
        flags.groupBy("source")
        .agg(
            F.sum(F.col("fa").cast("long")).cast("bigint").alias("n_final_a"),
            F.sum(F.col("fb").cast("long")).cast("bigint").alias("n_final_b"),
            F.sum((F.col("fa") & ~F.col("fb")).cast("long"))
            .cast("bigint")
            .alias("only_a"),
            F.sum((F.col("fb") & ~F.col("fa")).cast("long"))
            .cast("bigint")
            .alias("only_b"),
            tok_a.cast("bigint").alias("tok_final_a"),
            tok_b.cast("bigint").alias("tok_final_b"),
            F.round((tok_a - tok_b) * 1000000.0 / F.sum("tok"))
            .cast("bigint")
            .alias("order_delta_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Funnel threshold provenance (round-15 queue item, pulled forward):
# funnel_order_sensitivity reports the ORDER's effect on final mass
# and certified sf0.01 order-insensitive — but it aggregates away
# the mechanism. This table exposes it: per (lang, source), the
# ranked population and the exact 10% threshold under order A (ppl
# ranks dedup survivors) vs order B (ppl ranks dedup-AND-quality
# survivors), the pruned counts, the signed threshold shift on the
# 1e6 log-prob grid, and the population the quality cut removed
# from the ranking. Groups must be rankable under BOTH orders (inner
# join; a group the quality cut empties has no order-B gate to
# compare). An owner reads this to see WHICH segments' gates move
# when the pipeline is reordered even when the final corpus doesn't
# — thresholds shifting under a stable output is exactly the
# fragility a config pin protects against.
# Exact math: one LM scoring pass, two exact discrete thresholds per
# group, all-integer output.
# Scale: funnel_order_sensitivity's plan minus the final-mass joins.
# --------------------------------------------------------------------------
_FTP_ORACLE = f"""
    WITH fp AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id, md5({{FTP_NORM}}) AS fp FROM documents)
      GROUP BY fp
    ),
    {LM_SCORED_CTES}    q AS ({{FTP_QUALITY}}),
    gate_a AS (
      SELECT lang, source,
             CAST(MAX(n_grp) AS BIGINT) AS n_pop,
             CAST(MIN(CASE WHEN rn > n_grp * {_GSL_FRAC_PPM} // 1000000
                           THEN score_e6 END) AS BIGINT) AS th,
             CAST(count_if(
               score_e6 < (SELECT MIN(CASE WHEN t2.rn > t2.n_grp
                                  * {_GSL_FRAC_PPM} // 1000000
                                THEN t2.score_e6 END)
                           FROM (
                             SELECT s2.score_e6,
                                    ROW_NUMBER() OVER (
                                      PARTITION BY d3.lang, d3.source
                                      ORDER BY s2.score_e6, s2.doc_id)
                                      AS rn,
                                    COUNT(*) OVER (
                                      PARTITION BY d3.lang, d3.source)
                                      AS n_grp,
                                    d3.lang AS lg, d3.source AS sc
                             FROM scored s2
                             JOIN fp f2 ON f2.doc_id = s2.doc_id
                             JOIN documents d3 ON d3.doc_id = s2.doc_id
                           ) t2
                           WHERE t2.lg = t.lang AND t2.sc = t.source))
               AS BIGINT) AS n_pruned
      FROM (
        SELECT d2.lang, d2.source, s.score_e6,
               ROW_NUMBER() OVER (PARTITION BY d2.lang, d2.source
                                  ORDER BY s.score_e6, s.doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY d2.lang, d2.source) AS n_grp
        FROM scored s
        JOIN fp ON fp.doc_id = s.doc_id
        JOIN documents d2 ON d2.doc_id = s.doc_id
      ) t
      GROUP BY lang, source
    ),
    tb AS (
      SELECT d2.lang, d2.source, s.score_e6,
             ROW_NUMBER() OVER (PARTITION BY d2.lang, d2.source
                                ORDER BY s.score_e6, s.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d2.lang, d2.source) AS n_grp
      FROM scored s
      JOIN fp ON fp.doc_id = s.doc_id
      JOIN q ON q.doc_id = s.doc_id AND q.keep
      JOIN documents d2 ON d2.doc_id = s.doc_id
    ),
    gate_b AS (
      SELECT lang, source,
             CAST(MAX(n_grp) AS BIGINT) AS n_pop,
             CAST(MIN(CASE WHEN rn > n_grp * {_GSL_FRAC_PPM} // 1000000
                           THEN score_e6 END) AS BIGINT) AS th
      FROM tb GROUP BY lang, source
    ),
    prb AS (
      SELECT t.lang, t.source,
             CAST(count_if(t.score_e6 < g.th) AS BIGINT) AS n_pruned
      FROM tb t JOIN gate_b g ON g.lang = t.lang AND g.source = t.source
      GROUP BY 1, 2
    )
    SELECT a.lang, a.source,
           a.n_pop AS n_pop_a, a.th AS th_a_e6, a.n_pruned AS n_pruned_a,
           b.n_pop AS n_pop_b, b.th AS th_b_e6,
           pb.n_pruned AS n_pruned_b,
           b.th - a.th AS th_shift_e6,
           a.n_pop - b.n_pop AS pop_drop
    FROM gate_a a
    JOIN gate_b b ON b.lang = a.lang AND b.source = a.source
    JOIN prb pb ON pb.lang = a.lang AND pb.source = a.source
    ORDER BY a.lang, a.source
    """


def _ftp_oracle() -> str:
    from bigdataentrytask_spark.functions.text import sql_normalize_text
    from bigdataentrytask_spark.operators import ORACLES

    return _FTP_ORACLE.replace(
        "{FTP_NORM}", sql_normalize_text("text")
    ).replace("{FTP_QUALITY}", ORACLES["quality_classifier_score"])


@operator("funnel_threshold_provenance", oracle=_ftp_oracle())
def funnel_threshold_provenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(lang, source) ppl-gate populations, exact thresholds, and
    pruned counts under both funnel orders, with the signed threshold
    shift (see block comment)."""
    from pyspark.sql import Window

    from bigdataentrytask_spark.functions.text import normalize_text
    from bigdataentrytask_spark.operators import REGISTRY

    d = _docs(spark, sf_dir)
    keep1 = (
        d.select("doc_id", F.md5(normalize_text("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    scored = lm_doc_scores(d)
    qk = REGISTRY["quality_classifier_score"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("qkeep")
    )

    def gate_of(pop):
        ws = Window.partitionBy("lang", "source").orderBy(
            "score_e6", "doc_id"
        )
        ranked = pop.select(
            "lang",
            "source",
            "score_e6",
            F.row_number().over(ws).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("lang", "source"))
            .alias("n_grp"),
        )
        cut = ranked.groupBy("lang", "source").agg(
            F.max("n_grp").cast("bigint").alias("n_pop"),
            F.min(
                F.when(
                    F.col("rn")
                    > F.floor(F.col("n_grp") * _GSL_FRAC_PPM / 1000000),
                    F.col("score_e6"),
                )
            )
            .cast("bigint")
            .alias("th"),
        )
        pruned = (
            ranked.join(F.broadcast(cut), ["lang", "source"])
            .groupBy("lang", "source")
            .agg(
                F.sum((F.col("score_e6") < F.col("th")).cast("long"))
                .cast("bigint")
                .alias("n_pruned")
            )
        )
        return cut.join(pruned, ["lang", "source"])

    base = scored.join(keep1, "doc_id").join(
        d.select("doc_id", "lang", "source"), "doc_id"
    )
    ga = gate_of(base)
    gb = gate_of(
        base.join(qk.filter(F.col("qkeep")).select("doc_id"), "doc_id")
    )
    return (
        ga.select(
            "lang",
            "source",
            F.col("n_pop").alias("n_pop_a"),
            F.col("th").alias("th_a_e6"),
            F.col("n_pruned").alias("n_pruned_a"),
        )
        .join(
            gb.select(
                "lang",
                "source",
                F.col("n_pop").alias("n_pop_b"),
                F.col("th").alias("th_b_e6"),
                F.col("n_pruned").alias("n_pruned_b"),
            ),
            ["lang", "source"],
        )
        .select(
            "lang",
            "source",
            "n_pop_a",
            "th_a_e6",
            "n_pruned_a",
            "n_pop_b",
            "th_b_e6",
            "n_pruned_b",
            (F.col("th_b_e6") - F.col("th_a_e6")).alias("th_shift_e6"),
            (F.col("n_pop_a") - F.col("n_pop_b")).alias("pop_drop"),
        )
        .orderBy("lang", "source")
    )
