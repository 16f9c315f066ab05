"""Warehouse package, segment 4 of 4 (former warehouse.py lines
5079-6125, split mechanically at section boundaries — zero behavior
change): the round-13/14 compaction-economics chain — workload-
weighted sort advisor, compaction write amplification, the schedule
amortizer, the read bill, and the policy Pareto table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdataentrytask_spark.catalog import load_table
from bigdataentrytask_spark.operators import operator
from bigdataentrytask_spark.session import ensure_session_confs

from bigdataentrytask_spark.operators.warehouse.core import (  # noqa: E402
    _t,
)
from bigdataentrytask_spark.operators.warehouse.layout import (  # noqa: E402
    _CFS_FLOORS,
    _CZP_PREDS,
    _SKB_CANDS,
    _SKB_PRED_SQL,
    _SKB_RG_ROWS,
    _skb_overlap_sql,
)

# ==========================================================================
# Round-13 additions (VERDICT r11 item 6).
# ==========================================================================

# --------------------------------------------------------------------------
# Workload-weighted sort advisor (ROADMAP round-13 "Warehouse"):
# sort_key_benefit_ranking scores candidate sort keys by the UNIFORM
# mean of per-predicate zone-map prune fractions — the right call
# when nothing is known about the workload. Real query logs are never
# uniform; the advisor that matters weights each predicate by its
# observed frequency. This table re-scores the same four layouts
# under a fixed date-dominated workload mix (_WSA_WEIGHT_PCT: 55%
# date-range, 25% customer-range, 15% price-range, 5% priority
# equality — integer percents summing to 100 so the weighted sum is
# EXACT integer arithmetic before its single rounding) and reports
# both rankings side by side with a moved flag per layout.
# Pinned regime on this corpus: the weighted and uniform rankings
# DISAGREE below the top row — weighting is not a no-op (the prio
# layout's strong own-predicate score stops carrying it once the
# workload says priority queries are 5% of traffic).
# Scale posture identical to sort_key_benefit_ranking: |cands|
# window passes (each a total sort at audit scale, a per-file
# zone-map read at 100 TB), one domain-sized rollup; weights are
# compile-time constants folded into the aggregate.
# --------------------------------------------------------------------------
_WSA_WEIGHT_PCT = {
    "pr_date": 55,
    "pr_cust": 25,
    "pr_price": 15,
    "pr_prio": 5,
}
assert sum(_WSA_WEIGHT_PCT.values()) == 100

_WSA_ORACLE = f"""
    WITH stacked AS (
      {" UNION ALL ".join(
        f'''SELECT '{c}' AS sort_col,
               ROW_NUMBER() OVER (ORDER BY {c}, o_orderkey) AS rn,
               o_orderdate, o_custkey, o_totalprice, o_orderpriority
        FROM orders''' for c in _SKB_CANDS)}
    ),
    rg AS (
      SELECT sort_col, (rn - 1) // {_SKB_RG_ROWS} AS rg_id,
             {", ".join(
               f"MIN({c}) AS mn_{c}, MAX({c}) AS mx_{c}"
               for c in ["o_orderdate", "o_custkey", "o_totalprice",
                         "o_orderpriority"])}
      FROM stacked GROUP BY 1, 2
    ),
    per AS (
      SELECT sort_col,
             CAST(COUNT(*) AS BIGINT) AS n_row_groups,
             {", ".join(
               f'''CAST(ROUND((1.0 - count_if(
                     {_skb_overlap_sql(*_SKB_PRED_SQL[p])})
                     / CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT)
                   AS {p}_prune_ppm''' for p in _SKB_PRED_SQL)}
      FROM rg GROUP BY 1
    ),
    scored AS (
      SELECT *,
             CAST(ROUND(({" + ".join(f"{p}_prune_ppm"
                                     for p in _SKB_PRED_SQL)})
                        / {len(_SKB_PRED_SQL)}.0) AS BIGINT)
               AS mean_prune_ppm,
             CAST(ROUND(({" + ".join(
                 f"{_WSA_WEIGHT_PCT[p]} * {p}_prune_ppm"
                 for p in _SKB_PRED_SQL)}) / 100.0) AS BIGINT)
               AS weighted_prune_ppm
      FROM per
    ),
    ranked AS (
      SELECT sort_col, n_row_groups, mean_prune_ppm, weighted_prune_ppm,
             CAST(ROW_NUMBER() OVER (ORDER BY mean_prune_ppm DESC,
                                     sort_col) AS BIGINT) AS rank_uniform,
             CAST(ROW_NUMBER() OVER (ORDER BY weighted_prune_ppm DESC,
                                     sort_col) AS BIGINT) AS rank_weighted
      FROM scored
    )
    SELECT sort_col, n_row_groups, mean_prune_ppm, weighted_prune_ppm,
           rank_uniform, rank_weighted,
           (rank_weighted <> rank_uniform) AS rank_moved
    FROM ranked
    ORDER BY rank_weighted
    """


@operator("workload_weighted_sort_advisor", oracle=_WSA_ORACLE)
def workload_weighted_sort_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Candidate sort keys re-ranked under the fixed date-dominated
    predicate-frequency mix, uniform ranking alongside (see block
    comment; exact integer weighted sum, one rounding)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_custkey", "o_totalprice",
        "o_orderpriority",
    )
    pcols = ["o_orderdate", "o_custkey", "o_totalprice", "o_orderpriority"]
    stacked = None
    for c in _SKB_CANDS:
        lay = o.select(
            F.lit(c).alias("sort_col"),
            F.row_number()
            .over(Window.orderBy(F.col(c), F.col("o_orderkey")))
            .alias("rn"),
            *pcols,
        )
        stacked = lay if stacked is None else stacked.unionByName(lay)
    rg = stacked.groupBy(
        "sort_col",
        F.floor((F.col("rn") - 1) / _SKB_RG_ROWS).alias("rg_id"),
    ).agg(
        *[
            a
            for c in pcols
            for a in (
                F.min(c).alias(f"mn_{c}"),
                F.max(c).alias(f"mx_{c}"),
            )
        ]
    )
    per = rg.groupBy("sort_col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_row_groups"),
        *[
            F.round(
                (
                    1.0
                    - F.sum(
                        F.expr(_skb_overlap_sql(*_SKB_PRED_SQL[p])).cast(
                            "long"
                        )
                    )
                    / F.count(F.lit(1)).cast("double")
                )
                * 1000000
            )
            .cast("bigint")
            .alias(f"{p}_prune_ppm")
            for p in _SKB_PRED_SQL
        ],
    )
    scored = per.withColumn(
        "mean_prune_ppm",
        F.round(
            sum(F.col(f"{p}_prune_ppm") for p in _SKB_PRED_SQL)
            / float(len(_SKB_PRED_SQL))
        ).cast("bigint"),
    ).withColumn(
        "weighted_prune_ppm",
        F.round(
            sum(
                _WSA_WEIGHT_PCT[p] * F.col(f"{p}_prune_ppm")
                for p in _SKB_PRED_SQL
            )
            / 100.0
        ).cast("bigint"),
    )
    ranked = scored.select(
        "sort_col",
        "n_row_groups",
        "mean_prune_ppm",
        "weighted_prune_ppm",
        F.row_number()
        .over(Window.orderBy(F.col("mean_prune_ppm").desc(), "sort_col"))
        .cast("bigint")
        .alias("rank_uniform"),
        F.row_number()
        .over(
            Window.orderBy(F.col("weighted_prune_ppm").desc(), "sort_col")
        )
        .cast("bigint")
        .alias("rank_weighted"),
    )
    return ranked.select(
        "sort_col",
        "n_row_groups",
        "mean_prune_ppm",
        "weighted_prune_ppm",
        "rank_uniform",
        "rank_weighted",
        (F.col("rank_weighted") != F.col("rank_uniform")).alias(
            "rank_moved"
        ),
    ).orderBy("rank_weighted")


# --------------------------------------------------------------------------
# Compaction write amplification (round-12 original; the cost side
# compaction_floor_sweep leaves implicit): merging month parts into
# floor-sized groups REWRITES every row that lands in a multi-part
# group — the write bill a compactor pays for the small-file and
# zone-pruning benefits the sweep prices. Per candidate floor:
# parts in, groups out, merged (>= 2-part) groups, exact rows
# rewritten, write amplification, and the workload-mean read
# amplification alongside — so the full three-way frontier (file
# count down vs write amp up vs read amp up as floors grow) reads
# off one table.
# Exact math: the same prefix-sum schedule and overlap joins as
# compaction_floor_sweep; write-amp and the mean read-amp are exact
# integer ratios with one rounding each (the mean re-accumulates the
# per-predicate BIGINT ppms, module convention).
# Scale: identical posture to compaction_floor_sweep — one
# month-domain aggregation, |floors| window passes, domain-sized
# overlap joins; the write-amp side adds only a group-domain rollup.
# --------------------------------------------------------------------------
_CWA_ORACLE = f"""
    WITH per AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT m, n,
             COALESCE(SUM(n) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM per
    ),
    fl(floor_rows) AS (VALUES
      {", ".join(f"({x})" for x in _CFS_FLOORS)}),
    grp AS (
      SELECT fl.floor_rows,
             CAST(FLOOR(c.before / fl.floor_rows) AS BIGINT) AS group_id,
             MIN(c.m) AS g_lo,
             MAX(c.m) + INTERVAL 1 MONTH AS g_hi,
             CAST(SUM(c.n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM cum c CROSS JOIN fl
      GROUP BY 1, 2
    ),
    wamp AS (
      SELECT floor_rows,
             CAST(SUM(n_parts) AS BIGINT) AS n_parts_in,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(count_if(n_parts >= 2) AS BIGINT) AS n_merged_groups,
             CAST(SUM(n_rows) AS BIGINT) AS rows_total,
             CAST(SUM(CASE WHEN n_parts >= 2 THEN n_rows ELSE 0 END)
                  AS BIGINT) AS rows_rewritten
      FROM grp GROUP BY 1
    ),
    preds(pred_id, lo, hi) AS (VALUES
      {", ".join(f"('{p}', TIMESTAMP '{lo}', TIMESTAMP '{hi}')"
                 for p, lo, hi in _CZP_PREDS)}
    ),
    matched AS (
      SELECT p.pred_id, CAST(COUNT(*) AS BIGINT) AS rows_matched
      FROM orders o CROSS JOIN preds p
      WHERE o.o_orderdate >= p.lo AND o.o_orderdate < p.hi
      GROUP BY 1
    ),
    gscan AS (
      SELECT g.floor_rows, p.pred_id,
             CAST(SUM(g.n_rows) AS BIGINT) AS rows_scanned
      FROM grp g CROSS JOIN preds p
      WHERE p.lo < g.g_hi AND p.hi > g.g_lo
      GROUP BY 1, 2
    ),
    ramp AS (
      SELECT s.floor_rows,
             CAST(ROUND(SUM(CAST(ROUND(s.rows_scanned * 1000000.0
                                       / m.rows_matched) AS BIGINT))
                        * 1.0 / COUNT(*)) AS BIGINT)
               AS mean_read_amp_ppm
      FROM gscan s JOIN matched m ON m.pred_id = s.pred_id
      GROUP BY 1
    )
    SELECT CAST(w.floor_rows AS BIGINT) AS floor_rows,
           w.n_parts_in, w.n_groups, w.n_merged_groups,
           w.rows_total, w.rows_rewritten,
           CAST(ROUND(w.rows_rewritten * 1000000.0 / w.rows_total)
                AS BIGINT) AS write_amp_ppm,
           r.mean_read_amp_ppm
    FROM wamp w JOIN ramp r ON r.floor_rows = w.floor_rows
    ORDER BY w.floor_rows
    """


@operator("compaction_write_amp", oracle=_CWA_ORACLE)
def compaction_write_amp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows rewritten (write amplification) per candidate compaction
    floor, with the workload-mean read amplification alongside (see
    block comment; same prefix-sum schedule as compaction_floor_
    sweep)."""
    o = _t(spark, sf_dir, "orders").select("o_orderdate")
    per = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "m", "n", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("before")
    )
    fl = spark.createDataFrame(
        [(x,) for x in _CFS_FLOORS], "floor_rows long"
    )
    grp = (
        cum.crossJoin(F.broadcast(fl))
        .groupBy(
            "floor_rows",
            F.floor(F.col("before") / F.col("floor_rows")).alias(
                "group_id"
            ),
        )
        .agg(
            F.min("m").alias("g_lo"),
            F.expr("MAX(m) + INTERVAL 1 MONTH").alias("g_hi"),
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        )
    )
    wamp = grp.groupBy("floor_rows").agg(
        F.sum("n_parts").cast("bigint").alias("n_parts_in"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum((F.col("n_parts") >= 2).cast("long"))
        .cast("bigint")
        .alias("n_merged_groups"),
        F.sum("n_rows").cast("bigint").alias("rows_total"),
        F.sum(F.when(F.col("n_parts") >= 2, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_rewritten"),
    )
    preds = spark.createDataFrame(
        [(p, lo, hi) for p, lo, hi in _CZP_PREDS],
        "pred_id string, lo string, hi string",
    ).select(
        "pred_id",
        F.col("lo").cast("timestamp").alias("lo"),
        F.col("hi").cast("timestamp").alias("hi"),
    )
    matched = (
        o.crossJoin(F.broadcast(preds))
        .filter(
            (F.col("o_orderdate") >= F.col("lo"))
            & (F.col("o_orderdate") < F.col("hi"))
        )
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_matched"))
    )
    gscan = (
        grp.crossJoin(F.broadcast(preds))
        .filter((F.col("lo") < F.col("g_hi")) & (F.col("hi") > F.col("g_lo")))
        .groupBy("floor_rows", "pred_id")
        .agg(F.sum("n_rows").cast("bigint").alias("rows_scanned"))
    )
    ramp = (
        gscan.join(matched, "pred_id")
        .select(
            "floor_rows",
            F.round(
                F.col("rows_scanned") * 1000000.0 / F.col("rows_matched")
            )
            .cast("bigint")
            .alias("ra_ppm"),
        )
        .groupBy("floor_rows")
        .agg(
            F.round(F.sum("ra_ppm") * 1.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_read_amp_ppm")
        )
    )
    return (
        wamp.join(ramp, "floor_rows")
        .select(
            F.col("floor_rows").cast("bigint").alias("floor_rows"),
            "n_parts_in",
            "n_groups",
            "n_merged_groups",
            "rows_total",
            "rows_rewritten",
            F.round(
                F.col("rows_rewritten") * 1000000.0 / F.col("rows_total")
            )
            .cast("bigint")
            .alias("write_amp_ppm"),
            "mean_read_amp_ppm",
        )
        .orderBy("floor_rows")
    )


# ==========================================================================
# Round-14 additions (ROADMAP §"Round 14+").
# ==========================================================================

# --------------------------------------------------------------------------
# Compaction schedule amortizer (ROADMAP round-14 "Warehouse"):
# compaction_write_amp prices the END-STATE rewrite bill per floor;
# this op prices the SCHEDULE — month parts arrive in order and the
# compactor chooses WHEN to merge, which moves both the write bill
# and how long small files linger. Three schedules per floor, all on
# the same prefix-sum group layout:
#   eager    — merge-on-arrival: every part lands in its group's open
#              file immediately (part i >= 2 of a group rewrites the
#              accumulated prefix including itself); live files after
#              any arrival = closed groups + the one open file.
#   on_close — compact a group once, the moment it closes: rewrite =
#              multi-part groups' rows once (compaction_write_amp's
#              number); live files = closed groups (1 file each) +
#              open group's loose parts.
#   at_end   — one compaction after the last arrival: same rewrite
#              bill as on_close but every part stays loose for the
#              whole stream (live files after arrival t = t).
# Reported per (floor, policy): ingested rows, rewritten rows, write
# amp, and the OPERATING cost the end-state view hides — mean live
# files across the T monthly observation points (measured just after
# each arrival and any compaction it triggers, x1000) and the max.
# Pinned shape: rewritten(eager) >= rewritten(on_close) =
# rewritten(at_end); mean_live(eager) <= mean_live(on_close) <=
# mean_live(at_end) — the write-bill / file-count trade read as a
# schedule, not a floor.
# Exact math: all integer sums over the month domain; the two ppm/e3
# roundings are the only doubles (module convention).
# Scale: everything after the one month-domain aggregation is
# domain-sized (|months| x |floors| rows); the policy unpivot is a
# 3-way union of one-row-per-floor aggregates.
# --------------------------------------------------------------------------
_CSA_ORACLE = f"""
    WITH per AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT m, n,
             COALESCE(SUM(n) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before,
             ROW_NUMBER() OVER (ORDER BY m) AS t
      FROM per
    ),
    fl(floor_rows) AS (VALUES
      {", ".join(f"({x})" for x in _CFS_FLOORS)}),
    sched AS (
      SELECT fl.floor_rows, c.t, c.n,
             CAST(FLOOR(c.before / fl.floor_rows) AS BIGINT) AS gid,
             ROW_NUMBER() OVER (
               PARTITION BY fl.floor_rows,
                            FLOOR(c.before / fl.floor_rows)
               ORDER BY c.m) AS pidx,
             SUM(c.n) OVER (
               PARTITION BY fl.floor_rows,
                            FLOOR(c.before / fl.floor_rows)
               ORDER BY c.m ROWS UNBOUNDED PRECEDING) AS pfx
      FROM cum c CROSS JOIN fl
    ),
    base AS (
      SELECT floor_rows,
             CAST(MAX(t) AS BIGINT) AS n_months,
             CAST(SUM(n) AS BIGINT) AS rows_ingested,
             CAST(SUM(CASE WHEN pidx >= 2 THEN pfx ELSE 0 END)
                  AS BIGINT) AS eager_rw,
             CAST(SUM(gid + 1) AS BIGINT) AS ls_eager,
             CAST(MAX(gid + 1) AS BIGINT) AS lm_eager,
             CAST(SUM(gid + pidx) AS BIGINT) AS ls_close,
             CAST(MAX(gid + pidx) AS BIGINT) AS lm_close,
             CAST(SUM(t) AS BIGINT) AS ls_end,
             CAST(MAX(t) AS BIGINT) AS lm_end
      FROM sched GROUP BY 1
    ),
    closed AS (
      SELECT floor_rows,
             CAST(SUM(CASE WHEN n_parts >= 2 THEN n_rows ELSE 0 END)
                  AS BIGINT) AS close_rw
      FROM (
        SELECT floor_rows, gid, SUM(n) AS n_rows,
               COUNT(*) AS n_parts
        FROM sched GROUP BY 1, 2
      ) GROUP BY 1
    ),
    pol AS (
      SELECT b.floor_rows, 'eager' AS policy, b.rows_ingested,
             b.eager_rw AS rows_rewritten, b.n_months,
             b.ls_eager AS live_sum, b.lm_eager AS max_live_files
      FROM base b
      UNION ALL
      SELECT b.floor_rows, 'on_close', b.rows_ingested, c.close_rw,
             b.n_months, b.ls_close, b.lm_close
      FROM base b JOIN closed c ON c.floor_rows = b.floor_rows
      UNION ALL
      SELECT b.floor_rows, 'at_end', b.rows_ingested, c.close_rw,
             b.n_months, b.ls_end, b.lm_end
      FROM base b JOIN closed c ON c.floor_rows = b.floor_rows
    )
    SELECT CAST(floor_rows AS BIGINT) AS floor_rows, policy,
           rows_ingested, rows_rewritten,
           CAST(ROUND(rows_rewritten * 1000000.0 / rows_ingested)
                AS BIGINT) AS write_amp_ppm,
           CAST(ROUND(live_sum * 1000.0 / n_months) AS BIGINT)
             AS mean_live_files_e3,
           max_live_files
    FROM pol
    ORDER BY floor_rows, policy
    """


@operator("compaction_schedule_amortizer", oracle=_CSA_ORACLE)
def compaction_schedule_amortizer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write bill and small-file lifetime per (compaction floor,
    schedule policy) under in-order month-part arrivals: eager
    merge-on-arrival vs compact-on-group-close vs once-at-end (see
    block comment)."""
    o = _t(spark, sf_dir, "orders").select("o_orderdate")
    per = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wb = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "m",
        "n",
        F.coalesce(F.sum("n").over(wb), F.lit(0)).alias("before"),
        F.row_number().over(Window.orderBy("m")).alias("t"),
    )
    fl = spark.createDataFrame(
        [(x,) for x in _CFS_FLOORS], "floor_rows long"
    )
    wg = Window.partitionBy("floor_rows", "gid").orderBy("m")
    sched = (
        cum.crossJoin(F.broadcast(fl))
        .withColumn(
            "gid", F.floor(F.col("before") / F.col("floor_rows"))
        )
        .withColumn("pidx", F.row_number().over(wg))
        .withColumn(
            "pfx",
            F.sum("n").over(
                wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    base = sched.groupBy("floor_rows").agg(
        F.max("t").cast("bigint").alias("n_months"),
        F.sum("n").cast("bigint").alias("rows_ingested"),
        F.sum(F.when(F.col("pidx") >= 2, F.col("pfx")).otherwise(0))
        .cast("bigint")
        .alias("eager_rw"),
        F.sum(F.col("gid") + 1).cast("bigint").alias("ls_eager"),
        F.max(F.col("gid") + 1).cast("bigint").alias("lm_eager"),
        F.sum(F.col("gid") + F.col("pidx")).cast("bigint").alias("ls_close"),
        F.max(F.col("gid") + F.col("pidx")).cast("bigint").alias("lm_close"),
        F.sum("t").cast("bigint").alias("ls_end"),
        F.max("t").cast("bigint").alias("lm_end"),
    )
    closed = (
        sched.groupBy("floor_rows", "gid")
        .agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .groupBy("floor_rows")
        .agg(
            F.sum(
                F.when(F.col("n_parts") >= 2, F.col("n_rows")).otherwise(0)
            )
            .cast("bigint")
            .alias("close_rw")
        )
    )
    bc = base.join(closed, "floor_rows")
    pol = (
        bc.select(
            "floor_rows",
            F.lit("eager").alias("policy"),
            "rows_ingested",
            F.col("eager_rw").alias("rows_rewritten"),
            "n_months",
            F.col("ls_eager").alias("live_sum"),
            F.col("lm_eager").alias("max_live_files"),
        )
        .unionByName(
            bc.select(
                "floor_rows",
                F.lit("on_close").alias("policy"),
                "rows_ingested",
                F.col("close_rw").alias("rows_rewritten"),
                "n_months",
                F.col("ls_close").alias("live_sum"),
                F.col("lm_close").alias("max_live_files"),
            )
        )
        .unionByName(
            bc.select(
                "floor_rows",
                F.lit("at_end").alias("policy"),
                "rows_ingested",
                F.col("close_rw").alias("rows_rewritten"),
                "n_months",
                F.col("ls_end").alias("live_sum"),
                F.col("lm_end").alias("max_live_files"),
            )
        )
    )
    return pol.select(
        F.col("floor_rows").cast("bigint").alias("floor_rows"),
        "policy",
        "rows_ingested",
        "rows_rewritten",
        F.round(F.col("rows_rewritten") * 1000000.0 / F.col("rows_ingested"))
        .cast("bigint")
        .alias("write_amp_ppm"),
        F.round(F.col("live_sum") * 1000.0 / F.col("n_months"))
        .cast("bigint")
        .alias("mean_live_files_e3"),
        "max_live_files",
    ).orderBy("floor_rows", "policy")


# --------------------------------------------------------------------------
# Compaction schedule read-bill (round-15 queue item, pulled
# forward): compaction_schedule_amortizer prices live FILE COUNT per
# schedule; this op prices what those interim layouts actually COST
# the workload — after every arrival (and any compaction it
# triggers), the _CZP_PREDS workload runs against the current
# layout, and a file is scanned iff its month-range overlaps the
# predicate. Per (floor, policy): observation count, total rows
# scanned across all (arrival, predicate) points, total rows matched
# (policy-independent — the data is the data), the stream read
# amplification, and the mean scan per observation. Read with the
# amortizer's write bill, the schedule triple is fully priced:
# eager buys the lowest read amp with rewrites, at_end the opposite,
# on_close between.
# Layout per policy at observation t (the amortizer's convention):
# at_end = every arrived part loose; on_close = closed groups merged
# (full-range files) + open-group parts loose; eager = closed groups
# merged + ONE open file spanning [group_lo, month(t) + 1 mo) with
# the accumulated prefix rows.
# Exact math: all integer row sums over the month domain; the two
# final roundings are the only doubles.
# Scale: obs x parts / obs x groups joins are month-domain-sized
# (T^2/2 x |preds| x |floors| ~ 40k rows at any data scale — the
# fact table is touched once for the month rollup and once for the
# per-(month, pred) matched counts).
# --------------------------------------------------------------------------
_CRB_ORACLE = f"""
    WITH per AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT m, n,
             COALESCE(SUM(n) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before,
             ROW_NUMBER() OVER (ORDER BY m) AS t
      FROM per
    ),
    fl(floor_rows) AS (VALUES
      {", ".join(f"({x})" for x in _CFS_FLOORS)}),
    sched AS (
      SELECT fl.floor_rows, c.t, c.m, c.n,
             CAST(FLOOR(c.before / fl.floor_rows) AS BIGINT) AS gid,
             SUM(c.n) OVER (
               PARTITION BY fl.floor_rows,
                            FLOOR(c.before / fl.floor_rows)
               ORDER BY c.m ROWS UNBOUNDED PRECEDING) AS pfx
      FROM cum c CROSS JOIN fl
    ),
    grp AS (
      SELECT floor_rows, gid, MIN(m) AS g_lo,
             MAX(m) + INTERVAL 1 MONTH AS g_hi,
             CAST(SUM(n) AS BIGINT) AS n_rows
      FROM sched GROUP BY 1, 2
    ),
    preds(pred_id, lo, hi) AS (VALUES
      {", ".join(f"('{p}', TIMESTAMP '{lo}', TIMESTAMP '{hi}')"
                 for p, lo, hi in _CZP_PREDS)}
    ),
    mm AS (
      SELECT p.pred_id, date_trunc('month', o.o_orderdate) AS m,
             CAST(COUNT(*) AS BIGINT) AS rows_in
      FROM orders o JOIN preds p
        ON o.o_orderdate >= p.lo AND o.o_orderdate < p.hi
      GROUP BY 1, 2
    ),
    loose_end AS (
      SELECT o.floor_rows, CAST(SUM(p.n) AS BIGINT) AS sc
      FROM sched o
      JOIN sched p ON p.floor_rows = o.floor_rows AND p.t <= o.t
      JOIN preds pr ON pr.lo < p.m + INTERVAL 1 MONTH AND pr.hi > p.m
      GROUP BY 1
    ),
    loose_open AS (
      SELECT o.floor_rows, CAST(SUM(p.n) AS BIGINT) AS sc
      FROM sched o
      JOIN sched p ON p.floor_rows = o.floor_rows AND p.t <= o.t
                  AND p.gid = o.gid
      JOIN preds pr ON pr.lo < p.m + INTERVAL 1 MONTH AND pr.hi > p.m
      GROUP BY 1
    ),
    merged AS (
      SELECT o.floor_rows, CAST(SUM(g.n_rows) AS BIGINT) AS sc
      FROM sched o
      JOIN grp g ON g.floor_rows = o.floor_rows AND g.gid < o.gid
      JOIN preds pr ON pr.lo < g.g_hi AND pr.hi > g.g_lo
      GROUP BY 1
    ),
    eopen AS (
      SELECT o.floor_rows, CAST(SUM(o.pfx) AS BIGINT) AS sc
      FROM sched o
      JOIN grp g ON g.floor_rows = o.floor_rows AND g.gid = o.gid
      JOIN preds pr ON pr.lo < o.m + INTERVAL 1 MONTH AND pr.hi > g.g_lo
      GROUP BY 1
    ),
    matched AS (
      SELECT o.floor_rows, CAST(SUM(mm.rows_in) AS BIGINT) AS mt,
             CAST(MAX(o.t) AS BIGINT) AS n_obs
      FROM sched o
      JOIN sched p ON p.floor_rows = o.floor_rows AND p.t <= o.t
      JOIN mm ON mm.m = p.m
      GROUP BY 1
    ),
    pol AS (
      SELECT m.floor_rows, 'at_end' AS policy, m.n_obs,
             COALESCE(le.sc, 0) AS scanned, m.mt
      FROM matched m
      LEFT JOIN loose_end le ON le.floor_rows = m.floor_rows
      UNION ALL
      SELECT m.floor_rows, 'on_close', m.n_obs,
             COALESCE(mg.sc, 0) + COALESCE(lo.sc, 0), m.mt
      FROM matched m
      LEFT JOIN merged mg ON mg.floor_rows = m.floor_rows
      LEFT JOIN loose_open lo ON lo.floor_rows = m.floor_rows
      UNION ALL
      SELECT m.floor_rows, 'eager', m.n_obs,
             COALESCE(mg.sc, 0) + COALESCE(eo.sc, 0), m.mt
      FROM matched m
      LEFT JOIN merged mg ON mg.floor_rows = m.floor_rows
      LEFT JOIN eopen eo ON eo.floor_rows = m.floor_rows
    )
    SELECT CAST(floor_rows AS BIGINT) AS floor_rows, policy, n_obs,
           scanned AS rows_scanned_total,
           mt AS rows_matched_total,
           CAST(ROUND(scanned * 1000000.0 / mt) AS BIGINT)
             AS read_amp_ppm,
           CAST(ROUND(scanned * 1.0 / n_obs) AS BIGINT)
             AS mean_scan_per_obs
    FROM pol
    ORDER BY floor_rows, policy
    """


@operator("compaction_read_bill", oracle=_CRB_ORACLE)
def compaction_read_bill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream read amplification per (compaction floor, schedule
    policy): the workload re-run against every interim layout the
    schedule leaves behind (see block comment)."""
    o = _t(spark, sf_dir, "orders").select("o_orderdate")
    per = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wb = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "m",
        "n",
        F.coalesce(F.sum("n").over(wb), F.lit(0)).alias("before"),
        F.row_number().over(Window.orderBy("m")).alias("t"),
    )
    fl = spark.createDataFrame(
        [(x,) for x in _CFS_FLOORS], "floor_rows long"
    )
    wg = Window.partitionBy("floor_rows", "gid").orderBy("m")
    sched = (
        cum.crossJoin(F.broadcast(fl))
        .withColumn("gid", F.floor(F.col("before") / F.col("floor_rows")))
        .withColumn(
            "pfx",
            F.sum("n").over(
                wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .select("floor_rows", "t", "m", "n", "gid", "pfx")
    )
    grp = sched.groupBy("floor_rows", "gid").agg(
        F.min("m").alias("g_lo"),
        F.expr("MAX(m) + INTERVAL 1 MONTH").alias("g_hi"),
        F.sum("n").cast("bigint").alias("n_rows"),
    )
    preds = spark.createDataFrame(
        [(p, lo, hi) for p, lo, hi in _CZP_PREDS],
        "pred_id string, lo string, hi string",
    ).select(
        "pred_id",
        F.col("lo").cast("timestamp").alias("lo"),
        F.col("hi").cast("timestamp").alias("hi"),
    )
    mm = (
        o.crossJoin(F.broadcast(preds))
        .filter(
            (F.col("o_orderdate") >= F.col("lo"))
            & (F.col("o_orderdate") < F.col("hi"))
        )
        .groupBy("pred_id", F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_in"))
    )
    obs = sched.select(
        "floor_rows",
        F.col("t").alias("o_t"),
        F.col("m").alias("o_m"),
        F.col("gid").alias("o_gid"),
        F.col("pfx").alias("o_pfx"),
    )
    p_end = F.expr("m + INTERVAL 1 MONTH")
    loose_end = (
        obs.join(sched, "floor_rows")
        .filter(F.col("t") <= F.col("o_t"))
        .join(
            F.broadcast(preds),
            (F.col("lo") < p_end) & (F.col("hi") > F.col("m")),
        )
        .groupBy("floor_rows")
        .agg(F.sum("n").cast("bigint").alias("sc_end"))
    )
    loose_open = (
        obs.join(sched, "floor_rows")
        .filter((F.col("t") <= F.col("o_t")) & (F.col("gid") == F.col("o_gid")))
        .join(
            F.broadcast(preds),
            (F.col("lo") < p_end) & (F.col("hi") > F.col("m")),
        )
        .groupBy("floor_rows")
        .agg(F.sum("n").cast("bigint").alias("sc_open"))
    )
    merged = (
        obs.join(grp, "floor_rows")
        .filter(F.col("gid") < F.col("o_gid"))
        .join(
            F.broadcast(preds),
            (F.col("lo") < F.col("g_hi")) & (F.col("hi") > F.col("g_lo")),
        )
        .groupBy("floor_rows")
        .agg(F.sum("n_rows").cast("bigint").alias("sc_merged"))
    )
    o_end = F.expr("o_m + INTERVAL 1 MONTH")
    eopen = (
        obs.join(grp, "floor_rows")
        .filter(F.col("gid") == F.col("o_gid"))
        .join(
            F.broadcast(preds),
            (F.col("lo") < o_end) & (F.col("hi") > F.col("g_lo")),
        )
        .groupBy("floor_rows")
        .agg(F.sum("o_pfx").cast("bigint").alias("sc_eopen"))
    )
    matched = (
        obs.join(sched, "floor_rows")
        .filter(F.col("t") <= F.col("o_t"))
        .join(mm, "m")
        .groupBy("floor_rows")
        .agg(
            F.sum("rows_in").cast("bigint").alias("mt"),
            F.max("o_t").cast("bigint").alias("n_obs"),
        )
    )
    base = (
        matched.join(loose_end, "floor_rows", "left")
        .join(loose_open, "floor_rows", "left")
        .join(merged, "floor_rows", "left")
        .join(eopen, "floor_rows", "left")
        .select(
            "floor_rows",
            "n_obs",
            "mt",
            F.coalesce("sc_end", F.lit(0)).alias("sc_end"),
            F.coalesce("sc_open", F.lit(0)).alias("sc_open"),
            F.coalesce("sc_merged", F.lit(0)).alias("sc_merged"),
            F.coalesce("sc_eopen", F.lit(0)).alias("sc_eopen"),
        )
    )
    pol = (
        base.select(
            "floor_rows",
            F.lit("at_end").alias("policy"),
            "n_obs",
            F.col("sc_end").alias("scanned"),
            "mt",
        )
        .unionByName(
            base.select(
                "floor_rows",
                F.lit("on_close").alias("policy"),
                "n_obs",
                (F.col("sc_merged") + F.col("sc_open")).alias("scanned"),
                "mt",
            )
        )
        .unionByName(
            base.select(
                "floor_rows",
                F.lit("eager").alias("policy"),
                "n_obs",
                (F.col("sc_merged") + F.col("sc_eopen")).alias("scanned"),
                "mt",
            )
        )
    )
    return pol.select(
        F.col("floor_rows").cast("bigint").alias("floor_rows"),
        "policy",
        "n_obs",
        F.col("scanned").alias("rows_scanned_total"),
        F.col("mt").alias("rows_matched_total"),
        F.round(F.col("scanned") * 1000000.0 / F.col("mt"))
        .cast("bigint")
        .alias("read_amp_ppm"),
        F.round(F.col("scanned") * 1.0 / F.col("n_obs"))
        .cast("bigint")
        .alias("mean_scan_per_obs"),
    ).orderBy("floor_rows", "policy")


# --------------------------------------------------------------------------
# Compaction policy pareto face (round-15 queue item, pulled
# forward): the amortizer prices (write amp, live files) and the
# read bill prices read amp — a compaction owner tunes against all
# three AT ONCE, and the only rows that matter are the undominated
# ones. This table joins the two schedules' metrics per (floor,
# policy) and flags dominance across the full 9-row candidate set:
# a row is dominated iff some other row is <= on write_amp_ppm,
# mean_live_files_e3 AND read_amp_ppm with at least one strict <.
# n_dominators counts them (0 = on the pareto face). The face is
# SCALE-DEPENDENT — the finding the staged test pins: at sf0.001
# (small months, merging common) at_end sits ON the face via the
# zone-pruning inversion; at sf0.01 (months large vs every floor,
# merging rare) at_end is DOMINATED at every floor because eager@200
# matches its write and read bills while holding fewer live files.
# eager stays on the face at every scale via the live-files axis.
# The actionable reading: a compaction face tuned at one corpus
# scale does not transfer — re-run the table, don't port the verdict.
# Exact math: a pure self-join over 9 integer rows; no new rounding.
# Scale: both parents' plans + one domain-sized self-join.
# --------------------------------------------------------------------------
_CPP_ORACLE = f"""
    WITH amort AS ({_CSA_ORACLE.strip()}),
    rb AS ({_CRB_ORACLE.strip()}),
    m AS (
      SELECT a.floor_rows, a.policy, a.write_amp_ppm,
             a.mean_live_files_e3, r.read_amp_ppm
      FROM amort a
      JOIN rb r ON r.floor_rows = a.floor_rows
               AND r.policy = a.policy
    )
    SELECT m.floor_rows, m.policy, m.write_amp_ppm,
           m.mean_live_files_e3, m.read_amp_ppm,
           CAST((SELECT COUNT(*) FROM m o
                 WHERE o.write_amp_ppm <= m.write_amp_ppm
                   AND o.mean_live_files_e3 <= m.mean_live_files_e3
                   AND o.read_amp_ppm <= m.read_amp_ppm
                   AND (o.write_amp_ppm < m.write_amp_ppm
                        OR o.mean_live_files_e3 < m.mean_live_files_e3
                        OR o.read_amp_ppm < m.read_amp_ppm))
                AS BIGINT) AS n_dominators,
           (SELECT COUNT(*) FROM m o
            WHERE o.write_amp_ppm <= m.write_amp_ppm
              AND o.mean_live_files_e3 <= m.mean_live_files_e3
              AND o.read_amp_ppm <= m.read_amp_ppm
              AND (o.write_amp_ppm < m.write_amp_ppm
                   OR o.mean_live_files_e3 < m.mean_live_files_e3
                   OR o.read_amp_ppm < m.read_amp_ppm)) > 0
             AS dominated
    FROM m
    ORDER BY m.floor_rows, m.policy
    """


@operator("compaction_policy_pareto", oracle=_CPP_ORACLE)
def compaction_policy_pareto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The (floor, policy) grid scored on all three compaction axes
    with pareto-dominance flags (see block comment; composes the
    amortizer and the read bill)."""
    a = compaction_schedule_amortizer(spark, sf_dir).select(
        "floor_rows", "policy", "write_amp_ppm", "mean_live_files_e3"
    )
    r = compaction_read_bill(spark, sf_dir).select(
        "floor_rows", "policy", "read_amp_ppm"
    )
    m = a.join(r, ["floor_rows", "policy"])
    o = m.select(
        F.col("write_amp_ppm").alias("o_w"),
        F.col("mean_live_files_e3").alias("o_l"),
        F.col("read_amp_ppm").alias("o_r"),
    )
    dom = (
        m.join(
            F.broadcast(o),
            (F.col("o_w") <= F.col("write_amp_ppm"))
            & (F.col("o_l") <= F.col("mean_live_files_e3"))
            & (F.col("o_r") <= F.col("read_amp_ppm"))
            & (
                (F.col("o_w") < F.col("write_amp_ppm"))
                | (F.col("o_l") < F.col("mean_live_files_e3"))
                | (F.col("o_r") < F.col("read_amp_ppm"))
            ),
            "left",
        )
        .groupBy(
            "floor_rows",
            "policy",
            "write_amp_ppm",
            "mean_live_files_e3",
            "read_amp_ppm",
        )
        .agg(
            F.sum(F.when(F.col("o_w").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dominators")
        )
    )
    return dom.select(
        "floor_rows",
        "policy",
        "write_amp_ppm",
        "mean_live_files_e3",
        "read_amp_ppm",
        "n_dominators",
        (F.col("n_dominators") > 0).alias("dominated"),
    ).orderBy("floor_rows", "policy")
