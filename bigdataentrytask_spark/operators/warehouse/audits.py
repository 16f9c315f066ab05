"""Warehouse package, segment 2 of 4 (former warehouse.py lines
1938-3787, split mechanically at section boundaries; VERDICT r12
item 5 / r13 item 3 — zero behavior change): data-contract
expectation suites, as-of tolerance joins, partition/key skew and
idempotence audits, zone-map and small-file diagnostics, freshness,
association-rule metrics, time-decay / position-based / Markov
attribution, drift profiles, IVM join maintenance, FD audits, and
the uniform sort-order advisor. Scale posture per operator is in the
section comments, unchanged from the single-module layout."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdataentrytask_spark.catalog import load_table
from bigdataentrytask_spark.operators import operator
from bigdataentrytask_spark.session import ensure_session_confs

from bigdataentrytask_spark.operators.warehouse.core import (  # noqa: E402
    _ATTR_WINDOW,
    _t,
)

# --------------------------------------------------------------------------
# Data-contract expectations over lineitem: every rule is a
# conditional aggregate in ONE scan, unpivoted with stack() — the
# joinless sweep shape pinned by the threshold-sweep test (no
# nested-loop join may reappear). This is the "expectation suite"
# gate a pipeline runs before publishing a partition; it composes
# with observed_landing_gate (sources_bridge) which enforces a
# publish decision from metrics like these.
# --------------------------------------------------------------------------
@operator(
    "value_range_expectations",
    oracle="""
    WITH s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(count_if(l_quantity < 1 OR l_quantity > 50) AS BIGINT)    AS v_qty,
        CAST(count_if(l_discount < 0 OR l_discount > 0.10) AS BIGINT)  AS v_disc,
        CAST(count_if(l_tax < 0 OR l_tax > 0.08) AS BIGINT)            AS v_tax,
        CAST(count_if(l_shipdate < TIMESTAMP '1992-01-01 00:00:00'
                OR l_shipdate >= TIMESTAMP '2003-01-01 00:00:00') AS BIGINT) AS v_ship,
        CAST(count_if(l_extendedprice <= 0) AS BIGINT)                 AS v_price
      FROM lineitem
    )
    SELECT rule, n_checked, n_violations,
           ROUND(1.0 - n_violations / CAST(n_checked AS DOUBLE), 6)
             AS pass_rate
    FROM (
      SELECT 'discount_0_to_10pct' AS rule, n AS n_checked, v_disc AS n_violations FROM s
      UNION ALL SELECT 'extendedprice_positive', n, v_price FROM s
      UNION ALL SELECT 'quantity_1_to_50', n, v_qty FROM s
      UNION ALL SELECT 'shipdate_in_era', n, v_ship FROM s
      UNION ALL SELECT 'tax_0_to_8pct', n, v_tax FROM s
    ) ORDER BY rule
    """,
)
def value_range_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
        ).alias("v_qty"),
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.10), 1)
        ).alias("v_disc"),
        F.count(
            F.when((F.col("l_tax") < 0) | (F.col("l_tax") > 0.08), 1)
        ).alias("v_tax"),
        F.count(
            F.when(
                (F.col("l_shipdate") < F.lit("1992-01-01").cast("timestamp"))
                | (F.col("l_shipdate") >= F.lit("2003-01-01").cast("timestamp")),
                1,
            )
        ).alias("v_ship"),
        F.count(F.when(F.col("l_extendedprice") <= 0, 1)).alias("v_price"),
    )
    rules = s.select(
        F.expr(
            "stack(5,"
            " 'discount_0_to_10pct', v_disc,"
            " 'extendedprice_positive', v_price,"
            " 'quantity_1_to_50', v_qty,"
            " 'shipdate_in_era', v_ship,"
            " 'tax_0_to_8pct', v_tax) AS (rule, n_violations)"
        ),
        F.col("n").alias("n_checked"),
    )
    return rules.select(
        "rule",
        "n_checked",
        "n_violations",
        F.round(
            1.0 - F.col("n_violations") / F.col("n_checked").cast("double"), 6
        ).alias("pass_rate"),
    ).orderBy("rule")


# --------------------------------------------------------------------------
# Nearest-within-tolerance as-of join (both directions): every
# purchase matched to the user's CLOSEST view within +/- 10 minutes —
# the bidirectional variant of the backward-only as-of join
# (fact_pit_join / asof_purchase_attribution). The theta "closest
# within band" is rewritten as a bucketed equi-join: views land in
# their 10-minute cell, purchases probe their own cell and both
# neighbors, and a grouped argmin picks the winner — no BNLJ, no
# window over the union. Gap math is integer microseconds
# (epoch_us <-> unix_micros, exact on both engines).
# --------------------------------------------------------------------------
_ASOF_TOL_US = 600_000_000  # 10 minutes


@operator(
    "asof_nearest_tolerance",
    oracle=f"""
    WITH pv AS (
      SELECT p.event_id AS purchase_id,
             v.event_id AS view_id,
             abs(epoch_us(p.ts) - epoch_us(v.ts)) AS gap_us,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(v.ts)), v.ts, v.event_id
             ) AS rn
      FROM events p
      JOIN events v
        ON v.user_id = p.user_id AND v.event_type = 'view'
       AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= {_ASOF_TOL_US}
      WHERE p.event_type = 'purchase'
    )
    SELECT purchase_id, view_id, gap_us
    FROM pv WHERE rn = 1 ORDER BY purchase_id
    """,
)
def asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataentrytask_spark.catalog import with_event_time

    e = with_event_time(_t(spark, sf_dir, "events"))
    us = F.unix_micros(F.col("ts"))
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
        us.alias("v_us"),
        F.floor(us / _ASOF_TOL_US).alias("cell"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        us.alias("p_us"),
        F.explode(
            F.array(
                F.floor(us / _ASOF_TOL_US) - 1,
                F.floor(us / _ASOF_TOL_US),
                F.floor(us / _ASOF_TOL_US) + 1,
            )
        ).alias("cell"),
    )
    cand = (
        purchases.join(
            views,
            (F.col("p_user") == F.col("v_user"))
            & (purchases["cell"] == views["cell"]),
        )
        .withColumn("gap_us", F.abs(F.col("p_us") - F.col("v_us")))
        .filter(F.col("gap_us") <= _ASOF_TOL_US)
    )
    return (
        cand.groupBy("purchase_id")
        .agg(
            F.min_by(
                F.struct(F.col("view_id"), F.col("gap_us")),
                F.struct(F.col("gap_us"), F.col("v_ts"), F.col("view_id")),
            ).alias("best")
        )
        .select(
            "purchase_id",
            F.col("best.view_id").alias("view_id"),
            F.col("best.gap_us").alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


# --------------------------------------------------------------------------
# Hash-partition skew report (round-8 slate): distribute the fact's
# join key into 32 engine-neutral md5 buckets (the same bucket count
# the session's shuffle uses) and report the balance profile — max/
# min/mean bucket rows and the skew ratio. This is the pre-join
# diagnostic behind join_key_skew_stats: THAT op profiles key
# frequencies; this one shows what the shuffle actually sees after
# hashing, which is what decides stragglers at 100 TB.
# --------------------------------------------------------------------------
_SKEW_BUCKETS = 32


@operator(
    "partition_skew_report",
    oracle=f"""
    WITH b AS (
      SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
             % {_SKEW_BUCKETS} AS bucket
      FROM orders
    ), per AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS rows_in_bucket
      FROM b GROUP BY bucket
    )
    SELECT CAST(COUNT(*) AS BIGINT)            AS n_buckets,
           CAST(SUM(rows_in_bucket) AS BIGINT) AS n_rows,
           CAST(MIN(rows_in_bucket) AS BIGINT) AS min_bucket,
           CAST(MAX(rows_in_bucket) AS BIGINT) AS max_bucket,
           ROUND(SUM(rows_in_bucket) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_bucket,
           ROUND(MAX(rows_in_bucket)
                 / (SUM(rows_in_bucket) / CAST(COUNT(*) AS DOUBLE)), 6)
             AS skew_ratio
    FROM per
    """,
)
def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % _SKEW_BUCKETS
    )
    per = o.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rows_in_bucket")
    )
    mean = F.sum("rows_in_bucket") / F.count(F.lit(1)).cast("double")
    return per.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("rows_in_bucket").cast("bigint").alias("n_rows"),
        F.min("rows_in_bucket").cast("bigint").alias("min_bucket"),
        F.max("rows_in_bucket").cast("bigint").alias("max_bucket"),
        F.round(mean, 6).alias("mean_bucket"),
        F.round(F.max("rows_in_bucket") / mean, 6).alias("skew_ratio"),
    )


# --------------------------------------------------------------------------
# Ingest-merge idempotence check (round-8 slate): the operational
# invariant behind incremental_dedup_merge — re-delivering the SAME
# batch must add zero rows. Runs the left-anti + union merge twice
# with the identical overlapping batch and emits the counts that
# prove the second pass was a no-op. The oracle computes the
# expected distinct union directly; rows_added_second_pass != 0 can
# never match it.
# --------------------------------------------------------------------------
_IDEM_CUT = "1995-01-01"


@operator(
    "merge_idempotence_check",
    oracle=f"""
    WITH corpus AS (
      SELECT DISTINCT o_orderkey FROM orders
      WHERE o_orderdate < TIMESTAMP '{_IDEM_CUT} 00:00:00'
    ), batch AS (
      SELECT DISTINCT o_orderkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1994-06-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1995-06-01 00:00:00'
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS corpus_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM batch)  AS batch_rows,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM (SELECT o_orderkey FROM corpus
                  UNION SELECT o_orderkey FROM batch))   AS merged_rows,
           CAST(0 AS BIGINT)                             AS rows_added_second_pass
    """,
)
def merge_idempotence_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    corpus = (
        o.filter(F.col("o_orderdate") < F.lit(_IDEM_CUT).cast("timestamp"))
        .select("o_orderkey")
        .distinct()
    )
    batch = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1994-06-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-06-01").cast("timestamp"))
        )
        .select("o_orderkey")
        .distinct()
    )

    def merge(base: DataFrame, delta: DataFrame) -> DataFrame:
        fresh = delta.join(base, "o_orderkey", "left_anti")
        return base.unionByName(fresh)

    merged1 = merge(corpus, batch)
    merged2 = merge(merged1, batch)  # redelivery of the SAME batch
    c_corpus = corpus.agg(F.count(F.lit(1)).alias("corpus_rows"))
    c_batch = batch.agg(F.count(F.lit(1)).alias("batch_rows"))
    c_m1 = merged1.agg(F.count(F.lit(1)).alias("merged_rows"))
    c_m2 = merged2.agg(F.count(F.lit(1)).alias("m2"))
    return (
        c_corpus.crossJoin(c_batch)
        .crossJoin(c_m1)
        .crossJoin(c_m2)
        .select(
            "corpus_rows",
            "batch_rows",
            "merged_rows",
            (F.col("m2") - F.col("merged_rows"))
            .cast("bigint")
            .alias("rows_added_second_pass"),
        )
    )


# --------------------------------------------------------------------------
# Small-file compaction planner (round-8 slate): given a file manifest
# (synthesized here as month-partition x hash-bucket "files" with
# deterministic byte sizes), assign files to target-sized compaction
# bins by cumulative-size division — the rewrite plan an Iceberg/Delta
# OPTIMIZE job executes. The planning input is the MANIFEST (one row
# per file), never the data: at 100 TB that is ~1e5 rows, and the
# per-partition cumulative window is trivially parallel across
# partitions. Bin id = floor(preceding_cum_bytes / target) makes the
# assignment a pure window expression (greedy sequential packing).
# --------------------------------------------------------------------------
@operator(
    "small_file_compaction_plan",
    oracle="""
    WITH manifest AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS part,
             CAST(o_orderkey % 7 AS BIGINT) AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(40 + length(o_orderpriority)) AS BIGINT) AS bytes
      FROM orders GROUP BY 1, 2
    ), planned AS (
      SELECT part, file_id, n_rows, bytes,
             CAST((SUM(bytes) OVER (PARTITION BY part ORDER BY file_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - bytes) // 4096 AS BIGINT) AS bin_id
      FROM manifest
    )
    SELECT part, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS bin_rows,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes
    FROM planned GROUP BY 1, 2 ORDER BY part, bin_id
    """,
)
def small_file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    manifest = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("part"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("file_id"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.lit(40) + F.length("o_orderpriority")).cast("bigint").alias("bytes"),
    )
    planned = manifest.select(
        "part",
        "file_id",
        "n_rows",
        "bytes",
        F.expr(
            "CAST((sum(bytes) OVER (PARTITION BY part ORDER BY file_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes) "
            "div 4096 AS BIGINT)"
        ).alias("bin_id"),
    )
    return (
        planned.groupBy("part", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("bin_rows"),
            F.sum("bytes").cast("bigint").alias("bin_bytes"),
        )
        .orderBy("part", "bin_id")
    )


# --------------------------------------------------------------------------
# Zone-map (min/max) data-skipping audit (round-8 slate): build
# 500-row "row groups" under two physical layouts — date-clustered vs
# key-ordered (insert-order proxy) — and measure how many groups a
# date-range predicate can prune from the min/max footer stats alone.
# This quantifies WHY sorted/Z-ordered layout matters at 100 TB: the
# same predicate prunes almost everything under clustering and almost
# nothing without it (zorder_locality_stats measures clustering
# overlap; this measures the scan-cost consequence).
# --------------------------------------------------------------------------
@operator(
    "zone_map_skipping_stats",
    oracle="""
    WITH layouts AS (
      SELECT layout,
             CASE WHEN layout = 'date_clustered'
                  THEN ROW_NUMBER() OVER (PARTITION BY layout
                         ORDER BY o_orderdate, o_orderkey)
                  ELSE ROW_NUMBER() OVER (PARTITION BY layout
                         ORDER BY o_orderkey) END AS rn,
             o_orderdate
      FROM orders CROSS JOIN
           (SELECT UNNEST(['date_clustered', 'key_ordered']) AS layout)
    ), rg AS (
      SELECT layout, (rn - 1) // 500 AS rg_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(o_orderdate) AS lo,
             MAX(o_orderdate) AS hi,
             CAST(count_if(o_orderdate >= TIMESTAMP '1998-01-01'
                           AND o_orderdate < TIMESTAMP '1998-04-01')
                  AS BIGINT) AS matching
      FROM layouts GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_row_groups,
           CAST(count_if(hi < TIMESTAMP '1998-01-01'
                         OR lo >= TIMESTAMP '1998-04-01') AS BIGINT)
             AS n_pruned,
           CAST(SUM(CASE WHEN hi >= TIMESTAMP '1998-01-01'
                          AND lo < TIMESTAMP '1998-04-01'
                         THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(matching) AS BIGINT) AS rows_matching
    FROM rg GROUP BY 1 ORDER BY layout
    """,
)
def zone_map_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    lo, hi = "1998-01-01", "1998-04-01"
    frames = []
    for layout, order_cols in (
        ("date_clustered", ["o_orderdate", "o_orderkey"]),
        ("key_ordered", ["o_orderkey"]),
    ):
        w = Window.orderBy(*order_cols)
        frames.append(
            o.select(
                F.lit(layout).alias("layout"),
                F.row_number().over(w).alias("rn"),
                "o_orderdate",
            )
        )
    layouts = frames[0].unionByName(frames[1])
    in_range = (F.col("o_orderdate") >= F.lit(lo).cast("timestamp")) & (
        F.col("o_orderdate") < F.lit(hi).cast("timestamp")
    )
    rg = layouts.groupBy(
        "layout", F.expr("(rn - 1) div 500").alias("rg_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("o_orderdate").alias("lo"),
        F.max("o_orderdate").alias("hi"),
        F.sum(F.when(in_range, 1).otherwise(0)).cast("bigint").alias("matching"),
    )
    pruned = (F.col("hi") < F.lit(lo).cast("timestamp")) | (
        F.col("lo") >= F.lit(hi).cast("timestamp")
    )
    return (
        rg.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_row_groups"),
            F.sum(F.when(pruned, 1).otherwise(0)).cast("bigint").alias("n_pruned"),
            F.sum(F.when(~pruned, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("matching").cast("bigint").alias("rows_matching"),
        )
        .orderBy("layout")
    )


# --------------------------------------------------------------------------
# Variance-merge associativity check (round-8 slate): compute
# per-month sufficient statistics (n, sum, sum-of-squares) for order
# cents, merge them, and prove the merged variance EQUALS the direct
# single-pass variance bit-for-bit. This is the algebra Spark's
# map-side partial aggregation relies on — under the repo's exact
# integer discipline the merge is drift-free by construction, and this
# operator turns that claim into a checked invariant (the moment-sum
# analog of merge_idempotence_check).
# --------------------------------------------------------------------------
@operator(
    "variance_merge_check",
    oracle="""
    WITH partials AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS part,
             CAST(COUNT(*) AS BIGINT) AS n_p,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s1_p,
             SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT)
                 * CAST(ROUND(o_totalprice * 100) AS BIGINT) ) AS s2_p
      FROM orders GROUP BY 1
    ), merged AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_partials,
             CAST(SUM(n_p) AS BIGINT) AS n,
             CAST(SUM(s1_p) AS BIGINT) AS s1,
             SUM(s2_p) AS s2
      FROM partials
    ), direct AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s1,
             SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT)
                 * CAST(ROUND(o_totalprice * 100) AS BIGINT) ) AS s2
      FROM orders
    )
    SELECT m.n_partials, m.n AS n_rows,
           ROUND((CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                 / (m.n - 1), 6) AS var_merged,
           ROUND((CAST(d.s2 AS DOUBLE) - CAST(d.s1 AS DOUBLE) * d.s1 / d.n)
                 / (d.n - 1), 6) AS var_direct,
           CAST(CASE WHEN m.n = d.n AND m.s1 = d.s1 AND m.s2 = d.s2
                     THEN 1 ELSE 0 END AS BIGINT) AS sufficient_stats_equal
    FROM merged m CROSS JOIN direct d
    """,
)
def variance_merge_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    sq = cents.cast("decimal(38,0)") * cents
    partials = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("part")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_p"),
        F.sum(cents).cast("bigint").alias("s1_p"),
        F.sum(sq).alias("s2_p"),
    )
    merged = partials.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partials"),
        F.sum("n_p").cast("bigint").alias("mn"),
        F.sum("s1_p").cast("bigint").alias("ms1"),
        F.sum("s2_p").alias("ms2"),
    )
    direct = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("dn"),
        F.sum(cents).cast("bigint").alias("ds1"),
        F.sum(sq).alias("ds2"),
    )
    j = merged.crossJoin(F.broadcast(direct))
    var_m = (
        F.col("ms2").cast("double")
        - F.col("ms1").cast("double") * F.col("ms1") / F.col("mn")
    ) / (F.col("mn") - 1)
    var_d = (
        F.col("ds2").cast("double")
        - F.col("ds1").cast("double") * F.col("ds1") / F.col("dn")
    ) / (F.col("dn") - 1)
    return j.select(
        "n_partials",
        F.col("mn").alias("n_rows"),
        F.round(var_m, 6).alias("var_merged"),
        F.round(var_d, 6).alias("var_direct"),
        F.when(
            (F.col("mn") == F.col("dn"))
            & (F.col("ms1") == F.col("ds1"))
            & (F.col("ms2") == F.col("ds2")),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("sufficient_stats_equal"),
    )


# --------------------------------------------------------------------------
# Per-channel freshness-lag monitor (round-8 slate): seconds each
# event channel's newest record trails the newest record anywhere,
# with an SLA flag — the staleness dashboard every multi-source
# ingest runs. Lag is computed on floor(epoch seconds) (exact BIGINT
# both engines; minute/month calendar diffs are a known cross-engine
# trap — CONTRIBUTING.md). One grouped pass + a broadcast of the
# 1-row global max.
# --------------------------------------------------------------------------
@operator(
    "source_freshness_lag",
    oracle="""
    WITH per AS (
      SELECT event_type AS channel,
             CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_epoch,
             strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
      FROM events GROUP BY 1
    ), g AS (
      SELECT CAST(MAX(last_epoch) AS BIGINT) AS gmax FROM per
    )
    SELECT channel, last_ts,
           CAST(g.gmax - per.last_epoch AS BIGINT) AS lag_seconds,
           CAST(CASE WHEN g.gmax - per.last_epoch <= 3600
                     THEN 1 ELSE 0 END AS BIGINT) AS within_sla_1h
    FROM per CROSS JOIN g ORDER BY channel
    """,
)
def source_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy(F.col("event_type").alias("channel")).agg(
        F.unix_timestamp(F.max("ts")).cast("bigint").alias("last_epoch"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )
    g = per.agg(F.max("last_epoch").cast("bigint").alias("gmax"))
    lag = F.col("gmax") - F.col("last_epoch")
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "channel",
            "last_ts",
            lag.cast("bigint").alias("lag_seconds"),
            F.when(lag <= 3600, 1).otherwise(0).cast("bigint").alias(
                "within_sla_1h"
            ),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Association-rule metrics for the top-20 co-purchased part pairs
# (round-8 slate): confidence, lift, and conviction from exact basket
# counts — the interpretation layer over basket_part_pairs' raw
# support (support says "frequent", lift says "more than chance",
# conviction says "directionally predictive"). Same bounded basket
# expansion as the graph layer (baskets <= 7 lines); the top-20 cut
# is totally ordered (c_ab DESC, part_a, part_b) so both engines pick
# identical rules, and the item-count side is a broadcast join.
# --------------------------------------------------------------------------
@operator(
    "association_rules_metrics",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM items),
    ic AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
           FROM items GROUP BY 1),
    pc AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    top AS (
      SELECT part_a, part_b, c_ab FROM pc
      ORDER BY c_ab DESC, part_a, part_b LIMIT 20
    )
    SELECT t.part_a, t.part_b, t.c_ab AS support_cnt,
           ROUND(CAST(t.c_ab AS DOUBLE) / ca.c, 6) AS confidence_ab,
           ROUND(CAST(t.c_ab AS DOUBLE) * n.n_orders / (ca.c * cb.c), 6)
             AS lift,
           CASE WHEN t.c_ab < ca.c THEN
             ROUND((1.0 - CAST(cb.c AS DOUBLE) / n.n_orders)
                   / (1.0 - CAST(t.c_ab AS DOUBLE) / ca.c), 6)
           END AS conviction_ab
    FROM top t
    JOIN ic ca ON ca.l_partkey = t.part_a
    JOIN ic cb ON cb.l_partkey = t.part_b
    CROSS JOIN n
    ORDER BY support_cnt DESC, part_a, part_b
    """,
)
def association_rules_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = li.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    ic = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_b"))
    pc = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    )
    w = Window.orderBy(F.col("c_ab").desc(), "part_a", "part_b")
    top = pc.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 20
    ).drop("rnk")
    ca = ic.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    cb = ic.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    j = (
        top.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
    )
    return j.select(
        "part_a",
        "part_b",
        F.col("c_ab").alias("support_cnt"),
        F.round(F.col("c_ab").cast("double") / F.col("ca"), 6).alias(
            "confidence_ab"
        ),
        F.round(
            F.col("c_ab").cast("double") * F.col("n_orders")
            / (F.col("ca") * F.col("cb")),
            6,
        ).alias("lift"),
        F.when(
            F.col("c_ab") < F.col("ca"),
            F.round(
                (F.lit(1.0) - F.col("cb").cast("double") / F.col("n_orders"))
                / (F.lit(1.0) - F.col("c_ab").cast("double") / F.col("ca")),
                6,
            ),
        ).alias("conviction_ab"),
    ).orderBy(F.col("support_cnt").desc(), "part_a", "part_b")


# --------------------------------------------------------------------------
# Time-decay multi-touch attribution (round-8 slate): touches in the
# hour before a purchase share its revenue with a 30-minute half-life
# — the recency-weighted sibling of attribution_linear_multitouch
# (same user-keyed join shape: equi-join on user_id, time window as
# residual predicate — never a theta join). Weights are DYADIC
# (1024 for age<30m, 512 otherwise): exactly-representable doubles,
# so the per-purchase share cents*w/sum_w is the same IEEE value in
# both engines (no pow()/exp() in sight); the final per-channel sum
# rounds at 2 decimals like the linear twin.
# --------------------------------------------------------------------------
@operator(
    "attribution_time_decay",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT event_id AS touch_id, user_id, ts AS t_ts,
             event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')
    ),
    touched AS (
      SELECT p.purchase_id, p.cents, t.touch_id, t.channel,
             CASE WHEN floor(epoch(p.p_ts)) - floor(epoch(t.t_ts)) < 1800
                  THEN 1024 ELSE 512 END AS w
      FROM p JOIN t
        ON t.user_id = p.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL 60 MINUTE
    ),
    weighted AS (
      SELECT purchase_id, touch_id, channel,
             cents * w / SUM(w) OVER (PARTITION BY purchase_id) AS credit
      FROM touched
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS touches,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS purchases,
           ROUND(SUM(credit), 2) AS credited_cents
    FROM weighted GROUP BY channel ORDER BY channel
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
        F.col("event_id").alias("touch_id"),
    )
    touched = (
        p.join(
            t,
            (F.col("t_user") == F.col("p_user"))
            & (F.col("t_ts") < F.col("p_ts"))
            & (
                F.col("t_ts")
                >= F.col("p_ts") - F.expr("INTERVAL 60 MINUTE")
            ),
        )
        .select(
            "purchase_id",
            "cents",
            "touch_id",
            "channel",
            F.when(
                F.unix_timestamp("p_ts") - F.unix_timestamp("t_ts") < 1800,
                1024,
            ).otherwise(512).alias("w"),
        )
    )
    wsum = Window.partitionBy("purchase_id")
    weighted = touched.select(
        "purchase_id",
        "touch_id",
        "channel",
        (F.col("cents") * F.col("w") / F.sum("w").over(wsum)).alias("credit"),
    )
    return (
        weighted.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("touches"),
            F.countDistinct("purchase_id").cast("bigint").alias("purchases"),
            F.round(F.sum("credit"), 2).alias("credited_cents"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Column-profile drift audit (round-8 slate): the schema-level
# companion to drift_psi_report (distribution drift) — per COLUMN
# profiles (row count, NDV, lexicographic min/max of the canonical
# string form) for two year-snapshots of the fact table, side by
# side. This is the Deequ/Great-Expectations "profile diff" a
# warehouse publishes with every partition hand-off: a column whose
# NDV collapses or whose min/max window shifts signals an upstream
# schema or encoder change before any model sees the data.
#
# Scale posture (100 TB): one scan of the two snapshot partitions
# (partition-pruned by the date predicate), a 4x unpivot restricted
# to the profiled columns (projection happens BEFORE the explode, so
# the amplification carries only (snap, name, val)), then ONE
# grouped aggregate with |columns| output rows. The exact
# COUNT(DISTINCT ...) pair compiles to Spark's expand+two-phase agg —
# exact is required for the oracle differential; the 100 TB variant
# swaps in approx_count_distinct per column (HLL machinery already
# proven by uv_sketch_union_daily, star.py). Numeric columns are
# profiled on their cents-scaled BIGINT string form so min/max
# strings are engine-identical (double->VARCHAR formatting is NOT).
# --------------------------------------------------------------------------
@operator(
    "column_profile_drift",
    oracle="""
    WITH snap AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
                  THEN 'a' ELSE 'b' END AS snap,
             CAST(o_orderstatus AS VARCHAR)   AS v_status,
             CAST(o_orderpriority AS VARCHAR) AS v_priority,
             CAST(o_custkey AS VARCHAR)       AS v_custkey,
             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                                              AS v_cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    ), long AS (
      SELECT snap, 'o_orderstatus' AS col_name, v_status AS val FROM snap
      UNION ALL
      SELECT snap, 'o_orderpriority', v_priority FROM snap
      UNION ALL
      SELECT snap, 'o_custkey', v_custkey FROM snap
      UNION ALL
      SELECT snap, 'o_totalprice_cents', v_cents FROM snap
    )
    SELECT col_name,
           CAST(COUNT(*) FILTER (WHERE snap = 'a') AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (WHERE snap = 'b') AS BIGINT) AS n_b,
           CAST(COUNT(DISTINCT val) FILTER (WHERE snap = 'a') AS BIGINT)
             AS ndv_a,
           CAST(COUNT(DISTINCT val) FILTER (WHERE snap = 'b') AS BIGINT)
             AS ndv_b,
           MIN(val) FILTER (WHERE snap = 'a') AS min_a,
           MIN(val) FILTER (WHERE snap = 'b') AS min_b,
           MAX(val) FILTER (WHERE snap = 'a') AS max_a,
           MAX(val) FILTER (WHERE snap = 'b') AS max_b
    FROM long GROUP BY col_name ORDER BY col_name
    """,
)
def column_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side per-column profiles for two snapshots of orders.
    Reference scope: not present (no data-quality layer exists,
    /root/reference/doc/temp.md:509-530); this is the warehouse
    hand-off audit a 100 TB platform runs between drift_psi_report
    (distributions) and key_uniqueness_audit (constraints)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    snap = o.select(
        F.when(
            F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"), "a"
        )
        .otherwise("b")
        .alias("snap"),
        F.col("o_orderstatus").cast("string").alias("v_status"),
        F.col("o_orderpriority").cast("string").alias("v_priority"),
        F.col("o_custkey").cast("string").alias("v_custkey"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .cast("string")
        .alias("v_cents"),
    )
    long = snap.selectExpr(
        "snap",
        "stack(4, 'o_orderstatus', v_status, 'o_orderpriority', v_priority, "
        "'o_custkey', v_custkey, 'o_totalprice_cents', v_cents) "
        "AS (col_name, val)",
    )
    a = F.col("snap") == "a"
    b = F.col("snap") == "b"
    return (
        long.groupBy("col_name")
        .agg(
            F.count(F.when(a, 1)).cast("bigint").alias("n_a"),
            F.count(F.when(b, 1)).cast("bigint").alias("n_b"),
            F.countDistinct(F.when(a, F.col("val"))).cast("bigint").alias("ndv_a"),
            F.countDistinct(F.when(b, F.col("val"))).cast("bigint").alias("ndv_b"),
            F.min(F.when(a, F.col("val"))).alias("min_a"),
            F.min(F.when(b, F.col("val"))).alias("min_b"),
            F.max(F.when(a, F.col("val"))).alias("max_a"),
            F.max(F.when(b, F.col("val"))).alias("max_b"),
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# The 100 TB variant of column_profile_drift (VERDICT r7 item 7):
# SCALE.md promised "swaps in approx_count_distinct per column" — this
# registers that claim as a tested operator instead of prose. Same
# partition-pruned scan and 4x unpivot; the exact COUNT(DISTINCT)
# pair (an expand + two-phase agg whose state is the full value
# domain) is replaced by HLL sketches (fixed 1.5 KB state per
# column-snapshot cell, mergeable map-side — the architecture proven
# by uv_sketch_union_daily). Contract: the driver hashes the EXACT
# NDVs plus the boolean "HLL estimate within 5%" per cell — the same
# exact+accuracy-gate oracle shape as approx_distinct_users.
# --------------------------------------------------------------------------
@operator(
    "column_profile_drift_approx",
    oracle="""
    WITH snap AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
                  THEN 'a' ELSE 'b' END AS snap,
             CAST(o_orderstatus AS VARCHAR)   AS v_status,
             CAST(o_orderpriority AS VARCHAR) AS v_priority,
             CAST(o_custkey AS VARCHAR)       AS v_custkey,
             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                                              AS v_cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    ), long AS (
      SELECT snap, 'o_orderstatus' AS col_name, v_status AS val FROM snap
      UNION ALL
      SELECT snap, 'o_orderpriority', v_priority FROM snap
      UNION ALL
      SELECT snap, 'o_custkey', v_custkey FROM snap
      UNION ALL
      SELECT snap, 'o_totalprice_cents', v_cents FROM snap
    )
    SELECT col_name,
           CAST(COUNT(*) FILTER (WHERE snap = 'a') AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (WHERE snap = 'b') AS BIGINT) AS n_b,
           CAST(COUNT(DISTINCT val) FILTER (WHERE snap = 'a') AS BIGINT)
             AS ndv_a,
           CAST(COUNT(DISTINCT val) FILTER (WHERE snap = 'b') AS BIGINT)
             AS ndv_b,
           TRUE AS approx_a_ok,
           TRUE AS approx_b_ok
    FROM long GROUP BY col_name ORDER BY col_name
    """,
)
def column_profile_drift_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-NDV twin of column_profile_drift — the shape that holds
    when a snapshot's value domain no longer fits an exact distinct's
    aggregation state. Reference scope: not present (no data-quality
    layer, /root/reference/doc/temp.md:509-530)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    snap = o.select(
        F.when(
            F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"), "a"
        )
        .otherwise("b")
        .alias("snap"),
        F.col("o_orderstatus").cast("string").alias("v_status"),
        F.col("o_orderpriority").cast("string").alias("v_priority"),
        F.col("o_custkey").cast("string").alias("v_custkey"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .cast("string")
        .alias("v_cents"),
    )
    long = snap.selectExpr(
        "snap",
        "stack(4, 'o_orderstatus', v_status, 'o_orderpriority', v_priority, "
        "'o_custkey', v_custkey, 'o_totalprice_cents', v_cents) "
        "AS (col_name, val)",
    )
    a = F.col("snap") == "a"
    b = F.col("snap") == "b"

    def _gate(approx: F.Column, exact: F.Column) -> F.Column:
        return (
            F.abs(approx.cast("double") / exact.cast("double") - 1.0) <= 0.05
        )

    hll_a = F.hll_sketch_estimate(
        F.hll_sketch_agg(F.when(a, F.col("val")))
    )
    hll_b = F.hll_sketch_estimate(
        F.hll_sketch_agg(F.when(b, F.col("val")))
    )
    exact_a = F.countDistinct(F.when(a, F.col("val"))).cast("bigint")
    exact_b = F.countDistinct(F.when(b, F.col("val"))).cast("bigint")
    return (
        long.groupBy("col_name")
        .agg(
            F.count(F.when(a, 1)).cast("bigint").alias("n_a"),
            F.count(F.when(b, 1)).cast("bigint").alias("n_b"),
            exact_a.alias("ndv_a"),
            exact_b.alias("ndv_b"),
            _gate(hll_a, exact_a).alias("approx_a_ok"),
            _gate(hll_b, exact_b).alias("approx_b_ok"),
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# Markov removal-effect attribution — the non-heuristic counterpart
# of attribution_linear_multitouch / attribution_time_decay: model
# each user's pre-conversion journey as a first-order chain over
# {start, view, click} with absorbing {conv, null}, compute the
# absorption probability into conversion in closed form (2x2 Cramer
# solve on the transient block), then re-solve with each channel
# removed (its mass redirected to null); a channel's credit is its
# removal effect normalized across channels. Every transition count
# is an exact integer; the ENTIRE scalar algebra is generated ONCE as
# SQL expression strings (_MK_* below) interpolated verbatim into
# BOTH the DuckDB oracle and Spark selectExpr — identical parse tree,
# identical doubles. Journey extraction: one window over each user's
# touch stream cut at the first purchase (ts, event_id) key — a keyed
# shuffle on user_id; the chain summary is 12 integers, so the solve
# is O(1) regardless of fact volume.
# --------------------------------------------------------------------------
def _mk_exprs() -> dict[str, str]:
    p = {
        k: f"(CAST(n{k} AS DOUBLE) / n{k[0]}_row)"
        for k in (
            "sv", "sc", "sk", "vv", "vc", "vk", "cv", "cc", "ck",
        )
    }
    det = (
        f"((1.0 - {p['vv']}) * (1.0 - {p['cc']}) - {p['vc']} * {p['cv']})"
    )
    av = f"(({p['vk']} * (1.0 - {p['cc']}) + {p['vc']} * {p['ck']}) / {det})"
    ac = f"(((1.0 - {p['vv']}) * {p['ck']} + {p['cv']} * {p['vk']}) / {det})"
    asf = f"({p['sv']} * {av} + {p['sc']} * {ac} + {p['sk']})"
    asrv = f"({p['sc']} * ({p['ck']} / (1.0 - {p['cc']})) + {p['sk']})"
    asrc = f"({p['sv']} * ({p['vk']} / (1.0 - {p['vv']})) + {p['sk']})"
    rev = f"(1.0 - {asrv} / {asf})"
    rec = f"(1.0 - {asrc} / {asf})"
    return {
        "p_conv": asf,
        "re_view": rev,
        "re_click": rec,
        "sh_view": f"({rev} / ({rev} + {rec}))",
        "sh_click": f"({rec} / ({rev} + {rec}))",
    }


def _register_attribution_markov_removal() -> None:
    x = _mk_exprs()
    oracle = f"""
    WITH fp AS (
      SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ),
    conv AS (SELECT user_id FROM fp),
    users AS (SELECT DISTINCT user_id FROM events),
    touches AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id
      FROM events e LEFT JOIN fp ON fp.user_id = e.user_id
      WHERE e.event_type IN ('view', 'click')
        AND (fp.user_id IS NULL OR (e.ts, e.event_id) < (fp.ts, fp.event_id))
    ),
    seqd AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rdesc
      FROM touches
    ),
    trans AS (
      SELECT COALESCE(prev, 'start') AS src, event_type AS dst FROM seqd
      UNION ALL
      SELECT s.event_type,
             CASE WHEN c.user_id IS NULL THEN 'null' ELSE 'conv' END
      FROM seqd s LEFT JOIN conv c ON c.user_id = s.user_id
      WHERE s.rdesc = 1
      UNION ALL
      SELECT 'start',
             CASE WHEN c.user_id IS NULL THEN 'null' ELSE 'conv' END
      FROM users u LEFT JOIN conv c ON c.user_id = u.user_id
      WHERE NOT EXISTS (SELECT 1 FROM seqd t WHERE t.user_id = u.user_id)
    ),
    m AS (
      SELECT
        CAST(count_if(src = 'start' AND dst = 'view') AS BIGINT)  AS nsv,
        CAST(count_if(src = 'start' AND dst = 'click') AS BIGINT) AS nsc,
        CAST(count_if(src = 'start' AND dst = 'conv') AS BIGINT)  AS nsk,
        CAST(count_if(src = 'view' AND dst = 'view') AS BIGINT)   AS nvv,
        CAST(count_if(src = 'view' AND dst = 'click') AS BIGINT)  AS nvc,
        CAST(count_if(src = 'view' AND dst = 'conv') AS BIGINT)   AS nvk,
        CAST(count_if(src = 'click' AND dst = 'view') AS BIGINT)  AS ncv,
        CAST(count_if(src = 'click' AND dst = 'click') AS BIGINT) AS ncc,
        CAST(count_if(src = 'click' AND dst = 'conv') AS BIGINT)  AS nck,
        CAST(count_if(src = 'start') AS BIGINT)                   AS ns_row,
        CAST(count_if(src = 'view') AS BIGINT)                    AS nv_row,
        CAST(count_if(src = 'click') AS BIGINT)                   AS nc_row,
        (SELECT COUNT(*) FROM users)                              AS n_journeys,
        (SELECT COUNT(*) FROM conv)                               AS n_conversions
      FROM trans
    )
    SELECT 'click' AS channel, n_journeys, n_conversions,
           ROUND({x['p_conv']}, 6)   AS p_conv_full,
           ROUND({x['re_click']}, 6) AS removal_effect,
           ROUND({x['sh_click']}, 6) AS attributed_share
    FROM m
    UNION ALL
    SELECT 'view', n_journeys, n_conversions,
           ROUND({x['p_conv']}, 6), ROUND({x['re_view']}, 6),
           ROUND({x['sh_view']}, 6)
    FROM m
    ORDER BY channel
    """

    @operator("attribution_markov_removal", oracle=oracle)
    def attribution_markov_removal(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from pyspark.sql import Window

        ev = _t(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts", "event_id"
        )
        wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
        fp = (
            ev.filter(F.col("event_type") == "purchase")
            .withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("ts").alias("fp_ts"),
                F.col("event_id").alias("fp_eid"),
            )
        )
        conv = fp.select("user_id")
        users = ev.select("user_id").distinct()
        touches = (
            ev.filter(F.col("event_type").isin("view", "click"))
            .join(fp, "user_id", "left")
            .filter(
                F.col("fp_ts").isNull()
                | (
                    F.struct("ts", "event_id")
                    < F.struct(
                        F.col("fp_ts").alias("ts"),
                        F.col("fp_eid").alias("event_id"),
                    )
                )
            )
            .select("user_id", "event_type", "ts", "event_id")
        )
        wd = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        seqd = touches.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(wp).alias("prev"),
            F.row_number().over(wd).alias("rdesc"),
        )
        conv_flag = conv.withColumn("is_conv", F.lit(1))
        step = seqd.select(
            F.coalesce("prev", F.lit("start")).alias("src"),
            F.col("event_type").alias("dst"),
        )
        terminal = (
            seqd.filter(F.col("rdesc") == 1)
            .join(conv_flag, "user_id", "left")
            .select(
                F.col("event_type").alias("src"),
                F.when(F.col("is_conv").isNull(), "null")
                .otherwise("conv")
                .alias("dst"),
            )
        )
        empty = (
            users.join(seqd.select("user_id").distinct(), "user_id", "left_anti")
            .join(conv_flag, "user_id", "left")
            .select(
                F.lit("start").alias("src"),
                F.when(F.col("is_conv").isNull(), "null")
                .otherwise("conv")
                .alias("dst"),
            )
        )
        trans = step.unionAll(terminal).unionAll(empty)

        def cell(s: str, d: str) -> F.Column:
            return F.count(
                F.when((F.col("src") == s) & (F.col("dst") == d), 1)
            ).cast("bigint")

        m = trans.agg(
            cell("start", "view").alias("nsv"),
            cell("start", "click").alias("nsc"),
            cell("start", "conv").alias("nsk"),
            cell("view", "view").alias("nvv"),
            cell("view", "click").alias("nvc"),
            cell("view", "conv").alias("nvk"),
            cell("click", "view").alias("ncv"),
            cell("click", "click").alias("ncc"),
            cell("click", "conv").alias("nck"),
            F.count(F.when(F.col("src") == "start", 1))
            .cast("bigint").alias("ns_row"),
            F.count(F.when(F.col("src") == "view", 1))
            .cast("bigint").alias("nv_row"),
            F.count(F.when(F.col("src") == "click", 1))
            .cast("bigint").alias("nc_row"),
        ).crossJoin(
            users.agg(F.count(F.lit(1)).cast("bigint").alias("n_journeys"))
        ).crossJoin(
            conv.agg(F.count(F.lit(1)).cast("bigint").alias("n_conversions"))
        )
        click_row = m.selectExpr(
            "'click' AS channel",
            "n_journeys",
            "n_conversions",
            f"ROUND({x['p_conv']}, 6)   AS p_conv_full",
            f"ROUND({x['re_click']}, 6) AS removal_effect",
            f"ROUND({x['sh_click']}, 6) AS attributed_share",
        )
        view_row = m.selectExpr(
            "'view' AS channel",
            "n_journeys",
            "n_conversions",
            f"ROUND({x['p_conv']}, 6)   AS p_conv_full",
            f"ROUND({x['re_view']}, 6)  AS removal_effect",
            f"ROUND({x['sh_view']}, 6)  AS attributed_share",
        )
        return click_row.unionAll(view_row).orderBy("channel")


_register_attribution_markov_removal()


# --------------------------------------------------------------------------
# Cluster-sampling design effect: if you sample whole ORDERS instead
# of independent line items (the only way to sample at 100 TB — you
# sample files/keys, not rows), how much variance do you pay? The
# ANOVA intraclass correlation (unequal-size m0 form) gives
# DEFF = 1 + (mbar - 1) * rho — the survey-sampling number that says
# how many cluster-sampled rows equal one SRS row. Price clustering
# within an order makes rho > 0; DEFF quantifies the cost of the
# cheap sampling path (bernoulli_hash_sample on l_orderkey = cluster
# sampling; on (orderkey, linenumber) = element sampling). One
# grouped pass to per-order (m_i, s1_i), per-cluster between-SS
# contributions snapped to the integer grid before the cross-cluster
# sum (snap-before-sum), all other moments exact HUGEINT.
# --------------------------------------------------------------------------
@operator(
    "cluster_sample_design_effect",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ), per_c AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS m_i,
             CAST(SUM(cents) AS BIGINT) AS s1_i
      FROM li GROUP BY 1
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT)      AS k,
             CAST(SUM(m_i) AS BIGINT)      AS n,
             CAST(SUM(s1_i) AS BIGINT)     AS s,
             SUM(CAST(m_i AS HUGEINT) * m_i) AS sm2,
             SUM(CAST(ROUND(CAST(s1_i AS DOUBLE) * s1_i / m_i)
                      AS HUGEINT))         AS sb
      FROM per_c
    ), yy AS (
      SELECT SUM(CAST(cents AS HUGEINT) * cents) AS sy2 FROM li
    )
    SELECT g.k AS k_clusters, g.n AS n_elems,
           ROUND(CAST(g.n AS DOUBLE) / g.k, 6) AS mean_cluster_size,
           ROUND(CAST(g.s AS DOUBLE) / g.n / 100.0, 6) AS mean_price,
           ROUND(
             ((CAST(g.sb AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n)
                / (g.k - 1)
              - ((CAST(yy.sy2 AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n)
                 - (CAST(g.sb AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n))
                / (g.n - g.k))
             / ((CAST(g.sb AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n)
                / (g.k - 1)
                + ((CAST(g.n AS DOUBLE) - CAST(g.sm2 AS DOUBLE) / g.n)
                   / (g.k - 1) - 1)
                  * ((CAST(yy.sy2 AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n)
                     - (CAST(g.sb AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n))
                  / (g.n - g.k)), 6) AS icc,
           ROUND(1.0 + (CAST(g.n AS DOUBLE) / g.k - 1.0) *
             (((CAST(g.sb AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n)
                / (g.k - 1)
              - ((CAST(yy.sy2 AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n)
                 - (CAST(g.sb AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n))
                / (g.n - g.k))
             / ((CAST(g.sb AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n)
                / (g.k - 1)
                + ((CAST(g.n AS DOUBLE) - CAST(g.sm2 AS DOUBLE) / g.n)
                   / (g.k - 1) - 1)
                  * ((CAST(yy.sy2 AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n)
                     - (CAST(g.sb AS DOUBLE) - CAST(g.s AS DOUBLE) * g.s / g.n))
                  / (g.n - g.k))), 6) AS deff
    FROM g CROSS JOIN yy
    """,
)
def cluster_sample_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    per_c = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("m_i"),
        F.sum("cents").cast("bigint").alias("s1_i"),
    )
    g = per_c.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("m_i").cast("bigint").alias("n"),
        F.sum("s1_i").cast("bigint").alias("s"),
        F.sum(F.col("m_i").cast("decimal(38,0)") * F.col("m_i")).alias("sm2"),
        F.sum(
            F.round(
                F.col("s1_i").cast("double") * F.col("s1_i") / F.col("m_i")
            ).cast("decimal(38,0)")
        ).alias("sb"),
    )
    yy = li.agg(
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("sy2")
    )
    out = g.crossJoin(yy)
    k, n = F.col("k"), F.col("n")
    s = F.col("s").cast("double")
    sb = F.col("sb").cast("double")
    sy2 = F.col("sy2").cast("double")
    sm2 = F.col("sm2").cast("double")
    ssb = sb - s * F.col("s") / n
    sst = sy2 - s * F.col("s") / n
    ssw = sst - ssb
    msb = ssb / (k - 1)
    msw = ssw / (n - k)
    m0 = (n.cast("double") - sm2 / n) / (k - 1)
    rho = (msb - msw) / (msb + (m0 - 1) * msw)
    return out.select(
        k.alias("k_clusters"),
        n.alias("n_elems"),
        F.round(n.cast("double") / k, 6).alias("mean_cluster_size"),
        F.round(s / n / 100.0, 6).alias("mean_price"),
        F.round(rho, 6).alias("icc"),
        F.round(F.lit(1.0) + (n.cast("double") / k - 1.0) * rho, 6)
        .alias("deff"),
    )


# --------------------------------------------------------------------------
# Incremental JOIN-view maintenance by the delta rule:
#   d(O |><| C) = dO|><|Cb  +  Ob|><|dC  +  dO|><|dC
# for a per-nation revenue view over orders JOIN customer, with BOTH
# inputs receiving a batch (orders after the date cutoff; customers
# whose key = 0 mod 10, "newly onboarded"). The stored view aggregates
# only Ob|><|Cb; the maintenance pass touches the three delta
# components and merges additively. The join sibling of
# incremental_agg_merge (aggregate IVM) and incremental_dedup_merge
# (dedup IVM) — together the three cover the standard IVM triangle.
# Oracle = the FULL recompute: the merge must be lossless.
# Scale posture: the two delta components that scan a full side
# (dO|><|Cb, Ob|><|dC) are keyed joins where the delta side is small
# — at 100 TB the dim delta broadcasts, and Ob|><|dC is the only
# expensive term (one fact scan, filterable by the dim delta's key
# range); dO|><|dC is delta x delta. The base x base term is never
# recomputed — that is the point.
# --------------------------------------------------------------------------
_IVM_CUTOFF = "2001-01-01"


@operator(
    "incremental_join_maintenance",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1 ORDER BY nationkey
    """,
)
def incremental_join_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    ob = o.filter(F.col("o_orderdate") < _IVM_CUTOFF)
    od = o.filter(F.col("o_orderdate") >= _IVM_CUTOFF)
    cb = cust.filter(F.col("c_custkey") % 10 != 0)
    cd = cust.filter(F.col("c_custkey") % 10 == 0)

    def view(orders: DataFrame, customers: DataFrame) -> DataFrame:
        return (
            orders.join(customers, orders.o_custkey == customers.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("c").alias("cents"),
            )
        )

    stored = view(ob, cb)                      # materialized once
    deltas = (
        view(od, F.broadcast(cb))              # new facts x old dim
        .unionAll(view(ob, F.broadcast(cd)))   # old facts x new dim rows
        .unionAll(view(od, F.broadcast(cd)))   # new x new
    )
    merged = (
        stored.unionAll(deltas)
        .groupBy("nationkey")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    return merged.orderBy("nationkey")


# --------------------------------------------------------------------------
# Join-cardinality estimation audit — the planner's question run as a
# query: |orders JOIN customer ON custkey| predicted three ways
# (cross-product upper bound; the uniform-key textbook estimate
# n1*n2/max(d1,d2); the per-key exact sum) against the true join
# count. The gap between estimate and truth is WHY skew breaks
# plans; join_key_skew_stats measures the key histogram, this op
# measures the consequence. All counts come from two grouped passes
# plus a custkey-level micro-join of the two count tables
# (|distinct keys| rows); the join output itself is never built.
# --------------------------------------------------------------------------
@operator(
    "join_cardinality_estimate",
    oracle="""
    WITH oc AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c_o
      FROM orders GROUP BY 1
    ), cc AS (
      SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c_c
      FROM customer GROUP BY 1
    ), m AS (
      SELECT
        (SELECT COUNT(*) FROM orders)                    AS n_o,
        (SELECT COUNT(*) FROM customer)                  AS n_c,
        (SELECT COUNT(*) FROM oc)                        AS d_o,
        (SELECT COUNT(*) FROM cc)                        AS d_c,
        (SELECT CAST(COALESCE(SUM(oc.c_o * cc.c_c), 0) AS BIGINT)
         FROM oc JOIN cc ON cc.k = oc.k)                 AS actual
    )
    SELECT CAST(n_o AS BIGINT) AS n_orders,
           CAST(n_c AS BIGINT) AS n_customers,
           CAST(d_o AS BIGINT) AS d_orders_keys,
           CAST(d_c AS BIGINT) AS d_customer_keys,
           CAST(actual AS BIGINT) AS actual_join_rows,
           CAST(ROUND(CAST(n_o AS DOUBLE) * n_c
                      / GREATEST(d_o, d_c)) AS BIGINT) AS est_uniform,
           ROUND(CAST(n_o AS DOUBLE) * n_c / GREATEST(d_o, d_c)
                 / actual, 6) AS est_over_actual
    FROM m
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    oc = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_o")
    )
    cc = c.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_c")
    )
    actual = oc.join(cc, "k").agg(
        F.coalesce(F.sum(F.col("c_o") * F.col("c_c")), F.lit(0))
        .cast("bigint").alias("actual")
    )
    m = (
        o.agg(F.count(F.lit(1)).cast("bigint").alias("n_o"))
        .crossJoin(c.agg(F.count(F.lit(1)).cast("bigint").alias("n_c")))
        .crossJoin(oc.agg(F.count(F.lit(1)).cast("bigint").alias("d_o")))
        .crossJoin(cc.agg(F.count(F.lit(1)).cast("bigint").alias("d_c")))
        .crossJoin(actual)
    )
    est = (
        F.col("n_o").cast("double") * F.col("n_c")
        / F.greatest("d_o", "d_c")
    )
    return m.select(
        F.col("n_o").alias("n_orders"),
        F.col("n_c").alias("n_customers"),
        F.col("d_o").alias("d_orders_keys"),
        F.col("d_c").alias("d_customer_keys"),
        F.col("actual").alias("actual_join_rows"),
        F.round(est).cast("bigint").alias("est_uniform"),
        F.round(est / F.col("actual"), 6).alias("est_over_actual"),
    )


# --------------------------------------------------------------------------
# Functional-dependency audit (profiling-suite classic): for each
# declared candidate FD X -> Y, count the X keys whose Y is not
# unique — the check that catches denormalization drift and bad
# backfills (a custkey mapping to two nations is corruption, not
# data). Four candidates spanning three tables, each one grouped
# COUNT DISTINCT + conditional aggregate; results unioned into one
# censused report. Complements referential_integrity_audit (INCLUSION
# dependencies) with the DETERMINATION direction.
# --------------------------------------------------------------------------
_FD_CANDIDATES = [
    ("customer", "c_custkey", "c_nationkey"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("part", "p_partkey", "p_brand"),
    ("orders", "o_orderkey", "o_orderdate"),
]


def _fd_sql(table: str, x: str, y: str) -> str:
    return f"""
      SELECT '{table}.{x} -> {y}' AS fd,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(count_if(n_y > 1) AS BIGINT) AS violating_keys,
             CAST(MAX(n_y) AS BIGINT) AS max_variants,
             CASE WHEN count_if(n_y > 1) = 0 THEN 1 ELSE 0 END AS holds
      FROM (SELECT {x}, COUNT(DISTINCT {y}) AS n_y FROM {table} GROUP BY 1)
    """


@operator(
    "functional_dependency_audit",
    oracle=" UNION ALL ".join(
        _fd_sql(t, x, y) for t, x, y in _FD_CANDIDATES
    ) + " ORDER BY fd",
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for table, x, y in _FD_CANDIDATES:
        t = _t(spark, sf_dir, table)
        g = t.groupBy(x).agg(F.countDistinct(y).alias("n_y"))
        outs.append(
            g.agg(
                F.lit(f"{table}.{x} -> {y}").alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.count(F.when(F.col("n_y") > 1, 1)).cast("bigint")
                .alias("violating_keys"),
                F.max("n_y").cast("bigint").alias("max_variants"),
                F.when(
                    F.count(F.when(F.col("n_y") > 1, 1)) == 0, 1
                ).otherwise(0).cast("int").alias("holds"),
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionAll(df)
    return out.orderBy("fd")


# --------------------------------------------------------------------------
# Column-level checksums: an order-free 48-bit-md5-prefix SUM per
# COLUMN (mod 1e18), plus non-null counts — the migration-parity
# primitive that says WHICH column diverged when table_checksum
# (whole-row) says "something changed". Canonicalization matches
# table_checksum's discipline: timestamps to epoch micros, doubles
# to cents, everything through one explicit CAST chain so both
# engines hash identical strings. Column sums are independent, so a
# backfill that rewrote one column flags exactly that column.
# Scale: pure scan-stage projections + one global agg; the mod
# keeps every sum inside BIGINT on output (HUGEINT/DECIMAL(38,0)
# internally).
# --------------------------------------------------------------------------
_CKS_COLS = [
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_totalprice", "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)"
                     " AS VARCHAR)"),
    ("o_orderdate", "CAST(epoch_us(o_orderdate) AS VARCHAR)"),
    ("o_orderpriority", "o_orderpriority"),
]


@operator(
    "column_level_checksums",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{name}' AS column_name,
               CAST(COUNT({expr}) AS BIGINT) AS n_nonnull,
               CAST(SUM(('0x' || substr(md5({expr}), 1, 12))::BIGINT)
                    % 1000000000000000000 AS BIGINT) AS checksum
        FROM orders
        """
        for name, expr in _CKS_COLS
    ) + " ORDER BY column_name",
)
def column_level_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    spark_exprs = {
        "o_orderkey": F.col("o_orderkey").cast("string"),
        "o_custkey": F.col("o_custkey").cast("string"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_totalprice": F.round(F.col("o_totalprice") * 100)
        .cast("bigint").cast("string"),
        "o_orderdate": F.unix_micros(
            F.col("o_orderdate").cast("timestamp")
        ).cast("string"),
        "o_orderpriority": F.col("o_orderpriority"),
    }
    outs = []
    for name, _ in _CKS_COLS:
        e = spark_exprs[name]
        h = F.conv(F.substring(F.md5(e), 1, 12), 16, 10).cast("decimal(38,0)")
        outs.append(
            o.agg(
                F.lit(name).alias("column_name"),
                F.count(e).cast("bigint").alias("n_nonnull"),
                (F.sum(h) % F.lit(1000000000000000000))
                .cast("bigint").alias("checksum"),
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionAll(df)
    return out.orderBy("column_name")


# --------------------------------------------------------------------------
# Position-based (U-shaped 40/20/40) attribution — completes the
# heuristic trio (linear, time-decay, THIS) next to the Markov
# removal-effect model: first and last touch inside the window get
# 40% each, the middle splits the remaining 20% evenly (1 touch =>
# 100%, 2 => 50/50). Same verified journey scaffolding as
# attribution_linear_multitouch (one user-keyed interval join, one
# per-purchase window); weights are rank CASEs on the (t_ts,
# touch_id) total order.
# --------------------------------------------------------------------------
@operator(
    "attribution_position_based",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT event_id AS touch_id, user_id, ts AS t_ts,
             event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')
    ),
    touched AS (
      SELECT p.purchase_id, p.value, t.touch_id, t.channel, t.t_ts
      FROM p JOIN t
        ON t.user_id = p.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL 30 MINUTE
    ),
    ranked AS (
      SELECT purchase_id, value, touch_id, channel,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY t_ts, touch_id) AS rn,
             COUNT(*) OVER (PARTITION BY purchase_id)    AS n
      FROM touched
    ),
    weighted AS (
      SELECT purchase_id, touch_id, channel,
             value * (CASE
               WHEN n = 1 THEN 1.0
               WHEN n = 2 THEN 0.5
               WHEN rn = 1 OR rn = n THEN 0.4
               ELSE 0.2 / (n - 2) END) AS credit
      FROM ranked
    )
    SELECT channel,
           COUNT(*) AS touches,
           COUNT(DISTINCT purchase_id) AS purchases,
           ROUND(SUM(credit), 2) AS credited_revenue
    FROM weighted
    GROUP BY channel
    ORDER BY channel
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    touched = p.join(
        t,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_ATTR_WINDOW}")),
    )
    wp = Window.partitionBy("purchase_id")
    ranked = touched.select(
        "purchase_id", "value", "touch_id", "channel",
        F.row_number()
        .over(wp.orderBy("t_ts", "touch_id")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    w = (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 0.4)
        .otherwise(0.2 / (F.col("n") - 2))
    )
    weighted = ranked.select(
        "purchase_id", "touch_id", "channel",
        (F.col("value") * w).alias("credit"),
    )
    return (
        weighted.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("touches"),
            F.countDistinct("purchase_id").alias("purchases"),
            F.round(F.sum("credit"), 2).alias("credited_revenue"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Round-10 addition (registry FROZEN in round 9 — VERDICT r8 item 2;
# ROADMAP "Warehouse / engine hygiene"). Sort-order advisor: per-column
# run statistics under the CURRENT logical order vs a CANDIDATE sort,
# generalizing zone_map_skipping — long runs of equal values are what
# make min/max zone maps, RLE encoding, and data skipping effective,
# so comparing run counts across candidate sort orders is the planning
# table behind a re-cluster / z-order decision.
#
# Determinism: "physical order" is layout-sensitive, so both orderings
# are DEFINED on logical keys — current starts at (l_orderkey,
# l_linenumber) (the insert order the reference's DDL implies),
# candidate starts at l_shipdate. The synthetic lineitem does NOT have
# a unique (l_orderkey, l_linenumber) pair, so both keys are extended
# with every emitted value column: rows tied on the full key are
# identical in all three stacked vals, making the run counts invariant
# to tie order — deterministic without requiring a unique row id.
# Scale: the LAG runs over a global sort; at 100 TB the honest
# production variant computes per-range-partition run stats after a
# repartitionByRange on the sort prefix (runs only break at range
# boundaries, adding <= n_partitions to the count) — at advisor/audit
# scale the exact global window is the right contract.
# --------------------------------------------------------------------------
_SORT_ADVISOR_ORACLE = """
    WITH s AS (
      SELECT l_orderkey, l_linenumber, l_shipdate,
             l_suppkey, l_returnflag, 'l_shipdate' AS col_name,
             CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS val
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, l_shipdate, l_suppkey,
             l_returnflag, 'l_suppkey', CAST(l_suppkey AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, l_shipdate, l_suppkey,
             l_returnflag, 'l_returnflag', l_returnflag FROM lineitem
    ),
    nat AS (
      SELECT 'natural' AS ordering, col_name,
             CASE WHEN LAG(val) OVER w IS NULL
                       OR val <> LAG(val) OVER w THEN 1 ELSE 0 END AS chg
      FROM s
      WINDOW w AS (PARTITION BY col_name
                   ORDER BY l_orderkey, l_linenumber, l_shipdate,
                            l_suppkey, l_returnflag)
    ),
    shp AS (
      SELECT 'shipdate' AS ordering, col_name,
             CASE WHEN LAG(val) OVER w IS NULL
                       OR val <> LAG(val) OVER w THEN 1 ELSE 0 END AS chg
      FROM s
      WINDOW w AS (PARTITION BY col_name
                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                            l_suppkey, l_returnflag)
    ),
    u AS (SELECT * FROM nat UNION ALL SELECT * FROM shp)
    SELECT ordering, col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(chg) AS BIGINT) AS n_runs,
           CAST(ROUND(COUNT(*) * 1000000.0 / SUM(chg)) AS BIGINT)
             AS avg_run_len_ppm
    FROM u GROUP BY 1, 2
    ORDER BY ordering, col_name
    """


@operator("sort_order_advisor", oracle=_SORT_ADVISOR_ORACLE)
def sort_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length statistics per column under two defined sort orders
    (see block comment for semantics + 100 TB contract).

    Deliberately NOT persisted although both windows consume the
    stacked frame: caching the 1.8M-row stacked intermediate measured
    SLOWER than recomputing it (8.5s -> 12.4s best-of-3 at sf0.1) —
    the scan+stack is whole-stage-codegen-cheap while the cache write/
    read of wide string rows is not. Persist hygiene is about not
    LEAKING caches, not about caching everything twice-consumed."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate",
        "l_suppkey", "l_returnflag",
    )
    stacked = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        "l_suppkey",
        "l_returnflag",
        F.expr(
            "stack(3, "
            "'l_shipdate', CAST(CAST(l_shipdate AS DATE) AS STRING), "
            "'l_suppkey', CAST(l_suppkey AS STRING), "
            "'l_returnflag', l_returnflag) AS (col_name, val)"
        ),
    )
    w_nat = Window.partitionBy("col_name").orderBy(
        "l_orderkey", "l_linenumber", "l_shipdate",
        "l_suppkey", "l_returnflag",
    )
    w_shp = Window.partitionBy("col_name").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber",
        "l_suppkey", "l_returnflag",
    )

    def runs(w, label: str) -> DataFrame:
        chg = F.when(
            F.lag("val").over(w).isNull()
            | (F.col("val") != F.lag("val").over(w)),
            1,
        ).otherwise(0)
        return (
            stacked.withColumn("chg", chg)
            .groupBy("col_name")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("chg").cast("bigint").alias("n_runs"),
            )
            .select(
                F.lit(label).alias("ordering"),
                "col_name",
                "n_rows",
                "n_runs",
                F.round(F.col("n_rows") * 1000000.0 / F.col("n_runs"))
                .cast("bigint")
                .alias("avg_run_len_ppm"),
            )
        )

    return (
        runs(w_nat, "natural")
        .unionByName(runs(w_shp, "shipdate"))
        .orderBy("ordering", "col_name")
    )
