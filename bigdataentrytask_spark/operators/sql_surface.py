"""Extended SQL surface: the function families a complete engine owes
its users beyond the reference's minimal set (SURVEY.md §2.2 notes the
reference uses no JSON/regex/conditional expressions — its JSON
parsing happens in the connector; `props` gives us the same need in
batch form).

Includes two operators Spark has no native relational form for —
as-of join and value-range join — implemented with scale-safe plans
(window scan, equi-join + residual) rather than O(n^2) theta joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdataentrytask_spark.catalog import load_table
from bigdataentrytask_spark.operators import operator
from bigdataentrytask_spark.session import ensure_session_confs


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# JSON extraction — the connector-level JSON of the reference
# (doc/temp.md:310) as a scalar surface over events.props.
# --------------------------------------------------------------------------
@operator(
    "props_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1 ORDER BY k_bucket
    """,
)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("k_bucket")
    )


# --------------------------------------------------------------------------
# ROLLUP with grouping flags — subtotal hierarchies (region → nation).
# --------------------------------------------------------------------------
@operator(
    "rollup_revenue",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           GROUPING(r.r_name) AS g_region, GROUPING(n.n_name) AS g_nation,
           COUNT(*) AS order_cnt, ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    ORDER BY region NULLS FIRST, nation NULLS FIRST
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "o_totalprice",
        )
    )
    return (
        joined.rollup("region", "nation")
        .agg(
            F.grouping("region").alias("g_region"),
            F.grouping("nation").alias("g_nation"),
            F.count(F.lit(1)).alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy(F.col("region").asc_nulls_first(), F.col("nation").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# Exact percentiles (interpolated) per group.
# --------------------------------------------------------------------------
@operator(
    "segment_percentiles",
    oracle="""
    SELECT c_mktsegment AS segment,
           ROUND(quantile_cont(c_acctbal, 0.5), 6) AS p50,
           ROUND(quantile_cont(c_acctbal, 0.9), 6) AS p90,
           COUNT(*) AS n
    FROM customer GROUP BY 1 ORDER BY segment
    """,
)
def segment_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.round(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(c_acctbal, 0.9)"), 6).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# String-function breadth over part.
# --------------------------------------------------------------------------
@operator(
    "part_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                                   AS brand_u,
           concat_ws('|', p_brand, p_type)                  AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0')            AS size_pad,
           regexp_extract(p_name, '^([a-z]+)', 1)           AS first_word,
           length(p_name)                                   AS name_len,
           replace(p_type, ' ', '_')                        AS type_snake,
           len(string_split(p_name, ' '))                   AS name_words
    FROM part ORDER BY p_partkey
    """,
)
def part_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.size(F.split("p_name", " ", -1)).alias("name_words"),
    )


# --------------------------------------------------------------------------
# Conditional expressions: CASE banding + coalesce/nullif.
# --------------------------------------------------------------------------
@operator(
    "order_value_bands",
    oracle="""
    SELECT CASE WHEN o_totalprice < 1000 THEN 'small'
                WHEN o_totalprice < 10000 THEN 'mid'
                ELSE 'large' END AS band,
           o_orderstatus AS status,
           COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           COUNT(nullif(o_orderpriority, '4-NOT SPECIFIED')) AS specified_cnt
    FROM orders
    GROUP BY 1, 2 ORDER BY band, status
    """,
)
def order_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 1000, "small")
        .when(F.col("o_totalprice") < 10000, "mid")
        .otherwise("large")
    )
    return (
        o.groupBy(band.alias("band"), F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.nullif("o_orderpriority", F.lit("4-NOT SPECIFIED"))).alias(
                "specified_cnt"
            ),
        )
        .orderBy("band", "status")
    )


# --------------------------------------------------------------------------
# AS-OF join (attribution): each purchase matched to the user's latest
# view at-or-before it. Spark has no ASOF JOIN; a theta join explodes,
# so the scale-safe plan is the tagged-union window scan: one shuffle
# on user_id, running last-view state, O(n log n) total.
# --------------------------------------------------------------------------
@operator(
    "asof_purchase_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           v.event_id AS view_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY purchase_id
    """,
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    # views sort before purchases at identical timestamps (ASOF >=)
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("prio"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "prio", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(
            F.when(F.col("event_type") == "view", F.col("event_id")),
            ignorenulls=True,
        )
        .over(w)
        .alias("view_id"),
        F.last(
            F.when(F.col("event_type") == "view", F.col("ts")), ignorenulls=True
        )
        .over(w)
        .alias("view_ts"),
    )
    return (
        attributed.filter(
            (F.col("event_type") == "purchase") & F.col("view_id").isNotNull()
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "view_id",
            (F.unix_micros("ts") - F.unix_micros("view_ts")).alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


# --------------------------------------------------------------------------
# Session windows: 30-minute-gap sessionization per user. Spark's
# F.session_window vs the oracle's gaps-and-islands formulation.
# --------------------------------------------------------------------------
@operator(
    "user_sessions",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess
    GROUP BY user_id, sess_id
    ORDER BY user_id, session_start
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "duration_us"
            ),
        )
        .select("user_id", "session_start", "n_events", "duration_us")
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# Value-range (interval) join: purchases within 5 minutes after a
# signup by the same user. Equi-join on user_id carries the bulk;
# the range predicate is a residual filter — no theta-join blowup.
# --------------------------------------------------------------------------
@operator(
    "signup_purchase_within_5m",
    oracle="""
    SELECT s.user_id,
           s.event_id AS signup_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(s.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = s.user_id
     AND p.ts > s.ts
     AND p.ts <= s.ts + INTERVAL 5 MINUTE
    ORDER BY s.user_id, signup_id, purchase_id
    """,
)
def signup_purchase_within_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    return (
        s.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 5 MINUTES")),
        )
        .select(
            "user_id",
            "signup_id",
            "purchase_id",
            (F.unix_micros("p_ts") - F.unix_micros("s_ts")).alias("gap_us"),
        )
    )


# --------------------------------------------------------------------------
# Approximate percentiles — the sketch form (KLL/GK-style) of
# segment_percentiles for the 100 TB path: mergeable sketches, no sort.
# Differential by construction: alongside the exact quantiles (which
# both engines compute identically), the result carries per-group
# booleans asserting the sketch landed within epsilon = 2% of the
# group's value range. The oracle computes the same exact quantiles
# and TRUE — so a drifting sketch flips a hashable column, and the
# driver's hash compare becomes a real accuracy gate rather than
# rows-only.
# --------------------------------------------------------------------------
@operator(
    "segment_percentiles_approx",
    oracle="""
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n,
           ROUND(quantile_cont(c_acctbal, 0.5), 4) AS p50_exact,
           ROUND(quantile_cont(c_acctbal, 0.9), 4) AS p90_exact,
           TRUE AS p50_ok,
           TRUE AS p90_ok
    FROM customer GROUP BY 1 ORDER BY segment
    """,
)
def segment_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    eps = (F.max("c_acctbal") - F.min("c_acctbal")) * 0.02
    return (
        c.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50_exact"),
            F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90_exact"),
            (
                F.abs(
                    F.percentile_approx("c_acctbal", 0.5, 1000)
                    - F.expr("percentile(c_acctbal, 0.5)")
                )
                <= eps
            ).alias("p50_ok"),
            (
                F.abs(
                    F.percentile_approx("c_acctbal", 0.9, 1000)
                    - F.expr("percentile(c_acctbal, 0.9)")
                )
                <= eps
            ).alias("p90_ok"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# Datetime arithmetic breadth: truncation, extraction, diffs, offsets.
# (Spark dayofweek is 1-based Sunday-first; the oracle normalizes.)
# --------------------------------------------------------------------------
@operator(
    "order_date_exprs",
    oracle="""
    SELECT o_orderkey,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(date_trunc('week',  o_orderdate), '%Y-%m-%d') AS week_start,
           dayofweek(o_orderdate)                                 AS dow,
           dayofyear(o_orderdate)                                 AS doy,
           weekofyear(o_orderdate)                                AS week,
           datediff('day', o_orderdate, TIMESTAMP '2002-01-01')   AS days_to_2002,
           strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d')    AS due_90d,
           strftime(last_day(o_orderdate), '%Y-%m-%d')            AS month_end
    FROM orders ORDER BY o_orderkey
    """,
)
def order_date_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_trunc("week", d), "yyyy-MM-dd").alias("week_start"),
        (F.dayofweek(d) - 1).alias("dow"),  # Spark: 1=Sun; oracle: 0=Sun
        F.dayofyear(d).alias("doy"),
        F.weekofyear(d).alias("week"),
        F.datediff(F.lit("2002-01-01").cast("timestamp_ntz"), d).alias(
            "days_to_2002"
        ),
        F.date_format(F.date_add(d.cast("date"), 90), "yyyy-MM-dd").alias("due_90d"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
    )


# --------------------------------------------------------------------------
# Unpivot (melt): the inverse of daily_channel_pivot — wide metric
# columns back to (date, channel, value) long form.
# --------------------------------------------------------------------------
@operator(
    "daily_channel_unpivot",
    oracle="""
    WITH wide AS (
      SELECT strftime(ts, '%Y-%m-%d') AS date_str,
             ROUND(COALESCE(SUM(CASE WHEN event_type = 'click'    THEN value END), 0.0), 2) AS click,
             ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END), 0.0), 2) AS purchase,
             ROUND(COALESCE(SUM(CASE WHEN event_type = 'view'     THEN value END), 0.0), 2) AS view
      FROM events GROUP BY 1
    )
    SELECT date_str, channel, amount FROM (
      SELECT date_str, 'click' AS channel, click AS amount FROM wide
      UNION ALL SELECT date_str, 'purchase', purchase FROM wide
      UNION ALL SELECT date_str, 'view', view FROM wide
    ) ORDER BY date_str, channel
    """,
)
def daily_channel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    chans = ["click", "purchase", "view"]
    wide = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date_str"))
        .pivot("event_type", chans)
        .agg(F.sum("value"))
        .select(
            "date_str",
            *[F.round(F.coalesce(F.col(c), F.lit(0.0)), 2).alias(c) for c in chans],
        )
    )
    return wide.unpivot(
        "date_str", chans, "channel", "amount"
    ).orderBy("date_str", "channel")


# --------------------------------------------------------------------------
# Salted two-phase aggregation — identical semantics to q3_user_payment,
# restated for hot-key skew: phase 1 aggregates on (key, salt) spreading
# any hot user over SALT_BUCKETS reducers, phase 2 merges partials. The
# oracle is the plain group-by (semantic equivalence IS the test).
# --------------------------------------------------------------------------
SALT_BUCKETS = 16


@operator(
    "salted_user_payment",
    oracle="""
    SELECT user_id, ROUND(SUM(value),2) AS payment
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def salted_user_payment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    phase1 = (
        ev.withColumn(
            "salt", (F.abs(F.xxhash64("event_id")) % SALT_BUCKETS)
        )
        .groupBy("user_id", "salt")
        .agg(F.sum("value").alias("partial"))
    )
    return (
        phase1.groupBy("user_id")
        .agg(F.round(F.sum("partial"), 2).alias("payment"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Data profiling: per-column null/distinct/min/max in ONE pass (multi
# countDistinct plans as a single expand + aggregate; min/max stringified
# for a uniform row schema), then stacked to long form.
# --------------------------------------------------------------------------
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)


@operator(
    "profile_orders",
    oracle=f"""
    WITH wide AS (
      SELECT COUNT(*) AS n_rows,
             {", ".join(
                 f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS null_{c}, "
                 f"COUNT(DISTINCT {c}) AS dist_{c}, "
                 f"CAST(MIN({c}) AS VARCHAR) AS min_{c}, "
                 f"CAST(MAX({c}) AS VARCHAR) AS max_{c}"
                 for c in _PROFILE_COLS
             )}
      FROM orders
    )
    {" UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, CAST(null_{c} AS BIGINT) AS n_null, "
        f"dist_{c} AS n_distinct, min_{c} AS min_value, max_{c} AS max_value "
        f"FROM wide"
        for c in _PROFILE_COLS
    )}
    ORDER BY column_name
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}"),
            F.countDistinct(c).alias(f"dist_{c}"),
            F.min(c).cast("string").alias(f"min_{c}"),
            F.max(c).cast("string").alias(f"max_{c}"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', null_{c}, dist_{c}, min_{c}, max_{c}" for c in _PROFILE_COLS
    )
    return (
        wide.selectExpr(
            "n_rows",
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_null, n_distinct, min_value, max_value)",
        )
        .select(
            "column_name", "n_rows", "n_null", "n_distinct", "min_value", "max_value"
        )
        .orderBy("column_name")
    )


# --------------------------------------------------------------------------
# spark.sql surface: the engine exposes SQL text over registered views
# (the reference's temp-view bridge, doc/temp.md:456 / Cumulative.java:54)
# — exercised here with a correlated scalar subquery + EXISTS, which
# Catalyst decorrelates into joins (no per-row re-execution).
# --------------------------------------------------------------------------
@operator(
    "sql_correlated_subquery",
    oracle="""
    SELECT c_custkey,
           c_mktsegment AS segment,
           (SELECT ROUND(MAX(o_totalprice), 2) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS max_order,
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT') AS urgent_cnt
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataentrytask_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey,
               c_mktsegment AS segment,
               (SELECT ROUND(MAX(o_totalprice), 2) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS max_order,
               (SELECT COUNT(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT') AS urgent_cnt
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey
        """
    )


# --------------------------------------------------------------------------
# Aggregate-function breadth beyond SUM/COUNT/AVG: median (exact,
# interpolated), count_if, bool_and/bool_or — one grouped single-pass
# agg. median is the only non-partial aggregate here; Spark computes it
# via per-group sort of the grouped values, which is bounded by the
# group's cardinality (|orders|/|priorities|), not the table.
# --------------------------------------------------------------------------
_AGGX_BIG = 200_000.0


@operator(
    "order_agg_extras",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*)                                    AS n,
           ROUND(median(o_totalprice), 4)              AS med_price,
           CAST(count_if(o_totalprice > {_AGGX_BIG}) AS BIGINT) AS n_big,
           bool_or(o_orderstatus = 'O')                AS any_open,
           bool_and(o_totalprice > 0)                  AS all_positive
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def order_agg_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.median("o_totalprice"), 4).alias("med_price"),
            F.count_if(F.col("o_totalprice") > _AGGX_BIG).alias("n_big"),
            F.bool_or(F.col("o_orderstatus") == "O").alias("any_open"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Exact-DECIMAL pricing summary: the TPC-H Q1 aggregate re-run in
# DECIMAL(18,4) end-to-end — the finance-grade arithmetic path. Every
# money column casts to decimal AT THE SCAN, all products/sums stay
# decimal (Spark widens precision per SQL rules), and the comparison
# with DuckDB is EXACT: each decimal aggregate is emitted as its
# scaled integer (value × 10^scale, BIGINT), so full precision crosses
# the pandas boundary with no float rounding fuzz anywhere. (DuckDB's
# fetch_df flattens DECIMAL(38,x) to float64, which both loses scale-8
# digits at 1e8 magnitudes and textually disagrees with Spark's exact
# decimal.Decimal objects — the round-4 red. Scaled BIGINT is the only
# representation both engines hand to pandas losslessly.)
# --------------------------------------------------------------------------
@operator(
    "pricing_summary_decimal",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) * 10000
                AS BIGINT)                                   AS sum_qty_e4,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) * 10000
                AS BIGINT)                                   AS sum_base_price_e4,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) * 100000000
                AS BIGINT)                                   AS sum_disc_price_e8,
           COUNT(*)                                          AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-DECIMAL Q1 with scaled-BIGINT output columns.

    Scale ceiling (documented, measured): `sum_disc_price_e8` carries
    an e8 scale whose per-group value reaches 5.05e17 at sf0.1 — int64
    overflows around sf≈2x-e8-headroom (≈sf 1.8), where DuckDB's
    DECIMAL→BIGINT cast raises while Spark's returns NULL (asymmetric
    failure). At larger SFs emit the e8 columns at e4 scale (or keep
    DECIMAL end-to-end); the e4 columns have four more orders of
    headroom. The output contract is frozen this round because the
    operator is in the pinned sweep slate."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty) * 10000).cast("long").alias("sum_qty_e4"),
            (F.sum(price) * 10000).cast("long").alias("sum_base_price_e4"),
            (F.sum(price * (F.lit(1) - disc)) * 100000000)
            .cast("long")
            .alias("sum_disc_price_e8"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# NULL-semantics probe: one differential row pinning the engine's NULL
# contract — aggregates skip NULLs (COUNT(col) vs COUNT(*), SUM/AVG
# over a partially-NULL column), COUNT(DISTINCT) ignores NULL,
# null-safe equality, and COALESCE fallback. NULLs are injected
# deterministically with NULLIF so the probe runs on the pristine
# fixture. Any engine disagreement on ternary logic shows up as a
# value mismatch here before it corrupts a real pipeline.
# --------------------------------------------------------------------------
@operator(
    "null_semantics_probe",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             NULLIF(o_orderstatus, 'O') AS st,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT COUNT(*)                                   AS n_rows,
           COUNT(st)                                  AS n_st_nonnull,
           COUNT(DISTINCT st)                         AS n_st_distinct,
           ROUND(SUM(price), 2)                       AS sum_price,
           ROUND(AVG(price), 6)                       AS avg_price,
           COUNT(CASE WHEN st IS NULL THEN 1 END)     AS n_null,
           COUNT(CASE WHEN st IS NOT DISTINCT FROM NULL THEN 1 END)
                                                      AS n_nullsafe_eq,
           MIN(COALESCE(st, 'zz'))                    AS min_coalesced
    FROM t
    """,
)
def null_semantics_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("st"),
        F.when(F.col("o_orderkey") % 3 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("st").alias("n_st_nonnull"),
        F.count_distinct("st").alias("n_st_distinct"),
        F.round(F.sum("price"), 2).alias("sum_price"),
        F.round(F.avg("price"), 6).alias("avg_price"),
        F.count(F.when(F.col("st").isNull(), 1)).alias("n_null"),
        F.count(F.when(F.col("st").eqNullSafe(F.lit(None)), 1)).alias(
            "n_nullsafe_eq"
        ),
        F.min(F.coalesce("st", F.lit("zz"))).alias("min_coalesced"),
    )


# --------------------------------------------------------------------------
# Interval-overlap join (the third temporal-join family beside as-of
# and point-in-range): 30-min-gap user sessions joined against a
# fixed daily window (02:00-03:00) on the OVERLAP predicate
# s_start < w_end AND s_end > w_start. The join key is the calendar
# date, derived by exploding each session over the days it spans
# (sequence(date(start), date(end)) — bounded by session length), so
# midnight-crossing sessions still meet the right day's window and
# the overlap condition is only a residual — no theta-join blowup.
# --------------------------------------------------------------------------
_WIN_FROM_H, _WIN_TO_H = 2, 3


@operator(
    "session_window_overlap",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT user_id,
             MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
      )
      GROUP BY user_id, sid
    ),
    expanded AS (
      SELECT user_id, s_start, s_end, UNNEST(generate_series(
               CAST(s_start AS DATE), CAST(s_end AS DATE),
               INTERVAL 1 DAY))::DATE AS d
      FROM sess
    )
    SELECT strftime(d, '%Y-%m-%d') AS date_str,
           COUNT(*) AS overlapping_sessions,
           COUNT(DISTINCT user_id) AS users
    FROM expanded
    WHERE s_start < d + INTERVAL {_WIN_TO_H} HOUR
      AND s_end   > d + INTERVAL {_WIN_FROM_H} HOUR
    GROUP BY d
    ORDER BY date_str
    """,
)
def session_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) >= F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    sess = (
        ev.withColumn(
            "sid",
            F.sum(new_sess).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    expanded = sess.select(
        "user_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(F.to_date("s_start"), F.to_date("s_end"))
        ).alias("d"),
    )
    win_start = F.col("d").cast("timestamp") + F.expr(
        f"INTERVAL {_WIN_FROM_H} HOURS"
    )
    win_end = F.col("d").cast("timestamp") + F.expr(
        f"INTERVAL {_WIN_TO_H} HOURS"
    )
    return (
        expanded.filter(
            (F.col("s_start") < win_end) & (F.col("s_end") > win_start)
        )
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("date_str"))
        .agg(
            F.count(F.lit(1)).alias("overlapping_sessions"),
            F.count_distinct("user_id").alias("users"),
        )
        .orderBy("date_str")
    )


# --------------------------------------------------------------------------
# Collection-functions probe: per-user event-type SETS for the two
# month halves, compared with array set algebra (intersect / except /
# union). Cardinalities only — set semantics make the result
# engine-portable regardless of element order. Exercises the
# array-function surface (collect + distinct + set ops) that backs
# feature engineering on array columns.
# --------------------------------------------------------------------------
@operator(
    "collection_functions_probe",
    oracle="""
    WITH halves AS (
      SELECT user_id,
             list_distinct(list_filter(
               list(CASE WHEN day(ts) <= 15 THEN event_type END),
               x -> x IS NOT NULL)) AS da,
             list_distinct(list_filter(
               list(CASE WHEN day(ts) > 15 THEN event_type END),
               x -> x IS NOT NULL)) AS db
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           len(da) AS n_first,
           len(db) AS n_second,
           len(list_filter(da, x -> list_contains(db, x)))     AS n_common,
           len(list_filter(da, x -> NOT list_contains(db, x))) AS n_only_first,
           len(list_distinct(list_concat(da, db)))             AS n_all
    FROM halves ORDER BY user_id
    """,
)
def collection_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    da = F.array_distinct(
        F.collect_list(
            F.when(F.dayofmonth("ts") <= 15, F.col("event_type"))
        )
    )
    db = F.array_distinct(
        F.collect_list(F.when(F.dayofmonth("ts") > 15, F.col("event_type")))
    )
    halves = ev.groupBy("user_id").agg(da.alias("da"), db.alias("db"))
    return (
        halves.select(
            "user_id",
            F.size("da").alias("n_first"),
            F.size("db").alias("n_second"),
            F.size(F.array_intersect("da", "db")).alias("n_common"),
            F.size(F.array_except("da", "db")).alias("n_only_first"),
            F.size(F.array_union("da", "db")).alias("n_all"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# VARIANT semi-structured path (Spark 4): props parses ONCE into the
# binary VARIANT encoding (parse_json), fields extract with
# variant_get — the open-format answer to JSON-string re-parsing per
# expression. At scale VARIANT columns shred into parquet and field
# extraction prunes like any other column; here the probe proves the
# parse -> typed-extract -> aggregate path agrees with a plain JSON
# oracle. (`props_json_extract` keeps the classic get_json_object
# surface; this is the typed-variant twin.)
# --------------------------------------------------------------------------
@operator(
    "variant_props_probe",
    oracle="""
    SELECT event_type AS channel,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                                                                AS sum_k,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS BIGINT)), 6)
                                                                AS avg_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT))      AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY channel
    """,
)
def variant_props_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select(F.col("event_type").alias("channel"), k.alias("k"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Round-5 scalar-surface probes. Each exercises a function family a
# complete engine owes its SQL users (reference scope: doc/temp.md
# uses only FROM_UNIXTIME/TO_TIMESTAMP — SURVEY.md §2.2); outputs are
# small keyed aggregates so the differential is cheap and exact.
# --------------------------------------------------------------------------
@operator(
    "date_arithmetic_probe",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)    AS y,
           CAST(quarter(o_orderdate) AS BIGINT)              AS q,
           CAST(COUNT(*) AS BIGINT)                          AS n_orders,
           CAST(SUM(date_diff('day',
                    date_trunc('quarter', o_orderdate),
                    o_orderdate)) AS BIGINT)                 AS sum_day_in_q,
           CAST(SUM(dayofyear(o_orderdate)) AS BIGINT)       AS sum_doy,
           CAST(COUNT(DISTINCT last_day(CAST(o_orderdate AS DATE)))
                AS BIGINT)                                   AS n_month_ends,
           CAST(COUNT(*) FILTER (WHERE
                EXTRACT(year FROM o_orderdate + INTERVAL 3 MONTH)
                  <> EXTRACT(year FROM o_orderdate)) AS BIGINT)
                                                             AS n_wrap_q4
    FROM orders
    GROUP BY 1, 2 ORDER BY y, q
    """,
)
def date_arithmetic_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function family: trunc/quarter/dayofyear/last_day/
    add_months (month-end clamping) — all JVM built-ins, one keyed
    agg, no UDFs."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        o.groupBy(
            F.year(d).cast("bigint").alias("y"),
            F.quarter(d).cast("bigint").alias("q"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.datediff(d, F.date_trunc("quarter", d)))
            .cast("bigint")
            .alias("sum_day_in_q"),
            F.sum(F.dayofyear(d)).cast("bigint").alias("sum_doy"),
            F.count_distinct(F.last_day(d.cast("date"))).alias("n_month_ends"),
            F.sum(
                (F.year(F.add_months(d, 3)) != F.year(d)).cast("bigint")
            )
            .cast("bigint")
            .alias("n_wrap_q4"),
        )
        .orderBy("y", "q")
    )


@operator(
    "regexp_functions_probe",
    oracle="""
    SELECT substr(regexp_extract(p_name, '^(\\w+)', 1), 1, 1) AS initial,
           CAST(COUNT(*) AS BIGINT)                           AS n_parts,
           CAST(SUM(length(p_name)
                    - length(regexp_replace(p_name, '[aeiou]', '', 'g')))
                AS BIGINT)                                    AS n_vowels,
           CAST(COUNT(*) FILTER (WHERE
                regexp_matches(p_name, 'aa|ee|ii|oo|uu|ll|nn|ss|tt|rr'))
                AS BIGINT)                                    AS n_doubled,
           CAST(COUNT(DISTINCT regexp_extract(p_name, '(\\w+)$', 1))
                AS BIGINT)                                    AS n_last_words
    FROM part
    GROUP BY 1 ORDER BY initial
    """,
)
def regexp_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family: extract (anchored group), global replace as a
    counter, alternation rlike (RE2-safe: DuckDB's regex engine has no
    backreferences), extract-at-end — evaluated in whole-stage
    codegen, grouped to a 26-row output."""
    p = _t(spark, sf_dir, "part")
    name = F.col("p_name")
    first_word = F.regexp_extract(name, r"^(\w+)", 1)
    n_vowels = F.length(name) - F.length(
        F.regexp_replace(name, "[aeiou]", "")
    )
    return (
        p.groupBy(F.substring(first_word, 1, 1).alias("initial"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(n_vowels).cast("bigint").alias("n_vowels"),
            F.sum(name.rlike("aa|ee|ii|oo|uu|ll|nn|ss|tt|rr").cast("bigint"))
            .cast("bigint")
            .alias("n_doubled"),
            F.count_distinct(F.regexp_extract(name, r"(\w+)$", 1)).alias(
                "n_last_words"
            ),
        )
        .orderBy("initial")
    )


@operator(
    "posexplode_leading_tokens",
    oracle="""
    WITH toks AS (
      SELECT str_split(text, ' ') AS ts FROM documents WHERE doc_id < 200
    ),
    ex AS (
      SELECT 0 AS pos, ts[1] AS tok FROM toks WHERE len(ts) >= 1
      UNION ALL
      SELECT 1 AS pos, ts[2] AS tok FROM toks WHERE len(ts) >= 2
    )
    SELECT pos, tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM ex GROUP BY 1, 2
    ORDER BY n DESC, pos, tok LIMIT 20
    """,
)
def posexplode_leading_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (ordinal explode): leading-token distribution of the
    corpus — position survives the explode, so the first two slots can
    be compared across docs. Fully tie-broken ORDER + LIMIT."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ex = d.select(
        F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).filter(F.col("pos") < 2)
    return (
        ex.groupBy("pos", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pos", "tok")
        .limit(20)
    )


@operator(
    "ignore_nulls_first_last",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value >= 100 THEN
               CAST(ROUND(value * 100) AS BIGINT) END AS big_cents
      FROM events
    ),
    w AS (
      SELECT user_id,
             first_value(big_cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_big,
             last_value(big_cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_big,
             CASE WHEN big_cents IS NOT NULL THEN 1 ELSE 0 END AS is_big
      FROM marked
    )
    SELECT user_id,
           MAX(first_big)               AS first_big,
           MAX(last_big)                AS last_big,
           CAST(SUM(is_big) AS BIGINT)  AS n_big
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def ignore_nulls_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window semantics: first/last non-null 'big' value
    per user in (ts, event_id) order. Values carried as integer cents
    so the comparison is exact; the per-user frame is bounded."""
    ev = _t(spark, sf_dir, "events")
    big = F.when(
        F.col("value") >= 100, F.round(F.col("value") * 100).cast("bigint")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    marked = ev.select(
        "user_id",
        F.first(big, ignorenulls=True).over(w).alias("first_big"),
        F.last(big, ignorenulls=True).over(w).alias("last_big"),
        big.isNotNull().cast("bigint").alias("is_big"),
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.max("first_big").alias("first_big"),
            F.max("last_big").alias("last_big"),
            F.sum("is_big").cast("bigint").alias("n_big"),
        )
        .orderBy("user_id")
    )


@operator(
    "try_arithmetic_probe",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 - 3 AS d,
             str_split(event_type, '_') AS parts
      FROM events
    )
    SELECT event_type AS channel,
           CAST(COUNT(*) FILTER (WHERE cents / d IS NULL) AS BIGINT)
                                                      AS n_null_div,
           CAST(SUM(COALESCE(CAST(FLOOR(cents / d) AS BIGINT), 0))
                AS BIGINT)                            AS sum_ratio,
           CAST(COUNT(*) FILTER (WHERE parts[3] IS NULL) AS BIGINT)
                                                      AS n_no_third,
           CAST(COUNT(*) FILTER (WHERE TRY_CAST(parts[2] AS INT) IS NOT NULL)
                AS BIGINT)                            AS n_numeric_second
    FROM base GROUP BY 1 ORDER BY channel
    """,
)
def try_arithmetic_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression family under ANSI mode: try_divide by
    zero -> NULL (DuckDB's `/` returns NULL at zero natively — the
    same tolerant contract), try_element_at out of range -> NULL,
    try_cast of a non-numeric -> NULL. The ratio is floored to an
    exact-integer double before summing, so accumulation order can't
    move the total."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    d = F.get_json_object("props", "$.k").cast("bigint") % 7 - 3
    base = ev.select(
        "event_type",
        cents.alias("cents"),
        d.alias("d"),
        F.expr("try_element_at(split(event_type, '_'), 3)").alias("third"),
        F.expr(
            "try_cast(try_element_at(split(event_type, '_'), 2) AS INT)"
        ).alias("second_num"),
    ).withColumn("ratio", F.floor(F.try_divide("cents", "d")).cast("bigint"))
    return (
        base.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.sum(F.col("ratio").isNull().cast("bigint"))
            .cast("bigint")
            .alias("n_null_div"),
            F.sum(F.coalesce("ratio", F.lit(0)))
            .cast("bigint")
            .alias("sum_ratio"),
            F.sum(F.col("third").isNull().cast("bigint"))
            .cast("bigint")
            .alias("n_no_third"),
            F.sum(F.col("second_num").isNotNull().cast("bigint"))
            .cast("bigint")
            .alias("n_numeric_second"),
        )
        .orderBy("channel")
    )


@operator(
    "user_peak_hour_cents",
    oracle="""
    WITH c AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    t AS (
      SELECT user_id,
             SUM(cents) OVER (PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS trail
      FROM c
    )
    SELECT user_id, CAST(MAX(trail) AS BIGINT) AS peak_hour_cents
    FROM t GROUP BY user_id ORDER BY user_id
    """,
)
def user_peak_hour_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event-time seconds: each event's trailing-hour
    spend, reduced to the per-user PEAK hour. Integer cents keep the
    windowed sums exact under any accumulation order; the range frame
    is per-user (bounded partitions, no global sort)."""
    ev = _t(spark, sf_dir, "events")
    c = ev.select(
        "user_id",
        F.col("ts").cast("long").alias("sec"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return (
        c.withColumn("trail", F.sum("cents").over(w))
        .groupBy("user_id")
        .agg(F.max("trail").cast("bigint").alias("peak_hour_cents"))
        .orderBy("user_id")
    )


@operator(
    "string_functions_probe",
    oracle="""
    WITH w AS (
      SELECT p_partkey,
             regexp_extract(p_name, '^(\\w+)', 1) AS w1,
             regexp_extract(p_name, '(\\w+)$', 1) AS w2
      FROM part
    )
    SELECT CAST(p_partkey % 8 AS BIGINT) AS bucket,
           CAST(SUM(levenshtein(w1, w2)) AS BIGINT)      AS sum_lev,
           CAST(SUM(length(translate(w1, 'aeiou', 'AEIOU'))) AS BIGINT)
                                                         AS sum_translated,
           CAST(SUM(instr(w1, 'a')) AS BIGINT)           AS sum_instr_a,
           CAST(COUNT(*) FILTER (WHERE reverse(w1) = w1 AND length(w1) > 1)
                AS BIGINT)                               AS n_palindromes,
           MIN(lpad(w1, 12, '.'))                        AS min_padded
    FROM w GROUP BY 1 ORDER BY bucket
    """,
)
def string_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance + byte-level string family: levenshtein,
    translate, instr, reverse-palindrome, lpad — all JVM built-ins
    with DuckDB twins, one keyed rollup."""
    p = _t(spark, sf_dir, "part")
    w1 = F.regexp_extract("p_name", r"^(\w+)", 1)
    w2 = F.regexp_extract("p_name", r"(\w+)$", 1)
    w = p.select(
        "p_partkey", w1.alias("w1"), w2.alias("w2")
    )
    return (
        w.groupBy((F.col("p_partkey") % 8).cast("bigint").alias("bucket"))
        .agg(
            F.sum(F.levenshtein("w1", "w2")).cast("bigint").alias("sum_lev"),
            F.sum(F.length(F.translate("w1", "aeiou", "AEIOU")))
            .cast("bigint")
            .alias("sum_translated"),
            F.sum(F.instr("w1", "a")).cast("bigint").alias("sum_instr_a"),
            F.sum(
                (
                    (F.reverse(F.col("w1")) == F.col("w1"))
                    & (F.length("w1") > 1)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("n_palindromes"),
            F.min(F.lpad("w1", 12, ".")).alias("min_padded"),
        )
        .orderBy("bucket")
    )


@operator(
    "bitwise_functions_probe",
    oracle="""
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
           CAST(SUM(o_orderkey & 255) AS BIGINT)        AS sum_and,
           CAST(SUM(o_orderkey | 15) AS BIGINT)         AS sum_or,
           CAST(SUM(xor(o_orderkey, o_custkey)) AS BIGINT) AS sum_xor,
           CAST(SUM(bit_count(CAST(o_orderkey AS BIGINT))) AS BIGINT)
                                                        AS sum_popcount,
           CAST(SUM((o_custkey % 16) << 2) AS BIGINT)   AS sum_shl
    FROM orders GROUP BY 1 ORDER BY bucket
    """,
)
def bitwise_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family (&, |, xor, popcount, shifts) — the bit-packing
    toolkit the simhash/zorder operators build on, pinned by a keyed
    checksum rollup."""
    o = _t(spark, sf_dir, "orders")
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
    return (
        o.groupBy((ok % 4).cast("bigint").alias("bucket"))
        .agg(
            F.sum(ok.bitwiseAND(F.lit(255))).cast("bigint").alias("sum_and"),
            F.sum(ok.bitwiseOR(F.lit(15))).cast("bigint").alias("sum_or"),
            F.sum(ok.bitwiseXOR(ck)).cast("bigint").alias("sum_xor"),
            F.sum(F.bit_count(ok.cast("bigint")))
            .cast("bigint")
            .alias("sum_popcount"),
            F.sum(F.shiftleft(ck % 16, 2)).cast("bigint").alias("sum_shl"),
        )
        .orderBy("bucket")
    )


@operator(
    "boolean_aggregates_probe",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT)                       AS n,
           bool_and(o_totalprice > 1000)                  AS all_over_1k,
           bool_or(o_totalprice > 400000)                 AS any_over_400k,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT)  AS n_finished,
           bool_and(o_orderdate >= TIMESTAMP '1992-01-01 00:00:00')
                                                          AS all_in_range
    FROM orders GROUP BY 1 ORDER BY o_orderpriority
    """,
)
def boolean_aggregates_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and / bool_or / count_if — the predicate-aggregate family
    (every / any / conditional count), exercised per priority."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
            F.count_if(F.col("o_orderstatus") == "F")
            .cast("bigint")
            .alias("n_finished"),
            F.bool_and(
                F.col("o_orderdate")
                >= F.lit("1992-01-01 00:00:00").cast("timestamp")
            ).alias("all_in_range"),
        )
        .orderBy("o_orderpriority")
    )


@operator(
    "timestampdiff_probe",
    oracle="""
    WITH spans AS (
      SELECT l.l_orderkey,
             MIN(o.o_orderdate) AS od,
             MAX(l.l_shipdate)  AS sd
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    )
    SELECT CAST(date_diff('day', od, sd) // 7 AS BIGINT) AS weeks_to_ship,
           CAST(COUNT(*) AS BIGINT)                      AS n_orders,
           CAST(SUM(date_diff('hour', od, sd)) AS BIGINT) AS sum_hours,
           CAST(SUM(date_diff('day', od, sd)) AS BIGINT)  AS sum_days
    FROM spans GROUP BY 1 ORDER BY weeks_to_ship
    """,
)
def timestampdiff_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timestampdiff over FIXED-LENGTH units (DAY/HOUR; weeks as
    day//7). Deliberately excludes calendar units: Spark's
    timestampdiff(MONTH) counts full elapsed months (with month-end
    clamping) while DuckDB's date_diff('month') counts month-BOUNDARY
    crossings — e.g. Jan 31 → Feb 1 is 1 in DuckDB, 0 in Spark. A
    portable plan must not treat the two as interchangeable; this
    probe pins the units where they DO agree (boundary counts of
    fixed-length units on midnight-aligned stamps)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    spans = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.min("o_orderdate").alias("od"),
            F.max("l_shipdate").alias("sd"),
        )
    )
    return (
        spans.groupBy(
            F.expr("timestampdiff(DAY, od, sd) div 7")
            .cast("bigint")
            .alias("weeks_to_ship")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("timestampdiff(HOUR, od, sd)"))
            .cast("bigint")
            .alias("sum_hours"),
            F.sum(F.expr("timestampdiff(DAY, od, sd)"))
            .cast("bigint")
            .alias("sum_days"),
        )
        .orderBy("weeks_to_ship")
    )


@operator(
    "null_ordering_probe",
    oracle="""
    WITH v AS (
      SELECT user_id,
             CASE WHEN event_type = 'view'
                  THEN CAST(ROUND(value * 100) AS BIGINT) END AS buy_cents
      FROM events
    ),
    nf AS (
      SELECT user_id, buy_cents,
             ROW_NUMBER() OVER (ORDER BY buy_cents ASC NULLS FIRST,
                                user_id) AS rn
      FROM v
    ),
    nl AS (
      SELECT user_id, buy_cents,
             ROW_NUMBER() OVER (ORDER BY buy_cents DESC NULLS LAST,
                                user_id) AS rn
      FROM v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v WHERE buy_cents IS NULL)
             AS n_nulls,
           (SELECT buy_cents IS NULL FROM nf WHERE rn = 1) AS first_is_null,
           (SELECT buy_cents FROM nl WHERE rn = 1)         AS top_cents,
           (SELECT CAST(user_id AS BIGINT) FROM nf WHERE rn = 1)
             AS first_user
    """,
)
def null_ordering_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS FIRST / NULLS LAST ordering contracts (Spark
    defaults differ by direction — asc=nulls first, desc=nulls last —
    so portable plans must pin them explicitly, as here)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        F.when(
            F.col("event_type") == "view",
            F.round(F.col("value") * 100).cast("bigint"),
        ).alias("buy_cents"),
    )
    wf = Window.orderBy(F.col("buy_cents").asc_nulls_first(), "user_id")
    wl = Window.orderBy(F.col("buy_cents").desc_nulls_last(), "user_id")
    nf = v.withColumn("rn", F.row_number().over(wf)).filter(F.col("rn") == 1)
    nl = v.withColumn("rn", F.row_number().over(wl)).filter(F.col("rn") == 1)
    n_nulls = v.agg(
        F.sum(F.col("buy_cents").isNull().cast("bigint"))
        .cast("bigint")
        .alias("n_nulls")
    )
    return (
        n_nulls.crossJoin(
            nf.select(
                F.col("buy_cents").isNull().alias("first_is_null"),
                F.col("user_id").cast("bigint").alias("first_user"),
            )
        )
        .crossJoin(nl.select(F.col("buy_cents").alias("top_cents")))
        .select("n_nulls", "first_is_null", "top_cents", "first_user")
    )


@operator(
    "offset_pagination_probe",
    oracle="""
    SELECT o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25 OFFSET 50
    """,
)
def offset_pagination_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination through the SQL surface (page 3 of the
    price-ranked listing, fully tie-broken). OFFSET forces a global
    order — fine for UI pages, an anti-pattern for deep pagination at
    scale, where keyset (WHERE price < last_seen) replaces it; this
    probe pins the semantics, the docstring pins the advice."""
    from bigdataentrytask_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25 OFFSET 50
        """
    )


@operator(
    "multiset_setops_probe",
    oracle="""
    WITH a AS (
      SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    b AS (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT 'except_all' AS op, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct
    FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'intersect_all', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT k) AS BIGINT)
    FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    ORDER BY op
    """,
)
def multiset_setops_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL multiset semantics (duplicate
    multiplicities subtract / min, unlike the DISTINCT set ops pinned
    by `setops_urgent_low`) — the bag-algebra contract reconciliation
    queries depend on."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    rows = []
    for name, df in (
        ("except_all", a.exceptAll(b)),
        ("intersect_all", a.intersectAll(b)),
    ):
        rows.append(
            df.agg(
                F.lit(name).alias("op"),
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("k").alias("n_distinct"),
            )
        )
    return rows[0].unionByName(rows[1]).orderBy("op")


@operator(
    "string_agg_probe",
    oracle="""
    WITH ranked AS (
      SELECT n.n_name, c.c_name,
             ROW_NUMBER() OVER (PARTITION BY n.n_name
               ORDER BY c.c_name) AS rn
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT n_name,
           string_agg(c_name, ',' ORDER BY c_name) AS first_customers,
           CAST(COUNT(*) AS BIGINT) AS n_listed
    FROM ranked WHERE rn <= 3
    GROUP BY 1 ORDER BY n_name
    """,
)
def string_agg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg/string_agg WITHIN GROUP):
    Spark expresses it as array_join(array_sort(collect_list(..))) —
    deterministic because the collect is sorted AFTER gathering, not
    by arrival order. Bounded to 3 names per nation."""
    c = _t(spark, sf_dir, "customer").select("c_name", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    w = Window.partitionBy("n_name").orderBy("c_name")
    top = j.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    return (
        top.groupBy("n_name")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("c_name")), ","
            ).alias("first_customers"),
            F.count(F.lit(1)).alias("n_listed"),
        )
        .orderBy("n_name")
    )


@operator(
    "weighted_median_unit_price",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice / l_quantity * 100) AS BIGINT)
               AS unit_cents,
             CAST(ROUND(l_quantity) AS BIGINT) AS wt
      FROM lineitem WHERE l_quantity > 0
    ),
    cum AS (
      SELECT l_returnflag, unit_cents, wt,
             SUM(wt) OVER (PARTITION BY l_returnflag
               ORDER BY unit_cents, wt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS total
      FROM w
    )
    SELECT l_returnflag,
           CAST(MIN(unit_cents) AS BIGINT) AS weighted_median_cents,
           CAST(MAX(total) AS BIGINT)      AS total_weight
    FROM cum
    WHERE 2 * cw >= total
    GROUP BY 1 ORDER BY l_returnflag
    """,
)
def weighted_median_unit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-aware median (quantity-weighted unit price): the first
    value whose cumulative weight crosses half the total — exact
    integer weights and cents, so the crossover row is engine-exact
    (percentile_cont cannot express weights). Per-key windows only."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    w = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100)
        .cast("bigint")
        .alias("unit_cents"),
        F.round("l_quantity").cast("bigint").alias("wt"),
    )
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("unit_cents", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag",
        "unit_cents",
        F.sum("wt").over(win).alias("cw"),
        F.sum("wt").over(tot).alias("total"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("unit_cents").cast("bigint").alias(
                "weighted_median_cents"
            ),
            F.max("total").cast("bigint").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Round-7 surface probes.
# --------------------------------------------------------------------------
@operator(
    "hash_functions_probe",
    oracle="""
    SELECT n_nationkey,
           md5(n_name)                       AS name_md5,
           sha256(n_name)                    AS name_sha256,
           md5(n_name || ':' || CAST(n_regionkey AS VARCHAR))
                                             AS salted_md5,
           CAST(length(sha256(n_name || '-' || CAST(n_nationkey AS VARCHAR)))
                AS BIGINT)               AS sha_hex_len
    FROM nation ORDER BY n_nationkey
    """,
)
def hash_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic-hash parity surface: md5 / sha2-256 over strings
    and a salted concat — the functions every fingerprinting operator
    in this repo builds on (functions/text.py token_hash is md5-prefix
    based), proven byte-identical against DuckDB's md5/sha256. Pure
    per-row expressions: no shuffle, whole-stage codegen, trivially
    100 TB-safe."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.md5("n_name").alias("name_md5"),
        F.sha2("n_name", 256).alias("name_sha256"),
        F.md5(
            F.concat_ws(":", "n_name", F.col("n_regionkey").cast("string"))
        ).alias("salted_md5"),
        F.length(
            F.sha2(
                F.concat_ws("-", "n_name", F.col("n_nationkey").cast("string")),
                256,
            )
        ).cast("bigint").alias("sha_hex_len"),
    ).orderBy("n_nationkey")


@operator(
    "central_tendency_probe",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    moments AS (
      SELECT o_orderstatus,
             COUNT(*)                                          AS n,
             CAST(SUM(cents) AS DOUBLE)                        AS s1,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE)          AS s2,
             CAST(SUM(CAST(cents AS HUGEINT) * cents * cents) AS DOUBLE)  AS s3,
             CAST(SUM(CAST(cents AS HUGEINT) * cents * cents * cents) AS DOUBLE) AS s4,
             ROUND(MEDIAN(cents), 2)                           AS median_cents
      FROM c GROUP BY 1
    ),
    modes AS (
      SELECT o_orderstatus, o_orderpriority AS mode_priority
      FROM (
        SELECT o_orderstatus, o_orderpriority,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                 ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
        FROM c GROUP BY 1, 2
      ) WHERE rn = 1
    )
    SELECT m.o_orderstatus,
           m.n,
           ROUND(m.s1 / m.n, 6) AS mean_cents,
           m.median_cents,
           md.mode_priority,
           ROUND((m.s3 / m.n - 3 * (m.s1 / m.n) * (m.s2 / m.n)
                  + 2 * (m.s1 / m.n) * (m.s1 / m.n) * (m.s1 / m.n))
                 / pow(m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n), 1.5), 6)
             AS skewness,
           ROUND((m.s4 / m.n - 4 * (m.s1 / m.n) * (m.s3 / m.n)
                  + 6 * (m.s1 / m.n) * (m.s1 / m.n) * (m.s2 / m.n)
                  - 3 * (m.s1 / m.n) * (m.s1 / m.n) * (m.s1 / m.n) * (m.s1 / m.n))
                 / pow(m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n), 2) - 3, 6)
             AS kurtosis_excess
    FROM moments m JOIN modes md USING (o_orderstatus)
    ORDER BY o_orderstatus
    """,
)
def central_tendency_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact central-tendency + shape statistics per order status:
    mean / median / mode / skewness / excess kurtosis. Built-in
    skewness()/kurtosis() DIVERGE between engines (sample vs
    population corrections — measured: 1.018 vs 1.764 on the same 4
    values), so the moments are accumulated as exact integer power
    sums (DECIMAL(38,0) on Spark, HUGEINT in DuckDB — cents^4 ~ 1e31
    overflows BIGINT) and the population-moment algebra is written
    with the SAME expression tree on both sides: equal integers ->
    identical doubles -> identical rounded statistics. Mode uses the
    deterministic count-then-tiebreak argmax, not the engines'
    tie-unstable mode(). One map-side-combinable pass for the
    moments; the mode argmax groups on (status, priority) — both
    100 TB-safe shapes."""
    o = _t(spark, sf_dir, "orders")
    c = o.select(
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    d = F.col("cents").cast("decimal(38,0)")
    moments = c.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("double").alias("s1"),
        F.sum(d * F.col("cents")).cast("double").alias("s2"),
        F.sum(d * F.col("cents") * F.col("cents")).cast("double").alias("s3"),
        F.sum(d * F.col("cents") * F.col("cents") * F.col("cents"))
        .cast("double")
        .alias("s4"),
        F.round(F.median("cents"), 2).alias("median_cents"),
    )
    modes = (
        c.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("o_orderstatus")
        .agg(
            F.min_by(
                "o_orderpriority",
                F.struct(-F.col("cnt"), F.col("o_orderpriority")),
            ).alias("mode_priority")
        )
    )
    n_d = F.col("n").cast("double")
    mu = F.col("s1") / n_d
    m2 = F.col("s2") / n_d - mu * mu
    m3 = F.col("s3") / n_d - F.lit(3.0) * mu * (F.col("s2") / n_d) + F.lit(
        2.0
    ) * mu * mu * mu
    m4 = (
        F.col("s4") / n_d
        - F.lit(4.0) * mu * (F.col("s3") / n_d)
        + F.lit(6.0) * mu * mu * (F.col("s2") / n_d)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return (
        moments.join(modes, "o_orderstatus")
        .select(
            "o_orderstatus",
            "n",
            F.round(mu, 6).alias("mean_cents"),
            "median_cents",
            "mode_priority",
            F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
            F.round(m4 / F.pow(m2, 2.0) - F.lit(3.0), 6).alias(
                "kurtosis_excess"
            ),
        )
        .orderBy("o_orderstatus")
    )


@operator(
    "map_functions_probe",
    oracle="""
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus,
           '{' || string_agg('"' || o_orderpriority || '":' || cnt,
                             ',' ORDER BY o_orderpriority) || '}'
                                               AS priority_map_json,
           CAST(COUNT(*) AS BIGINT)            AS n_keys,
           CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN cnt END)
                AS BIGINT)                     AS urgent_cnt
    FROM counts GROUP BY 1 ORDER BY o_orderstatus
    """,
)
def map_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build a priority->count map per order status
    with map_from_entries over key-sorted entries, read it back with
    element_at, and serialize with to_json (key order = entry order,
    so sorting the entries makes the JSON canonical). The driver's
    comparator can't hash map cells (CONTRIBUTING.md class 2), so the
    map leaves the operator as its canonical JSON string — which is
    also the honest 100 TB contract: maps are an in-plan shape, a
    string/struct at the storage boundary. The oracle builds the
    identical JSON with ordered string_agg — DuckDB's MAP type never
    materializes, proving the VALUES not the container."""
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    entries = counts.groupBy("o_orderstatus").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct("o_orderpriority", "cnt"))
            )
        ).alias("m")
    )
    return entries.select(
        "o_orderstatus",
        F.to_json("m").alias("priority_map_json"),
        F.size("m").cast("bigint").alias("n_keys"),
        F.element_at("m", "1-URGENT").cast("bigint").alias("urgent_cnt"),
    ).orderBy("o_orderstatus")


# --------------------------------------------------------------------------
# Rank-semantics parity probe (round 7): ROW_NUMBER vs RANK vs
# DENSE_RANK disagree exactly when ties exist, and "top-k" silently
# changes meaning with the choice (row_number: exactly k; rank: can
# skip past k; dense_rank: can return MORE than k rows). Per order
# status, count how many rows each semantics admits at k=5 over the
# (deliberately tie-heavy) order-date ranking, plus the tie width at
# the boundary — proving both engines agree on all three.
# --------------------------------------------------------------------------
_RANK_K = 5


@operator(
    "rank_semantics_probe",
    oracle=f"""
    WITH r AS (
      SELECT o_orderstatus,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
               ORDER BY o_orderdate DESC, o_orderkey) AS rn,
             RANK() OVER (PARTITION BY o_orderstatus
               ORDER BY o_orderdate DESC) AS rk,
             DENSE_RANK() OVER (PARTITION BY o_orderstatus
               ORDER BY o_orderdate DESC) AS drk
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(count_if(rn <= {_RANK_K}) AS BIGINT)   AS by_row_number,
           CAST(count_if(rk <= {_RANK_K}) AS BIGINT)   AS by_rank,
           CAST(count_if(drk <= {_RANK_K}) AS BIGINT)  AS by_dense_rank,
           CAST(MAX(CASE WHEN rn = {_RANK_K} THEN rk END) AS BIGINT)
             AS rank_at_kth_row
    FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def rank_semantics_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    by_date = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_orderdate").desc()
    )
    by_date_stable = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_orderdate").desc(), "o_orderkey"
    )
    r = o.select(
        "o_orderstatus",
        F.row_number().over(by_date_stable).alias("rn"),
        F.rank().over(by_date).alias("rk"),
        F.dense_rank().over(by_date).alias("drk"),
    )
    return (
        r.groupBy("o_orderstatus")
        .agg(
            F.count(F.when(F.col("rn") <= _RANK_K, 1)).alias("by_row_number"),
            F.count(F.when(F.col("rk") <= _RANK_K, 1)).alias("by_rank"),
            F.count(F.when(F.col("drk") <= _RANK_K, 1)).alias(
                "by_dense_rank"
            ),
            F.max(
                F.when(F.col("rn") == _RANK_K, F.col("rk"))
            ).cast("bigint").alias("rank_at_kth_row"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# RANGE-vs-ROWS window-frame probe (round-8 slate): the two frame
# modes answer different questions (value-neighborhood vs
# position-neighborhood) and disagree exactly when the ORDER BY key
# has ties. The probe checksums both over the January-1995 order
# slice per segment: the RANGE frame ($5 price neighborhood) is
# tie-safe by construction; the ROWS frame gets a UNIQUE (cents,
# o_orderkey) ordering — a ROWS frame over a non-unique ordering is
# nondeterministic, which is itself the lesson this probe pins.
# --------------------------------------------------------------------------
@operator(
    "range_frame_probe",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS seg,
             o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1995-02-01'
    ),
    framed AS (
      SELECT seg,
             COUNT(*) OVER (PARTITION BY seg ORDER BY cents
               RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS cnt_range,
             CAST(SUM(cents) OVER (PARTITION BY seg ORDER BY cents
               RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sum_range,
             COUNT(*) OVER (PARTITION BY seg ORDER BY cents, o_orderkey
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS cnt_rows,
             CAST(SUM(cents) OVER (PARTITION BY seg ORDER BY cents, o_orderkey
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sum_rows
      FROM base
    )
    SELECT seg,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cnt_range) AS BIGINT) AS range_cnt_checksum,
           CAST(SUM(sum_range) AS BIGINT) AS range_sum_checksum,
           CAST(SUM(cnt_rows) AS BIGINT) AS rows_cnt_checksum,
           CAST(SUM(sum_rows) AS BIGINT) AS rows_sum_checksum
    FROM framed GROUP BY seg ORDER BY seg
    """,
)
def range_frame_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-02-01").cast("timestamp"))
        )
        .join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
              o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    w_range = (
        Window.partitionBy("seg").orderBy("cents").rangeBetween(-500, 0)
    )
    w_rows = (
        Window.partitionBy("seg")
        .orderBy("cents", "o_orderkey")
        .rowsBetween(-5, 0)
    )
    framed = base.select(
        "seg",
        F.count(F.lit(1)).over(w_range).alias("cnt_range"),
        F.sum("cents").over(w_range).cast("bigint").alias("sum_range"),
        F.count(F.lit(1)).over(w_rows).alias("cnt_rows"),
        F.sum("cents").over(w_rows).cast("bigint").alias("sum_rows"),
    )
    return (
        framed.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cnt_range").cast("bigint").alias("range_cnt_checksum"),
            F.sum("sum_range").cast("bigint").alias("range_sum_checksum"),
            F.sum("cnt_rows").cast("bigint").alias("rows_cnt_checksum"),
            F.sum("sum_rows").cast("bigint").alias("rows_sum_checksum"),
        )
        .orderBy("seg")
    )


# --------------------------------------------------------------------------
# Higher-order array-function probe (round-8 slate): transform /
# filter / aggregate / zip_with / exists over each user's sorted
# event-value array — the lambda surface Spark executes IN the JVM
# (no Python round trip; §2.7 UDF policy's "built-ins first" applies
# to collections too). The oracle computes the same semantics with
# DuckDB's list_* functions — different builtins, same answers; all
# outputs are integers so the comparison is exact.
# --------------------------------------------------------------------------
@operator(
    "higher_order_array_probe",
    oracle="""
    WITH arrs AS (
      SELECT user_id,
             list_sort(list(CAST(ROUND(value * 100) AS BIGINT))) AS arr
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(arr) AS BIGINT) AS n,
           CAST(list_sum(list_transform(arr, x -> x * 2 + 1)) AS BIGINT)
             AS sum_transformed,
           CAST(len(list_filter(arr, x -> x > 5000)) AS BIGINT) AS n_filtered,
           CAST(arr[1] + arr[len(arr)] AS BIGINT) AS first_zip_sum,
           CAST(CASE WHEN len(list_filter(arr, x -> x % 1000 = 0)) > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS has_round_value
    FROM arrs ORDER BY user_id
    """,
)
def higher_order_array_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    arrs = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.round(F.col("value") * 100).cast("bigint"))
        ).alias("arr")
    )
    zipped = F.zip_with("arr", F.reverse("arr"), lambda x, y: x + y)
    return arrs.select(
        "user_id",
        F.size("arr").cast("bigint").alias("n"),
        F.aggregate(
            F.transform("arr", lambda x: x * 2 + 1),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("bigint").alias("sum_transformed"),
        F.size(F.filter("arr", lambda x: x > 5000)).cast("bigint").alias(
            "n_filtered"
        ),
        F.element_at(zipped, 1).cast("bigint").alias("first_zip_sum"),
        F.when(
            F.exists("arr", lambda x: x % 1000 == 0), 1
        ).otherwise(0).cast("bigint").alias("has_round_value"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Distribution-rank semantics probe: percent_rank (=(rank-1)/(n-1)),
# cume_dist (=rows<=current/n) and ntile(4) over order values within
# each market segment — the remaining window-rank surface after
# rank_semantics_probe (admission under ties). percent_rank and
# cume_dist are ratios of exact integers, so they are engine-exact;
# ntile boundaries follow the SQL-standard n*(bucket)/k split which
# both engines implement identically. Probed on each segment's top
# 12 orders (deterministic cut: cents desc, orderkey) to keep the
# output review-sized.
# --------------------------------------------------------------------------
@operator(
    "rank_distribution_probe",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg,
             o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), top AS (
      SELECT seg, o_orderkey, cents FROM (
        SELECT seg, o_orderkey, cents,
               ROW_NUMBER() OVER (PARTITION BY seg
                                  ORDER BY cents DESC, o_orderkey) AS rn
        FROM j
      ) WHERE rn <= 12
    )
    SELECT seg, o_orderkey, cents,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6)    AS cum_dist,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM top
    WINDOW w AS (PARTITION BY seg ORDER BY cents, o_orderkey)
    ORDER BY seg, cents, o_orderkey
    """,
)
def rank_distribution_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    from pyspark.sql import Window

    j = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == c.c_custkey,
    ).select(
        F.col("c_mktsegment").alias("seg"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    wtop = Window.partitionBy("seg").orderBy(F.desc("cents"), "o_orderkey")
    top = (
        j.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 12)
        .drop("rn")
    )
    w = Window.partitionBy("seg").orderBy("cents", "o_orderkey")
    return top.select(
        "seg", "o_orderkey", "cents",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    ).orderBy("seg", "cents", "o_orderkey")
