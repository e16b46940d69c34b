"""Advanced analytics: windowed funnels, SCD2 history, regression audits,
distribution-law checks, graph triangles, PMI mining, EWMA smoothing.

These extend the reference's ClickHouse-style analytics surface
(clickhouse_init/04_materialized_views.sql feeds Superset dashboards; the
warehouse exposes windowFunnel/retention-class functions) and the silver
layer's slowly-changing history handling (spark/batch_silver.py keeps the
latest state per key — SCD2 is the versioned extension of that pattern),
re-expressed Spark-first:

- **window_funnel_levels**: ClickHouse ``windowFunnel(3600)``-style ordered
  conversion with a deadline anchored at the first step. One shuffle on
  ``user_id`` feeds three chained window mins, and the final per-user agg
  reuses the same hash partitioning (no second exchange).
- **scd2_user_tier**: SCD Type-2 validity intervals built from the event
  stream with change-detection (lag) + run numbering (cumulative sum) +
  interval close (lead) — all over one ``user_id`` partitioning.
- **brand_price_regression**: per-group OLS (slope/intercept/R^2) computed
  from *exact* sufficient statistics — integer/decimal sums, so the result
  is order-independent and bit-stable at any parallelism.
- **term_zipf_fit / benford_first_digit / status_priority_chisq**:
  distribution-law audits (Zipf exponent of the term distribution, Benford
  digit profile of money amounts, chi-square independence of two
  categoricals) — the data-quality statistics a 100 TB corpus run reports.
- **copurchase_triangle_count**: triangle counting on the support-bounded
  co-purchase graph. The support threshold is the scale lever: edges are
  frequent pairs (A-priori pruned), so the self-join fan-out stays bounded.
- **term_pmi_top_pairs**: pointwise mutual information over top-vocabulary
  term pairs — the co-occurrence step is bounded by |vocab| per doc.
- **revenue_ewma**: exponentially weighted moving average over the daily
  revenue series via per-year ``applyInPandas`` recursion (the oracle is a
  recursive CTE). The grouped-map runs *after* aggregation, on one row per
  day — driver-scale math on executor-side groups.

All money paths go through the scaled-integer exact-sum helpers
(:mod:`.parity`) so Spark's parallel sums equal DuckDB's sequential ones.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import spread, table
from ..functions.dates import isodow
from .registry import register
from .text import _sql_tokens, tokens_col

# ---------------------------------------------------------------------------
# window_funnel_levels — ClickHouse windowFunnel parity (deterministic
# variant): deepest funnel stage per user where every later step happens
# strictly after the previous one AND within WINDOW_SECONDS of the first.
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_HOURS = 1

WINDOW_FUNNEL_ORACLE = f"""
WITH v AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
    FROM events GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t_click
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t_view
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    GROUP BY e.user_id
),
u AS (
    SELECT v.user_id,
           CASE
             WHEN p.t_purchase IS NOT NULL
                  AND p.t_purchase <= v.t_view + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR THEN 3
             WHEN c.t_click IS NOT NULL
                  AND c.t_click <= v.t_view + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR THEN 2
             WHEN v.t_view IS NOT NULL THEN 1
             ELSE 0
           END AS funnel_level
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
)
SELECT CAST(funnel_level AS INT) AS funnel_level,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM u GROUP BY funnel_level
"""


def build_window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spread(table(spark, sf_dir, "events"), spark)
    w = Window.partitionBy("user_id")
    base = events.select("user_id", "ts", "event_type")
    # Three chained per-user window mins: each step's anchor is the previous
    # step's timestamp. Same partitioning throughout -> one Exchange total.
    s1 = base.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    deadline = F.col("t_view") + F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOUR")
    level = (
        F.when(
            F.col("t_purchase").isNotNull() & (F.col("t_purchase") <= deadline), 3
        )
        .when(F.col("t_click").isNotNull() & (F.col("t_click") <= deadline), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        per_user.select(level.cast("int").alias("funnel_level"))
        .groupBy("funnel_level")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


register(
    "window_funnel_levels",
    oracle=WINDOW_FUNNEL_ORACLE,
    doc="ClickHouse windowFunnel-style deepest-stage-per-user with a "
    "1-hour deadline anchored at the first step; chained window mins on "
    "one user_id partitioning.",
    tags=("behavior", "clickhouse-parity", "window"),
)(build_window_funnel_levels)


# ---------------------------------------------------------------------------
# scd2_user_tier — SCD Type-2 validity intervals from the event stream:
# collapse consecutive same-tier events into [valid_from, valid_to) runs.
# ---------------------------------------------------------------------------

SCD2_ORACLE = """
WITH t AS (
    SELECT user_id, ts, event_id,
           CASE WHEN COALESCE(value, 0) < 10 THEN 'low'
                WHEN COALESCE(value, 0) < 100 THEN 'mid'
                ELSE 'high' END AS tier
    FROM events
),
flagged AS (
    SELECT user_id, ts, event_id, tier,
           CASE WHEN LAG(tier) OVER w IS NULL
                  OR LAG(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
    FROM t
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id, ts, tier,
           SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS run_id
    FROM flagged
),
intervals AS (
    SELECT user_id, run_id, MIN(tier) AS tier,
           MIN(ts) AS valid_from,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM runs GROUP BY user_id, run_id
)
SELECT user_id, tier, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
       n_events,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL
           AS is_current
FROM intervals
"""


def user_tier_changes(events: DataFrame) -> DataFrame:
    """The (user_id, ts, event_id, tier) change stream the SCD2 operators
    consume — shared by the batch query and the streaming dimension sink."""
    tier = (
        F.when(F.coalesce(F.col("value"), F.lit(0.0)) < 10, "low")
        .when(F.coalesce(F.col("value"), F.lit(0.0)) < 100, "mid")
        .otherwise("high")
    )
    return events.select("user_id", "ts", "event_id", tier.alias("tier"))


def build_scd2_user_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_intervals

    events = spread(table(spark, sf_dir, "events"), spark)
    return scd2_intervals(
        user_tier_changes(events),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        value="tier",
    )


register(
    "scd2_user_tier",
    oracle=SCD2_ORACLE,
    doc="SCD Type-2 history: consecutive same-tier event runs collapsed "
    "into [valid_from, valid_to) intervals via lag-change-detection + "
    "cumulative run ids + lead-close — one user_id partitioning end to "
    "end (versioned extension of the silver latest-state pattern, "
    "spark/batch_silver.py).",
    tags=("lakehouse", "scd", "window"),
)(build_scd2_user_tier)


# ---------------------------------------------------------------------------
# brand_price_regression — per-brand OLS of extendedprice (y, dollars) on
# quantity (x) from exact integer/decimal sufficient statistics.
# ---------------------------------------------------------------------------

_REG_STATS_SQL = """
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS DOUBLE) AS sx,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS sy,
           CAST(SUM(CAST(CAST(l.l_quantity AS BIGINT)
                * CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(CAST(l.l_quantity AS BIGINT)
                * CAST(l.l_quantity AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                * CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                AS DECIMAL(38,0))) AS DOUBLE) AS syy
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
"""

BRAND_REGRESSION_ORACLE = f"""
WITH s AS ({_REG_STATS_SQL})
SELECT p_brand, n_items,
       ROUND((n_items * sxy - sx * sy)
             / NULLIF(n_items * sxx - sx * sx, 0) / 100.0, 6) AS slope,
       ROUND((sy - (n_items * sxy - sx * sy)
                   / NULLIF(n_items * sxx - sx * sx, 0) * sx)
             / n_items / 100.0, 4) AS intercept,
       ROUND((n_items * sxy - sx * sy) * (n_items * sxy - sx * sy)
             / NULLIF((n_items * sxx - sx * sx) * (n_items * syy - sy * sy), 0),
             6) AS r2
FROM s
"""


def build_brand_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spread(table(spark, sf_dir, "lineitem"), spark)
    part = table(spark, sf_dir, "part")
    qty = F.col("l_quantity").cast("long")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    joined = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_brand", qty.alias("x"), cents.alias("y")
    )
    # Exact sufficient statistics: bigint / decimal(38,0) sums are
    # order-independent, so the derived OLS doubles are bit-stable at any
    # parallelism (parity.py rationale; decimal guards sum-of-squares
    # overflow at 100 TB row counts).
    stats = joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n_items").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope_c = cov_n / F.nullif(var_x, F.lit(0.0))
    return stats.select(
        "p_brand",
        "n_items",
        F.round(slope_c / 100.0, 6).alias("slope"),
        F.round((F.col("sy") - slope_c * F.col("sx")) / n / 100.0, 4).alias(
            "intercept"
        ),
        F.round(cov_n * cov_n / F.nullif(var_x * var_y, F.lit(0.0)), 6).alias("r2"),
    )


register(
    "brand_price_regression",
    oracle=BRAND_REGRESSION_ORACLE,
    doc="Per-brand OLS slope/intercept/R^2 of extendedprice on quantity "
    "from exact integer sufficient statistics (order-independent, "
    "overflow-safe via decimal(38,0) sums).",
    tags=("statistics", "regression", "exact"),
)(build_brand_price_regression)


# ---------------------------------------------------------------------------
# term_zipf_fit — Zipf exponent of the corpus term distribution: OLS of
# ln(freq) on ln(rank) over the top-K terms, with logs quantized to 1e-6
# before summing so both engines aggregate identical integers.
# ---------------------------------------------------------------------------

ZIPF_K = 100
_LOG_SCALE = 1_000_000

TERM_ZIPF_ORACLE = f"""
WITH tok AS (
    SELECT lower(unnest({_sql_tokens()})) AS term FROM documents
),
freq AS (
    SELECT term, COUNT(*) AS f FROM tok GROUP BY term
    ORDER BY f DESC, term LIMIT {ZIPF_K}
),
ranked AS (
    SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rnk FROM freq
),
q AS (
    SELECT CAST(ROUND(ln(rnk) * {_LOG_SCALE}, 0) AS BIGINT) AS lx,
           CAST(ROUND(ln(f) * {_LOG_SCALE}, 0) AS BIGINT) AS ly
    FROM ranked
),
s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(lx) AS DOUBLE) AS sx, CAST(SUM(ly) AS DOUBLE) AS sy,
           CAST(SUM(lx * ly) AS DOUBLE) AS sxy,
           CAST(SUM(lx * lx) AS DOUBLE) AS sxx,
           CAST(SUM(ly * ly) AS DOUBLE) AS syy
    FROM q
)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s
"""


def build_term_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"), spark)
    tok = docs.select(F.explode(tokens_col()).alias("t")).select(
        F.lower("t").alias("term")
    )
    # Distributed top-K (TakeOrdered — per-partition heads, K-row merge),
    # then the ranks 1..K are assigned on the driver from the K-row
    # collect: no window at all, and the vocab itself is never ranked or
    # materialized beyond the grouped counts (VERDICT r4 task 8 — the
    # regression's sufficient statistics only ever see K rows).
    top = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.desc("f"), "term")
        .limit(ZIPF_K)
        .collect()
    )
    ranked = spark.createDataFrame(
        [(i + 1, int(r["f"])) for i, r in enumerate(top)], "rnk int, f bigint"
    )
    # ln() of identical integers is the identical double on both engines;
    # quantizing to 1e-6 before the sum makes the OLS inputs exact integers
    # (order-independent — same rationale as parity.py's scaled money sums).
    q = ranked.select(
        F.round(F.log("rnk") * _LOG_SCALE, 0).cast("long").alias("lx"),
        F.round(F.log("f") * _LOG_SCALE, 0).cast("long").alias("ly"),
    )
    s = q.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("double").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("double").alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).cast("double").alias("syy"),
    )
    n = F.col("n")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        n.cast("long").alias("n_terms"),
        F.round(cov_n / var_x, 6).alias("zipf_slope"),
        F.round(cov_n * cov_n / (var_x * var_y), 6).alias("r2"),
    )


register(
    "term_zipf_fit",
    oracle=TERM_ZIPF_ORACLE,
    doc="Zipf exponent: OLS of ln(freq) on ln(rank) over top-100 terms "
    "with logs quantized to exact integers before summing (corpus "
    "distribution-law audit for LLM data work).",
    tags=("text", "llm", "statistics"),
)(build_term_zipf_fit)


# ---------------------------------------------------------------------------
# benford_first_digit — leading-digit profile of order totals vs Benford's
# law. Digit extraction goes through the exact integer-cents string so both
# engines see the same characters (no log10-boundary risk).
# ---------------------------------------------------------------------------

BENFORD_ORACLE = """
WITH d AS (
    SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INT) AS digit
    FROM orders WHERE o_totalprice > 0
),
c AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM d GROUP BY digit
)
SELECT digit, n_orders,
       ROUND(CAST(n_orders AS DOUBLE) / SUM(n_orders) OVER (), 6)
           AS observed_share,
       ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_share
FROM c
"""


def build_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spread(table(spark, sf_dir, "orders"), spark)
    cents_str = F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string")
    d = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(cents_str, 1, 1).cast("int").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    # The window over () runs on <=9 grouped rows — a single-partition
    # window over already-aggregated data, not over the scan.
    return c.select(
        "digit",
        "n_orders",
        F.round(
            F.col("n_orders").cast("double") / F.sum("n_orders").over(Window.partitionBy()),
            6,
        ).alias("observed_share"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_share"),
    )


register(
    "benford_first_digit",
    oracle=BENFORD_ORACLE,
    doc="Benford's-law leading-digit audit of order totals; digits come "
    "from the exact integer-cents string so both engines agree without "
    "log10 boundary risk.",
    tags=("quality", "statistics"),
)(build_benford_first_digit)


# ---------------------------------------------------------------------------
# status_priority_chisq — chi-square independence test of orderstatus x
# orderpriority. Expected counts come from integer marginals; the chi-square
# terms are quantized to 1e-6 before the final sum (order-independent).
# ---------------------------------------------------------------------------

CHISQ_ORACLE = """
WITH cells AS (
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus, o_orderpriority
),
aug AS (
    SELECT n,
           SUM(n) OVER (PARTITION BY status) AS row_tot,
           SUM(n) OVER (PARTITION BY priority) AS col_tot,
           SUM(n) OVER () AS tot
    FROM cells
),
terms AS (
    SELECT CAST(ROUND(
             (n - CAST(row_tot AS DOUBLE) * col_tot / tot)
             * (n - CAST(row_tot AS DOUBLE) * col_tot / tot)
             / (CAST(row_tot AS DOUBLE) * col_tot / tot) * 1000000, 0)
           AS BIGINT) AS term_q
    FROM aug
),
dims AS (
    SELECT CAST((COUNT(DISTINCT o_orderstatus) - 1)
                * (COUNT(DISTINCT o_orderpriority) - 1) AS INT) AS dof
    FROM orders
)
SELECT ROUND(CAST(SUM(term_q) AS DOUBLE) / 1000000, 4) AS chi_square,
       (SELECT dof FROM dims) AS dof
FROM terms
"""


def build_status_priority_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spread(table(spark, sf_dir, "orders"), spark)
    cells = orders.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # Windows run over the ~15 grouped cells, not the scan.
    aug = cells.select(
        "n",
        F.sum("n").over(Window.partitionBy("status")).alias("row_tot"),
        F.sum("n").over(Window.partitionBy("priority")).alias("col_tot"),
        F.sum("n").over(Window.partitionBy()).alias("tot"),
    )
    expected = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("tot")
    term = (F.col("n") - expected) * (F.col("n") - expected) / expected
    terms = aug.select(
        F.round(term * 1_000_000, 0).cast("long").alias("term_q")
    )
    dims = orders.agg(
        (
            (F.countDistinct("o_orderstatus") - 1)
            * (F.countDistinct("o_orderpriority") - 1)
        )
        .cast("int")
        .alias("dof")
    )
    chi = terms.agg(
        F.round(F.sum("term_q").cast("double") / 1_000_000, 4).alias("chi_square")
    )
    return chi.crossJoin(dims)


register(
    "status_priority_chisq",
    oracle=CHISQ_ORACLE,
    doc="Chi-square independence of orderstatus x orderpriority from "
    "integer marginals; per-cell terms quantized before the final sum "
    "so the statistic is order-independent.",
    tags=("statistics", "quality"),
)(build_status_priority_chisq)


# ---------------------------------------------------------------------------
# weekday_adjusted_anomaly — daily revenue vs the trailing average of the
# same weekday (4 prior occurrences): seasonal-naive residual flagging.
# ---------------------------------------------------------------------------

ANOMALY_HI = 1.5
ANOMALY_LO = 0.6667

WEEKDAY_ANOMALY_ORACLE = f"""
WITH daily AS (
    SELECT o_orderdate AS order_date,
           isodow(o_orderdate) AS dow,
           SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
    FROM orders GROUP BY o_orderdate
),
base AS (
    SELECT order_date, rev_c,
           SUM(rev_c) OVER w AS base_sum,
           COUNT(*) OVER w AS base_n
    FROM daily
    WINDOW w AS (PARTITION BY dow ORDER BY order_date
                 ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
)
SELECT order_date,
       CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
       ROUND(CAST(base_sum AS DOUBLE) / base_n / 100.0, 4) AS weekday_baseline,
       ROUND(CAST(rev_c AS DOUBLE) / (CAST(base_sum AS DOUBLE) / base_n), 6)
           AS rev_ratio
FROM base
WHERE base_n >= 4
  AND (CAST(rev_c AS DOUBLE) / (CAST(base_sum AS DOUBLE) / base_n) > {ANOMALY_HI}
       OR CAST(rev_c AS DOUBLE) / (CAST(base_sum AS DOUBLE) / base_n) < {ANOMALY_LO})
"""


def build_weekday_adjusted_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spread(table(spark, sf_dir, "orders"), spark)
    daily = orders.groupBy(F.col("o_orderdate").alias("order_date")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("rev_c"),
    ).withColumn("dow", isodow("order_date"))
    w = (
        Window.partitionBy("dow")
        .orderBy("order_date")
        .rowsBetween(-4, -1)
    )
    base = daily.select(
        "order_date",
        "rev_c",
        F.sum("rev_c").over(w).alias("base_sum"),
        F.count(F.lit(1)).over(w).alias("base_n"),
    )
    baseline = F.col("base_sum").cast("double") / F.col("base_n")
    ratio = F.col("rev_c").cast("double") / baseline
    return base.filter(
        (F.col("base_n") >= 4) & ((ratio > ANOMALY_HI) | (ratio < ANOMALY_LO))
    ).select(
        "order_date",
        (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
        # base_n is always 4 (frame is 4 PRECEDING..1 PRECEDING with the
        # >=4 filter), so baseline is an exact multiple of $0.0025 — round
        # at 4 decimals where no half-boundary exists (2 decimals lands on
        # .005 boundaries that the engines' ROUNDs resolve differently).
        F.round(baseline / 100.0, 4).alias("weekday_baseline"),
        F.round(ratio, 6).alias("rev_ratio"),
    )


register(
    "weekday_adjusted_anomaly",
    oracle=WEEKDAY_ANOMALY_ORACLE,
    doc="Seasonal-naive anomaly flags: daily revenue vs trailing same-"
    "weekday average (4 prior occurrences), exact integer-cents window "
    "sums.",
    tags=("timeseries", "anomaly", "window"),
)(build_weekday_adjusted_anomaly)


# ---------------------------------------------------------------------------
# purchase_attribution — last-touch channel attribution: each purchase is
# credited to the user's most recent preceding non-purchase event type.
# ---------------------------------------------------------------------------

ATTRIBUTION_ORACLE = """
WITH tagged AS (
    SELECT event_type, value,
           COALESCE(
             LAST_VALUE(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             'direct') AS channel
    FROM events
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
           AS attributed_value
FROM tagged WHERE event_type = 'purchase'
GROUP BY channel
"""


def build_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spread(table(spark, sf_dir, "events"), spark)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    tagged = events.select(
        "event_type",
        "value",
        F.coalesce(last_touch, F.lit("direct")).alias("channel"),
    )
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double")
                / 100.0
            ).alias("attributed_value"),
        )
    )


register(
    "purchase_attribution",
    oracle=ATTRIBUTION_ORACLE,
    doc="Last-touch attribution: purchases credited to the most recent "
    "preceding non-purchase event via ignore-nulls last over a user "
    "window; exact-cents value sums.",
    tags=("behavior", "window"),
)(build_purchase_attribution)


# ---------------------------------------------------------------------------
# copurchase_triangle_count — triangles in the support-thresholded
# co-purchase graph. Support pruning (A-priori) is what bounds the
# pair fan-out and the edge self-joins at scale.
# ---------------------------------------------------------------------------

TRIANGLE_SUPPORT = 2

TRIANGLE_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {TRIANGLE_SUPPORT}
)
SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*)
             FROM edges e1
             JOIN edges e2 ON e1.pb = e2.pa
             JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb) AS BIGINT)
           AS n_triangles
"""


def build_copurchase_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spread(table(spark, sf_dir, "lineitem"), spark)
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
    edges = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= TRIANGLE_SUPPORT)
        .select("pa", "pb")
    )
    # NOTE (r12, measured and rejected): the edge set is referenced FOUR
    # times below (e1/e2/e3 + n_edges) and the plan shows 8 lineitem
    # scans — but single-slot-persisting edges measured 1.7x SLOWER at
    # sf0.1 (5-pass clean-window medians 2.36 -> 4.08 s) and no better
    # at 10x: the support-pruned recompute is cheap next to the cache
    # write + read traffic of the pair table. Left uncached.
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa")) & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(tris)


register(
    "copurchase_triangle_count",
    oracle=TRIANGLE_ORACLE,
    doc="Triangle count on the co-purchase part graph; support-2 frequent-"
    "pair pruning bounds edge fan-out before the triangle self-joins "
    "(A-priori-style scale lever).",
    tags=("graph", "basket"),
)(build_copurchase_triangle_count)


# ---------------------------------------------------------------------------
# term_pmi_top_pairs — pointwise mutual information of top-vocabulary term
# pairs co-occurring in documents. Vocabulary capping (|V|=50) bounds the
# per-doc pair fan-out at |V| choose 2 regardless of corpus size.
# ---------------------------------------------------------------------------

PMI_VOCAB_K = 50
PMI_TOP_PAIRS = 20

TERM_PMI_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, lower(unnest({_sql_tokens()})) AS term FROM documents
),
vocab AS (
    SELECT term, COUNT(*) AS f FROM tok GROUP BY term
    ORDER BY f DESC, term LIMIT {PMI_VOCAB_K}
),
docterm AS (
    SELECT DISTINCT t.doc_id, t.term FROM tok t JOIN vocab v ON t.term = v.term
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
marg AS (SELECT term, COUNT(*) AS df FROM docterm GROUP BY term),
pairs AS (
    SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_both
    FROM docterm a JOIN docterm b
      ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY a.term, b.term
)
SELECT term_a, term_b, CAST(n_both AS BIGINT) AS n_docs_both,
       ROUND(ln(CAST(n_both AS DOUBLE) * (SELECT n_docs FROM n)
                / (ma.df * CAST(mb.df AS DOUBLE))), 6) AS pmi
FROM pairs
JOIN marg ma ON ma.term = pairs.term_a
JOIN marg mb ON mb.term = pairs.term_b
ORDER BY n_both DESC, term_a, term_b
LIMIT {PMI_TOP_PAIRS}
"""


def build_term_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"), spark)
    tok = docs.select(
        "doc_id", F.explode(tokens_col()).alias("t")
    ).select("doc_id", F.lower("t").alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.desc("f"), "term")
        .limit(PMI_VOCAB_K)
        .select("term")
    )
    # vocab is a bounded top-K (constant size by construction) — the one
    # case where an explicit broadcast is size-safe at any corpus scale.
    # NOTE (r12, measured and rejected): single-slot-persisting docterm
    # (three consumers, 9 documents scans in one plan) measured 1.9x
    # SLOWER at sf0.1 and a wash (0.93) at 10x — the tokenize+explode
    # recompute is cheaper than the persist's materialize job + cache
    # traffic at every decade the bench reaches. Left uncached.
    docterm = tok.join(F.broadcast(vocab), "term").select("doc_id", "term").distinct()
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    marg = docterm.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    a = docterm.alias("a")
    b = docterm.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = marg.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    mb = marg.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    pmi = (
        pairs.join(F.broadcast(ma), "term_a")
        .join(F.broadcast(mb), "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            F.col("n_both").alias("n_docs_both"),
            F.round(
                F.log(
                    F.col("n_both").cast("double")
                    * F.col("n_docs")
                    / (F.col("df_a") * F.col("df_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.desc("n_docs_both"), "term_a", "term_b").limit(
        PMI_TOP_PAIRS
    )


register(
    "term_pmi_top_pairs",
    oracle=TERM_PMI_ORACLE,
    doc="PMI of top-vocabulary term pairs: vocab cap bounds per-doc pair "
    "fan-out; marginals and doc count broadcast (bounded by |V|).",
    tags=("text", "llm", "statistics"),
)(build_term_pmi_top_pairs)


# ---------------------------------------------------------------------------
# revenue_ewma — exponentially weighted moving average of daily revenue,
# recursion per year via applyInPandas (grouped-map on the post-aggregation
# series: one row per day). The oracle is a recursive CTE — this is one of
# the few ops where the declarative form genuinely needs recursion.
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.2

REVENUE_EWMA_ORACLE = f"""
WITH RECURSIVE daily AS (
    SELECT o_orderdate AS order_date,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
               / 100.0 AS revenue,
           ROW_NUMBER() OVER (PARTITION BY year(o_orderdate)
                              ORDER BY o_orderdate) AS rn
    FROM orders GROUP BY o_orderdate
),
r AS (
    SELECT yr, rn, order_date, revenue, revenue AS ewma
    FROM daily WHERE rn = 1
    UNION ALL
    SELECT d.yr, d.rn, d.order_date, d.revenue,
           {EWMA_ALPHA} * d.revenue + {1 - EWMA_ALPHA} * r.ewma
    FROM daily d JOIN r ON d.yr = r.yr AND d.rn = r.rn + 1
)
SELECT order_date, revenue, ROUND(ewma, 4) AS ewma FROM r
"""


def build_revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spread(table(spark, sf_dir, "orders"), spark)
    daily = orders.groupBy(F.col("o_orderdate").alias("order_date")).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).cast(
                "double"
            )
            / 100.0
        ).alias("revenue")
    ).withColumn("yr", F.year("order_date").cast("int"))

    def ewma_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("order_date").reset_index(drop=True)
        out = []
        prev = None
        for rev in pdf["revenue"]:
            # Same expression shape as the oracle's recursive step so the
            # IEEE op sequence matches bit-for-bit.
            prev = rev if prev is None else EWMA_ALPHA * rev + (1 - EWMA_ALPHA) * prev
            out.append(prev)
        pdf["ewma"] = out
        return pdf[["order_date", "revenue", "ewma"]]

    # Round Spark-side (half-away-from-zero, matching DuckDB ROUND) rather
    # than with Python's banker's-rounding round().
    raw = daily.groupBy("yr").applyInPandas(
        ewma_group, schema="order_date date, revenue double, ewma double"
    )
    return raw.select("order_date", "revenue", F.round("ewma", 4).alias("ewma"))


register(
    "revenue_ewma",
    oracle=REVENUE_EWMA_ORACLE,
    doc="EWMA of daily revenue: per-year grouped-map recursion over the "
    "post-aggregation series (one row/day); recursive-CTE oracle. "
    "Parallel across years; inherently sequential within a year.",
    tags=("timeseries", "pandas-udf"),
)(build_revenue_ewma)


# ---------------------------------------------------------------------------
# basket_association_rules — frequent-pair association rules with
# support / confidence / lift. Support pruning (the A-priori property)
# bounds the pair space; rules are emitted in both directions from each
# frequent pair. The classic market-basket operator the reference's BI
# layer motivates (04_materialized_views.sql product dashboards).
# ---------------------------------------------------------------------------

RULE_SUPPORT = 3  # pair must co-occur in >= 3 orders
RULES_TOP = 30

ASSOCIATION_RULES_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items),
part_n AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_a FROM items GROUP BY l_partkey
),
pairs AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS n_ab
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {RULE_SUPPORT}
),
rules AS (
    SELECT pa AS antecedent, pb AS consequent, n_ab FROM pairs
    UNION ALL
    SELECT pb, pa, n_ab FROM pairs
)
SELECT r.antecedent, r.consequent, r.n_ab,
       ROUND(CAST(r.n_ab AS DOUBLE) / (SELECT n_orders FROM n), 6) AS support,
       ROUND(CAST(r.n_ab AS DOUBLE) / na.n_a, 6) AS confidence,
       ROUND(CAST(r.n_ab AS DOUBLE) * (SELECT n_orders FROM n)
             / (na.n_a * CAST(nc.n_a AS DOUBLE)), 6) AS lift
FROM rules r
JOIN part_n na ON na.l_partkey = r.antecedent
JOIN part_n nc ON nc.l_partkey = r.consequent
ORDER BY n_ab DESC, confidence DESC, antecedent, consequent
LIMIT {RULES_TOP}
"""


def build_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spread(table(spark, sf_dir, "lineitem"), spark)
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    part_n = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_a"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= RULE_SUPPORT)
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "n_ab"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("antecedent"), F.col("pa").alias("consequent"), "n_ab"
        )
    )
    na = part_n.select(F.col("l_partkey").alias("antecedent"), F.col("n_a").alias("ant_n"))
    nc = part_n.select(F.col("l_partkey").alias("consequent"), F.col("n_a").alias("con_n"))
    # part_n grows with the catalog — shuffle joins (no broadcast hints);
    # only the 1-row order count broadcasts.
    out = (
        rules.join(na, "antecedent")
        .join(nc, "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("ant_n"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_orders")
                / (F.col("ant_n") * F.col("con_n").cast("double")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.desc("n_ab"), F.desc("confidence"), "antecedent", "consequent"
    ).limit(RULES_TOP)


register(
    "basket_association_rules",
    oracle=ASSOCIATION_RULES_ORACLE,
    doc=f"Association rules from support-{RULE_SUPPORT} frequent pairs "
    "(A-priori pruned) with support/confidence/lift in both directions; "
    "top rules by co-occurrence.",
    tags=("basket", "mining", "join"),
)(build_basket_association_rules)


# ---------------------------------------------------------------------------
# segment_migration_matrix — customer lifecycle: per-year spend terciles
# (ntile within year) and the year-over-year segment transition counts.
# The dimension a CRM dashboard tracks: who moved up, who churned down.
# ---------------------------------------------------------------------------

SEGMENT_MIGRATION_ORACLE = """
WITH yearly AS (
    SELECT o_custkey AS custkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS spend_c
    FROM orders GROUP BY o_custkey, year(o_orderdate)
),
seg AS (
    SELECT custkey, yr,
           NTILE(3) OVER (PARTITION BY yr ORDER BY spend_c DESC, custkey)
               AS tercile
    FROM yearly
),
named AS (
    SELECT custkey, yr,
           CASE tercile WHEN 1 THEN 'high' WHEN 2 THEN 'mid'
                        ELSE 'low' END AS segment
    FROM seg
)
SELECT a.segment AS from_segment,
       b.segment AS to_segment,
       CAST(a.yr AS INT) AS from_year,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM named a JOIN named b
  ON a.custkey = b.custkey AND b.yr = a.yr + 1
GROUP BY a.segment, b.segment, a.yr
"""


def build_segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spread(table(spark, sf_dir, "orders"), spark)
    yearly = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("spend_c")
    )
    w = Window.partitionBy("yr").orderBy(F.desc("spend_c"), "custkey")
    named = yearly.select(
        "custkey",
        "yr",
        F.when(F.ntile(3).over(w) == 1, "high")
        .when(F.ntile(3).over(w) == 2, "mid")
        .otherwise("low")
        .alias("segment"),
    )
    a, b = named.alias("a"), named.alias("b")
    return (
        a.join(
            b,
            (F.col("a.custkey") == F.col("b.custkey"))
            & (F.col("b.yr") == F.col("a.yr") + 1),
        )
        .groupBy(
            F.col("a.segment").alias("from_segment"),
            F.col("b.segment").alias("to_segment"),
            F.col("a.yr").alias("from_year"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


register(
    "segment_migration_matrix",
    oracle=SEGMENT_MIGRATION_ORACLE,
    doc="Year-over-year customer segment transitions: per-year spend "
    "terciles (deterministic ntile: spend desc, custkey) self-joined on "
    "year+1 — the CRM lifecycle matrix.",
    tags=("behavior", "window", "join"),
)(build_segment_migration_matrix)


# ---------------------------------------------------------------------------
# label_propagation_communities — synchronous LPA (Raghavan 2007) on the
# support-thresholded co-purchase graph, made DETERMINISTIC (the classic
# algorithm is order-dependent): all nodes update simultaneously from
# the previous round's labels, winner = most frequent neighbor label
# with ties broken by smallest label. Three synchronous rounds are
# UNROLLED both sides, so this iterative graph operator gets a full
# DuckDB oracle (unlike pagerank's rows-only check — recursive CTEs
# can't aggregate per round, but an unrolled fixed-depth loop can).
# Each round is one arcs-join + count + per-node top-1 window on the
# support-bounded arc set — the loop cost model of dedup_components.
# ---------------------------------------------------------------------------

LPA_SUPPORT = 2
LPA_ROUNDS = 3

_LPA_ARC_CACHE: list[DataFrame] = []


def _cache_lpa_arcs(df: DataFrame) -> DataFrame:
    """Single-slot persist for the support-pruned arc set (referenced by
    all three unrolled rounds plus the label seed — cached once, the
    previous invocation's slot released on the next call; same bounded
    discipline as pipeline._cache_funnel_shared)."""
    while _LPA_ARC_CACHE:
        prev = _LPA_ARC_CACHE.pop()
        try:
            prev.unpersist()
        except Exception:
            pass
    df = df.persist()
    _LPA_ARC_CACHE.append(df)
    return df


def _lpa_round_sql(prev: str, cur: str) -> str:
    return f"""
n{cur} AS (
    SELECT a.src AS node, l.lab FROM arcs a JOIN {prev} l ON a.dst = l.node
),
c{cur} AS (
    SELECT node, lab, COUNT(*) AS c FROM n{cur} GROUP BY node, lab
),
{cur} AS (
    SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM c{cur}
    ) WHERE rn = 1
)"""


LPA_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
und AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {LPA_SUPPORT}
),
arcs AS (
    SELECT pa AS src, pb AS dst FROM und
    UNION ALL
    SELECT pb AS src, pa AS dst FROM und
),
l0 AS (SELECT DISTINCT src AS node, src AS lab FROM arcs),
{','.join(_lpa_round_sql(f'l{i}', f'l{i + 1}') for i in range(LPA_ROUNDS))}
SELECT lab AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(node) AS min_node
FROM l{LPA_ROUNDS}
GROUP BY lab
ORDER BY community
"""


def lpa_rounds(arcs: DataFrame) -> DataFrame:
    """``LPA_ROUNDS`` synchronous label-propagation rounds over a directed
    ``(src, dst)`` arc set (both directions present for an undirected
    graph): every node starts labelled with its own id, then takes the
    most frequent label among its neighbours, ties to the smallest.
    Returns ``(node, lab)``. Node ids must lie in [0, 10^19); a label
    outside that range fails the query instead of packing wrongly."""
    labels = arcs.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(LPA_ROUNDS):
        neigh = arcs.join(
            labels.select(F.col("node").alias("dst"), "lab"), "dst"
        ).select(F.col("src").alias("node"), "lab")
        counts = neigh.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("c"))
        # r12 OPTIMIZATION (guide §2.3 "aggregate before you shuffle"):
        # the per-node winner as an AGGREGATE, not a window — ORDER BY
        # c DESC, lab ASC LIMIT 1 per node. r13 finish (VERDICT r12
        # task 3): the r12 min(struct(-c, lab)) planned as SortAggregate
        # (struct buffers aren't mutable in the codegen HashAggregate;
        # min_by has the same struct buffer and also sort-aggregates),
        # which traded the window's 3 data-sized sorts for 6
        # sort-aggregate sorts. Packing the ordering key into ONE
        # DECIMAL(38,0) — pack = -c*10^19 + lab — makes the winner a
        # plain min over a mutable-buffer type: true codegen
        # HashAggregate with partial_min map-side combine and NO Sort.
        # Lexicographic equivalence needs 0 <= lab < 10^19, true for any
        # non-negative BIGINT (max 9.22e18) and enforced in the pack
        # itself: raise_error rides the projection that computes it, so
        # the check costs no extra job. Magnitude is bounded by
        # c*10^19 <= 9.23e18*10^19 = 9.2e37 < 10^38, so the pack can
        # never overflow DECIMAL(38,0) for ANY long inputs — exact at
        # every scale. Unpack: lab = pmod(pack, 10^19) (pmod is the
        # mathematical mod, so the -c*10^19 term drops out exactly).
        _B = "CAST(10000000000000000000 AS DECIMAL(20,0))"  # 10^19
        pack = F.expr(
            f"CASE WHEN lab >= 0 AND lab < {_B} "
            f"THEN CAST(-c AS DECIMAL(19,0)) * {_B} + CAST(lab AS DECIMAL(19,0)) "
            "ELSE raise_error(concat('label propagation needs 0 <= label < 10^19, got ', "
            "CAST(lab AS STRING))) END"
        )
        labels = (
            counts.groupBy("node")
            .agg(F.min(pack).alias("m"))
            .select(
                "node",
                F.expr(f"CAST(pmod(m, {_B}) AS BIGINT)").alias("lab"),
            )
        )
    return labels


def build_label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = spread(table(spark, sf_dir, "lineitem"), spark)
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= LPA_SUPPORT)
        .select("pa", "pb")
    )
    arcs = und.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    labels = lpa_rounds(_cache_lpa_arcs(arcs))
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_node"),
        )
        .orderBy("community")
    )


register(
    "label_propagation_communities",
    oracle=LPA_ORACLE,
    doc="Deterministic synchronous label propagation (3 unrolled rounds, "
    "most-frequent-neighbor label, min-label ties) on the support-"
    "bounded co-purchase graph — a fully ORACLED iterative graph "
    "operator; per round one arc join + count + per-node top-1 window.",
    tags=("graph", "iterative", "mining"),
)(build_label_propagation_communities)


# ---------------------------------------------------------------------------
# cogroup_user_ledger — the cogrouped-map Pandas API surface
# (GroupedData.cogroup().applyInPandas, §2.9 family): both sides shuffle
# once on the key, each (key, left-frame, right-frame) pair lands in one
# Arrow-batched Python call — the shape for per-entity reconciliation
# logic too imperative for joins (ledger matching, interleaved-sequence
# alignment). Here the per-user body is exact integer arithmetic so the
# whole operator carries a full-outer-join SQL oracle; at 100 TB the
# cost model is exactly one co-partitioned shuffle per side.
# ---------------------------------------------------------------------------

COGROUP_LEDGER_ORACLE = """
WITH o AS (
    SELECT o_custkey AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS order_cents
    FROM orders GROUP BY 1
),
e AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS event_cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT COALESCE(o.user_id, e.user_id) AS user_id,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(e.n_purchases, 0) AS n_purchases,
       COALESCE(o.order_cents, 0) AS order_cents,
       COALESCE(e.event_cents, 0) AS event_cents,
       COALESCE(o.order_cents, 0) - COALESCE(e.event_cents, 0) AS diff_cents
FROM o FULL OUTER JOIN e ON o.user_id = e.user_id
ORDER BY user_id
"""


LEDGER_BUCKETS = 256


def build_cogroup_user_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    orders = spread(table(spark, sf_dir, "orders"), spark).select(
        F.col("o_custkey").alias("user_id"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.pmod("o_custkey", F.lit(LEDGER_BUCKETS)).alias("bucket"),
    )
    purchases = (
        spread(table(spark, sf_dir, "events"), spark)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            F.pmod("user_id", F.lit(LEDGER_BUCKETS)).alias("bucket"),
        )
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_orders", T.LongType(), True),
            T.StructField("n_purchases", T.LongType(), True),
            T.StructField("order_cents", T.LongType(), True),
            T.StructField("event_cents", T.LongType(), True),
            T.StructField("diff_cents", T.LongType(), True),
        ]
    )

    # Cogroup on a BOUNDED bucket key, vectorize per-user work inside the
    # pandas body: applyInPandas costs one Python round-trip PER KEY, so
    # keying by raw user_id means key-count calls (measured 28 s at sf0.1
    # for 15K users); 256 buckets keep the per-call frames large and the
    # call count fixed at any scale — the cogroup deployment rule.
    def reconcile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(columns=["count", "sum"]).astype("int64")
        lo = (
            left.groupby("user_id")["cents"].agg(["count", "sum"])
            if len(left)
            else empty
        )
        ro = (
            right.groupby("user_id")["cents"].agg(["count", "sum"])
            if len(right)
            else empty
        )
        m = lo.join(ro, how="outer", lsuffix="_o", rsuffix="_e").fillna(0)
        return pd.DataFrame(
            {
                "user_id": m.index.astype("int64"),
                "n_orders": m["count_o"].astype("int64"),
                "n_purchases": m["count_e"].astype("int64"),
                "order_cents": m["sum_o"].astype("int64"),
                "event_cents": m["sum_e"].astype("int64"),
                "diff_cents": (m["sum_o"] - m["sum_e"]).astype("int64"),
            }
        )

    return (
        orders.groupBy("bucket")
        .cogroup(purchases.groupBy("bucket"))
        .applyInPandas(reconcile, schema=schema)
        .orderBy("user_id")
    )


register(
    "cogroup_user_ledger",
    oracle=COGROUP_LEDGER_ORACLE,
    doc="Cogrouped-map Pandas surface: per-user order-vs-purchase ledger "
    "reconciliation via cogroup().applyInPandas keyed by a BOUNDED "
    "bucket (one Python call per bucket, per-user work vectorized "
    "inside — raw-key cogrouping costs key-count calls); exact body; "
    "oracle is the full-outer join of the two per-user aggregates.",
    tags=("pandas", "join", "relational", "behavior"),
)(build_cogroup_user_ledger)
