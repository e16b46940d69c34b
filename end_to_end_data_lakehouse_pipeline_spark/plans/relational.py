"""Relational operator corpus (SURVEY.md §2.2-2.7).

One registered query per operator family from the reference's inventory:
projections/casts (P1/P9), predicate filters (P4/P7/P11), window dedup
(W1, batch_silver.py:107-112) and first-per-group (W2, load_warehouse.py:
287-289), deterministic dropDuplicates (A7 upgrade), anti/semi joins (J6,
data_generator.py:275-280), join+limit (J7), top-k (O1-O3), distinct (A6),
scalar-function families (§2.7), enum literal maps (load_warehouse.py:106),
surrogate keys (load_warehouse.py:109 — md5 here for cross-engine parity;
xxhash64 is the Spark-native alternative), JSON envelope extraction
(batch_silver.py:60-82), and the generated time dimension
(02_dim_tables.sql:63-65 → explode(sequence)).

Plus engine-completeness operators the reference lacks: set ops, pivot,
rollup, analytic windows (lag/lead/rank/running sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import spread, table
from ..functions.dates import date_key, isodow
from .parity import exact_avg, exact_sum, o_avg, o_sum
from .registry import register

# ---------------------------------------------------------------------------
# P1/P9 — typed projection with casts, aliases, derivations.
# ---------------------------------------------------------------------------

PROJECTION_ORACLE = """
SELECT
    o_orderkey,
    CAST(o_orderkey AS VARCHAR) AS order_key_str,
    CAST(o_custkey % 1000 AS INTEGER) AS cust_key_bucket,
    o_totalprice AS total_price,
    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS total_price_cents,
    upper(o_orderstatus) AS status_upper,
    lower(o_orderpriority) AS priority_lower,
    substr(o_orderpriority, 1, 1) AS priority_code,
    CAST(length(o_orderpriority) AS INTEGER) AS priority_len,
    o_orderstatus || '-' || o_orderpriority AS status_priority,
    CAST(o_orderdate AS DATE) AS order_date
FROM orders
"""


def build_projection_cast_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("order_key_str"),
        # narrowing cast demo on a BOUNDED value: casting a raw entity
        # key to INT overflows once key domains pass 2^31 (caught live
        # by the 100x rehearsal's remapped keys, r12) — a projection
        # that only works below 2B keys is a scale bug, so the demo
        # buckets first. DuckDB % on positive BIGINT matches Spark pmod
        # here (keys are non-negative).
        (F.col("o_custkey") % 1000).cast("int").alias("cust_key_bucket"),
        F.col("o_totalprice").alias("total_price"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("total_price_cents"),
        F.upper("o_orderstatus").alias("status_upper"),
        F.lower("o_orderpriority").alias("priority_lower"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.length("o_orderpriority").alias("priority_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


register(
    "projection_cast_rename",
    oracle=PROJECTION_ORACLE,
    doc="Typed projection: casts, aliases, string fns (P1/P9, "
    "streaming_bronze.py:80-89). DECLARED SCHEMA CHANGE (round 12, "
    "commit 7478a5e, acknowledged VERDICT r12 task 7): column "
    "`cust_key_int` = CAST(o_custkey AS INT) was replaced by "
    "`cust_key_bucket` = CAST(o_custkey % 1000 AS INT) — the raw-key "
    "narrowing cast silently overflows once key domains pass 2^31 "
    "(caught by the 100x key-remap rehearsal), so the demo buckets "
    "before narrowing. Oracle changed in lockstep; this is also the "
    "bench's latency-calibration probe, whose stamp plan changed "
    "trivially (pmod vs cast) at the same commit.",
    tags=("relational", "projection"),
)(build_projection_cast_rename)


# ---------------------------------------------------------------------------
# P4/P7/P11 — predicate families: equality, isin, range, boolean algebra.
# ---------------------------------------------------------------------------

FILTER_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
       l_returnflag, l_linestatus
FROM lineitem
WHERE l_returnflag <> 'A'
  AND l_linestatus IN ('O', 'F')
  AND l_quantity BETWEEN 10 AND 40
  AND (l_discount <= 0.05 OR l_tax > 0.04)
  AND l_shipdate IS NOT NULL
"""


def build_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") != "A")
        & F.col("l_linestatus").isin("O", "F")
        & F.col("l_quantity").between(10, 40)
        & ((F.col("l_discount") <= 0.05) | (F.col("l_tax") > 0.04))
        & F.col("l_shipdate").isNotNull()
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_linestatus",
    )


register(
    "filter_predicates",
    oracle=FILTER_ORACLE,
    doc="Predicate families pushed to the parquet scan (P4/P7/P11).",
    tags=("relational", "filter"),
)(build_filter_predicates)


# ---------------------------------------------------------------------------
# W1 — CDC last-write-wins dedup: latest row per key by timestamp.
# (batch_silver.py:107-112; events.user_id plays the PK.)
# ---------------------------------------------------------------------------

CDC_LATEST_ORACLE = """
SELECT user_id, event_id, ts, event_type, value
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


def build_cdc_latest_state_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)  # P6: window-rank filter
        .drop("_rn")  # P8
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


register(
    "cdc_latest_state_per_key",
    oracle=CDC_LATEST_ORACLE,
    doc="Last-write-wins dedup via row_number window (W1, batch_silver.py:107-112).",
    tags=("relational", "window", "cdc"),
)(build_cdc_latest_state_per_key)


# ---------------------------------------------------------------------------
# W2/A7 — deterministic first-row-per-group (replaces dropDuplicates).
# ---------------------------------------------------------------------------

# NOTE: (l_orderkey, l_linenumber) is NOT unique in the testdata, so the
# window order must be a total order over every output column to make the
# winner well-defined on both engines.
FIRST_ITEM_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
FROM lineitem
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY l_orderkey
    ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
) = 1
"""


def build_first_item_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    return (
        li.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
    )


register(
    "first_item_per_order",
    oracle=FIRST_ITEM_ORACLE,
    doc="Deterministic first row per group (W2 load_warehouse.py:287-289; "
    "A7 dropDuplicates made deterministic).",
    tags=("relational", "window"),
)(build_first_item_per_order)


# ---------------------------------------------------------------------------
# A6 — distinct.
# ---------------------------------------------------------------------------

DISTINCT_ORACLE = """
SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
"""


def build_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


register(
    "distinct_segments",
    oracle=DISTINCT_ORACLE,
    doc="Distinct projection (A6, load_warehouse.py:115).",
    tags=("relational",),
)(build_distinct_segments)


# ---------------------------------------------------------------------------
# J6 — anti join: customers with no events at all (the reference's
# "delivered orders with no review" pattern, data_generator.py:275-280).
# J-semi as the dual.
# ---------------------------------------------------------------------------

ANTI_JOIN_ORACLE = """
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
"""


def build_customers_without_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    events = table(spark, sf_dir, "events")
    return customer.join(
        events, customer.c_custkey == events.user_id, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


register(
    "customers_without_events",
    oracle=ANTI_JOIN_ORACLE,
    doc="Anti join (J6, data_generator.py:275-280 NOT-EXISTS pattern).",
    tags=("relational", "join"),
)(build_customers_without_events)


SEMI_JOIN_ORACLE = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
)
"""


def build_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


register(
    "customers_with_open_orders",
    oracle=SEMI_JOIN_ORACLE,
    doc="Semi join (EXISTS) — dual of J6.",
    tags=("relational", "join"),
)(build_customers_with_open_orders)


# ---------------------------------------------------------------------------
# J7/O1/O2 — join + deterministic top-k (unique tiebreak, so LIMIT is a
# well-defined set on both engines).
# ---------------------------------------------------------------------------

TOPK_ORACLE = """
SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate, c.c_name, c.c_mktsegment
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


def build_top_orders_with_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left")
        .select("o_orderkey", "o_totalprice", "o_orderdate", "c_name", "c_mktsegment")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)  # TakeOrderedAndProject: no global sort materialized
    )


register(
    "top_orders_with_customer",
    oracle=TOPK_ORACLE,
    doc="Join + deterministic top-k (J7/O1/O2; Spark plans TakeOrderedAndProject).",
    tags=("relational", "join", "topk"),
)(build_top_orders_with_customer)


# ---------------------------------------------------------------------------
# Set ops — engine completeness (reference has none, SURVEY §2.6).
# ---------------------------------------------------------------------------

SET_OPS_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def build_set_ops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    open_c = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.distinct().subtract(done_c.distinct())


register(
    "set_ops_except",
    oracle=SET_OPS_ORACLE,
    doc="EXCEPT set op (engine completeness; reference has no set ops).",
    tags=("relational", "setops"),
)(build_set_ops_except)


# ---------------------------------------------------------------------------
# Scalar-function showcase (§2.7): CASE chains, coalesce, date functions
# with ClickHouse parity (isodow), arithmetic.
# ---------------------------------------------------------------------------

SCALAR_ORACLE = """
SELECT
    o_orderkey,
    CASE
        WHEN o_totalprice >= 300000 THEN 'high'
        WHEN o_totalprice >= 100000 THEN 'mid'
        ELSE 'low'
    END AS price_band,
    CASE WHEN o_orderstatus = 'O' THEN 'open'
         WHEN o_orderstatus = 'F' THEN 'finished'
         ELSE 'processing' END AS status_label,
    COALESCE(NULLIF(o_orderpriority, '5-LOW'), 'LOW-PRIORITY') AS priority_or_default,
    CAST(year(o_orderdate) AS INTEGER) AS y,
    CAST(quarter(o_orderdate) AS INTEGER) AS q,
    CAST(month(o_orderdate) AS INTEGER) AS m,
    CAST(week(o_orderdate) AS INTEGER) AS iso_week,
    CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
    CAST(isodow(o_orderdate) AS INTEGER) AS dow_mon1,
    CAST(hour(o_orderdate) AS INTEGER) AS hr,
    strftime(o_orderdate, '%Y-%m-%d') AS date_str,
    CAST(strftime(o_orderdate, '%Y%m') AS INTEGER) AS yyyymm,
    CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INTEGER)
        AS days_to_eoy,
    o_totalprice / 100.0 AS price_hundredths,
    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) % 97 AS mod97
FROM orders
"""


def build_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "finished")
        .otherwise("processing")
        .alias("status_label"),
        F.coalesce(F.nullif("o_orderpriority", F.lit("5-LOW")), F.lit("LOW-PRIORITY")).alias(
            "priority_or_default"
        ),
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.dayofmonth("o_orderdate").alias("dom"),
        isodow("o_orderdate").alias("dow_mon1"),
        F.hour("o_orderdate").alias("hr"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str"),
        F.date_format("o_orderdate", "yyyyMM").cast("int").alias("yyyymm"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_eoy"
        ),
        (F.col("o_totalprice") / 100.0).alias("price_hundredths"),
        (F.round(F.col("o_totalprice") * 100, 0).cast("long") % 97).alias("mod97"),
    )


register(
    "scalar_functions",
    oracle=SCALAR_ORACLE,
    doc="CASE/coalesce/date-part/arithmetic showcase with ClickHouse dow parity "
    "(§2.7; 02_dim_tables.sql:29-60).",
    tags=("relational", "scalar"),
)(build_scalar_functions)


# ---------------------------------------------------------------------------
# Enum literal map (load_warehouse.py:106, 192-197): Python dict → map
# lookup with default.
# ---------------------------------------------------------------------------

PRIORITY_CLASS = {
    "1-URGENT": "critical",
    "2-HIGH": "elevated",
    "3-MEDIUM": "standard",
}

ENUM_MAP_ORACLE = """
SELECT
    o_orderkey,
    o_orderpriority,
    CASE o_orderpriority
        WHEN '1-URGENT' THEN 'critical'
        WHEN '2-HIGH' THEN 'elevated'
        WHEN '3-MEDIUM' THEN 'standard'
        ELSE 'routine'
    END AS priority_class
FROM orders
"""


def build_enum_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    kv = []
    for k, v in PRIORITY_CLASS.items():
        kv += [F.lit(k), F.lit(v)]
    lookup = F.create_map(*kv)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.coalesce(
            F.element_at(lookup, F.col("o_orderpriority")), F.lit("routine")
        ).alias("priority_class"),
    )


register(
    "enum_map_lookup",
    oracle=ENUM_MAP_ORACLE,
    doc="Driver-side dict → create_map literal lookup with default "
    "(load_warehouse.py:106, 192-197).",
    tags=("relational", "scalar"),
)(build_enum_map_lookup)


# ---------------------------------------------------------------------------
# Surrogate keys + dim join (load_warehouse.py:104-121): md5 keys for
# cross-engine parity (Spark-native path would be xxhash64), nation/region
# broadcast joins.
# ---------------------------------------------------------------------------

SURROGATE_ORACLE = """
SELECT
    md5(CAST(c.c_custkey AS VARCHAR)) AS customer_key,
    c.c_custkey,
    c.c_name,
    c.c_mktsegment,
    COALESCE(n.n_name, 'UNKNOWN') AS nation_name,
    COALESCE(r.r_name, 'UNKNOWN') AS region_name
FROM customer c
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
"""


def build_dim_customer_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select(
            F.md5(F.col("c_custkey").cast("string")).alias("customer_key"),
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.coalesce("n_name", F.lit("UNKNOWN")).alias("nation_name"),
            F.coalesce("r_name", F.lit("UNKNOWN")).alias("region_name"),
        )
    )


register(
    "dim_customer_keys",
    oracle=SURROGATE_ORACLE,
    doc="Surrogate-keyed customer dim with snowflaked broadcast joins "
    "(load_warehouse.py:104-121; md5 for engine parity).",
    tags=("relational", "star", "broadcast"),
)(build_dim_customer_keys)


# ---------------------------------------------------------------------------
# Generated time dimension (02_dim_tables.sql:63-65: arrayJoin(range) →
# explode(sequence)).
# ---------------------------------------------------------------------------

TIME_DIM_ORACLE = """
SELECT
    CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_key,
    CAST(d AS DATE) AS full_date,
    CAST(year(d) AS INTEGER) AS y,
    CAST(quarter(d) AS INTEGER) AS q,
    CAST(month(d) AS INTEGER) AS m,
    CAST(dayofmonth(d) AS INTEGER) AS dom,
    CAST(isodow(d) AS INTEGER) AS dow_mon1,
    isodow(d) >= 6 AS is_weekend
FROM (
    SELECT UNNEST(generate_series(DATE '1995-01-01', DATE '1998-12-31',
                                  INTERVAL 1 DAY)) AS d
)
"""


def build_time_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode(sequence(...)) runs entirely in the JVM; at scale the range
    # is tiny (one row per day) so a single task generating it is correct.
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1998-12-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    return days.select(
        date_key("d").alias("date_key"),
        F.col("d").alias("full_date"),
        F.year("d").alias("y"),
        F.quarter("d").alias("q"),
        F.month("d").alias("m"),
        F.dayofmonth("d").alias("dom"),
        isodow("d").alias("dow_mon1"),
        (isodow("d") >= 6).alias("is_weekend"),
    )


register(
    "time_dimension",
    oracle=TIME_DIM_ORACLE,
    doc="Generated date dim via explode(sequence) (02_dim_tables.sql:63-65).",
    tags=("relational", "star", "generator"),
)(build_time_dimension)


# ---------------------------------------------------------------------------
# JSON envelope extraction (batch_silver.py:60-82): typed from_json over the
# events.props payload — the engine's upgrade over the reference's untyped
# Map<String,String> parse.
# ---------------------------------------------------------------------------

JSON_ORACLE = """
SELECT
    event_id,
    event_type,
    CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k,
    CAST(json_extract(props, '$.k') AS INTEGER) * 2 AS prop_k_doubled,
    CAST(json_extract(props, '$.missing') AS VARCHAR) IS NULL AS missing_is_null
FROM events
"""


def build_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    parsed = events.withColumn(
        "_p", F.from_json("props", "k INT, missing STRING")
    )
    return parsed.select(
        "event_id",
        "event_type",
        F.col("_p.k").alias("prop_k"),
        (F.col("_p.k") * 2).alias("prop_k_doubled"),
        F.col("_p.missing").isNull().alias("missing_is_null"),
    )


register(
    "json_extract_events",
    oracle=JSON_ORACLE,
    doc="Typed from_json envelope parse (batch_silver.py:60-82 upgrade: "
    "StructType instead of Map<String,String>).",
    tags=("relational", "json", "cdc"),
)(build_json_extract_events)


# ---------------------------------------------------------------------------
# Pivot (engine completeness): order counts by status per year.
# ---------------------------------------------------------------------------

PIVOT_ORACLE = """
SELECT
    CAST(year(o_orderdate) AS INTEGER) AS order_year,
    COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_open,
    COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_finished,
    COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_processing
FROM orders
GROUP BY 1
"""


def build_pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "order_year",
            F.coalesce("O", F.lit(0)).alias("cnt_open"),
            F.coalesce("F", F.lit(0)).alias("cnt_finished"),
            F.coalesce("P", F.lit(0)).alias("cnt_processing"),
        )
    )


register(
    "pivot_status_by_year",
    oracle=PIVOT_ORACLE,
    doc="Pivot → conditional aggregation (engine completeness).",
    tags=("relational", "pivot"),
)(build_pivot_status_by_year)


# ---------------------------------------------------------------------------
# Rollup with grouping flags (engine completeness).
# ---------------------------------------------------------------------------

ROLLUP_ORACLE = f"""
SELECT
    CAST(year(o_orderdate) AS INTEGER) AS order_year,
    o_orderstatus,
    CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
    COUNT(*) AS n_orders,
    {o_sum('o_totalprice', 'revenue')}
FROM orders
GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
"""


def build_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.rollup(F.year("o_orderdate").alias("order_year"), "o_orderstatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", "revenue"),
        )
        .select("order_year", "o_orderstatus", "gid", "n_orders", "revenue")
    )


register(
    "rollup_sales",
    oracle=ROLLUP_ORACLE,
    doc="ROLLUP + grouping_id (engine completeness; no grouping sets in reference).",
    tags=("relational", "rollup"),
)(build_rollup_sales)


# ---------------------------------------------------------------------------
# Analytic windows (engine completeness; reference only has row_number):
# lag/lead, rank, running sums — running money uses exact cents.
# ---------------------------------------------------------------------------

WINDOW_ORACLE = """
SELECT
    o_custkey,
    o_orderkey,
    CAST(o_orderdate AS DATE) AS order_date,
    o_totalprice,
    CAST(ROW_NUMBER() OVER w AS INTEGER) AS order_seq,
    CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
         AS INTEGER) AS spend_rank,
    LAG(o_totalprice) OVER w AS prev_total,
    LEAD(o_totalprice) OVER w AS next_total,
    CAST(date_diff('day', CAST(LAG(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE))
         AS INTEGER) AS days_since_prev,
    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
        AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def build_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrank = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_totalprice",
        F.row_number().over(w).alias("order_seq"),
        F.rank().over(wrank).alias("spend_rank"),
        F.lag("o_totalprice").over(w).alias("prev_total"),
        F.lead("o_totalprice").over(w).alias("next_total"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("days_since_prev"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).over(wrun).cast("double")
            / 100.0
        ).alias("running_spend"),
    )


register(
    "window_analytics",
    oracle=WINDOW_ORACLE,
    doc="lag/lead/rank/running-sum analytics (engine completeness beyond W1/W2).",
    tags=("relational", "window"),
)(build_window_analytics)


# ---------------------------------------------------------------------------
# Deterministic hash sampling — the scale-correct upgrade of O3
# (data_generator.py:92-280 uses ORDER BY RANDOM() LIMIT n, which needs a
# global sort; hashing the key gives a reproducible sample in one scan with
# no shuffle, the only approach that survives 100 TB).
# ---------------------------------------------------------------------------

HASH_SAMPLE_ORACLE = """
WITH h AS (
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           CAST(list_sum(list_transform(generate_series(0, 7), i ->
               CAST(strpos('0123456789abcdef',
                           substr(md5(CAST(o_orderkey AS VARCHAR)), 1 + i, 1)) - 1 AS BIGINT)
               * (CAST(1 AS BIGINT) << (4 * (7 - i))))) AS BIGINT) % 100 AS bucket
    FROM orders
)
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, bucket
FROM h WHERE bucket < 10
"""


def build_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", bucket.alias("bucket")
    ).filter(F.col("bucket") < 10)


register(
    "hash_sample",
    oracle=HASH_SAMPLE_ORACLE,
    doc="Deterministic 10% hash sample — reproducible, shuffle-free "
    "replacement for ORDER BY RANDOM() LIMIT n (O3 upgrade).",
    tags=("relational", "sampling"),
)(build_hash_sample)


# ---------------------------------------------------------------------------
# UNION ALL + UNION-distinct / INTERSECT — set-op completeness (§2.6).
# ---------------------------------------------------------------------------

SET_UNION_ORACLE = """
SELECT party_id, party_type, nationkey FROM (
    SELECT c_custkey AS party_id, 'customer' AS party_type, c_nationkey AS nationkey
    FROM customer
    UNION ALL
    SELECT s_suppkey AS party_id, 'supplier' AS party_type, s_nationkey AS nationkey
    FROM supplier
)
"""


def build_set_ops_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    c = customer.select(
        F.col("c_custkey").alias("party_id"),
        F.lit("customer").alias("party_type"),
        F.col("c_nationkey").alias("nationkey"),
    )
    s = supplier.select(
        F.col("s_suppkey").alias("party_id"),
        F.lit("supplier").alias("party_type"),
        F.col("s_nationkey").alias("nationkey"),
    )
    return c.unionByName(s)


register(
    "set_ops_union",
    oracle=SET_UNION_ORACLE,
    doc="UNION ALL of heterogenous sources under one schema (§2.6 "
    "completeness; unionByName avoids positional mistakes).",
    tags=("relational", "setops"),
)(build_set_ops_union)


SET_INTERSECT_ORACLE = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
"""


def build_set_ops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .intersect(supplier.select(F.col("s_nationkey").alias("nationkey")))
    )


register(
    "set_ops_intersect",
    oracle=SET_INTERSECT_ORACLE,
    doc="INTERSECT set op (§2.6 completeness).",
    tags=("relational", "setops"),
)(build_set_ops_intersect)


# ---------------------------------------------------------------------------
# As-of join — the classic operator Spark lacks natively (pyspark guide
# "common OLAP patterns"). Implemented as union + tagged window (single
# shuffle on the key, last non-null order image carried forward) — the
# formulation that scales: no range-bucketing explosion, no per-group
# pandas. Orders are pre-deduped per (key, time) so the as-of winner is
# total-ordered on both engines.
# ---------------------------------------------------------------------------

ASOF_ORACLE = """
WITH orders2 AS (
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
)
SELECT
    e.event_id,
    e.user_id,
    e.ts,
    e.value,
    o.o_orderkey AS asof_orderkey,
    o.o_totalprice AS asof_order_total
FROM events e
ASOF LEFT JOIN orders2 o
    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""


def build_asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    events = table(spark, sf_dir, "events")
    rn = F.row_number().over(
        W.partitionBy("o_custkey", "o_orderdate").orderBy(F.desc("o_orderkey"))
    )
    orders2 = orders.withColumn("rn", rn).filter(F.col("rn") == 1)
    o = orders2.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        "o_orderkey",
        "o_totalprice",
        F.lit(1).alias("is_order"),
    )
    e = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        "event_id",
        "value",
        F.lit(0).alias("is_order"),
    )
    u = o.unionByName(e, allowMissingColumns=True)
    w = (
        W.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("is_order").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = u.withColumn(
        "asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w)
    ).withColumn("asof_order_total", F.last("o_totalprice", ignorenulls=True).over(w))
    return carried.filter(F.col("is_order") == 0).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("t").alias("ts"),
        "value",
        "asof_orderkey",
        "asof_order_total",
    )


register(
    "asof_join_events_orders",
    oracle=ASOF_ORACLE,
    doc="As-of join (event -> latest order at-or-before event time) via "
    "union + tagged window: one shuffle, scales linearly (oracle: native "
    "DuckDB ASOF JOIN).",
    tags=("relational", "asof", "window"),
)(build_asof_join_events_orders)


# ---------------------------------------------------------------------------
# Top-k per group — guide pattern; WindowGroupLimit prunes map-side.
# ---------------------------------------------------------------------------

TOP_PARTS_ORACLE = """
WITH rev AS (
    SELECT p.p_brand, l.l_partkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT))
                AS DOUBLE) / 100.0 AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand, l.l_partkey
)
SELECT p_brand, l_partkey, revenue, CAST(rk AS INTEGER) AS rk FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY p_brand ORDER BY revenue DESC, l_partkey) AS rk
    FROM rev
) WHERE rk <= 3
"""


def build_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .parity import exact_sum

    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )
    rk = F.row_number().over(
        W.partitionBy("p_brand").orderBy(F.desc("revenue"), F.col("l_partkey"))
    )
    return rev.withColumn("rk", rk).filter(F.col("rk") <= 3)


register(
    "top_parts_per_brand",
    oracle=TOP_PARTS_ORACLE,
    doc="Top-3 parts by revenue per brand — rank window with deterministic "
    "tiebreak; WindowGroupLimit prunes before the shuffle.",
    tags=("relational", "window", "topk"),
)(build_top_parts_per_brand)


# ---------------------------------------------------------------------------
# Exact percentiles — Spark `percentile` over scaled integers is
# bit-identical to DuckDB quantile_cont (verified incl. fractional
# interpolation); the sort-based exact form is fine per group at any scale
# because each group's values sit on one reducer. percentile_approx is the
# sketch alternative when a single group is itself 100 TB.
# ---------------------------------------------------------------------------

PERCENTILE_ORACLE = """
SELECT
    o_orderstatus,
    CAST(COUNT(*) AS BIGINT) AS n,
    quantile_cont(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 0.25) / 100.0 AS p25,
    quantile_cont(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 0.5) / 100.0 AS median,
    quantile_cont(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 0.75) / 100.0 AS p75,
    quantile_cont(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 0.9) / 100.0 AS p90
FROM orders
GROUP BY o_orderstatus
"""


def build_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = "cast(round(o_totalprice * 100, 0) as bigint)"
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"percentile({cents}, 0.25) / 100.0").alias("p25"),
        F.expr(f"percentile({cents}, 0.5) / 100.0").alias("median"),
        F.expr(f"percentile({cents}, 0.75) / 100.0").alias("p75"),
        F.expr(f"percentile({cents}, 0.9) / 100.0").alias("p90"),
    )


register(
    "percentile_stats",
    oracle=PERCENTILE_ORACLE,
    doc="Exact p25/median/p75/p90 of order totals per status on scaled "
    "integers (cross-engine bit-identical interpolation).",
    tags=("relational", "agg", "percentile"),
)(build_percentile_stats)


# ---------------------------------------------------------------------------
# TPC-H Q1 pricing summary — the canonical OLAP aggregation shape
# (2 group cols, 8 aggregates, date filter pushed to the scan).
# ---------------------------------------------------------------------------

Q1_ORACLE = f"""
SELECT
    l_returnflag,
    l_linestatus,
    SUM(l_quantity) AS sum_qty,
    {o_sum('l_extendedprice', 'sum_base_price')},
    {o_sum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
    {o_avg('l_quantity', 'avg_qty')},
    {o_avg('l_extendedprice', 'avg_price')},
    {o_avg('l_discount', 'avg_disc')},
    COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def build_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spread(table(spark, sf_dir, "lineitem"), spark)
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice", "sum_base_price"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            exact_avg("l_quantity", "avg_qty"),
            exact_avg("l_extendedprice", "avg_price"),
            exact_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


register(
    "q1_pricing_summary",
    oracle=Q1_ORACLE,
    doc="TPC-H Q1 shape: pushed date filter + 2-col groupBy + 8 aggregates "
    "(partial+final hash agg).",
    tags=("relational", "agg", "tpch"),
)(build_q1_pricing_summary)


# ---------------------------------------------------------------------------
# CUBE — all grouping-set combinations (completes rollup/pivot family).
# ---------------------------------------------------------------------------

CUBE_ORACLE = """
SELECT
    o_orderstatus,
    o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def build_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping_id().alias("gid"),
    )


register(
    "cube_sales",
    oracle=CUBE_ORACLE,
    doc="CUBE over (status, priority) with grouping_id (completes the "
    "rollup/pivot grouping-sets family).",
    tags=("relational", "agg", "groupingsets"),
)(build_cube_sales)


# ---------------------------------------------------------------------------
# Unpivot (stack) — wide metrics to long (the .pivot() inverse).
# ---------------------------------------------------------------------------

UNPIVOT_ORACLE = """
WITH wide AS (
    SELECT
        o_orderstatus,
        CAST(COUNT(*) AS DOUBLE) AS n_orders,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS n_customers
    FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, metric, value
FROM wide
UNPIVOT (value FOR metric IN (n_orders, revenue, n_customers))
"""


def build_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        exact_sum("o_totalprice", "revenue"),
        F.countDistinct("o_custkey").cast("double").alias("n_customers"),
    )
    return wide.selectExpr(
        "o_orderstatus",
        "stack(3, 'n_orders', n_orders, 'revenue', revenue, "
        "'n_customers', n_customers) AS (metric, value)",
    )


register(
    "unpivot_metrics",
    oracle=UNPIVOT_ORACLE,
    doc="Unpivot wide metrics to long via stack() (the pivot inverse).",
    tags=("relational", "unpivot"),
)(build_unpivot_metrics)


# ---------------------------------------------------------------------------
# Batch sessionization — lag + cumulative-sum session ids (the batch dual
# of streaming/sessionize.py). Gap comparison on exact integer epoch
# micros; one shuffle (user partition), sessions aggregate in the same
# partitioning — no second exchange.
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30

BATCH_SESSIONS_ORACLE = f"""
WITH ordered AS (
    SELECT user_id, event_id, ts, value,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
marked AS (
    SELECT *, CASE WHEN gap_us IS NULL OR gap_us > {SESSION_GAP_MIN} * 60 * 1000000
                   THEN 1 ELSE 0 END AS is_new
    FROM ordered
),
numbered AS (
    SELECT *, SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM marked
)
SELECT
    user_id,
    CAST(session_seq AS BIGINT) AS session_seq,
    MIN(ts) AS session_start,
    MAX(ts) AS session_end,
    COUNT(*) AS n_events,
    {o_sum('value', 'total_value')}
FROM numbered
GROUP BY user_id, session_seq
"""


def build_batch_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts may arrive as TIMESTAMP_NTZ (parquet without isAdjustedToUTC);
    # unix_micros requires TIMESTAMP, and the session tz is UTC so the cast
    # preserves wall-clock epochs identically to DuckDB's epoch_us.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = ts_us - F.lag(ts_us).over(w)
    marked = events.withColumn(
        "is_new",
        F.when(
            gap_us.isNull() | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000), 1
        ).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", "total_value"),
    )


register(
    "batch_sessions",
    oracle=BATCH_SESSIONS_ORACLE,
    doc="Gap-based sessionization in batch: lag + running-sum session ids "
    "over exact epoch micros (single user-partition shuffle).",
    tags=("relational", "window", "session"),
)(build_batch_sessions)


# ---------------------------------------------------------------------------
# Rolling 7-day revenue — RANGE frame over integer epoch-days (value-based
# frames, distinct from the ROWS frames elsewhere). Ordering on an exact
# integer day number makes the frame semantics identical cross-engine.
# ---------------------------------------------------------------------------

ROLLING_REVENUE_ORACLE = f"""
WITH daily AS (
    SELECT
        CAST(o_orderdate AS DATE) AS d,
        CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
            AS day_num,
        {o_sum('o_totalprice', 'revenue')}
    FROM orders
    GROUP BY 1, 2
)
SELECT
    d,
    revenue,
    SUM(revenue) OVER (
        ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
    ) AS revenue_7d,
    CAST(COUNT(*) OVER (
        ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS days_present_7d
FROM daily
"""


def build_rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("day_num"),
    ).agg(exact_sum("o_totalprice", "revenue"))
    w = Window.orderBy("day_num").rangeBetween(-6, Window.currentRow)
    return daily.select(
        "d",
        "revenue",
        F.sum("revenue").over(w).alias("revenue_7d"),
        F.count(F.lit(1)).over(w).alias("days_present_7d"),
    )


register(
    "rolling_revenue_7d",
    oracle=ROLLING_REVENUE_ORACLE,
    doc="7-day rolling revenue via RANGE frame on integer epoch-days "
    "(value-based window frames; single-partition global window is fine "
    "because the input is one row per DAY, not per order).",
    tags=("relational", "window", "frame"),
)(build_rolling_revenue_7d)


# ---------------------------------------------------------------------------
# Array aggregation — collect_list + sort_array, emitted as a canonical
# CSV string (scalar output keeps the driver's value-hash comparison
# format-independent; the array itself is the same on both engines).
# ---------------------------------------------------------------------------

PART_LISTS_ORACLE = """
SELECT
    l_orderkey,
    CAST(COUNT(*) AS BIGINT) AS n_items,
    string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_partkey) AS parts_csv,
    MIN(l_partkey) AS first_part
FROM lineitem
GROUP BY l_orderkey
"""


def build_order_part_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.array_join(
            F.transform(F.sort_array(F.collect_list("l_partkey")), lambda x: x.cast("string")),
            ",",
        ).alias("parts_csv"),
        F.min("l_partkey").alias("first_part"),
    )


register(
    "order_part_lists",
    oracle=PART_LISTS_ORACLE,
    doc="Array aggregation per order: collect_list -> sort_array -> "
    "canonical CSV (deterministic regardless of arrival order).",
    tags=("relational", "agg", "array"),
)(build_order_part_lists)


# ---------------------------------------------------------------------------
# Column profiling — the ANALYZE/data-quality staple: one row per column
# with null fraction, distinct count, lexical min/max. Built as a union
# of per-column aggregates over ONE pass-shaped scan each; Catalyst
# shares the cached scan across branches and each branch is a partial+
# final agg. For 1000-column tables generate the union programmatically.
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]


def _profile_sql(col: str) -> str:
    return f"""
SELECT
    '{col}' AS col_name,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,
    CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
    CAST(MIN({col}) AS VARCHAR) AS min_str,
    CAST(MAX({col}) AS VARCHAR) AS max_str
FROM orders
"""


PROFILE_ORACLE = " UNION ALL ".join(_profile_sql(c) for c in _PROFILE_COLS)


def build_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            orders.agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_str"),
                F.max(c).cast("string").alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


register(
    "profile_orders",
    oracle=PROFILE_ORACLE,
    doc="Per-column data-quality profile (nulls, distincts, min/max) as a "
    "union of per-column aggregates (ANALYZE analog).",
    tags=("relational", "profiling", "agg"),
)(build_profile_orders)


# ---------------------------------------------------------------------------
# Extended string functions (§2.7 depth) — pad/translate/replace/reverse/
# split_part/position, cross-engine identical.
# ---------------------------------------------------------------------------

STRING_FNS_ORACLE = """
SELECT
    o_orderkey,
    lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS padded_key,
    rpad(o_orderstatus, 3, '_') AS status_padded,
    translate(o_orderpriority, '-', ' ') AS priority_spaced,
    replace(o_orderpriority, 'URGENT', 'RUSH') AS priority_renamed,
    reverse(o_orderstatus) AS status_rev,
    split_part(o_orderpriority, '-', 1) AS priority_num,
    split_part(o_orderpriority, '-', 2) AS priority_word,
    CAST(strpos(o_orderpriority, '-') AS INTEGER) AS dash_pos,
    repeat(o_orderstatus, 2) AS status_x2,
    CAST(starts_with(o_orderpriority, '1') AS BOOLEAN) AS is_urgent
FROM orders
"""


def build_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded_key"),
        F.rpad("o_orderstatus", 3, "_").alias("status_padded"),
        F.translate("o_orderpriority", "-", " ").alias("priority_spaced"),
        F.regexp_replace("o_orderpriority", "URGENT", "RUSH").alias("priority_renamed"),
        F.reverse("o_orderstatus").alias("status_rev"),
        F.split_part("o_orderpriority", F.lit("-"), F.lit(1)).alias("priority_num"),
        F.split_part("o_orderpriority", F.lit("-"), F.lit(2)).alias("priority_word"),
        F.instr("o_orderpriority", "-").alias("dash_pos"),
        F.repeat("o_orderstatus", 2).alias("status_x2"),
        F.startswith(F.col("o_orderpriority"), F.lit("1")).alias("is_urgent"),
    )


register(
    "string_functions",
    oracle=STRING_FNS_ORACLE,
    doc="Extended string-function showcase: pad/translate/replace/reverse/"
    "split_part/instr/repeat/startswith (§2.7 depth).",
    tags=("relational", "scalar", "string"),
)(build_string_functions)


# ---------------------------------------------------------------------------
# Extended date functions (§2.7 depth) — truncation, month arithmetic,
# boundaries, month diffs; cross-engine identical on DATE inputs.
# ---------------------------------------------------------------------------

DATE_FNS_ORACLE = """
SELECT
    o_orderkey,
    CAST(o_orderdate AS DATE) AS d,
    CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
    CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS quarter_start,
    CAST(date_trunc('year', CAST(o_orderdate AS DATE)) AS DATE) AS year_start,
    last_day(CAST(o_orderdate AS DATE)) AS month_end,
    CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3_months,
    CAST(CAST(o_orderdate AS DATE) - INTERVAL 1 MONTH AS DATE) AS minus_1_month,
    CAST((year(CAST(o_orderdate AS DATE)) - 1995) * 12
         + month(CAST(o_orderdate AS DATE)) - 1 AS INTEGER) AS months_since_1995,
    CAST(CAST(o_orderdate AS DATE) = last_day(CAST(o_orderdate AS DATE)) AS BOOLEAN)
        AS is_month_end
FROM orders
"""


def build_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        d.alias("d"),
        F.trunc(d, "month").alias("month_start"),
        F.trunc(d, "quarter").alias("quarter_start"),
        F.trunc(d, "year").alias("year_start"),
        F.last_day(d).alias("month_end"),
        F.add_months(d, 3).alias("plus_3_months"),
        F.add_months(d, -1).alias("minus_1_month"),
        ((F.year(d) - 1995) * 12 + F.month(d) - 1).alias("months_since_1995"),
        (d == F.last_day(d)).alias("is_month_end"),
    )


register(
    "date_functions",
    oracle=DATE_FNS_ORACLE,
    doc="Extended date functions: trunc to month/quarter/year, last_day, "
    "add_months, month arithmetic (§2.7 depth).",
    tags=("relational", "scalar", "date"),
)(build_date_functions)


# ---------------------------------------------------------------------------
# Conditional aggregation — FILTER-clause shapes (count/sum over predicate
# subsets in ONE pass; the alternative — N filtered self-joins — is N
# scans; this is one scan + one agg).
# ---------------------------------------------------------------------------

COND_AGG_ORACLE = f"""
SELECT
    o_orderstatus,
    CAST(COUNT(*) AS BIGINT) AS n_total,
    CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
    CAST(COUNT(*) FILTER (WHERE o_totalprice >= 200000) AS BIGINT) AS n_big,
    {o_sum('o_totalprice', 'revenue_all')},
    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
         FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) / 100.0
        AS revenue_urgent,
    CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE)
        / COUNT(*) AS urgent_rate
FROM orders
GROUP BY o_orderstatus
"""


def build_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .parity import scaled_long

    orders = table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(urgent, 1)).alias("n_urgent"),
        F.count(F.when(F.col("o_totalprice") >= 200000, 1)).alias("n_big"),
        exact_sum("o_totalprice", "revenue_all"),
        (
            F.sum(F.when(urgent, scaled_long("o_totalprice"))).cast("double") / 100.0
        ).alias("revenue_urgent"),
        (F.count(F.when(urgent, 1)).cast("double") / F.count(F.lit(1))).alias(
            "urgent_rate"
        ),
    )


register(
    "conditional_aggregates",
    oracle=COND_AGG_ORACLE,
    doc="FILTER-clause conditional aggregation: predicate-subset counts "
    "and sums in a single scan+agg pass.",
    tags=("relational", "agg", "conditional"),
)(build_conditional_aggregates)


# ---------------------------------------------------------------------------
# GROUPING SETS — explicit set list (the general form of rollup/cube;
# DataFrame.groupingSets is new in Spark 4.x).
# ---------------------------------------------------------------------------

GROUPING_SETS_ORACLE = """
SELECT
    o_orderstatus,
    o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def build_grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping_id().alias("gid"),
    )


register(
    "grouping_sets_sales",
    oracle=GROUPING_SETS_ORACLE,
    doc="Explicit GROUPING SETS ((status, priority), (status), ()) with "
    "grouping_id — the general grouping-sets form (rollup/cube are its "
    "special cases; one Expand + one hash agg).",
    tags=("relational", "agg", "groupingsets"),
)(build_grouping_sets_sales)


# ---------------------------------------------------------------------------
# Distribution window functions — ntile / percent_rank / cume_dist /
# first_value / nth_value / last_value (the analytic-function surface
# window_analytics doesn't cover). Deterministic under the UNIQUE
# (o_totalprice, o_orderkey) order, so both engines agree exactly.
# ---------------------------------------------------------------------------

WINDOW_DISTRIBUTION_ORACLE = """
SELECT
    o_custkey,
    o_orderkey,
    o_totalprice,
    CAST(NTILE(4) OVER w AS INTEGER) AS spend_quartile,
    PERCENT_RANK() OVER w AS pct_rank,
    CUME_DIST() OVER w AS cume,
    FIRST_VALUE(o_totalprice) OVER wf AS min_total,
    NTH_VALUE(o_totalprice, 2) OVER wf AS second_total,
    LAST_VALUE(o_totalprice) OVER wf AS max_total
FROM orders
WINDOW
    w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
    wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def build_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on o_custkey serves every function (same partition +
    order); the full-frame trio shares the single sorted pass. At scale
    the customer key is high-cardinality — no single-partition sort."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.ntile(4).over(w).alias("spend_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_totalprice").over(wf).alias("min_total"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_total"),
        F.last("o_totalprice").over(wf).alias("max_total"),
    )


register(
    "window_distribution",
    oracle=WINDOW_DISTRIBUTION_ORACLE,
    doc="ntile/percent_rank/cume_dist + full-frame first/nth/last value "
    "over a unique total order (analytic-function completeness).",
    tags=("relational", "window"),
)(build_window_distribution)


# ---------------------------------------------------------------------------
# Z-order codes — the multi-dimensional clustering key used by the
# lakehouse write path (sources/txnlog.py append(zorder_by=...),
# functions/zorder.py). Registered so the interleave arithmetic itself is
# oracle-verified bit-for-bit.
# ---------------------------------------------------------------------------

from ..functions.zorder import morton2, sql_morton2  # noqa: E402

ZORDER_ORACLE = f"""
SELECT
    o_orderkey,
    (o_custkey & 65535) AS x,
    (date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 65535) AS y,
    {sql_morton2('(o_custkey & 65535)',
                 "(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 65535)")}
        AS zcode
FROM orders
"""


def build_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only codegen plan (32 shift/mask/add terms, no UDF, no
    shuffle); at write time the same expression feeds repartitionByRange
    so min/max file stats prune on either dimension."""
    orders = table(spark, sf_dir, "orders")
    x = F.col("o_custkey").bitwiseAND(F.lit(65535))
    y = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    ).bitwiseAND(F.lit(65535))
    return orders.select(
        "o_orderkey",
        x.alias("x"),
        y.alias("y"),
        morton2(x, y).alias("zcode"),
    )


register(
    "zorder_code",
    oracle=ZORDER_ORACLE,
    doc="Morton/Z-order interleave of (custkey, epoch-day) — the "
    "multi-dimensional clustering key of the lakehouse write path, "
    "verified bit-for-bit.",
    tags=("relational", "zorder"),
)(build_zorder_code)


# ---------------------------------------------------------------------------
# join_key_skew_report — the diagnostic behind the skew operators
# (operators/skew.py): per-key row counts on both sides of the
# orders⋈lineitem join plus the output-rows product, top 20 hottest keys.
# At 100 TB this is the query you run BEFORE choosing salt factors /
# AQE skew thresholds; two partial+final aggs and a broadcast-sized
# top-k — never materializes the join itself.
# ---------------------------------------------------------------------------

SKEW_REPORT_ORACLE = """
WITH o AS (
    SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
),
l AS (
    SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM lineitem GROUP BY 1
)
SELECT o.key, n_orders, n_lineitems,
       n_orders * n_lineitems AS join_output_rows
FROM o JOIN l ON o.key = l.key
ORDER BY join_output_rows DESC, o.key ASC
LIMIT 20
"""


def build_join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    lineitem = spread(table(spark, sf_dir, "lineitem"), spark)
    o = orders.groupBy(F.col("o_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    li = lineitem.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_lineitems")
    )
    return (
        o.join(li, "key")
        .select(
            "key",
            "n_orders",
            "n_lineitems",
            (F.col("n_orders") * F.col("n_lineitems")).alias("join_output_rows"),
        )
        .orderBy(F.col("join_output_rows").desc(), F.col("key").asc())
        .limit(20)
    )


register(
    "join_key_skew_report",
    oracle=SKEW_REPORT_ORACLE,
    doc="Join-skew diagnostic: per-key cardinalities on both join sides "
    "and the output-rows product, deterministic top-20 — the pre-flight "
    "for salt factors / AQE skew thresholds (never runs the join).",
    tags=("relational", "diagnostic", "skew"),
)(build_join_key_skew_report)


# ---------------------------------------------------------------------------
# window_value_functions — first_value / last_value / nth_value over an
# explicit running frame (§2.5 completeness next to the lag/lead/rank and
# distribution families). Total order (date, orderkey) makes every value
# function deterministic; values pass through untouched (no arithmetic),
# so cross-engine parity is structural.
# ---------------------------------------------------------------------------

WINDOW_VALUE_ORACLE = """
SELECT
    o_custkey,
    o_orderkey,
    o_totalprice,
    FIRST_VALUE(o_totalprice) OVER w AS first_price,
    LAST_VALUE(o_totalprice) OVER w AS latest_price,
    NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
    MAX(o_totalprice) OVER w AS max_price_so_far
FROM orders
WINDOW w AS (
    PARTITION BY o_custkey
    ORDER BY CAST(o_orderdate AS DATE), o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
)
"""


def build_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("date"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("latest_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.max("o_totalprice").over(w).alias("max_price_so_far"),
    )


register(
    "window_value_functions",
    oracle=WINDOW_VALUE_ORACLE,
    doc="first/last/nth_value + running max over an explicit ROWS frame "
    "with a total order (window value-function completeness).",
    tags=("relational", "window"),
)(build_window_value_functions)


# ---------------------------------------------------------------------------
# status_count_map — aggregate-to-map (§2.7 complex-type completeness):
# per customer, status→count entries aggregated and serialized
# canonically (sorted "k:v" CSV) so the result hashes identically
# cross-engine; consumers wanting a real MapType column apply
# str_to_map/map_from_entries over the same entries.
# ---------------------------------------------------------------------------

STATUS_MAP_ORACLE = """
WITH c AS (
    SELECT o_custkey, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1, 2
)
SELECT o_custkey,
       CAST(SUM(n) AS BIGINT) AS n_orders,
       string_agg(o_orderstatus || ':' || CAST(n AS VARCHAR), ','
                  ORDER BY o_orderstatus) AS status_counts
FROM c GROUP BY o_custkey
"""


def build_status_count_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    entries = F.array_sort(
        F.collect_list(F.concat_ws(":", "o_orderstatus", F.col("n").cast("string")))
    )
    return c.groupBy("o_custkey").agg(
        F.sum("n").alias("n_orders"),
        F.array_join(entries, ",").alias("status_counts"),
    )


register(
    "status_count_map",
    oracle=STATUS_MAP_ORACLE,
    doc="Aggregate-to-map: per-customer status→count entries, canonically "
    "serialized (sorted k:v CSV) for cross-engine hashing (complex-type "
    "aggregation completeness).",
    tags=("relational", "agg", "complex-types"),
)(build_status_count_map)


# ---------------------------------------------------------------------------
# median_price_by_status — EXACT grouped median (lower median) without any
# approx-percentile sketch: row_number over the value order picks the
# k-th element, k = (n+1)//2. Deterministic under ties (orderkey
# tie-break selects the same VALUE regardless of tie order). The window
# shuffles once on the group key — the exact-quantile decomposition that
# percentile sketches approximate at scale.
# ---------------------------------------------------------------------------

MEDIAN_ORACLE = """
WITH r AS (
    SELECT o_orderstatus, o_totalprice,
           ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey) AS rn,
           COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
    FROM orders
)
SELECT o_orderstatus,
       CAST(MAX(n) AS BIGINT) AS n_orders,
       MAX(CASE WHEN rn = (n + 1) // 2 THEN o_totalprice END) AS median_price
FROM r
GROUP BY o_orderstatus
"""


def build_median_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderstatus")
    r = orders.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("o_orderstatus").agg(
        F.max("n").alias("n_orders"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(n + 1) div 2"), F.col("o_totalprice")
            )
        ).alias("median_price"),
    )


register(
    "median_price_by_status",
    oracle=MEDIAN_ORACLE,
    doc="Exact grouped lower-median via row_number selection (k=(n+1)//2), "
    "deterministic under ties — the decomposition percentile sketches "
    "approximate.",
    tags=("relational", "window", "agg"),
)(build_median_price_by_status)


# ---------------------------------------------------------------------------
# similar_part_names — fuzzy string-similarity join: near-identical part
# names (levenshtein ≤ 2) within the same (brand, type) block. The
# blocking key bounds the self-join exactly like the dedup candidate
# indexes bound theirs: pairs are per-block, never corpus × corpus.
# levenshtein is an integer metric — bit-identical cross-engine.
# ---------------------------------------------------------------------------

SIMILAR_NAMES_ORACLE = """
SELECT a.p_partkey AS part1, b.p_partkey AS part2,
       a.p_name AS name1, b.p_name AS name2,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_distance
FROM part a
JOIN part b ON a.p_brand = b.p_brand AND a.p_type = b.p_type
           AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2 AND a.p_name <> b.p_name
"""


def build_similar_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spread(table(spark, sf_dir, "part"), spark)
    a = part.select(
        F.col("p_partkey").alias("part1"),
        F.col("p_name").alias("name1"),
        "p_brand",
        "p_type",
    )
    b = part.select(
        F.col("p_partkey").alias("part2"),
        F.col("p_name").alias("name2"),
        F.col("p_brand").alias("b2"),
        F.col("p_type").alias("t2"),
    )
    d = F.levenshtein("name1", "name2")
    return (
        a.join(
            b,
            (F.col("p_brand") == F.col("b2"))
            & (F.col("p_type") == F.col("t2"))
            & (F.col("part1") < F.col("part2")),
        )
        .filter((d <= 2) & (F.col("name1") != F.col("name2")))
        .select("part1", "part2", "name1", "name2", d.cast("int").alias("edit_distance"))
    )


register(
    "similar_part_names",
    oracle=SIMILAR_NAMES_ORACLE,
    doc="Fuzzy-match join: levenshtein ≤ 2 within (brand, type) blocks — "
    "blocking bounds the self-join the way dedup indexes bound theirs; "
    "integer metric, bit-identical cross-engine.",
    tags=("relational", "join", "fuzzy"),
)(build_similar_part_names)


# ---------------------------------------------------------------------------
# hopping_event_counts — batch hopping (sliding) windows via Spark's
# native window(ts, '1 hour', '30 minutes'): each event lands in 2
# overlapping windows. The oracle unrolls the same assignment with
# time_bucket ± the slide. Demonstrates the batch face of the streaming
# windowed aggregation (streaming/aggregates.py uses the identical
# expression on a stream).
# ---------------------------------------------------------------------------

HOPPING_ORACLE = """
WITH e AS (
    SELECT event_type,
           unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                   time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
               AS window_start
    FROM events
)
SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM e
GROUP BY 1, 2
"""


def build_hopping_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spread(table(spark, sf_dir, "events"), spark)
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


register(
    "hopping_event_counts",
    oracle=HOPPING_ORACLE,
    doc="Hopping (sliding) window counts in batch via native "
    "window(1h, 30m) — every event in 2 overlapping windows; the batch "
    "face of the streaming windowed aggregate.",
    tags=("relational", "window", "timeseries"),
)(build_hopping_event_counts)


# ---------------------------------------------------------------------------
# table_diff_reconcile — table-version reconciliation: classify every
# primary key as added / removed / changed / unchanged between two
# versions via ONE full outer join on the key with row-hash comparison —
# the validation query behind CDC replays, migration cutovers and
# backfills. v2 is derived deterministically from orders (drop every
# 100th key, bump price on 'P' rows) so the oracle sees the same pair.
# ---------------------------------------------------------------------------

TABLE_DIFF_ORACLE = """
WITH v1 AS (
    SELECT o_orderkey AS pk,
           md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|'
               || CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR))
               AS row_hash
    FROM orders
),
v2 AS (
    SELECT o_orderkey AS pk,
           md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|'
               || CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                       + CASE WHEN o_orderstatus = 'P' THEN 1000 ELSE 0 END
                       AS VARCHAR)) AS row_hash
    FROM orders
    WHERE o_orderkey % 100 <> 0
)
SELECT
    CASE WHEN v2.pk IS NULL THEN 'removed'
         WHEN v1.pk IS NULL THEN 'added'
         WHEN v1.row_hash <> v2.row_hash THEN 'changed'
         ELSE 'unchanged' END AS diff_type,
    CAST(COUNT(*) AS BIGINT) AS n_keys
FROM v1 FULL OUTER JOIN v2 ON v1.pk = v2.pk
GROUP BY 1
"""


def build_table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .parity import scaled_long

    orders = table(spark, sf_dir, "orders")

    def hashed(df: DataFrame, bump: bool) -> DataFrame:
        cents = scaled_long("o_totalprice") + (
            F.when(F.col("o_orderstatus") == "P", 1000).otherwise(0)
            if bump
            else F.lit(0)
        )
        return df.select(
            F.col("o_orderkey").alias("pk"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_custkey").cast("string"),
                    "o_orderstatus",
                    cents.cast("string"),
                )
            ).alias("row_hash"),
        )

    v1 = hashed(orders, bump=False)
    v2 = hashed(orders.filter(F.col("o_orderkey") % 100 != 0), bump=True)
    j = v1.alias("a").join(v2.alias("b"), F.col("a.pk") == F.col("b.pk"), "full_outer")
    diff_type = (
        F.when(F.col("b.pk").isNull(), "removed")
        .when(F.col("a.pk").isNull(), "added")
        .when(F.col("a.row_hash") != F.col("b.row_hash"), "changed")
        .otherwise("unchanged")
    )
    return j.groupBy(diff_type.alias("diff_type")).agg(
        F.count(F.lit(1)).alias("n_keys")
    )


register(
    "table_diff_reconcile",
    oracle=TABLE_DIFF_ORACLE,
    doc="Table-version reconciliation: one full outer join on the pk with "
    "row-hash compare, classifying added/removed/changed/unchanged (CDC "
    "replay / migration validation query).",
    tags=("relational", "join", "reconcile"),
)(build_table_diff_reconcile)


# ---------------------------------------------------------------------------
# view_to_purchase_1h — time-bounded attribution: for every purchase, was
# there a view by the same user in the preceding hour? RANGE window over
# integer epoch-seconds with a conditional count — per-user single
# shuffle, no self-join, no explosion (the window-frame formulation of
# the "A then B within T" sequence pattern).
# ---------------------------------------------------------------------------

ATTRIBUTION_ORACLE = """
WITH e AS (
    SELECT user_id, event_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS sec
    FROM events WHERE event_type IN ('view', 'purchase')
),
w AS (
    SELECT *,
           SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS views_1h
    FROM e
)
SELECT
    CAST(COUNT(*) AS BIGINT) AS n_purchases,
    CAST(COUNT(*) FILTER (WHERE views_1h > 0) AS BIGINT) AS with_view_1h,
    CAST(COUNT(*) FILTER (WHERE views_1h > 0) AS DOUBLE) / COUNT(*)
        AS attribution_rate
FROM w WHERE event_type = 'purchase'
"""


def build_view_to_purchase_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spread(table(spark, sf_dir, "events"), spark)
    e = events.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    flagged = e.withColumn(
        "views_1h",
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(w),
    ).filter(F.col("event_type") == "purchase")
    hit = F.when(F.col("views_1h") > 0, 1).otherwise(0)
    return flagged.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(hit).alias("with_view_1h"),
        (F.sum(hit).cast("double") / F.count(F.lit(1))).alias("attribution_rate"),
    )


register(
    "view_to_purchase_1h",
    oracle=ATTRIBUTION_ORACLE,
    doc="Time-bounded attribution (A-then-B-within-T): RANGE frame over "
    "epoch seconds counts preceding views per purchase — one keyed "
    "shuffle, no self-join.",
    tags=("relational", "window", "behavior"),
)(build_view_to_purchase_1h)


# ---------------------------------------------------------------------------
# order_day_streaks — gaps-and-islands: longest run of CONSECUTIVE order
# days per customer via the row_number difference trick (day_num - rn is
# constant within an island). One keyed shuffle, two hash aggregates —
# the canonical sessionization-without-timestamps pattern.
# ---------------------------------------------------------------------------

STREAKS_ORACLE = """
WITH d AS (
    SELECT DISTINCT o_custkey,
           CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
                AS BIGINT) AS day_num
    FROM orders
),
isl AS (
    SELECT o_custkey, day_num,
           day_num - ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY day_num) AS island
    FROM d
),
runs AS (
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM isl GROUP BY o_custkey, island
)
SELECT o_custkey,
       MAX(streak_days) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM runs GROUP BY o_custkey
"""


def build_order_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    d = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("long")
        .alias("day_num"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("day_num")
    isl = d.withColumn("island", F.col("day_num") - F.row_number().over(w))
    runs = isl.groupBy("o_custkey", "island").agg(
        F.count(F.lit(1)).alias("streak_days")
    )
    return runs.groupBy("o_custkey").agg(
        F.max("streak_days").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


register(
    "order_day_streaks",
    oracle=STREAKS_ORACLE,
    doc="Gaps-and-islands: longest consecutive-order-day run per customer "
    "via the row_number difference trick (one keyed shuffle).",
    tags=("relational", "window", "pattern"),
)(build_order_day_streaks)


# ---------------------------------------------------------------------------
# relational_division — "customers who ordered EVERY part in the set":
# the classic division pattern, executed as filter → distinct pairs →
# per-customer distinct count == |set|. The part set is a literal (in a
# real pipeline, a broadcast dim); work is one filtered scan + one agg.
# ---------------------------------------------------------------------------

DIVISION_PARTS = (0, 1, 2, 3, 4)

RELATIONAL_DIVISION_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT o_custkey, l_partkey
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_partkey IN {DIVISION_PARTS}
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_parts_from_set
FROM pairs
GROUP BY o_custkey
HAVING COUNT(*) = {len(DIVISION_PARTS)}
"""


def build_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    lineitem = spread(table(spark, sf_dir, "lineitem"), spark)
    pairs = (
        lineitem.filter(F.col("l_partkey").isin(*DIVISION_PARTS))
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    return (
        pairs.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_parts_from_set"))
        .filter(F.col("n_parts_from_set") == len(DIVISION_PARTS))
    )


register(
    "relational_division",
    oracle=RELATIONAL_DIVISION_ORACLE,
    doc="Relational division (customers who ordered EVERY part in a "
    "5-part set): filtered scan -> distinct pairs -> count==|set| "
    "(the division-as-counting formulation).",
    tags=("relational", "join", "pattern"),
)(build_relational_division)


# ---------------------------------------------------------------------------
# user_weekday_bitmask — bitwise aggregation (§2.7 completeness): each
# user's active weekdays packed into a 7-bit mask with bit_or(1 << dow),
# plus bit_count for the cardinality — the compact "activity calendar"
# encoding used for segment filters (mask & pattern) without arrays.
# ---------------------------------------------------------------------------

BITMASK_ORACLE = """
WITH d AS (
    SELECT user_id,
           CAST(isodow(CAST(ts AS DATE)) AS BIGINT) - 1 AS dow
    FROM events
)
SELECT user_id,
       CAST(bit_or(CAST(1 AS BIGINT) << dow) AS BIGINT) AS weekday_mask,
       CAST(bit_count(bit_or(CAST(1 AS BIGINT) << dow)) AS BIGINT)
           AS n_active_weekdays
FROM d
GROUP BY user_id
"""


def build_user_weekday_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spread(table(spark, sf_dir, "events"), spark)
    # Monday=0 … Sunday=6, matching DuckDB's isodow()-1
    dow = (F.dayofweek(F.col("ts").cast("date")) + 5) % 7
    d = events.select("user_id", dow.cast("long").alias("dow"))
    # F.shiftleft takes only a literal shift in PySpark; the SQL function
    # accepts a column, so build the term with expr()
    mask = F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(dow AS INT))"))
    return d.groupBy("user_id").agg(
        mask.alias("weekday_mask"),
        F.bit_count(mask).cast("long").alias("n_active_weekdays"),
    )


register(
    "user_weekday_bitmask",
    oracle=BITMASK_ORACLE,
    doc="Bitwise aggregation: per-user active-weekday 7-bit mask via "
    "bit_or(1 << dow) + bit_count (compact activity-calendar encoding).",
    tags=("relational", "agg", "bitwise"),
)(build_user_weekday_bitmask)


# ---------------------------------------------------------------------------
# orderkey_gaps — sequence-gap detection (the islands complement): holes
# in the orderkey sequence found with a range-bucketed lead() window plus
# bucket-seam stitching — the data-integrity audit for surrogate-key
# continuity after loads/replays.
# ---------------------------------------------------------------------------

ORDERKEY_GAPS_ORACLE = """
WITH s AS (
    SELECT o_orderkey,
           LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS next_key
    FROM orders
)
SELECT o_orderkey + 1 AS gap_start,
       next_key - 1 AS gap_end,
       CAST(next_key - o_orderkey - 1 AS BIGINT) AS gap_len
FROM s WHERE next_key - o_orderkey > 1
"""


def build_orderkey_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ranking import sequence_gaps

    orders = table(spark, sf_dir, "orders")
    # VERDICT r4 task 1: lead() over the full key set ran in ONE task —
    # replaced by the range-bucketed gap finder (in-bucket lead + seam
    # stitching from per-bucket [min, max]).
    return sequence_gaps(orders.select("o_orderkey"), "o_orderkey")


register(
    "orderkey_gaps",
    oracle=ORDERKEY_GAPS_ORACLE,
    doc="Sequence-gap detection: holes in the orderkey sequence via "
    "range-bucketed lead() + seam stitching from per-bucket [min, max] "
    "(surrogate-key continuity audit, no single-partition window).",
    tags=("relational", "window", "audit"),
)(build_orderkey_gaps)


# ---------------------------------------------------------------------------
# modal_priority_by_status — EXACT mode per group: most frequent order
# priority per status, decomposed as count + deterministic rank (count
# DESC, value ASC) — the exact form of what approx top-k sketches
# estimate; two hash aggregates and a tiny window.
# ---------------------------------------------------------------------------

MODE_ORACLE = """
WITH c AS (
    SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1, 2
),
r AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderstatus ORDER BY n DESC, o_orderpriority ASC) AS rn
    FROM c
)
SELECT o_orderstatus, o_orderpriority AS modal_priority, n AS n_orders
FROM r WHERE rn = 1
"""


def build_modal_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("n_orders"),
        )
    )


register(
    "modal_priority_by_status",
    oracle=MODE_ORACLE,
    doc="Exact per-group mode with deterministic tie-break (count DESC, "
    "value ASC) — the exact form approx top-k sketches estimate.",
    tags=("relational", "agg", "window"),
)(build_modal_priority_by_status)


# ---------------------------------------------------------------------------
# basket_size_histogram — distribution of group sizes: items per order,
# then orders per size — two chained hash aggregates (the group-size
# histogram every skew/bucketing decision starts from).
# ---------------------------------------------------------------------------

BASKET_SIZE_ORACLE = """
WITH s AS (
    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS basket_size
    FROM lineitem GROUP BY l_orderkey
)
SELECT basket_size,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(basket_size * COUNT(*) AS BIGINT) AS n_items
FROM s GROUP BY basket_size
"""


def build_basket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = spread(table(spark, sf_dir, "lineitem"), spark)
    s = lineitem.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("basket_size"))
    return s.groupBy("basket_size").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.col("basket_size") * F.count(F.lit(1))).alias("n_items"),
    )


register(
    "basket_size_histogram",
    oracle=BASKET_SIZE_ORACLE,
    doc="Group-size distribution (items per order, orders per size) — "
    "two chained hash aggregates; the histogram behind skew/bucketing "
    "decisions.",
    tags=("relational", "agg"),
)(build_basket_size_histogram)


# ---------------------------------------------------------------------------
# price_minmax_scaled — per-group min-max feature scaling: (x - min) /
# (max - min) within brand, NULL when the group is constant. Exact cent
# integers in numerator and denominator; one division per row — the
# feature-engineering normalization an ML pipeline pushes down to the
# engine instead of pulling data out.
# ---------------------------------------------------------------------------

MINMAX_ORACLE = """
WITH p AS (
    SELECT p_partkey, p_brand,
           CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_c
    FROM part
),
g AS (
    SELECT *, MIN(price_c) OVER w AS min_c, MAX(price_c) OVER w AS max_c
    FROM p
    WINDOW w AS (PARTITION BY p_brand)
)
SELECT p_partkey, p_brand,
       CAST(price_c AS DOUBLE) / 100.0 AS price,
       CASE WHEN max_c > min_c
            THEN CAST(price_c - min_c AS DOUBLE) / (max_c - min_c) END
           AS price_scaled
FROM g
"""


def build_price_minmax_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .parity import scaled_long

    part = spread(table(spark, sf_dir, "part"), spark)
    p = part.select(
        "p_partkey", "p_brand", scaled_long("p_retailprice").alias("price_c")
    )
    w = Window.partitionBy("p_brand")
    g = p.withColumn("min_c", F.min("price_c").over(w)).withColumn(
        "max_c", F.max("price_c").over(w)
    )
    return g.select(
        "p_partkey",
        "p_brand",
        (F.col("price_c").cast("double") / 100.0).alias("price"),
        F.when(
            F.col("max_c") > F.col("min_c"),
            (F.col("price_c") - F.col("min_c")).cast("double")
            / (F.col("max_c") - F.col("min_c")),
        ).alias("price_scaled"),
    )


register(
    "price_minmax_scaled",
    oracle=MINMAX_ORACLE,
    doc="Per-group min-max feature scaling on exact cent integers "
    "(NULL for constant groups) — ML normalization pushed into the "
    "engine.",
    tags=("relational", "window", "ml"),
)(build_price_minmax_scaled)


# ---------------------------------------------------------------------------
# qty_weighted_price — weighted average (sum(w·x)/sum(w)): quantity-
# weighted unit price per part type. Numerator is an exact integer sum of
# cent·quantity products; ONE division at the end — the weighted-agg
# pattern plain AVG silently gets wrong.
# ---------------------------------------------------------------------------

WEIGHTED_AVG_ORACLE = """
SELECT p_type,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(l_quantity AS BIGINT)) AS BIGINT) AS weighted_cents,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(l_quantity AS BIGINT)) AS DOUBLE)
           / 100.0 / SUM(CAST(l_quantity AS BIGINT)) AS qty_weighted_price
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
"""


def build_qty_weighted_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .parity import scaled_long

    lineitem = spread(table(spark, sf_dir, "lineitem"), spark)
    part = table(spark, sf_dir, "part")
    wsum = F.sum(scaled_long("l_extendedprice") * F.col("l_quantity").cast("long"))
    qsum = F.sum(F.col("l_quantity").cast("long"))
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            wsum.alias("weighted_cents"),
            qsum.alias("total_qty"),
            (wsum.cast("double") / 100.0 / qsum).alias("qty_weighted_price"),
        )
    )


register(
    "qty_weighted_price",
    oracle=WEIGHTED_AVG_ORACLE,
    doc="Weighted average (sum(w*x)/sum(w)): quantity-weighted unit price "
    "per part type on exact integer products, one final division.",
    tags=("relational", "agg", "broadcast"),
)(build_qty_weighted_price)


# ---------------------------------------------------------------------------
# repeat_purchase_overlap — lag over an ARRAY column: each order's part
# list compared to the same customer's previous order via
# array_intersect(parts, lag(parts)) — complex-type window completeness
# (arrays flow through the shuffle and the frame, not just scalars).
# Output is scalar counts; the arrays stay internal.
# ---------------------------------------------------------------------------

REPEAT_OVERLAP_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od,
           list_sort(list_distinct(list(l_partkey))) AS parts
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2, 3
),
w AS (
    SELECT o_orderkey, o_custkey,
           len(parts) AS n_parts,
           len(list_intersect(parts,
               LAG(parts) OVER (PARTITION BY o_custkey
                                ORDER BY od, o_orderkey))) AS n_repeat
    FROM o
)
SELECT o_orderkey, o_custkey,
       CAST(n_parts AS BIGINT) AS n_parts,
       CAST(n_repeat AS BIGINT) AS n_repeat_parts
FROM w WHERE n_repeat IS NOT NULL AND n_repeat > 0
"""


def build_repeat_purchase_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    lineitem = spread(table(spark, sf_dir, "lineitem"), spark)
    o = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("od")
        )
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    prev = F.lag("parts").over(w)
    out = o.select(
        "o_orderkey",
        "o_custkey",
        F.size("parts").cast("long").alias("n_parts"),
        F.size(F.array_intersect("parts", prev)).cast("long").alias("n_repeat_parts"),
    )
    return out.filter(
        F.col("n_repeat_parts").isNotNull() & (F.col("n_repeat_parts") > 0)
    )


register(
    "repeat_purchase_overlap",
    oracle=REPEAT_OVERLAP_ORACLE,
    doc="Lag over an array column: each order's distinct part list "
    "intersected with the customer's previous order (complex types "
    "through window frames; scalar output).",
    tags=("relational", "window", "complex-types"),
)(build_repeat_purchase_overlap)


# ---------------------------------------------------------------------------
# user_recency — event-side recency report: each user's last-activity
# day, event count, and days inactive relative to the corpus end (the
# recency axis of churn scoring; the corpus end is a 1-row S12 fetch
# broadcast into the projection).
# ---------------------------------------------------------------------------

USER_RECENCY_ORACLE = """
WITH m AS (SELECT MAX(CAST(ts AS DATE)) AS max_d FROM events),
u AS (
    SELECT user_id, MAX(CAST(ts AS DATE)) AS last_d,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
)
SELECT user_id, last_d, n_events,
       CAST(date_diff('day', last_d, (SELECT max_d FROM m)) AS BIGINT)
           AS days_inactive
FROM u
"""


def build_user_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spread(table(spark, sf_dir, "events"), spark)
    max_d = events.agg(F.max(F.col("ts").cast("date"))).first()[0]  # S12
    u = events.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_d"),
        F.count(F.lit(1)).alias("n_events"),
    )
    days = F.datediff(F.lit(max_d).cast("date"), F.col("last_d"))
    return u.select(
        "user_id", "last_d", "n_events", days.cast("long").alias("days_inactive")
    )


register(
    "user_recency",
    oracle=USER_RECENCY_ORACLE,
    doc="Event-side recency report (churn scoring's recency axis): "
    "per-user last-activity day + days inactive vs corpus end.",
    tags=("relational", "agg", "behavior"),
)(build_user_recency)


# ---------------------------------------------------------------------------
# order_value_deciles — equi-depth decile SUMMARY: ntile(10) over order
# totals, then per-decile bounds and mass (the distribution table a
# pricing dashboard shows; row-level ntile lives in window_distribution).
# ---------------------------------------------------------------------------

DECILES_ORACLE = """
WITH t AS (
    SELECT o_totalprice,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
           NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
    FROM orders
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS min_value,
       MAX(o_totalprice) AS max_value,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value
FROM t GROUP BY decile
"""


def build_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ranking import global_row_number, ntile_from_rank
    from .parity import scaled_long

    orders = table(spark, sf_dir, "orders")
    # VERDICT r4 task 1: ntile(10) with no PARTITION BY collapsed ALL
    # orders into one task. Distributed rewrite = exact global row_number
    # (value-range buckets + offset fold) + the closed-form NTILE —
    # identical semantics, proven by the DuckDB NTILE oracle.
    ranked, total = global_row_number(
        orders.select(
            "o_totalprice",
            "o_orderkey",
            scaled_long("o_totalprice").alias("cents"),
        ),
        ["o_totalprice", "o_orderkey"],
    )
    t = ranked.select(
        "o_totalprice",
        "cents",
        ntile_from_rank(F.col("rn"), total, 10).alias("decile"),
    )
    return t.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_value"),
        F.max("o_totalprice").alias("max_value"),
        (F.sum("cents").cast("double") / 100.0).alias("total_value"),
    )


register(
    "order_value_deciles",
    oracle=DECILES_ORACLE,
    doc="Equi-depth decile summary: ntile(10) with total-order tie-break, "
    "per-decile bounds and exact mass.",
    tags=("relational", "window", "bi"),
)(build_order_value_deciles)


# ---------------------------------------------------------------------------
# brand_affinity_lift — market-basket LIFT at the brand level:
# lift(a,b) = P(a,b) / (P(a)·P(b)) = n_ab·n_orders / (n_a·n_b), computed
# entirely on exact integer counts with ONE final division. Candidate
# pairs come from the order-keyed self-join (bounded by basket size);
# the marginals join back by brand — the association-rule primitive.
# ---------------------------------------------------------------------------

AFFINITY_ORACLE = """
WITH ob AS (
    SELECT DISTINCT l_orderkey, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM lineitem),
marg AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM ob GROUP BY 1),
pairs AS (
    SELECT a.p_brand AS brand1, b.p_brand AS brand2,
           CAST(COUNT(*) AS BIGINT) AS n_ab
    FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                       AND a.p_brand < b.p_brand
    GROUP BY 1, 2
)
SELECT brand1, brand2, n_ab, m1.n_b AS n_brand1, m2.n_b AS n_brand2,
       CAST(n_ab * (SELECT n_orders FROM n) AS DOUBLE) / (m1.n_b * m2.n_b)
           AS lift
FROM pairs
JOIN marg m1 ON brand1 = m1.p_brand
JOIN marg m2 ON brand2 = m2.p_brand
"""


def build_brand_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = spread(table(spark, sf_dir, "lineitem"), spark)
    part = table(spark, sf_dir, "part")
    ob = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = lineitem.select("l_orderkey").distinct().count()  # S12 scalar
    marg = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    a = ob.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand1"))
    b = ob.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand2"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("brand1") < F.col("brand2"))
        .groupBy("brand1", "brand2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    m1 = marg.select(F.col("p_brand").alias("brand1"), F.col("n_b").alias("n_brand1"))
    m2 = marg.select(F.col("p_brand").alias("brand2"), F.col("n_b").alias("n_brand2"))
    return (
        pairs.join(F.broadcast(m1), "brand1")
        .join(F.broadcast(m2), "brand2")
        .select(
            "brand1",
            "brand2",
            "n_ab",
            "n_brand1",
            "n_brand2",
            (
                (F.col("n_ab") * F.lit(n_orders)).cast("double")
                / (F.col("n_brand1") * F.col("n_brand2"))
            ).alias("lift"),
        )
    )


register(
    "brand_affinity_lift",
    oracle=AFFINITY_ORACLE,
    doc="Association-rule lift at brand level: exact integer counts, one "
    "final division; pair fan-out bounded by basket size, marginals "
    "broadcast back.",
    tags=("relational", "join", "bi"),
)(build_brand_affinity_lift)


# ---------------------------------------------------------------------------
# top_parts_with_ties — tie-INCLUSIVE top-k per group via dense_rank ≤ k:
# semantically different from row_number top-k (equal revenues all make
# the cut, so group output size varies) — the completeness counterpart
# to top_parts_per_brand. Plan: same single keyed window shuffle.
# ---------------------------------------------------------------------------

TOP_TIES_ORACLE = """
WITH r AS (
    SELECT p_brand, l_partkey,
           SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS rev_c
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, l_partkey
),
d AS (
    SELECT *, DENSE_RANK() OVER (
        PARTITION BY p_brand ORDER BY rev_c DESC) AS drk
    FROM r
)
SELECT p_brand, l_partkey,
       CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
       CAST(drk AS BIGINT) AS revenue_rank
FROM d WHERE drk <= 3
"""


def build_top_parts_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .parity import scaled_long

    lineitem = spread(table(spark, sf_dir, "lineitem"), spark)
    part = table(spark, sf_dir, "part")
    r = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(scaled_long("l_extendedprice")).alias("rev_c"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("rev_c").desc())
    return (
        r.withColumn("drk", F.dense_rank().over(w))
        .filter(F.col("drk") <= 3)
        .select(
            "p_brand",
            "l_partkey",
            (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
            F.col("drk").cast("long").alias("revenue_rank"),
        )
    )


register(
    "top_parts_with_ties",
    oracle=TOP_TIES_ORACLE,
    doc="Tie-inclusive top-3 per brand via dense_rank <= k (all equal "
    "revenues make the cut — the semantic row_number top-k misses).",
    tags=("relational", "window", "topk"),
)(build_top_parts_with_ties)


# ---------------------------------------------------------------------------
# null_safe_join_counts — NULL-safe equality join (<=> / IS NOT DISTINCT
# FROM): rows whose join key is NULL match EACH OTHER instead of
# vanishing — the semantic a plain inner join silently drops. Key is a
# derived nullable (priority for open orders, NULL otherwise); output
# proves the NULL bucket joins: one row per key pair incl. the NULL one.
# ---------------------------------------------------------------------------

NULL_SAFE_JOIN_ORACLE = """
WITH k AS (
    SELECT CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderpriority END
               AS join_key,
           o_orderkey
    FROM orders
),
agg AS (SELECT join_key, CAST(COUNT(*) AS BIGINT) AS n FROM k GROUP BY join_key)
SELECT a.join_key AS key_repr,
       a.n AS n_left,
       b.n AS n_right,
       CAST(a.n * b.n AS BIGINT) AS n_joined_pairs
FROM agg a JOIN agg b ON a.join_key IS NOT DISTINCT FROM b.join_key
"""


def build_null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    k = orders.select(
        F.when(
            F.col("o_orderstatus") == "O", F.lit(None).cast("string")
        )
        .otherwise(F.col("o_orderpriority"))
        .alias("join_key")
    )
    agg = k.groupBy("join_key").agg(F.count(F.lit(1)).alias("n"))
    a = agg.select(F.col("join_key").alias("key_repr"), F.col("n").alias("n_left"))
    b = agg.select(F.col("join_key").alias("kb"), F.col("n").alias("n_right"))
    return (
        a.join(b, F.col("key_repr").eqNullSafe(F.col("kb")))
        .select(
            "key_repr",
            "n_left",
            "n_right",
            (F.col("n_left") * F.col("n_right")).alias("n_joined_pairs"),
        )
    )


register(
    "null_safe_join_counts",
    oracle=NULL_SAFE_JOIN_ORACLE,
    doc="NULL-safe equality join (eqNullSafe / IS NOT DISTINCT FROM): "
    "the NULL-key bucket joins itself instead of being dropped (join "
    "semantics completeness).",
    tags=("relational", "join", "null-semantics"),
)(build_null_safe_join_counts)


# ---------------------------------------------------------------------------
# event_burst_minutes — ops anomaly detection: minutes whose event count
# exceeds 3× the trailing 60-minute average. Composite windows (count
# per minute, then a trailing frame over the minute series); the
# comparison multiplies through by the window length so it stays in
# exact integers — no float threshold.
# ---------------------------------------------------------------------------

BURST_ORACLE = """
WITH m AS (
    SELECT time_bucket(INTERVAL 1 MINUTE, ts) AS minute,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
),
w AS (
    SELECT minute, n,
           SUM(n) OVER (ORDER BY minute ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING)
               AS trailing_sum,
           COUNT(*) OVER (ORDER BY minute ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING)
               AS trailing_n
    FROM m
)
SELECT minute, n,
       CAST(trailing_sum AS BIGINT) AS trailing_sum,
       CAST(trailing_n AS BIGINT) AS trailing_n,
       CAST(n AS DOUBLE) * trailing_n / trailing_sum AS burst_ratio
FROM w
WHERE trailing_n > 0 AND n * trailing_n > 3 * trailing_sum
"""


def build_event_burst_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spread(table(spark, sf_dir, "events"), spark)
    m = events.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count(F.lit(1)).alias("n"))
    # minute-grain series: single-partition trailing frame is the plan
    # (calendar-sized); partition by entity for multi-tenant variants
    w = Window.orderBy("minute").rowsBetween(-60, -1)
    g = m.withColumn("trailing_sum", F.sum("n").over(w)).withColumn(
        "trailing_n", F.count(F.lit(1)).over(w)
    )
    return g.filter(
        (F.col("trailing_n") > 0)
        & (F.col("n") * F.col("trailing_n") > 3 * F.col("trailing_sum"))
    ).select(
        "minute",
        "n",
        F.col("trailing_sum").cast("long").alias("trailing_sum"),
        F.col("trailing_n").cast("long").alias("trailing_n"),
        (
            F.col("n").cast("double") * F.col("trailing_n") / F.col("trailing_sum")
        ).alias("burst_ratio"),
    )


register(
    "event_burst_minutes",
    oracle=BURST_ORACLE,
    doc="Burst detection: minutes above 3x the trailing-hour average "
    "(integer cross-multiplied threshold, window-over-window).",
    tags=("relational", "window", "timeseries", "anomaly"),
)(build_event_burst_minutes)


# ---------------------------------------------------------------------------
# order_value_mad — median absolute deviation per status: the robust
# dispersion statistic, built by applying the exact-median decomposition
# (row_number selection at k=(n+1)//2) TWICE — once for the center, once
# over |x - median|. All selection on exact cents; the only doubles are
# the final display casts.
# ---------------------------------------------------------------------------

MAD_ORACLE = """
WITH c AS (
    SELECT o_orderstatus, o_orderkey,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
    FROM orders
),
med AS (
    SELECT o_orderstatus,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med_c
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY o_orderstatus ORDER BY cents, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        FROM c
    ) GROUP BY o_orderstatus
),
dev AS (
    SELECT c.o_orderstatus, c.o_orderkey,
           abs(c.cents - med.med_c) AS adev
    FROM c JOIN med ON c.o_orderstatus = med.o_orderstatus
),
mad AS (
    SELECT o_orderstatus,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN adev END) AS mad_c
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY o_orderstatus ORDER BY adev, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        FROM dev
    ) GROUP BY o_orderstatus
)
SELECT med.o_orderstatus,
       CAST(med.med_c AS DOUBLE) / 100.0 AS median_value,
       CAST(mad.mad_c AS DOUBLE) / 100.0 AS mad_value
FROM med JOIN mad ON med.o_orderstatus = mad.o_orderstatus
"""


def build_order_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .parity import scaled_long

    orders = table(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderstatus", "o_orderkey", scaled_long("o_totalprice").alias("cents")
    )

    def exact_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("o_orderstatus").orderBy(val, "o_orderkey")
        wn = Window.partitionBy("o_orderstatus")
        r = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(wn)
        )
        return r.groupBy("o_orderstatus").agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col(val))
            ).alias(out)
        )

    med = exact_median(c, "cents", "med_c")
    dev = c.join(med, "o_orderstatus").select(
        "o_orderstatus",
        "o_orderkey",
        F.abs(F.col("cents") - F.col("med_c")).alias("adev"),
    )
    mad = exact_median(dev, "adev", "mad_c")
    return med.join(mad, "o_orderstatus").select(
        "o_orderstatus",
        (F.col("med_c").cast("double") / 100.0).alias("median_value"),
        (F.col("mad_c").cast("double") / 100.0).alias("mad_value"),
    )


register(
    "order_value_mad",
    oracle=MAD_ORACLE,
    doc="Median absolute deviation per status: the exact-median "
    "decomposition applied twice (center, then |x-median|) on exact "
    "cents — robust dispersion without sketches.",
    tags=("relational", "window", "agg", "robust"),
)(build_order_value_mad)


# ---------------------------------------------------------------------------
# revenue_mad_outlier_days — robust outlier detection on the daily
# revenue series: flag days with |x − median| > 3·MAD. Unlike z-scores
# (whose squared sums overflow BIGINT at scale), the MAD rule stays in
# linear integer cents end-to-end — no floats, no overflow headroom
# gymnastics; the robust-statistics path that survives 100 TB.
# ---------------------------------------------------------------------------

MAD_OUTLIER_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
    FROM orders GROUP BY 1
),
med AS (
    SELECT MAX(CASE WHEN rn = (n + 1) // 2 THEN rev_c END) AS med_c
    FROM (SELECT rev_c,
                 ROW_NUMBER() OVER (ORDER BY rev_c, d) AS rn,
                 COUNT(*) OVER () AS n
          FROM daily)
),
mad AS (
    SELECT MAX(CASE WHEN rn = (n + 1) // 2 THEN adev END) AS mad_c
    FROM (SELECT abs(rev_c - (SELECT med_c FROM med)) AS adev,
                 ROW_NUMBER() OVER (
                     ORDER BY abs(rev_c - (SELECT med_c FROM med)), d) AS rn,
                 COUNT(*) OVER () AS n
          FROM daily)
)
SELECT d,
       CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
       CAST((SELECT med_c FROM med) AS DOUBLE) / 100.0 AS median_revenue,
       CAST((SELECT mad_c FROM mad) AS DOUBLE) / 100.0 AS mad_revenue
FROM daily
WHERE abs(rev_c - (SELECT med_c FROM med)) > 3 * (SELECT mad_c FROM mad)
"""


def build_revenue_mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .parity import scaled_long

    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(scaled_long("o_totalprice")).alias("rev_c")
    )

    def global_median(df: DataFrame, val: str):
        w = Window.orderBy(val, "d")
        r = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy())
        )
        return (
            r.filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select(val)
            .first()[0]
        )  # S12 single-row fetch

    med_c = global_median(daily, "rev_c")
    dev = daily.withColumn("adev", F.abs(F.col("rev_c") - F.lit(med_c)))
    mad_c = global_median(dev.select("d", F.col("adev").alias("rev_c")), "rev_c")
    return daily.filter(
        F.abs(F.col("rev_c") - F.lit(med_c)) > 3 * F.lit(mad_c)
    ).select(
        "d",
        (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
        (F.lit(med_c).cast("double") / 100.0).alias("median_revenue"),
        (F.lit(mad_c).cast("double") / 100.0).alias("mad_revenue"),
    )


register(
    "revenue_mad_outlier_days",
    oracle=MAD_OUTLIER_ORACLE,
    doc="Robust outlier days: |x - median| > 3*MAD on the daily revenue "
    "series, all in linear integer cents (no squared-sum overflow; the "
    "robust path that survives 100 TB).",
    tags=("relational", "window", "anomaly", "robust"),
)(build_revenue_mad_outlier_days)


# ---------------------------------------------------------------------------
# order_value_ecdf — empirical CDF sampled at fixed probe points:
# P(total ≤ v) for a ladder of thresholds, each an exact integer count
# over one scan (conditional aggregation — the inverse of the quantile
# queries, useful when the THRESHOLDS are fixed by business rules).
# ---------------------------------------------------------------------------

ECDF_PROBES = (50000, 100000, 150000, 200000, 300000, 400000)

ECDF_ORACLE = f"""
WITH probes AS (SELECT unnest({list(ECDF_PROBES)}) AS probe),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders)
SELECT CAST(probe AS BIGINT) AS probe,
       CAST(COUNT(CASE WHEN o_totalprice <= probe THEN 1 END) AS BIGINT)
           AS n_below,
       CAST(COUNT(CASE WHEN o_totalprice <= probe THEN 1 END) AS DOUBLE)
           / (SELECT total FROM n) AS cdf
FROM orders CROSS JOIN probes
GROUP BY probe
"""


def build_order_value_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spread(table(spark, sf_dir, "orders"), spark)
    total = orders.count()  # S12 scalar fetch
    probes = spark.createDataFrame(
        [(p,) for p in ECDF_PROBES], ["probe"]
    ).select(F.col("probe").cast("long").alias("probe"))
    return (
        orders.crossJoin(F.broadcast(probes))
        .groupBy("probe")
        .agg(
            F.count(F.when(F.col("o_totalprice") <= F.col("probe"), 1)).alias(
                "n_below"
            ),
            (
                F.count(
                    F.when(F.col("o_totalprice") <= F.col("probe"), 1)
                ).cast("double")
                / F.lit(total)
            ).alias("cdf"),
        )
    )


register(
    "order_value_ecdf",
    oracle=ECDF_ORACLE,
    doc="Empirical CDF at fixed probe thresholds: exact conditional "
    "counts over one scan x 6-row broadcast (the quantile inverse).",
    tags=("relational", "agg", "stats"),
)(build_order_value_ecdf)


# ---------------------------------------------------------------------------
# value_five_number_summary — boxplot statistics per event type: min, Q1,
# median, Q3, max — every quartile picked EXACTLY by row_number selection
# (discrete quartiles at k = ceil(n/4), (n+1)//2, ceil(3n/4); the same
# deterministic decomposition as median_price_by_status, three cuts in
# one window pass). Values quantized to integer micro-units for
# cross-engine selection parity.
# ---------------------------------------------------------------------------

FIVE_NUM_ORACLE = """
WITH c AS (
    SELECT event_type, event_id,
           CAST(ROUND(value * 1000000, 0) AS BIGINT) AS v
    FROM events
),
r AS (
    SELECT *, ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY v, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM c
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(v) AS DOUBLE) / 1000000.0 AS min_v,
       CAST(MAX(CASE WHEN rn = (n + 3) // 4 THEN v END) AS DOUBLE)
           / 1000000.0 AS q1,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS DOUBLE)
           / 1000000.0 AS median_v,
       CAST(MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS DOUBLE)
           / 1000000.0 AS q3,
       CAST(MAX(v) AS DOUBLE) / 1000000.0 AS max_v
FROM r GROUP BY event_type
"""


def build_value_five_number_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spread(table(spark, sf_dir, "events"), spark)
    c = events.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 1000000, 0).cast("long").alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("v", "event_id")
    wn = Window.partitionBy("event_type")
    r = c.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )

    def cut(expr: str):
        return F.max(F.when(F.col("rn") == F.expr(expr), F.col("v")))

    return r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        (F.min("v").cast("double") / 1000000.0).alias("min_v"),
        (cut("(n + 3) div 4").cast("double") / 1000000.0).alias("q1"),
        (cut("(n + 1) div 2").cast("double") / 1000000.0).alias("median_v"),
        (cut("(3 * n + 3) div 4").cast("double") / 1000000.0).alias("q3"),
        (F.max("v").cast("double") / 1000000.0).alias("max_v"),
    )


register(
    "value_five_number_summary",
    oracle=FIVE_NUM_ORACLE,
    doc="Boxplot five-number summary per event type: exact discrete "
    "quartiles via three row_number cuts in one window pass "
    "(micro-unit integer selection parity).",
    tags=("relational", "window", "stats"),
)(build_value_five_number_summary)


# ---------------------------------------------------------------------------
# brand_percentile_ranks — the relative-rank window family the surface
# did not yet exercise: percent_rank (rank-1)/(n-1), cume_dist (rows <=
# current)/n, and ntile quartile, all over ONE per-brand window pass with
# a unique total order (retailprice, partkey) so every engine agrees on
# ties. One shuffle on p_brand; per-brand state is the sort — the same
# envelope as every other per-group window here.
# ---------------------------------------------------------------------------

PERCENTILE_RANKS_ORACLE = """
SELECT
    p_brand,
    CAST(p_partkey AS BIGINT) AS partkey,
    ROUND(CAST(p_retailprice AS DOUBLE), 2) AS retailprice,
    ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
    ROUND(CUME_DIST() OVER w, 6) AS cume_dist,
    CAST(NTILE(4) OVER w AS INTEGER) AS price_quartile
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
"""


def build_brand_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return part.select(
        "p_brand",
        F.col("p_partkey").cast("long").alias("partkey"),
        F.round(F.col("p_retailprice").cast("double"), 2).alias("retailprice"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
        F.ntile(4).over(w).alias("price_quartile"),
    )


register(
    "brand_percentile_ranks",
    oracle=PERCENTILE_RANKS_ORACLE,
    doc="percent_rank / cume_dist / ntile quartile per brand in one window "
    "pass with a unique total order (tie-stable across engines).",
    tags=("relational", "window"),
)(build_brand_percentile_ranks)


# ---------------------------------------------------------------------------
# brand_weighted_median_price — exact QUANTITY-weighted median unit price
# per brand: the smallest price where the running quantity reaches half
# the brand's total (lower weighted median — a pure selection, no
# interpolation, so the answer is an exact input value on both engines).
# qty_weighted_price gives the weighted MEAN; the median resists the
# outlier orders that drag the mean. One shuffle (brand window sort);
# integer cents + integer quantities throughout.
# ---------------------------------------------------------------------------

WEIGHTED_MEDIAN_ORACLE = """
WITH j AS (
    SELECT p.p_brand,
           CAST(ROUND(l.l_extendedprice / l.l_quantity * 100) AS BIGINT)
               AS unit_price_cents,
           CAST(l.l_quantity AS BIGINT) AS qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
w AS (
    SELECT p_brand, unit_price_cents, qty,
           SUM(qty) OVER (PARTITION BY p_brand
                          ORDER BY unit_price_cents, qty
                          ROWS UNBOUNDED PRECEDING) AS cum_qty,
           SUM(qty) OVER (PARTITION BY p_brand) AS total_qty
    FROM j
)
SELECT p_brand,
       CAST(MIN(CASE WHEN cum_qty * 2 >= total_qty THEN unit_price_cents END)
            AS DOUBLE) / 100.0 AS weighted_median_price,
       CAST(MAX(total_qty) AS BIGINT) AS total_qty
FROM w
GROUP BY p_brand
"""


def build_brand_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    j = lineitem.join(part, lineitem.l_partkey == part.p_partkey).select(
        "p_brand",
        F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100)
            .cast("long")
            .alias("unit_price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    run = (
        Window.partitionBy("p_brand")
        .orderBy("unit_price_cents", "qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = Window.partitionBy("p_brand")
    w = j.select(
        "p_brand",
        "unit_price_cents",
        F.sum("qty").over(run).alias("cum_qty"),
        F.sum("qty").over(whole).alias("total_qty"),
    )
    return w.groupBy("p_brand").agg(
        (
            F.min(
                F.when(
                    F.col("cum_qty") * 2 >= F.col("total_qty"),
                    F.col("unit_price_cents"),
                )
            ).cast("double")
            / 100.0
        ).alias("weighted_median_price"),
        F.max("total_qty").alias("total_qty"),
    )


register(
    "brand_weighted_median_price",
    oracle=WEIGHTED_MEDIAN_ORACLE,
    doc="Exact quantity-weighted median unit price per brand (running-"
    "weight selection, integer cents — no interpolation, outlier-robust "
    "vs the weighted mean).",
    tags=("relational", "window", "stats"),
)(build_brand_weighted_median_price)


# ---------------------------------------------------------------------------
# winsorized_totalprice_stats — robust aggregation: winsorized + trimmed
# means per order status. Group p05/p95 bounds come from the exact
# percentile on scaled integers (the percentile_stats parity trick),
# FLOOR/CEIL-ed to integer cents so clipping, summing, and trimming all
# stay in exact integer arithmetic — no double-summation order effects.
# The bounds table is one row per status (broadcast), the clip+sum is one
# partial+final hash aggregate: two passes over the fact at any scale.
# ---------------------------------------------------------------------------

WINSOR_ORACLE = """
WITH c AS (
    SELECT o_orderstatus AS s,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
    FROM orders
),
b AS (
    SELECT s,
           CAST(FLOOR(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
           CAST(CEIL(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
    FROM c GROUP BY s
)
SELECT c.s AS o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(b.lo AS DOUBLE) / 100.0 AS lo_cut,
       CAST(b.hi AS DOUBLE) / 100.0 AS hi_cut,
       CAST(SUM(LEAST(GREATEST(c.cents, b.lo), b.hi)) AS DOUBLE) / 100.0
           / COUNT(*) AS winsorized_mean,
       CAST(SUM(CASE WHEN c.cents BETWEEN b.lo AND b.hi THEN c.cents END)
            AS DOUBLE) / 100.0
           / COUNT(CASE WHEN c.cents BETWEEN b.lo AND b.hi THEN 1 END)
           AS trimmed_mean,
       CAST(COUNT(CASE WHEN c.cents BETWEEN b.lo AND b.hi THEN 1 END)
            AS BIGINT) AS trimmed_n
FROM c JOIN b ON c.s = b.s
GROUP BY c.s, b.lo, b.hi
ORDER BY o_orderstatus
"""


def build_winsorized_totalprice_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spread(table(spark, sf_dir, "orders"), spark)
    c = orders.select(
        F.col("o_orderstatus").alias("s"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    bounds = c.groupBy("s").agg(
        F.floor(F.expr("percentile(cents, 0.05)")).cast("long").alias("lo"),
        F.ceil(F.expr("percentile(cents, 0.95)")).cast("long").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    in_band = F.col("cents").between(F.col("lo"), F.col("hi"))
    return (
        c.join(F.broadcast(bounds), "s")
        .groupBy("s", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(clipped).alias("wsum"),
            F.sum(F.when(in_band, F.col("cents"))).alias("tsum"),
            F.count(F.when(in_band, F.lit(1))).alias("trimmed_n"),
        )
        .select(
            F.col("s").alias("o_orderstatus"),
            "n",
            (F.col("lo").cast("double") / 100.0).alias("lo_cut"),
            (F.col("hi").cast("double") / 100.0).alias("hi_cut"),
            (F.col("wsum").cast("double") / 100.0 / F.col("n")).alias(
                "winsorized_mean"
            ),
            (
                F.col("tsum").cast("double") / 100.0 / F.col("trimmed_n")
            ).alias("trimmed_mean"),
            "trimmed_n",
        )
        .orderBy("o_orderstatus")
    )


register(
    "winsorized_totalprice_stats",
    oracle=WINSOR_ORACLE,
    doc="Robust means per status: winsorize/trim at exact p05/p95 cents "
    "bounds (FLOOR/CEIL to integers so clip+sum stay exact); bounds "
    "broadcast (one row per status), two hash-aggregate passes total.",
    tags=("relational", "agg", "stats", "robust", "percentile"),
)(build_winsorized_totalprice_stats)


# ---------------------------------------------------------------------------
# interval_join_attribution — point-in-interval RANGE JOIN at scale. The
# naive formulation (equi-key + ts BETWEEN start AND end) gives Catalyst
# only a theta-join residual, which at fact-x-fact size degenerates to a
# nested-loop per key group; the scale formulation BUCKETIZES time into
# fixed cells the width of the interval, explodes each interval to the
# (<= 2) cells it overlaps, equi-joins points on (key, cell), and applies
# the exact containment filter as a residual — the standard range-join
# optimization, expressed with plain DataFrame ops. Workload: every view
# event joined to the 2-hour attribution windows opened by the same
# user's purchase events.
# ---------------------------------------------------------------------------

ATTR_WINDOW_US = 2 * 3600 * 1_000_000  # 2-hour attribution window


INTERVAL_JOIN_ORACLE = f"""
WITH p AS (
    SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS start_us
    FROM events WHERE event_type = 'purchase'
),
v AS (
    SELECT user_id, event_id AS view_event_id, epoch_us(ts) AS ts_us
    FROM events WHERE event_type = 'view'
)
SELECT v.view_event_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       MIN(p.purchase_id) AS first_purchase_id
FROM v JOIN p
  ON v.user_id = p.user_id
 AND v.ts_us >= p.start_us
 AND v.ts_us < p.start_us + {ATTR_WINDOW_US}
GROUP BY v.view_event_id
"""


def build_interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(table(spark, sf_dir, "events"), spark).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = F.lit(ATTR_WINDOW_US)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("start_us"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("event_id").alias("view_event_id"),
        F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros("ts") / w).cast("long").alias("cell"),
    )
    # each 2h window overlaps at most 2 cells of width 2h: explode both
    p_cells = p.select(
        "user_id",
        "purchase_id",
        "start_us",
        F.explode(
            F.array_distinct(
                F.array(
                    (F.col("start_us") / w).cast("long"),
                    ((F.col("start_us") + w - 1) / w).cast("long"),
                )
            )
        ).alias("cell"),
    )
    joined = v.join(p_cells, ["user_id", "cell"]).filter(
        (F.col("ts_us") >= F.col("start_us"))
        & (F.col("ts_us") < F.col("start_us") + w)
    )
    return joined.groupBy("view_event_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.min("purchase_id").alias("first_purchase_id"),
    )


register(
    "interval_join_attribution",
    oracle=INTERVAL_JOIN_ORACLE,
    doc="Point-in-interval range join via grid-cell bucketing: views "
    "equi-joined to same-user 2-hour purchase windows on (user, time "
    "cell) with an exact containment residual — no theta-join "
    "nested-loop at any scale.",
    tags=("join", "range", "relational", "scale"),
)(build_interval_join_attribution)


# ---------------------------------------------------------------------------
# bucketed_order_revenue — the 100 TB fact-fact join strategy DRIVEN, not
# just pytest-pinned (tests/test_bucketing.py holds the plan property):
# lineitem and orders are written as co-bucketed catalog tables on the
# join key, then joined AND aggregated on that key — the whole pipeline
# after the bucketed write runs WITHOUT A SINGLE EXCHANGE (bucket-aware
# scan feeds both the SortMergeJoin and the groupBy). At 100 TB the
# lineitem-orders shuffle is the dominant cluster cost; bucketing at
# write time removes it from EVERY downstream join/agg on the key. The
# write here is per-call (the demonstration must be hermetic per
# corpus); production writes once and joins forever. Known tradeoff:
# a bucketed SortMergeJoin bypasses AQE's skew-join splitting (there is
# no exchange to re-plan) — bucket PK-ish keys like orderkey, and route
# genuinely skewed keys through operators/skew.py's salted join instead.
# ---------------------------------------------------------------------------

BUCKETS = 16
MIN_ITEMS = 6

BUCKETED_REVENUE_ORACLE = f"""
SELECT o.o_orderkey, o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {o_sum('l.l_extendedprice * (1.0 - l.l_discount)', 'revenue')}
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_orderstatus
HAVING COUNT(*) >= {MIN_ITEMS}
"""


def _bucketed_pair(
    spark: SparkSession, sf_dir: str, ensure_only: bool = False
) -> tuple[str, str]:
    """Write (or, with ``ensure_only``, reuse) the co-bucketed
    lineitem/orders catalog tables for ``sf_dir``; returns
    ``(t_ord, t_li)``. The store tag is a CONTENT fingerprint of both
    parquet inputs (workspace.corpus_fingerprint), so a regenerated
    corpus at the same path can never hit a stale bucketed copy —
    and the write-once consumer (`bucketed_order_profile`) is keyed to
    the same bytes the per-call writer (`bucketed_order_revenue`) wrote."""
    import os as _os

    from ..sources.lakehouse import write_bucketed
    from .workspace import corpus_fingerprint, session_store

    h = corpus_fingerprint(
        _os.path.join(sf_dir, "lineitem.parquet"),
        _os.path.join(sf_dir, "orders.parquet"),
    )[:8]
    store = session_store(f"bjoin_{h}")
    t_li, t_ord = f"bjoin_li_{h}", f"bjoin_ord_{h}"
    done = all(
        spark.catalog.tableExists(t) for t in (t_li, t_ord)
    ) and all(
        _os.path.isfile(_os.path.join(store, d, "_SUCCESS")) for d in ("li", "ord")
    )
    if not (ensure_only and done):
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
        )
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        write_bucketed(
            li, t_li, BUCKETS, ["l_orderkey"], sort_cols=["l_orderkey"],
            path=_os.path.join(store, "li"),
        )
        write_bucketed(
            orders, t_ord, BUCKETS, ["o_orderkey"], sort_cols=["o_orderkey"],
            path=_os.path.join(store, "ord"),
        )
    return t_ord, t_li


def build_bucketed_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_ord, t_li = _bucketed_pair(spark, sf_dir)  # pays the write per call
    j = spark.table(t_ord).join(
        spark.table(t_li),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    return (
        j.groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            exact_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            ),
        )
        .filter(F.col("n_items") >= MIN_ITEMS)
    )


register(
    "bucketed_order_revenue",
    oracle=BUCKETED_REVENUE_ORACLE,
    doc=f"Co-bucketed ({BUCKETS} buckets) lineitem-orders catalog tables "
    "joined and aggregated on the bucket key — zero exchanges after the "
    "write (the plan property tests/test_bucketing.py pins); per-order "
    "exact revenue for orders with >= 6 items.",
    tags=("join", "bucketing", "relational", "scale"),
)(build_bucketed_order_revenue)


# ---------------------------------------------------------------------------
# bucketed_order_profile — the WRITE-ONCE consumer of the bucketed pair
# (VERDICT r8 task 5): bucketed_order_revenue times write+join together
# (the hermetic demo); this query reads the ALREADY-written bucketed
# tables (ensure-only: it writes only if no fingerprint-matched copy
# exists) and runs a DIFFERENT join+agg on the same bucket key — still
# zero exchanges (pinned by tests/test_bucketing.py). Together the two
# bench rows separate the one-time bucketed-write cost from the
# join-forever cost, which is the whole economics of bucketing at 100 TB:
# every additional key-aligned join/agg on the tables is shuffle-free.
# ---------------------------------------------------------------------------

PROFILE_MIN_QTY = 120

BUCKETED_PROFILE_ORACLE = f"""
SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       MAX(l.l_extendedprice) AS max_item_price,
       CAST(SUM(CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)) AS BIGINT)
           AS disc_cents
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_orderstatus, o.o_totalprice
HAVING SUM(CAST(l.l_quantity AS BIGINT)) >= {PROFILE_MIN_QTY}
"""


def build_bucketed_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_ord, t_li = _bucketed_pair(spark, sf_dir, ensure_only=True)
    j = spark.table(t_ord).join(
        spark.table(t_li),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    return (
        j.groupBy("o_orderkey", "o_orderstatus", "o_totalprice")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
            F.max("l_extendedprice").alias("max_item_price"),
            F.sum(F.round(F.col("l_discount") * 100, 0).cast("long"))
            .cast("long")
            .alias("disc_cents"),
        )
        .filter(F.col("sum_qty") >= PROFILE_MIN_QTY)
    )


register(
    "bucketed_order_profile",
    oracle=BUCKETED_PROFILE_ORACLE,
    doc="Second consumer of the co-bucketed lineitem/orders tables: "
    "reads the fingerprint-matched bucketed copy WITHOUT rewriting it "
    "and runs a different key-aligned join+agg (qty/price/discount "
    "profile of heavy orders) with zero exchanges — the write-once/"
    "join-forever half of the bucketing economics, separated from the "
    "write cost bucketed_order_revenue times.",
    tags=("join", "bucketing", "relational", "scale"),
)(build_bucketed_order_profile)


# ---------------------------------------------------------------------------
# orc_roundtrip_scan — the ORC source format driven end-to-end (round 8):
# sources/readers.py's ORC reader/writer were pytest-only; this writes the
# lineitem projection as ORC once per corpus (session-store, like the
# bucketed tables), then aggregates FROM THE ORC SCAN under a pushed
# numeric predicate — format round-trip fidelity (doubles, strings) and
# ORC's own pushdown/pruning path value-checked against the parquet
# oracle. Spark's vectorized ORC reader has the same scan economics as
# parquet; a lakehouse ingesting ORC-producing upstreams (Hive/Trino
# estates) runs this exact path.
# ---------------------------------------------------------------------------

ORC_MIN_QTY = 25

ORC_ROUNDTRIP_ORACLE = f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       {o_sum('l_extendedprice * (1.0 - l_discount)', 'revenue')}
FROM lineitem
WHERE l_quantity >= {ORC_MIN_QTY}
GROUP BY l_returnflag
"""


def build_orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..sources.readers import read_orc, write_orc
    from .workspace import corpus_fingerprint, session_store

    # content-fingerprinted store key: a regenerated corpus at the same
    # path misses the cache instead of serving a stale ORC copy
    h = corpus_fingerprint(_os.path.join(sf_dir, "lineitem.parquet"))[:8]
    store = session_store(f"orc_{h}")
    path = _os.path.join(store, "lineitem_orc")
    if not _os.path.isfile(_os.path.join(path, "_SUCCESS")):
        write_orc(
            table(spark, sf_dir, "lineitem").select(
                "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
            ),
            path,
            n_files=4,
        )
    li = read_orc(spark, path).filter(F.col("l_quantity") >= ORC_MIN_QTY)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        exact_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            "revenue",
        ),
    )


register(
    "orc_roundtrip_scan",
    oracle=ORC_ROUNDTRIP_ORACLE,
    doc=f"ORC source format end-to-end: lineitem written as ORC once per "
    f"corpus, aggregated from the ORC scan under a pushed l_quantity >= "
    f"{ORC_MIN_QTY} predicate — round-trip fidelity + ORC pushdown "
    "value-checked against the parquet oracle.",
    tags=("source", "orc", "relational"),
)(build_orc_roundtrip_scan)


# ---------------------------------------------------------------------------
# dpp_partitioned_month_join — dynamic partition pruning driven end-to-end
# (round 9). Static pruning (txnlog_partitioned_prune) skips partitions a
# LITERAL predicate names; at 100 TB the bigger win is the join-driven
# skip: the months worth scanning are decided by ANOTHER table at
# runtime (here: the top-5 revenue months of `orders`), so no literal
# filter exists to push down. Spark's DPP closes this: the broadcast
# dim's join keys become a runtime PartitionFilter
# (dynamicpruningexpression) on the month-partitioned lineitem scan —
# only the 5 winning month directories are read out of 83. The
# partitioned copy is written once per corpus (content-fingerprinted
# session store, same as the bucketed pair); the plan property is
# pytest-pinned (tests/test_plan_properties.py).
# ---------------------------------------------------------------------------

DPP_TOP_MONTHS = 5

DPP_MONTH_JOIN_ORACLE = f"""
WITH li AS (
    SELECT strftime(l_shipdate, '%Y-%m') AS month,
           l_extendedprice, l_discount
    FROM lineitem
),
m AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev
    FROM orders GROUP BY 1
),
top AS (
    SELECT month FROM (
        SELECT month, row_number() OVER (ORDER BY rev DESC, month ASC) AS rn
        FROM m
    ) WHERE rn <= {DPP_TOP_MONTHS}
)
SELECT li.month,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {o_sum('li.l_extendedprice * (1.0 - li.l_discount)', 'revenue')}
FROM li JOIN top USING (month)
GROUP BY li.month
"""


def _dpp_partitioned_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Month-partitioned lineitem copy, written once per corpus content."""
    import os as _os

    from .workspace import corpus_fingerprint, session_store

    h = corpus_fingerprint(_os.path.join(sf_dir, "lineitem.parquet"))[:8]
    store = session_store(f"dpp_li_{h}")
    path = _os.path.join(store, "lineitem_by_month")
    if not _os.path.isfile(_os.path.join(path, "_SUCCESS")):
        (
            table(spark, sf_dir, "lineitem")
            .select(
                F.date_format("l_shipdate", "yyyy-MM").alias("month"),
                "l_extendedprice",
                "l_discount",
            )
            .repartition("month")  # one writer task per partition dir
            .write.partitionBy("month")
            .mode("overwrite")
            .parquet(path)
        )
    return path


def build_dpp_partitioned_month_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    path = _dpp_partitioned_lineitem(spark, sf_dir)
    li = spark.read.parquet(path)
    months = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "rev"
            )
        )
    )
    top = (
        months.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc("rev"), F.asc("month"))
            ),  # month-domain-sized window (bounded)
        )
        .filter(F.col("rn") <= DPP_TOP_MONTHS)
        .select("month")
    )
    j = li.join(F.broadcast(top), "month")
    return j.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        exact_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            "revenue",
        ),
    )


register(
    "dpp_partitioned_month_join",
    oracle=DPP_MONTH_JOIN_ORACLE,
    doc=f"Dynamic partition pruning end-to-end: month-partitioned "
    f"lineitem joined to the runtime top-{DPP_TOP_MONTHS} revenue months "
    "of orders — the broadcast dim becomes a dynamicpruningexpression "
    "PartitionFilter on the fact scan, reading 5 of ~83 month "
    "directories (plan pinned by pytest).",
    tags=("join", "partition", "pruning", "relational", "scale"),
)(build_dpp_partitioned_month_join)


# ---------------------------------------------------------------------------
# jsonl_corpus_roundtrip — the JSON-lines FILE SOURCE driven end-to-end
# (round 9; same shape as orc_roundtrip_scan). JSONL is the interchange
# format LLM corpora actually arrive in (Common Crawl derivatives, HF
# dataset dumps, annotation exports) — the reference's JSON surface is
# Kafka-envelope from_json on a column (kafka_envelope_project); this
# drives spark.read.json over FILES: escaping round-trip fidelity
# (newlines, quotes, unicode in `text`) and schema-on-read (explicit
# schema — at 100 TB you never let the JSON reader sample-infer). The
# JSONL copy is written once per corpus (content-fingerprinted store);
# the aggregate is all-integer so parity is structural.
# ---------------------------------------------------------------------------

JSONL_ROUNDTRIP_ORACLE = f"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len({{tok}})) AS BIGINT) AS total_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM documents
GROUP BY source, lang
""".format(tok="{tok}")


def build_jsonl_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from .text import tokens_col
    from .workspace import corpus_fingerprint, session_store

    h = corpus_fingerprint(_os.path.join(sf_dir, "documents.parquet"))[:8]
    store = session_store(f"jsonl_{h}")
    path = _os.path.join(store, "documents_jsonl")
    docs = table(spark, sf_dir, "documents")
    if not _os.path.isfile(_os.path.join(path, "_SUCCESS")):
        docs.repartition(4).write.mode("overwrite").json(path)
    j = spark.read.schema(docs.schema).json(path)  # schema-on-read, no infer
    return j.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.size(tokens_col()).cast("long")).cast("long").alias("total_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


def _jsonl_oracle() -> str:
    from .text import _sql_tokens

    return JSONL_ROUNDTRIP_ORACLE.format(tok=_sql_tokens())


register(
    "jsonl_corpus_roundtrip",
    oracle=_jsonl_oracle(),
    doc="JSON-lines file source end-to-end: documents written as JSONL "
    "once per corpus, read back with an explicit schema (no sampling "
    "inference), aggregated per (source, lang) with all-integer stats — "
    "escaping round-trip fidelity value-checked against the parquet "
    "oracle.",
    tags=("source", "json", "llm", "relational"),
)(build_jsonl_corpus_roundtrip)


# ---------------------------------------------------------------------------
# variant_props_analytics — the Spark 4 VARIANT type driven end-to-end
# (round 9): semi-structured payloads parsed ONCE into the binary
# variant encoding (parse_json), then path-extracted with variant_get /
# try_variant_get. This is the modern engine's answer to the schema-
# drift problem the typed from_json path (json_extract_events) can't
# handle: from_json needs the full schema up front and silently nulls
# anything that drifts, while VARIANT keeps every field and types at
# EXTRACTION time — at 100 TB you parse the JSON text once at ingest,
# store variant, and every downstream query reads paths without
# re-parsing text. try_variant_get on an absent path returns NULL
# (no schema declaration anywhere), which the report counts.
# ---------------------------------------------------------------------------

VARIANT_PROPS_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_sum,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_max,
       CAST(COUNT(CASE WHEN json_extract(props, '$.absent') IS NULL
                       THEN 1 END) AS BIGINT) AS n_missing_path
FROM events
GROUP BY event_type
"""


def build_variant_props_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    v = events.select(
        "event_type", F.parse_json("props").alias("v")  # text -> variant, once
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.variant_get("v", "$.k", "bigint")).cast("long").alias("k_sum"),
        F.max(F.variant_get("v", "$.k", "bigint")).cast("long").alias("k_max"),
        F.count(
            F.when(F.try_variant_get("v", "$.absent", "string").isNull(), 1)
        )
        .cast("long")
        .alias("n_missing_path"),
    )


register(
    "variant_props_analytics",
    oracle=VARIANT_PROPS_ORACLE,
    doc="Spark 4 VARIANT end-to-end: events.props parsed once with "
    "parse_json, paths typed at extraction with variant_get / "
    "try_variant_get (absent paths null, counted) — the schema-drift-"
    "proof semi-structured path next to the typed from_json parse.",
    tags=("relational", "json", "variant", "scalar"),
)(build_variant_props_analytics)


# ---------------------------------------------------------------------------
# csv_bulk_roundtrip — the CSV bulk load/write path driven as a
# registered query (round 9; S10/S11 were pytest-only): orders written
# as headered multi-file CSV (the reference's 10 GB synthetic-CSV
# interchange, distributed instead of single-process), read back
# SCHEMA-FIRST (never inferSchema at scale — a second full pass), and
# aggregated. Timestamps round-trip as ISO-8601 under the pinned UTC
# session; doubles round-trip via shortest-repr. The copy is written
# once per corpus (content-fingerprinted store).
# ---------------------------------------------------------------------------

CSV_ROUNDTRIP_ORACLE = """
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       CAST(MIN(o_orderdate) AS DATE) AS first_day,
       CAST(MAX(o_orderdate) AS DATE) AS last_day
FROM orders
GROUP BY 1
"""


def build_csv_bulk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..sources.readers import read_csv, write_csv_bulk
    from .workspace import corpus_fingerprint, session_store

    h = corpus_fingerprint(_os.path.join(sf_dir, "orders.parquet"))[:8]
    store = session_store(f"csv_{h}")
    path = _os.path.join(store, "orders_csv")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    if not _os.path.isfile(_os.path.join(path, "_SUCCESS")):
        write_csv_bulk(orders, path, n_files=4)
    back = read_csv(spark, path, orders.schema)
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_day"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
    )


register(
    "csv_bulk_roundtrip",
    oracle=CSV_ROUNDTRIP_ORACLE,
    doc="CSV bulk write + schema-first load end-to-end: orders written "
    "as 4-file headered CSV once per corpus, read back with the "
    "explicit schema (no inferSchema pass) and aggregated — type "
    "round-trip fidelity (timestamps ISO-8601, shortest-repr doubles) "
    "value-checked against the parquet oracle.",
    tags=("source", "relational", "agg"),
)(build_csv_bulk_roundtrip)
