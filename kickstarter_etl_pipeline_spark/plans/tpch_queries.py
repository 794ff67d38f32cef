"""TPC-H query-shape wrappers (the 22 classic shapes adapted to the reduced schema). Moved verbatim from queries.py; each DuckDB twin sits beside its query in TWINS."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter + wide aggregate (A1/A4/A5 analogs)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-06-30 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            # sums of PRODUCTS live on a finer grid than the 2-dp rounding,
            # so a true sum can sit exactly on a .005 boundary where double
            # accumulation order decides the hash. Per-row round (identical
            # doubles in, identical out; casts are tie-free since no double
            # sits exactly on a 5e-7 boundary) → exact sum → deterministic.
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                    ).cast("decimal(18,6)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum("l_discount"), 4).alias("_sum_disc"),
            F.count("*").alias("count_order"),
        )
        # averages derived from the rounded sums → engine-independent
        # (raw double sums can differ by an ulp and flip 6-dp rounding)
        .withColumn("avg_qty", round_det(F.col("sum_qty") / F.col("count_order"), 6))
        .withColumn("avg_price", round_det(F.col("sum_base_price") / F.col("count_order"), 6))
        .withColumn("avg_disc", round_det(F.col("_sum_disc") / F.col("count_order"), 6))
        .drop("_sum_disc")
    )


TWINS["q1_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
               sum_charge,
               floor(sum_qty / count_order * 1000000 + 0.5) / 1000000.0 AS avg_qty,
               floor(sum_base_price / count_order * 1000000 + 0.5) / 1000000.0 AS avg_price,
               floor(sum_disc / count_order * 1000000 + 0.5) / 1000000.0 AS avg_disc,
               count_order
        FROM (
          SELECT l_returnflag, l_linestatus,
                 round(sum(l_quantity), 4) AS sum_qty,
                 round(sum(l_extendedprice), 2) AS sum_base_price,
                 CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
                 CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
                 round(sum(l_discount), 4) AS sum_disc,
                 count(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '2000-06-30 00:00:00'
          GROUP BY l_returnflag, l_linestatus
        )
    """


def q_q1_pricing_summary_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same Q1 via the SQL API (temp view + spark.sql) — Catalyst
    produces the identical plan; proves the engine's SQL surface."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
               sum_charge,
               floor(sum_qty / count_order * 1e6 + 0.5) / 1e6 AS avg_qty,
               floor(sum_base_price / count_order * 1e6 + 0.5) / 1e6 AS avg_price,
               floor(sum_disc / count_order * 1e6 + 0.5) / 1e6 AS avg_disc,
               count_order
        FROM (
          SELECT l_returnflag, l_linestatus,
                 round(sum(l_quantity), 4) AS sum_qty,
                 round(sum(l_extendedprice), 2) AS sum_base_price,
                 CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
                 CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
                 round(sum(l_discount), 4) AS sum_disc,
                 count(*) AS count_order
          FROM lineitem_v
          WHERE l_shipdate <= TIMESTAMP_NTZ '2000-06-30 00:00:00'
          GROUP BY l_returnflag, l_linestatus
        )
        """
    )


# Identical semantics to q1_pricing_summary: the SQL-API variant must
# hash-match the same twin.
TWINS["q1_pricing_summary_sql"] = TWINS["q1_pricing_summary"]


def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-style left-semi join with a non-equi
    residual condition (any lineitem shipped >60 days after order)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


TWINS["q4_order_priority"] = """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate joined back to its
    parents. The pre-join aggregate shrinks the fact before either join
    (map-side partial agg + AQE handles the rest at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_qty"))
        .filter(F.col("_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            F.col("_qty").cast("double").alias("sum_qty"),
        )
    )


TWINS["q18_large_orders"] = """
        WITH big AS (
          SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
          FROM lineitem GROUP BY l_orderkey HAVING qty > 250
        )
        SELECT c_custkey, c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               o_totalprice, CAST(qty AS DOUBLE) AS sum_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """


def q_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between customer and
    supplier nations per ship year. Nation is broadcast twice under two
    roles; the fact stream shuffles only for the final aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n_cust = nation.select(
        F.col("n_nationkey").alias("_ck"), F.col("n_name").alias("cust_nation")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("_sk"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n_cust), customer.c_nationkey == F.col("_ck"))
        .join(F.broadcast(n_supp), supplier.s_nationkey == F.col("_sk"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


TWINS["q7_nation_volume"] = """
        SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """


def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional aggregation
    over a broadcast part join, one output row. The share is derived
    from exact decimal sums so the percentage is engine-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    joined = li.join(part, li.l_partkey == part.p_partkey).filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-07-01 00:00:00").cast("timestamp_ntz"))
    )
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0).cast("decimal(18,6)"))).alias("_promo"),
        F.sum(disc).alias("_total"),
        F.count("*").alias("n_items"),
    )
    return agg.select(
        round_det(F.col("_promo").cast("double") * 100.0 / F.col("_total").cast("double"), 6).alias(
            "promo_revenue_pct"
        ),
        F.round(F.col("_total"), 2).cast("double").alias("total_revenue"),
        "n_items",
    )


TWINS["q14_promo_revenue"] = """
        SELECT floor(CAST(promo AS DOUBLE) * 100.0 / CAST(total AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS promo_revenue_pct,
               CAST(round(total, 2) AS DOUBLE) AS total_revenue,
               n_items
        FROM (
          SELECT sum(CASE WHEN p_type = 'PROMO'
                          THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                          ELSE CAST(0 AS DECIMAL(18,6)) END) AS promo,
                 sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total,
                 count(*) AS n_items
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1998-07-01 00:00:00'
        )
    """


def q_q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/quantity/size
    ranges — the OR-of-ANDs predicate exercises boolean pushdown through
    a broadcast join, one output row."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#15") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#17") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return joined.filter(cond).agg(
        F.round(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
            2,
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


TWINS["q19_or_predicates"] = """
        SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
           OR (p_brand = 'Brand#15' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
           OR (p_brand = 'Brand#17' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """


def q_q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global average balance) + anti
    join (customers with no 1999 orders), grouped by segment. The
    scalar stays distributed via a broadcast cross join — no collect."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_row = customer.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double") / F.count("*")).alias("_avg_bal")
    )
    custs_1999 = orders.filter(F.year("o_orderdate") == 1999).select(
        F.col("o_custkey").alias("c_custkey")
    )
    rich_idle = (
        customer.crossJoin(F.broadcast(avg_row))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(custs_1999, on="c_custkey", how="left_anti")
    )
    return rich_idle.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2).cast("double").alias("total_balance"),
    )


TWINS["q22_idle_balances"] = """
        WITH avg_bal AS (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS a
          FROM customer WHERE c_acctbal > 0
        )
        SELECT c_mktsegment, count(*) AS n_customers,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_balance
        FROM customer, avg_bal
        WHERE c_acctbal > a
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND year(o_orderdate) = 1999)
        GROUP BY c_mktsegment
    """


def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated-min subquery — for each small part
    (p_size <= 10), the EUROPE supplier(s) achieving the minimum
    observed unit cost, resolved as argmin-per-group via join-back (no
    partsupp table in this schema; unit cost is derived from lineitem as
    extendedprice/quantity). The per-part min is computed once and
    broadcast-joined back; part/supplier/nation/region are all broadcast
    dims, so the lineitem stream shuffles only for the two aggregates.

    Unit cost is ONE IEEE double division evaluated identically on both
    engines; the min lattice and the equality join-back therefore
    compare bit-identical values (NOTES.md determinism rule 5).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_supp = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    uc = li.select(
        "l_partkey", "l_suppkey", (F.col("l_extendedprice") / F.col("l_quantity")).alias("_uc")
    )
    per_ps = uc.groupBy("l_partkey", "l_suppkey").agg(F.min("_uc").alias("supp_cost"))
    per_p = per_ps.groupBy("l_partkey").agg(F.min("supp_cost").alias("_best"))
    return (
        per_ps.join(per_p, on="l_partkey")
        .filter(F.col("supp_cost") == F.col("_best"))
        .join(part, F.col("l_partkey") == part.p_partkey)
        .join(euro_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("supp_nation"),
            round_det(F.col("supp_cost"), 6).alias("min_unit_cost"),
        )
    )


TWINS["q2_min_cost_supplier"] = """
        WITH uc AS (SELECT l_partkey, l_suppkey,
                           l_extendedprice / l_quantity AS _uc
                    FROM lineitem),
        ps AS (SELECT l_partkey, l_suppkey, min(_uc) AS supp_cost
               FROM uc GROUP BY 1, 2),
        pm AS (SELECT l_partkey, min(supp_cost) AS best FROM ps GROUP BY 1),
        es AS (SELECT s_suppkey, s_name, n_name
               FROM supplier
               JOIN nation ON s_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
               WHERE r_name = 'EUROPE')
        SELECT p_partkey, p_name, s_name, n_name AS supp_nation,
               floor(supp_cost * 1000000 + 0.5) / 1000000.0 AS min_unit_cost
        FROM ps
        JOIN pm USING (l_partkey)
        JOIN part ON l_partkey = p_partkey
        JOIN es ON l_suppkey = s_suppkey
        WHERE supp_cost = best AND p_size <= 10
    """


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecast-revenue delta — a pure scan-filter-agg
    with range predicates on date, discount, and quantity, no joins.
    The canary for predicate pushdown: all three filters must reach the
    parquet scan. Revenue is an exact decimal sum of price×discount."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        F.round(F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


TWINS["q6_forecast_revenue"] = """
        SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
          AND l_discount >= 0.02 AND l_discount <= 0.06
          AND l_quantity < 24
    """


def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by supplier nation and year
    for parts matching a name pattern ('%widget%'). No ps_supplycost in
    this schema, so cost is proxied as retailprice×quantity×0.1; the
    profit expression is cast to exact decimal before summing. Part,
    supplier, and nation broadcast; lineitem shuffles once for the
    final aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    ).cast("decimal(18,6)")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").cast("int").alias("o_year"))
        .agg(
            F.round(F.sum(profit), 2).cast("double").alias("sum_profit"),
            F.count("*").alias("n_items"),
        )
    )


TWINS["q9_product_profit"] = """
        SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   - p_retailprice * l_quantity * 0.1 AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_profit,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2
    """


def q_q11_important_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part shipped value, kept only where the
    part's value exceeds 1.3× the average per-part share of the global
    total (a scalar-subquery threshold). Both the per-part values and
    the global total are exact decimal sums; the threshold comparison is
    one IEEE expression. The scalar rides a broadcast cross join — no
    driver collect."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_val")
    )
    scalar = per_part.agg(
        F.sum("_val").alias("_total"), F.count("*").alias("_nparts")
    )
    return (
        per_part.crossJoin(F.broadcast(scalar))
        .filter(
            F.col("_val").cast("double")
            > F.col("_total").cast("double") * 1.3 / F.col("_nparts")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("_val"), 2).cast("double").alias("part_value"),
        )
    )


TWINS["q11_important_values"] = """
        WITH pp AS (SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
                    FROM lineitem GROUP BY 1),
        s AS (SELECT sum(val) AS total, count(*) AS nparts FROM pp)
        SELECT l_partkey AS p_partkey, CAST(round(val, 2) AS DOUBLE) AS part_value
        FROM pp CROSS JOIN s
        WHERE CAST(val AS DOUBLE) > CAST(total AS DOUBLE) * 1.3 / nparts
    """


def q_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: line counts by status split into high/low order
    priority for a one-year ship window (no l_shipmode in this schema;
    l_linestatus plays the grouping role). The li⋈orders join is
    shuffle-on-key (both large — correct at scale; the bucketed path in
    sources/bucketing.py removes it when pre-bucketed)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
    ).join(orders, li.l_orderkey == orders.o_orderkey)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
    )


TWINS["q12_priority_class"] = """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY 1
    """


def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier revenue for a half-year window, then
    the supplier(s) matching the MAX revenue via a broadcast scalar —
    the classic view + scalar-subquery pattern. Revenue is an exact
    decimal sum, so the max-equality join-back compares exact values."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-07-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")).alias("_rev")
        )
    )
    top = rev.agg(F.max("_rev").alias("_max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("_rev") == F.col("_max_rev"))
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("_rev"), 2).cast("double").alias("total_revenue"),
        )
    )


TWINS["q15_top_supplier"] = """
        WITH rev AS (SELECT l_suppkey,
                            sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS r
                     FROM lineitem
                     WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
                       AND l_shipdate <  TIMESTAMP '1998-07-01 00:00:00'
                     GROUP BY 1),
        m AS (SELECT max(r) AS mr FROM rev)
        SELECT s_suppkey, s_name, CAST(round(r, 2) AS DOUBLE) AS total_revenue
        FROM rev CROSS JOIN m
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE r = mr
    """


def q_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    for non-excluded parts, with bad suppliers (negative balance — the
    schema's stand-in for complaint comments) removed via the NOT-IN
    shape as a broadcast anti join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#15") & (F.col("p_type") != "PROMO")
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(bad_supp, on="l_suppkey", how="left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


TWINS["q16_supplier_part_counts"] = """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#15' AND p_type <> 'PROMO'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
    """


def q_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity-order revenue — lineitems of one
    brand below 20% of their part's average quantity, total price / 7.
    The per-part average threshold is the correlated-aggregate join-back;
    it derives from an exact decimal quantity sum so the `<` comparison
    is one IEEE expression on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    th = (
        li.groupBy("l_partkey")
        .agg(
            (
                F.lit(0.2)
                * F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("_qty_threshold")
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(th, on="l_partkey")
        .filter(F.col("l_quantity") < F.col("_qty_threshold"))
        .agg(
            round_det(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0, 4
            ).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


TWINS["q17_small_qty_revenue"] = """
        WITH th AS (SELECT l_partkey,
                           0.2 * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS t
                    FROM lineitem GROUP BY 1)
        SELECT floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 * 10000 + 0.5) / 10000.0 AS avg_yearly,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN th USING (l_partkey)
        WHERE p_brand = 'Brand#3' AND l_quantity < t
    """


def q_q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped an above-threshold volume
    of PROMO parts in 1998 (threshold = half the average per-supplier
    PROMO volume, a broadcast scalar — no availqty in this schema), with
    their nations. Semi-join chain: part filter → per-supplier decimal
    quantity sum → scalar threshold → broadcast supplier/nation."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    promo_qty = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(part.select("p_partkey"), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_qty"))
    )
    scalar = promo_qty.agg(F.sum("_qty").alias("_total"), F.count("*").alias("_nsupp"))
    return (
        promo_qty.crossJoin(F.broadcast(scalar))
        .filter(
            F.col("_qty").cast("double")
            > F.col("_total").cast("double") * 0.5 / F.col("_nsupp")
        )
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("supp_nation"),
            F.round(F.col("_qty"), 2).cast("double").alias("promo_qty"),
        )
    )


TWINS["q20_promo_part_suppliers"] = """
        WITH pq AS (SELECT l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
                    FROM lineitem JOIN part ON l_partkey = p_partkey
                    WHERE p_type = 'PROMO'
                      AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
                      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
                    GROUP BY 1),
        s AS (SELECT sum(q) AS total, count(*) AS nsupp FROM pq)
        SELECT s_suppkey, s_name, n_name AS supp_nation,
               CAST(round(q, 2) AS DOUBLE) AS promo_qty
        FROM pq CROSS JOIN s
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE CAST(q AS DOUBLE) > CAST(total AS DOUBLE) * 0.5 / nsupp
    """


def q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who single-handedly held up
    multi-supplier finalized orders — the EXISTS + NOT-EXISTS self-join
    pair, expressed as per-order aggregates (no receiptdate in this
    schema; a returned line, l_returnflag = 'R', marks the hold-up).
    A supplier is counted for an order when it has a returned line, the
    order involves ≥2 suppliers, and NO other supplier has one."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supplier = load_table(spark, sf_dir, "supplier")
    per_os = (
        li.join(orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("_has_ret"))
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("_n_supp"), F.sum("_has_ret").alias("_n_ret")
    )
    waiting = (
        per_os.join(per_o, on="l_orderkey")
        .filter((F.col("_has_ret") == 1) & (F.col("_n_supp") >= 2) & (F.col("_n_ret") == 1))
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
    )


TWINS["q21_waiting_suppliers"] = """
        WITH po AS (SELECT l_orderkey, l_suppkey,
                           max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_ret
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    WHERE o_orderstatus = 'F'
                    GROUP BY 1, 2),
        oo AS (SELECT l_orderkey, count(*) AS n_supp, sum(has_ret) AS n_ret
               FROM po GROUP BY 1)
        SELECT s_suppkey, s_name, count(*) AS numwait
        FROM po
        JOIN oo USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE has_ret = 1 AND n_supp >= 2 AND n_ret = 1
        GROUP BY 1, 2
    """


def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a supplier nation's share of regional revenue per
    year — two-level aggregation with a conditional numerator, share
    derived from exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n_cust = nation.select(F.col("n_nationkey").alias("_ck"), F.col("n_regionkey").alias("_crk"))
    n_supp = nation.select(F.col("n_nationkey").alias("_sk"), F.col("n_name").alias("supp_nation"))
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n_cust), customer.c_nationkey == F.col("_ck"))
        .join(F.broadcast(n_supp), supplier.s_nationkey == F.col("_sk"))
        .join(F.broadcast(region), F.col("_crk") == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    agg = joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_5", disc).otherwise(F.lit(0).cast("decimal(18,6)"))).alias("_n5"),
        F.sum(disc).alias("_total"),
    )
    return agg.select(
        "o_year",
        round_det(F.col("_n5").cast("double") / F.col("_total").cast("double"), 6).alias("mkt_share"),
        F.round(F.col("_total"), 2).cast("double").alias("region_revenue"),
    )


TWINS["q8_market_share"] = """
        SELECT o_year,
               floor(CAST(n5 AS DOUBLE) / CAST(total AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS mkt_share,
               CAST(round(total, 2) AS DOUBLE) AS region_revenue
        FROM (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 sum(CASE WHEN n2.n_name = 'NATION_5'
                          THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                          ELSE CAST(0 AS DECIMAL(18,6)) END) AS n5,
                 sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
          GROUP BY 1
        )
    """


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20 —
    selective fact filter, join back to the customer dim, ranked."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    returned = li.filter(F.col("l_returnflag") == "R")
    joined = (
        returned.join(orders, returned.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("lost_revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(20)
    )


TWINS["q10_returned_items"] = """
        SELECT c_custkey, c_name, c_mktsegment,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS lost_revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_returnflag = 'R'
        GROUP BY 1, 2, 3
        ORDER BY lost_revenue DESC, c_custkey LIMIT 20
    """


def q_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    zero-order customers (left join, count over nullable key, then a
    second aggregation over the counts)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


TWINS["q13_order_count_distribution"] = """
        SELECT n_orders, count(*) AS n_customers
        FROM (
          SELECT c_custkey, count(o_orderkey) AS n_orders
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey
        )
        GROUP BY n_orders
    """


def q_pipe_syntax_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL PIPE syntax (|>) as a graded engine surface: the
    pricing summary's filter→aggregate→project chain written as a
    linear pipeline (the dialect designed for composable analytics —
    each |> stage consumes the previous result, so the query reads in
    execution order). Catalyst lowers it to the IDENTICAL logical plan
    as the standard form; the DuckDB twin is that standard form, so
    the grade proves dialect equivalence, not just syntax acceptance.
    Exact-decimal money sums per the q1 discipline."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pipe_v")
    return spark.sql(
        """
        FROM lineitem_pipe_v
        |> WHERE l_quantity >= 10
        |> AGGREGATE count(*) AS n_items,
                     round(sum(l_quantity), 4) AS sum_qty,
                     CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_items > 0
        |> SELECT l_returnflag, l_linestatus, n_items, sum_qty, sum_disc_price
        """
    )


# FULL twin of q_pipe_syntax_pricing: the STANDARD-form SQL the pipe
# dialect must lower to — the grade proves dialect equivalence.
TWINS["pipe_syntax_pricing"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_quantity), 4) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price
    FROM lineitem
    WHERE l_quantity >= 10
    GROUP BY 1, 2
    HAVING count(*) > 0
"""


def q_lateral_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 4 SQL surface): per order
    priority, the top-3 orders by (price DESC, key) — the classic
    per-group top-k expressed as a lateral join instead of a window
    (Catalyst rewrites it to a correlated join; on a 100 TB fact the
    window/two_phase_rank form is the scale path and is separately
    graded — this grades the DIALECT, with the DuckDB twin running
    the IDENTICAL lateral SQL). Deterministic via the total order."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat_v")
    return spark.sql(
        """
        SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
        FROM (SELECT DISTINCT o_orderpriority FROM orders_lat_v) p,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat_v o
                 WHERE o.o_orderpriority = p.o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) l
        """
    )


# FULL twin of q_lateral_topn_orders: the IDENTICAL lateral SQL —
# both engines run a genuine correlated LATERAL with ORDER+LIMIT.
TWINS["lateral_topn_orders"] = """
    SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
    FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_orderpriority = p.o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) l
"""


def q_sql_scripting_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4 BEGIN/DECLARE/SET blocks) as a graded
    surface: a session variable is computed from one query (the 100th
    highest order price — an exactly-stored double, so no IEEE-avg
    drift between engines) and parameterizes the next (per-priority
    rollup of strictly-pricier orders). The DuckDB twin inlines the
    same scalar as a subquery, so the grade proves the scripting
    block's variable plumbing changes nothing semantically."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_scr_v")
    return spark.sql(
        """
        BEGIN
          DECLARE cutoff DOUBLE;
          SET cutoff = (SELECT o_totalprice FROM orders_scr_v
                        ORDER BY o_totalprice DESC, o_orderkey
                        LIMIT 1 OFFSET 99);
          SELECT o_orderpriority,
                 CAST(count(*) AS BIGINT) AS n_above,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_above
          FROM orders_scr_v WHERE o_totalprice > cutoff
          GROUP BY o_orderpriority;
        END
        """
    )


# FULL twin of q_sql_scripting_rollup: the scripting block's session
# variable inlined as a scalar subquery — the cutoff is an
# exactly-stored double (100th highest price), so the strict
# inequality partitions rows identically in both engines.
TWINS["sql_scripting_rollup"] = """
    WITH c AS (SELECT o_totalprice AS cutoff FROM orders
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 1 OFFSET 99)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_above,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
             AS DOUBLE) AS total_above
    FROM orders, c WHERE o_totalprice > cutoff
    GROUP BY o_orderpriority
"""
