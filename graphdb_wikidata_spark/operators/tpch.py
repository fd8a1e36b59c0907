"""The remaining TPC-H queries (Q2/Q7/Q8/Q9/Q11/Q12/Q15/Q16/Q17/Q19/Q20/Q21),
adapted to the synthetic schema and completing the 22-query suite.

The testdata has no ``partsupp`` table and trims several columns
(l_shipmode/l_commitdate/l_receiptdate/p_container/o_comment), so the
queries that need them are adapted: supplier-part cost comes from
lineitem unit prices (Q2/Q11/Q20), supply cost is modeled as half the
retail price (Q9), and ship mode is surrogated by l_returnflag (Q12).
The operator SHAPE each query exists to exercise — correlated min
(Q2), nation-pair volume (Q7), market-share ratio (Q8), scalar-subquery
threshold (Q11), disjunctive pushdown (Q19), nested IN (Q20),
double-correlated EXISTS (Q21) — is preserved; that shape, not the
spec constants, is what the reference's users run (the reference
itself evaluates joins/aggregates tuple-at-a-time,
calc_engine.rs:392-463; these are the same logical plans run
declaratively).

Scale posture (per query, also in docstrings): dimension tables
(nation/region) broadcast explicitly; part/supplier/customer are
SF-scaled so their joins are left to AQE; every per-part / per-supplier
"correlated" subquery is expressed as a groupBy + window or a
broadcast-able aggregate join, never a per-row lookup; global scalar
thresholds (Q11/Q15/Q17/Q20) are single-row aggregates joined by
cross-broadcast, not driver collects.

Oracle determinism: money sums are exact ``decimal(18,2)`` before any
round; ratios divide exact decimal sums and round once to 6dp (the
tpch_q14 pattern); scalar thresholds compare exact-sum-derived doubles
so both engines branch identically on boundary rows; every ORDER BY
ends in a unique key so LIMIT boundaries cannot flap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import table
from . import ORACLES, QUERIES, register  # noqa: F401 - QUERIES/ORACLES re-exported


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


def _revenue() -> F.Column:
    return _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))


def _supplier_region(spark: SparkSession, sf_dir: str, r_name: str) -> DataFrame:
    """Suppliers of one region with their nation name attached.

    nation x region is 25 rows at every SF — the join collapses to a
    broadcast lookup; supplier itself is returned unmaterialized so the
    caller's join strategy (AQE) sees the real SF-scaled relation.
    """
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == r_name)
    s = table(spark, sf_dir, "supplier")
    return s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == F.col("n_nationkey"),
    )


@register(
    "tpch_q2_min_cost_supplier",
    """
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               round(min(l_extendedprice / l_quantity), 2) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
        SELECT o.l_partkey, o.l_suppkey, o.unit_cost,
               s_acctbal, s_name, n_name
        FROM offers o
        JOIN supplier ON o.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ), ranked AS (
        SELECT eu.*, p_partkey,
               min(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
        FROM eu JOIN part ON l_partkey = p_partkey
        WHERE p_size <= 5 AND p_type IN ('LARGE', 'STANDARD')
    )
    SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name, p_partkey,
           unit_cost, l_suppkey AS s_suppkey
    FROM ranked WHERE unit_cost = min_cost
    ORDER BY acctbal DESC, n_name, s_name, p_partkey, s_suppkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), the correlated-min query.

    Adaptation: no partsupp table, so the supplier-part offer relation
    is derived from lineitem — min unit price per (part, supplier).
    The correlated ``ps_supplycost = (SELECT min ...)`` subquery is a
    window min over the part key: one shuffle of the (part, supplier)
    aggregate (already tiny — bounded by |part|x|supplier-per-part|),
    never a per-part subquery execution. Region/nation broadcast; the
    part filter (size+type) is a pushed parquet predicate that makes
    the part side broadcast-able under AQE. The unit cost is rounded
    to 2dp BEFORE the min-equality on both sides, so the tie set is
    identical in both engines. Reference parity: interpreter.rs
    evaluates nested filters tuple-at-a-time; same logical plan here,
    declared once."""
    li = table(spark, sf_dir, "lineitem")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias("unit_cost")
    )
    eu = offers.join(
        _supplier_region(spark, sf_dir, "EUROPE").select(
            "s_suppkey", "s_acctbal", "s_name", "n_name"
        ),
        offers.l_suppkey == F.col("s_suppkey"),
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 5) & F.col("p_type").isin("LARGE", "STANDARD")
    )
    ranked = eu.join(p, eu.l_partkey == p.p_partkey).withColumn(
        "min_cost", F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    )
    return (
        ranked.filter(F.col("unit_cost") == F.col("min_cost"))
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "unit_cost",
            "s_suppkey",
        )
        .orderBy(
            F.desc("acctbal"), "n_name", "s_name", "p_partkey", "s_suppkey"
        )
        .limit(100)
    )


@register(
    "tpch_q7_volume_shipping",
    """
    SELECT supp_region, cust_region, l_year,
           round(sum(volume), 2)::DOUBLE AS revenue,
           count(*) AS n_lines
    FROM (
        SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
               year(l_shipdate) AS l_year,
               l_extendedprice::DECIMAL(18,2)
                   * (1 - l_discount::DECIMAL(18,2)) AS volume
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ((r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA')
            OR (r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_region, cust_region, l_year
    ORDER BY supp_region, cust_region, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): trade volume between two economies
    by year, both directions. Adapted to region pairs (nation-level
    supplier coverage is too sparse at sf0.001 to be interesting).

    Scale: the two (nation->region) sides are 25-row broadcast lookups
    FILTERED to the two regions before the join, so the supplier and
    customer probes carry an early selective semi-filter instead of
    joining everything and filtering the pair at the end. The date band
    is a pushed parquet predicate on lineitem. The only SF-scaled
    shuffles are lineitem-orders (orderkey) and orders-customer
    (custkey); supplier attaches wherever AQE prefers."""
    regions = F.broadcast(
        table(spark, sf_dir, "nation")
        .join(
            F.broadcast(table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name").isin("EUROPE", "ASIA"))
        .select("n_nationkey", "r_name")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(regions, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(regions, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("r_name").alias("cust_region"))
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = table(spark, sf_dir, "orders")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("supp_region") != F.col("cust_region"))
        .groupBy(
            "supp_region", "cust_region", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_region", "cust_region", "l_year")
    )


@register(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           round(100.0 * sum(CASE WHEN supp_region = 'ASIA'
                                  THEN volume ELSE 0 END) / sum(volume),
                 6)::DOUBLE AS mkt_share_pct,
           count(*) AS n_lines
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice::DECIMAL(18,2)
                   * (1 - l_discount::DECIMAL(18,2)) AS volume,
               r1.r_name AS supp_region
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE r2.r_name = 'EUROPE' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
    )
    GROUP BY o_year
    HAVING sum(volume) > 0
    ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): of the ECONOMY-part revenue
    bought by EUROPE customers in 1995-96, what share was supplied from
    ASIA, per order-year. The conditional and total sums come from ONE
    pass (two aggregates, same groupBy — the q14 pattern), both exact
    decimal, divided once and rounded to 6dp. Nation/region broadcast;
    the part filter prunes the probe before the orderkey shuffle.
    HAVING total>0 on both sides guards the degenerate empty-year
    division (NULL-vs-NaN divergence, ADVICE r05)."""
    regions = F.broadcast(
        table(spark, sf_dir, "nation")
        .join(
            F.broadcast(table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "r_name")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(regions, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(
            regions.filter(F.col("r_name") == "EUROPE"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    vol = _revenue()
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("supp_region") == "ASIA", vol).otherwise(F.lit(0)))
                / F.sum(vol),
                6,
            )
            .cast("double")
            .alias("mkt_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(vol).alias("_total"),
        )
        .filter(F.col("_total") > 0)
        .drop("_total")
        .orderBy("o_year")
    )


@register(
    "tpch_q9_product_profit",
    """
    SELECT n_name AS nation, o_year, round(sum(amount), 2)::DOUBLE AS profit
    FROM (
        SELECT n_name, year(o_orderdate) AS o_year,
               l_extendedprice::DECIMAL(18,2)
                   * (1 - l_discount::DECIMAL(18,2))
               - p_retailprice::DECIMAL(18,2)
                   * l_quantity::DECIMAL(18,2)
                   * CAST(0.5 AS DECIMAL(3,2)) AS amount
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_type = 'STANDARD'
    )
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), by supplier nation and year.

    Adaptation: no ps_supplycost, so cost is modeled as half the
    part's retail price — the profit expression keeps its
    revenue-minus-cost shape with every factor exact decimal (inputs
    have <=2dp, products are exact in both engines, the sum is exact,
    one final round). Part/nation broadcast-able dimensions; the two
    fact shuffles are partkey-free: lineitem-orders on orderkey only
    — part and supplier attach via broadcast/AQE."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select(
        "p_partkey", "p_retailprice"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = F.broadcast(table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = _revenue() - _dec("p_retailprice") * _dec("l_quantity") * F.lit(
        "0.5"
    ).cast("decimal(3,2)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q11_important_stock",
    """
    WITH pv AS (
        SELECT l_partkey AS partkey,
               sum(l_extendedprice::DECIMAL(18,2)
                   * l_quantity::DECIMAL(18,2)) AS value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'AFRICA'
        GROUP BY l_partkey
    )
    SELECT partkey, round(value, 2)::DOUBLE AS value
    FROM pv
    WHERE CAST(value AS DOUBLE)
          > (SELECT 2.0 * (CAST(sum(value) AS DOUBLE) / count(*)) FROM pv)
    ORDER BY value DESC, partkey
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): parts whose inventory value for one
    economy's suppliers exceeds a global threshold — the scalar-
    subquery-over-the-same-aggregate query. Adaptation: value is
    lineitem volume (price x qty) for AFRICA suppliers instead of
    partsupp stock, and the threshold is 2x the mean per-part value
    (SF-invariant, where the spec's fixed fraction is SF-tuned).

    Determinism: the threshold divides the EXACT decimal total (cast
    to double once) by the part count — both engines derive the same
    double, so boundary parts branch identically. Scale: pv is one
    partkey shuffle of the region-filtered fact; the threshold is a
    1-row aggregate cross-broadcast back, never a collect."""
    li = table(spark, sf_dir, "lineitem")
    s = _supplier_region(spark, sf_dir, "AFRICA").select("s_suppkey")
    pv = (
        li.join(s, li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(_dec("l_extendedprice") * _dec("l_quantity")).alias("value"))
    )
    thr = pv.agg(
        (
            F.lit(2.0)
            * (F.sum("value").cast("double") / F.count(F.lit(1)))
        ).alias("thr")
    )
    return (
        pv.join(F.broadcast(thr))
        .filter(F.col("value").cast("double") > F.col("thr"))
        .select("partkey", F.round("value", 2).cast("double").alias("value"))
        .orderBy(F.desc("value"), "partkey")
    )


@register(
    "tpch_q12_shipmode_priority",
    """
    SELECT l_returnflag AS ship_class,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode priority): per ship class, how many
    high- vs low-priority orders shipped in a year. Adaptation:
    l_shipmode doesn't exist, so l_returnflag is the class surrogate;
    the query's point — the dual conditional count in one pass over a
    date-banded join — is intact. Pure integer aggregates, no FP
    concerns; the date band is the pushed predicate that prunes the
    probe before the single orderkey shuffle."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@register(
    "tpch_q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               round(sum(l_extendedprice::DECIMAL(18,2)
                         * (1 - l_discount::DECIMAL(18,2))), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) with the maximum quarterly
    revenue — the view + scalar-max query. The revenue "view" is one
    suppkey shuffle of the date-banded fact; the max is a 1-row
    aggregate joined back by broadcast (never a collect), and the
    equality compares EXACT rounded decimals so revenue ties surface
    identically in both engines (all tied suppliers are returned; no
    LIMIT to flap)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(_revenue()), 2).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'MEDIUM'
      AND p_size IN (1, 3, 5, 7, 9, 11, 13, 15)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many distinct
    suppliers can supply each qualifying (brand, type, size) — with a
    NOT IN exclusion list. Adaptation: the supply relation is lineitem
    (no partsupp) and the excluded set is low-balance suppliers (no
    s_comment to grep for complaints). The NOT IN compiles to a
    broadcast anti join (the exclusion list is supplier-dimension
    sized and pre-filtered); count(DISTINCT) shuffles once on the
    3-col group key with partial distinct upstream."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 3, 5, 7, 9, 11, 13, 15)
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 1000).select(
        "s_suppkey"
    )
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q17_small_qty_revenue",
    """
    WITH pa AS (
        SELECT l_partkey,
               0.5 * (CAST(sum(l_quantity) AS DOUBLE) / count(*))
                   AS half_avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(l_extendedprice::DECIMAL(18,2)) AS DOUBLE)
                 / 5.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON lineitem.l_partkey = p_partkey
    JOIN pa ON lineitem.l_partkey = pa.l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < half_avg_qty
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost to
    below-half-average-quantity orders for one brand. The correlated
    per-part AVG subquery is a partkey aggregate joined back to the
    fact — at scale the brand filter makes the per-part average
    relation part-dimension sized, so AQE broadcasts it into the probe
    (no second fact shuffle). Quantities are integer-valued doubles:
    their sum is exact in any order, so the half-average threshold is
    the same double in both engines and boundary rows branch
    identically."""
    li = table(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (
            F.lit(0.5) * (F.sum("l_quantity").cast("double") / F.count(F.lit(1)))
        ).alias("half_avg_qty")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == pa.pa_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / F.lit(5.0), 2
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q19_disjunctive_revenue",
    """
    SELECT round(sum(l_extendedprice::DECIMAL(18,2)
                     * (1 - l_discount::DECIMAL(18,2))), 2)::DOUBLE AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): three
    brand/size/quantity disjuncts OR-ed across both join sides — the
    classic test of whether the optimizer distributes the OR into
    per-side pushable conjuncts. Catalyst extracts the common
    single-side filters: the lineitem scan gets
    ``l_quantity BETWEEN 1 AND 30`` and the part scan gets the
    brand/size union as PushedFilters (asserted in
    tests/test_tpch_suite.py), so the join probes pre-pruned sides and
    evaluates the full disjunction only on survivors."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 5)
            & (q >= 1)
            & (q <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(1, 10)
            & (q >= 10)
            & (q <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(1, 15)
            & (q >= 20)
            & (q <= 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q20_promo_suppliers",
    """
    WITH qty AS (
        SELECT l_suppkey, sum(l_quantity) AS promo_qty
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_type = 'PROMO')
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AFRICA'
      AND s_suppkey IN (
          SELECT l_suppkey FROM qty
          WHERE CAST(promo_qty AS DOUBLE) >
                (SELECT 1.2 * (CAST(sum(promo_qty) AS DOUBLE) / count(*))
                 FROM qty))
    ORDER BY s_suppkey
    """,
)
def tpch_q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in one region
    who moved an above-average volume of PROMO parts in a year — the
    nested-IN query. Adaptation: quantity comes from lineitem (no
    partsupp availqty) and the spec's 0.5x-availqty threshold becomes
    1.2x the mean per-supplier promo quantity (SF-invariant).

    Shape: inner IN = the PROMO part filter joined into the
    date-banded fact (part is SF-scaled — AQE picks the strategy);
    one suppkey aggregate; the scalar threshold is a 1-row broadcast;
    the outer IN compiles to a semi join against the region's
    suppliers. Quantities are integer-valued doubles — exact
    sums, identical thresholds in both engines."""
    promo = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    qty = (
        li.join(promo, li.l_partkey == promo.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("promo_qty"))
    )
    thr = qty.agg(
        (
            F.lit(1.2) * (F.sum("promo_qty").cast("double") / F.count(F.lit(1)))
        ).alias("thr")
    )
    good = (
        qty.join(F.broadcast(thr))
        .filter(F.col("promo_qty").cast("double") > F.col("thr"))
        .select("l_suppkey")
    )
    s = _supplier_region(spark, sf_dir, "AFRICA")
    return (
        s.join(good, s.s_suppkey == good.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q21_waiting_orders",
    """
    WITH l1 AS (
        SELECT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R' AND o_orderstatus = 'F'
    )
    SELECT s_name, s_suppkey, count(*) AS numwait
    FROM l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'MIDDLE EAST'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name, s_suppkey
    ORDER BY numwait DESC, s_name, s_suppkey
    LIMIT 25
    """,
)
def tpch_q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): on finalized
    multi-supplier orders, the supplier who was the ONLY one to fail —
    the double-correlated EXISTS / NOT EXISTS query. Adaptation:
    "failed" is l_returnflag='R' (no receipt/commit dates).

    The two correlated subqueries are NOT run per row: a single
    per-order aggregate computes (distinct suppliers, distinct failing
    suppliers) in one orderkey shuffle, and the EXISTS pair becomes
    ``n_supp >= 2 AND n_fail = 1`` on the joined row — an intentional
    decorrelation the oracle states in its original EXISTS form, so
    the two formulations verify each other. Region/nation broadcast;
    the top-25 is TakeOrderedAndProject with a unique tiebreak."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_order = li.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_fail"),
    )
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(per_order, F.col("l_orderkey") == per_order.po_orderkey)
        .filter((F.col("n_supp") >= 2) & (F.col("n_fail") == 1))
    )
    s = _supplier_region(spark, sf_dir, "MIDDLE EAST").select("s_suppkey", "s_name")
    return (
        l1.join(s, l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name", "s_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name", "s_suppkey")
        .limit(25)
    )
