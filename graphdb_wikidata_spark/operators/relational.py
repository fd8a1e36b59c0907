"""Relational operator inventory, expressed Spark-first.

Covers SURVEY.md §2.2-§2.6: scans with pushdown, projections, filters,
every join shape (inner/left/semi/anti/cross), n-way join ordering (left
to Catalyst+AQE), all seven SPARQL aggregates (COUNT/COUNT DISTINCT/SUM/
AVG/MIN/MAX/GROUP_CONCAT/SAMPLE — reference calc_engine.rs:465-881),
DISTINCT/REDUCED, ORDER BY + LIMIT/OFFSET (reference Slice,
calc_engine.rs:321-338), UNION (unionByName), VALUES (inline table),
EXISTS/NOT EXISTS as semi/anti joins, subqueries, plus window functions
and ROLLUP as extensions the reference lacks (SURVEY.md §2.10).

Every query here is paired with a DuckDB oracle over the same parquet
tables. Scale notes are inline: dimension joins are broadcast, facts are
shuffled on join keys only when needed, aggregates are partial-agg
(map-side combine) by construction — Catalyst does that for every
``groupBy``.

Determinism rules for the oracle hash-match:
- every computed column is aliased identically on both sides;
- double aggregates are ``round``-ed (2dp money, 6dp ratios) so ULP
  drift between engines' summation orders cannot flip the hash;
- GROUP_CONCAT sorts its inputs; SAMPLE is implemented as ``min`` (a
  legal deterministic choice of SAMPLE's "any value" contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table
from . import ORACLES, QUERIES, register  # noqa: F401 - QUERIES/ORACLES re-exported


# ---------------------------------------------------------------------------
# Scans / projections / filters (SURVEY §2.1 scan, §2.2)
# ---------------------------------------------------------------------------


@register(
    "scan_project",
    """
    SELECT l_orderkey, l_extendedprice,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_date
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-07-01'
    """,
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered projection; the filter and the 3-column ReadSchema both
    reach the parquet scan (PushedFilters in .explain)."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-07-01"))
        )
        .select(
            "l_orderkey",
            "l_extendedprice",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        )
    )


@register(
    "filter_predicates",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 150000
      AND o_orderstatus <> 'F'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND NOT (o_custkey % 10 = 3)
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound boolean predicate: AND/OR/NOT/IN/BETWEEN (reference
    expression IR calc_data_types.rs:30-58)."""
    o = table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_totalprice").between(50000, 150000)
        & (F.col("o_orderstatus") != "F")
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & ~(F.col("o_custkey") % 10 == 3)
    ).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4 — all 7 aggregate functions)
# ---------------------------------------------------------------------------


@register(
    "tpch_q1_agg",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                         AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
           round(avg(l_quantity), 4)                              AS avg_qty,
           round(avg(l_extendedprice), 4)                         AS avg_price,
           count(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by aggregation pipeline (reference sorts + walks runs,
    calc_engine.rs:353-463; here: partial+final hash agg, map-side
    combine before the single shuffle on the grouping key)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_full",
    """
    SELECT o_orderpriority,
           count(*)                                               AS cnt,
           count(DISTINCT o_custkey)                              AS cnt_distinct_cust,
           round(sum(o_totalprice), 2)                            AS sum_price,
           round(avg(o_totalprice), 4)                            AS avg_price,
           min(o_totalprice)                                      AS min_price,
           max(o_totalprice)                                      AS max_price,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS status_concat,
           min(o_orderstatus)                                     AS sample_status
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All seven reference aggregates in one plan: COUNT, COUNT DISTINCT,
    SUM, AVG, MIN, MAX, GROUP_CONCAT (sorted for determinism), SAMPLE
    (as ``min`` — a deterministic instance of its any-value contract;
    reference takes first row, calc_engine.rs:866-876)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("o_custkey").alias("cnt_distinct_cust"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias("status_concat"),
        F.min("o_orderstatus").alias("sample_status"),
    )


@register(
    "agg_rollup",
    """
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets / ROLLUP — absent in the reference (SURVEY §2.4
    'no grouping sets'), a standard extension here."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "agg_stats_suite",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6)                 AS sd_qty,
           round(stddev_pop(l_quantity), 6)                  AS sdp_qty,
           round(corr(l_quantity, l_extendedprice), 6)       AS corr_qp,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_pq
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/correlation/regression slope) —
    absent in the reference's seven-aggregate set, standard analytics
    surface here. All are single-pass partial+final moment aggregates
    (map-side combine of count/sum/sum-of-squares/cross-products), so
    one shuffle of per-group moment tuples regardless of data size.
    Rounded to decimals the cross-engine float summation order cannot
    disturb (quantity is O(10), the moments are exact integers)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.stddev_pop("l_quantity"), 6).alias("sdp_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope_pq"),
    )


@register(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5)  AS p50_qty,
           quantile_cont(l_quantity, 0.9)  AS p90_qty,
           quantile_cont(l_quantity, 0.99) AS p99_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (percentile_cont semantics; the
    (n-1)*p linear-interpolation rule matches DuckDB's quantile_cont
    bit-for-bit on integer quantities). Exact percentile is a per-group
    sort — acceptable because groups partition the shuffle; at 100 TB
    the approximate path is `approx_percentile` (t-digest sketch,
    partial+final mergeable), which is deliberately NOT the oracle
    entry because sketches are engine-specific."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("p50_qty"),
        F.percentile("l_quantity", F.lit(0.9)).alias("p90_qty"),
        F.percentile("l_quantity", F.lit(0.99)).alias("p99_qty"),
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "join_inner",
    """
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join, small dimension broadcast: no shuffle of the
    fact side at all (reference: sort-merge only,
    materialized_relation.rs:690-786)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join: when one key dominates ``left`` and
    ``right`` is too big to broadcast, a plain shuffle join lands the
    hot key's rows on ONE reducer. Salting splits them ``salts`` ways:
    each left row gets a deterministic salt (hash of all its columns),
    the right side is replicated once per salt value, and the join runs
    on (key, salt) — identical result set, hot key spread over
    ``salts`` reducers at the cost of a ``salts``x replication of the
    right side. (AQE's skew-join split handles sort-merge skew
    automatically; this is the explicit form, and the one that also
    works for hash joins and pre-AQE engines.)"""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salts))
    l2 = left.withColumn("__salt", salt)
    r2 = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    return l2.join(r2, on=[*on, "__salt"], how=how).drop("__salt")


@register(
    "join_salted",
    """
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted join must produce exactly the plain join's rows (the
    oracle is the same SQL as ``join_inner``)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )
    out = salted_join(
        o.withColumnRenamed("o_custkey", "k"), c.withColumnRenamed("c_custkey", "k"), on=["k"]
    )
    return out.select("o_orderkey", "c_name", "o_totalprice")


@register(
    "join_multiway",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way join. The reference orders BGP joins
    greedily by cardinality (calc_engine.rs:109-151); here join order is
    Catalyst's job and all three dimensions broadcast, so the only
    shuffle is lineitem->orders on orderkey + the final agg exchange."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "join_left_outer",
    """
    SELECT c.c_custkey, count(o.o_orderkey) AS order_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join (SPARQL OPTIONAL, reference LeftJoin
    calc_engine.rs:170-192) — unmatched rows survive with NULLs, so
    customers with zero orders count 0."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join (reference re-executes the subplan and
    checks rowcount, calc_engine.rs:1118-1121 — a non-starter at scale;
    the semi join is the distributed form)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    """
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS / SPARQL MINUS as a left-anti join (reference Minus is
    declared-but-todo!, calc_engine.rs:303-308)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@register(
    "join_cross",
    """
    SELECT a.r_name AS r1, b.r_name AS r2
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey < b.r_regionkey
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (reference panics with todo! on no-shared-vars
    joins, materialized_relation.rs:704-707)."""
    a = table(spark, sf_dir, "region").select(
        F.col("r_name").alias("r1"), F.col("r_regionkey").alias("k1")
    )
    b = table(spark, sf_dir, "region").select(
        F.col("r_name").alias("r2"), F.col("r_regionkey").alias("k2")
    )
    return a.crossJoin(b).filter(F.col("k1") < F.col("k2")).select("r1", "r2")


# ---------------------------------------------------------------------------
# Set ops / distinct / values (SURVEY §2.6)
# ---------------------------------------------------------------------------


@register(
    "union_all",
    """
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION -> unionByName (reference Union is todo!,
    calc_engine.rs:248-253)."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey", "o_orderpriority")
    b = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_orderkey", "o_orderpriority")
    return a.unionByName(b)


@register(
    "union_distinct",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "distinct_op",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (reference kernel is O(n^2), materialized_relation.rs:
    1359-1385; here: hash aggregate with partial dedup before shuffle)."""
    return table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "values_inline",
    """
    SELECT r.r_name, v.mult
    FROM (VALUES ('EUROPE', 10), ('ASIA', 20), ('AMERICA', 30)) AS v(name, mult)
    JOIN region r ON r.r_name = v.name
    """,
)
def values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES inline table (reference todo!, interpreter.rs:197-202)
    joined against a real table; the literal side broadcasts."""
    v = spark.createDataFrame(
        [("EUROPE", 10), ("ASIA", 20), ("AMERICA", 30)], ["name", "mult"]
    )
    r = table(spark, sf_dir, "region")
    return r.join(F.broadcast(v), r.r_name == v.name).select("r_name", "mult")


# ---------------------------------------------------------------------------
# Sort / limit / offset (SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "order_limit_offset",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 5
    """,
)
def order_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY (a real sort — the reference's Order executor is a no-op
    passthrough, calc_engine.rs:224-230) + Slice. Catalyst turns
    sort+limit into TakeOrderedAndProject: no global sort materialized."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(5)
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Subqueries (reference EXISTS/scalar patterns, SURVEY §2.2, §4.1)
# ---------------------------------------------------------------------------


@register(
    "scalar_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 3 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery — Catalyst evaluates it once and
    folds it into the filter."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > 3 * (SELECT avg(o_totalprice) FROM orders)
        """
    )


@register(
    "in_subquery",
    """
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 7)
    """,
)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery — decorrelated by Catalyst into a semi join."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 7)
        """
    )


# ---------------------------------------------------------------------------
# Scalar expression / function layer (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "expr_string_funcs",
    """
    SELECT n_name,
           lower(n_name)                                   AS lname,
           upper(substr(n_name, 1, 3))                     AS prefix3,
           length(n_name)                                  AS name_len,
           replace(n_name, 'A', '@')                       AS replaced,
           regexp_replace(n_name, '[AEIOU]', '*', 'g')     AS devoweled,
           n_name LIKE 'A%'                                AS starts_a,
           contains(n_name, 'AN')                          AS has_an,
           md5(n_name)                                     AS name_md5,
           sha256(n_name)                                  AS name_sha256,
           concat(n_name, '#', CAST(n_nationkey AS VARCHAR)) AS tagged
    FROM nation
    """,
)
def expr_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL string function library (reference calc_engine.rs:
    1384-2068: STRLEN/SUBSTR/UCASE/LCASE/STRSTARTS/CONTAINS/REPLACE/
    REGEX/CONCAT) + hash functions MD5/SHA256 (calc_engine.rs:2578-2684)
    — all JVM-side built-ins, zero Python in the row path."""
    n = table(spark, sf_dir, "nation")
    return n.select(
        "n_name",
        F.lower("n_name").alias("lname"),
        F.upper(F.substring("n_name", 1, 3)).alias("prefix3"),
        F.length("n_name").alias("name_len"),
        F.regexp_replace("n_name", F.lit("A"), F.lit("@")).alias("replaced"),
        F.regexp_replace("n_name", F.lit("[AEIOU]"), F.lit("*")).alias("devoweled"),
        F.col("n_name").startswith("A").alias("starts_a"),
        F.col("n_name").contains("AN").alias("has_an"),
        F.md5("n_name").alias("name_md5"),
        F.sha2("n_name", 256).alias("name_sha256"),
        F.concat("n_name", F.lit("#"), F.col("n_nationkey").cast("string")).alias("tagged"),
    )


@register(
    "expr_numeric_date",
    """
    SELECT o_orderkey,
           round(abs(o_totalprice - 100000.0), 2)   AS dist_100k,
           CAST(ceil(o_totalprice) AS DOUBLE)       AS price_ceil,
           CAST(floor(o_totalprice) AS DOUBLE)      AS price_floor,
           round(o_totalprice, 1)                   AS price_r1,
           CAST(year(o_orderdate) AS INT)           AS o_year,
           CAST(month(o_orderdate) AS INT)          AS o_month,
           CAST(day(o_orderdate) AS INT)            AS o_day,
           CAST(quarter(o_orderdate) AS INT)        AS o_quarter,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END                    AS bucket,
           coalesce(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_coalesced
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def expr_numeric_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric (ABS/ROUND/CEIL/FLOOR, reference calc_engine.rs:2314-2443),
    date part extraction (YEAR..SECONDS, calc_engine.rs:2460-2553), IF ->
    CASE WHEN and COALESCE (calc_engine.rs:1149-1177)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return o.select(
        "o_orderkey",
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("dist_100k"),
        F.ceil("o_totalprice").cast("double").alias("price_ceil"),
        F.floor("o_totalprice").cast("double").alias("price_floor"),
        F.round("o_totalprice", 1).alias("price_r1"),
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("o_day"),
        F.quarter("o_orderdate").cast("int").alias("o_quarter"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_coalesced"
        ),
    )


# ---------------------------------------------------------------------------
# Window functions (extension — absent in reference, SURVEY §2.10)
# ---------------------------------------------------------------------------


@register(
    "window_rank",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
        SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders) t
    WHERE rnk <= 2
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-2 orders per customer. One shuffle on the
    partition key; no global sort."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        table(spark, sf_dir, "orders")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@register(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frame (ROWS UNBOUNDED PRECEDING): running total per
    customer ordered by date."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "window_lead_lag_ntile",
    """
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS s3,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
)
def window_lead_lag_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation + tile + bounded-frame analytics in one pass: lag,
    lead, a 3-row moving sum, and per-customer quartiles share one
    (o_custkey, o_orderkey) sort — Catalyst evaluates all four in a
    single Window physical node, one shuffle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wf = w.rowsBetween(-2, Window.currentRow)
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.round(F.sum("o_totalprice").over(wf), 2).alias("s3"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "custom_agg_median",
    """
    SELECT o_orderpriority, round(median(o_totalprice), 2) AS median_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def custom_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate surface (the reference declares AE::Custom but
    panics, calc_engine.rs:877-879): a GROUPED_AGG pandas UDF — Arrow
    ships each group's column to Python once, the aggregate runs
    vectorized, partial aggregation is Spark's (groups are shuffled
    whole, so keep custom UDAFs for algebraic-resistant stats like
    median/quantiles; use built-ins for everything decomposable)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _median(v):
        return float(v.median())

    # module uses `from __future__ import annotations`, which would
    # stringify inline annotations; set the Series->float signature
    # explicitly so pandas_udf infers GROUPED_AGG
    _median.__annotations__ = {"v": pd.Series, "return": float}
    median_udf = pandas_udf(_median, "double")

    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.round(median_udf("o_totalprice"), 2).alias("median_price"))
    )


@register(
    "tpch_q6_filter_agg",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*)                                    AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure predicate-pushdown showcase. All three
    filters are scan-level PushedFilters (date range + discount band +
    quantity), so at 100 TB the parquet reader prunes row groups by
    min/max stats before any Spark operator runs; what's left is one
    map-side partial sum and a single-row exchange."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "tpch_q3_topk",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-06-01'
      AND l_shipdate  > TIMESTAMP '1996-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: join + aggregate + top-k. orderBy().limit() fuses to
    TakeOrderedAndProject (per-partition heaps + a 10-row driver merge
    — no global sort, no full-result shuffle; the reference has no
    top-k fusion at all, SURVEY §2.5). Ties at 2dp revenue are broken
    by l_orderkey so the same 10 rows surface in both engines. The
    filtered customer segment (~1/5 of a dimension table) broadcasts;
    lineitem is never shuffled except into the group-by."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1996-06-01"))
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1996-06-01"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Co-occurrence mining (round-5 wave 2 extension)
# ---------------------------------------------------------------------------


@register(
    "market_basket_pairs",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
    singles AS (SELECT l_partkey, count(*) AS cnt FROM b GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS p1, c.l_partkey AS p2, count(*) AS pair_count
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2)
    SELECT p1, p2, pair_count,
           round(pair_count / (n.n_orders * 1.0), 8)                 AS support,
           round(pair_count / (s1.cnt * 1.0), 6)                     AS confidence,
           round(pair_count * n.n_orders / (s1.cnt * 1.0 * s2.cnt), 4) AS lift
    FROM pairs
    JOIN singles s1 ON s1.l_partkey = p1
    JOIN singles s2 ON s2.l_partkey = p2
    CROSS JOIN n
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: part pairs ordered together in
    >= 2 orders, with support / confidence / lift. Pair generation is
    basket-local: ONE shuffle collects each order's distinct parts into
    a sorted array, then a higher-order expression enumerates the
    C(basket, 2) pairs in-row (the oracle's equivalent self-join would
    re-shuffle the basket relation once per side — measured plan showed
    Spark does NOT reuse that exchange). Per-order blowup is basket²
    (TPC-H baskets <= 7 lines; a pipeline caps basket size before
    pairing, exactly like an LSH band cap). The singleton-pair long
    tail is pruned before the metric joins; singles counts and the
    1-row order count broadcast; the basket relation feeds pairs,
    singles, and n_orders from the same aggregate. All metrics are
    exact-integer ratios rounded at the end, so no engine-order FP
    drift."""
    li = table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # baskets feeds pairs + singles + n_orders; the subtree recomputes
    # per consumer (scan + one partial-agg shuffle each) — deliberately
    # NOT checkpointed/cached: pinning a corpus-sized basket table on
    # executors evicted neighbouring queries' caches in the bench (the
    # r04 contamination lesson), and recompute of a map-side-combined
    # aggregate is the cheaper currency at 100 TB too
    n_orders = baskets.select(F.count(F.lit(1)).alias("n_orders"))
    singles = baskets.select(F.explode("parts").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    pair_structs = F.expr(
        "flatten(transform(parts, (x, i) ->"
        " transform(slice(parts, i + 2, size(parts)),"
        " y -> struct(x AS p1, y AS p2))))"
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= 2)
    )
    # singles is part-dimension-sized — it grows with scale factor, so
    # a forced broadcast would eventually OOM the driver at 100 TB
    # (ADVICE r05). No hint: AQE picks broadcast while it fits and
    # falls back to a shuffle join when it doesn't; only the 1-row
    # n_orders keeps an explicit broadcast.
    s1 = singles.select(F.col("l_partkey").alias("p1"), F.col("cnt").alias("cnt1"))
    s2 = singles.select(F.col("l_partkey").alias("p2"), F.col("cnt").alias("cnt2"))
    return (
        pairs.join(s1, "p1")
        .join(s2, "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "pair_count",
            F.round(F.col("pair_count") / F.col("n_orders").cast("double"), 8).alias(
                "support"
            ),
            F.round(F.col("pair_count") / F.col("cnt1").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("pair_count")
                * F.col("n_orders")
                / (F.col("cnt1").cast("double") * F.col("cnt2")),
                4,
            ).alias("lift"),
        )
    )


@register(
    "tpch_q18_large_orders",
    """
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           round(o.o_totalprice, 2) AS total_price,
           big.sum_qty
    FROM big
    JOIN orders o   ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): the HAVING aggregate runs FIRST
    and shrinks lineitem to the rare big orders (46 of 15k at sf0.01),
    so the orders/customer joins see a broadcast-sized left side — the
    aggregate-before-join ordering a naive customer-first plan misses.
    Top-100 is TakeOrderedAndProject (per-partition heap + driver
    merge), never a global sort; ties broken by o_orderkey so both
    engines surface identical rows."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(100)
    )


RFM_ANCHOR = "1998-08-01"  # recency reference date (end of the dataset era)


@register(
    "customer_rfm_segments",
    f"""
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               date_diff('day', max(o_orderdate), TIMESTAMP '{RFM_ANCHOR}')
                   AS recency_days,
               count(*) AS frequency,
               round(sum(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey),
    scored AS (
        SELECT custkey, monetary,
               ntile(4) OVER (ORDER BY recency_days ASC, custkey) AS r_q,
               ntile(4) OVER (ORDER BY frequency DESC, custkey)   AS f_q,
               ntile(4) OVER (ORDER BY monetary DESC, custkey)    AS m_q
        FROM rfm)
    SELECT r_q, f_q, m_q,
           count(*) AS n_customers,
           round(avg(monetary), 2) AS avg_monetary
    FROM scored GROUP BY r_q, f_q, m_q
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency / frequency / monetary,
    quartiled by ntile with custkey tie-breaks (quartile membership is
    then a total order, identical on both engines), rolled up to the
    4x4x4 segment grid. The orders table collapses to #customers rows
    in one partial-agg pass; the three ntile windows sort that
    collapsed relation, not the fact table — at 100 TB the windows run
    over the customer dimension. (Production note: a single-partition
    global ntile over billions of customers would swap to a quantile-
    boundary broadcast — compute approx quartile edges, then map-side
    bucket — same output contract.)"""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(F.lit(RFM_ANCHOR).cast("date"), F.max(F.col("o_orderdate").cast("date"))).alias(
            "recency_days"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    scored = rfm.select(
        "monetary",
        F.ntile(4).over(Window.orderBy(F.asc("recency_days"), F.asc("custkey"))).alias("r_q"),
        F.ntile(4).over(Window.orderBy(F.desc("frequency"), F.asc("custkey"))).alias("f_q"),
        F.ntile(4).over(Window.orderBy(F.desc("monetary"), F.asc("custkey"))).alias("m_q"),
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("monetary"), 2).alias("avg_monetary"),
    )


@register(
    "tpch_q5_local_volume",
    """
    SELECT n_name,
           round(sum(l_extendedprice::DECIMAL(18,2)
                     * (1 - l_discount::DECIMAL(18,2))), 2)::DOUBLE AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the classic 6-table join with
    the c_nationkey = s_nationkey "local" correlation. Join order
    matters at 100 TB: lineitem joins the date-filtered orders on
    orderkey first (the only fact-fact shuffle), then supplier on
    suppkey; customer attaches on o_custkey with the nation-equality
    correlation folded into the SAME join condition (never a post-join
    filter over the full cross-nation result). nation x region prune
    to the 5 ASIA nations and broadcast onto supplier, so the
    region/nation restriction reaches the supplier side before any
    fact shuffle; AQE decides supplier/customer join strategies (both
    grow with scale factor - no forced broadcast, the market_basket
    lesson). Revenue is exact-decimal-free: summed as double and
    rounded once at the end on both engines."""
    asia_nations = (
        table(spark, sf_dir, "nation")
        .join(
            F.broadcast(table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = table(spark, sf_dir, "customer")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
    )
    # exact-decimal revenue: a double sum's association order differs
    # between engines (and between partitionings of the SAME engine),
    # and with enough groups some group's true sum lands within an ULP
    # of a .005 boundary — the 2dp round then flips a cent. DECIMAL
    # terms make the sum exact on both sides; cast back to double only
    # after the final round.
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue")
    )


@register(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice::DECIMAL(18,2)
                     * (1 - l_discount::DECIMAL(18,2))), 2)::DOUBLE AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1995-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): customers who returned the
    most revenue in a quarter. The returnflag filter reaches the
    lineitem scan and the quarter filter the orders scan (both pushed
    to parquet), so the orderkey shuffle joins two pre-shrunk facts;
    customer attaches on o_custkey (AQE's strategy call — customer
    grows with SF), nation broadcasts. Top-20 is
    TakeOrderedAndProject with c_custkey breaking 2dp-revenue ties."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1995-04-01"))
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        # exact-decimal sum, same rationale as tpch_q5_local_volume:
        # the double sum's 1082-customer group count makes a 2dp
        # boundary hit near-certain somewhere (measured: one cent off
        # at sf0.01 with the double formulation)
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H adaptations, round-6 wave 4 (the synthetic schema lacks
# l_shipmode / l_commitdate / o_comment, so Q4/Q13/Q22 are adapted to
# the columns that exist; the operator SHAPE — correlated EXISTS,
# left-join histogram, anti-join + scalar subquery — is the point)
# ---------------------------------------------------------------------------


@register(
    "tpch_q14_promo_revenue",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                     THEN (l_extendedprice::DECIMAL(18,2)
                           * (1 - l_discount::DECIMAL(18,2)))
                     ELSE 0 END)
                 / sum(l_extendedprice::DECIMAL(18,2)
                       * (1 - l_discount::DECIMAL(18,2))), 6)::DOUBLE
               AS promo_revenue_pct,
           count(*) AS n_rows
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): what share of a quarter's revenue
    came from PROMO parts. The date band is a scan-level PushedFilter
    on lineitem (row groups pruned by min/max before the join); part is
    a dimension and broadcasts, so the only shuffle is the single-row
    final aggregate. The conditional revenue and the total are computed
    in ONE pass over the joined relation (two sums, same groupBy) —
    never two scans. Both sums are exact decimal so the ratio is
    reproducible across partitionings; rounded once at the end."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
                / F.sum(rev),
                6,
            )
            .cast("double")
            .alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "tpch_q13_custdist",
    """
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution; the o_comment
    NOT-LIKE filter is dropped — the column doesn't exist here). Two
    stacked aggregations: orders-per-customer (count of the non-null
    join side under a LEFT join, so no-order customers count 0), then
    the histogram over those counts. The first groupBy shuffles on
    c_custkey — the same key the join just shuffled on, so AQE reuses
    the exchange; the second groupBy's input is customer-sized and its
    output is #distinct-counts rows. No orderBy: the driver's compare
    sorts, and a global sort on a histogram is wasted work at scale."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q4_priority_exists",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking), adapted: the reference
    predicate l_commitdate < l_receiptdate doesn't exist in this
    schema, so "late" is l_shipdate more than 60 days after the order
    date — same correlated-EXISTS shape, same decorrelation story. The
    EXISTS becomes a LEFT SEMI join on l_orderkey with the cross-side
    date comparison folded into the join condition (never a post-join
    filter); the semi join deduplicates matches on the build side, so
    multi-line orders count once. The date band prunes orders at the
    scan; the semi-join shuffle is keyed on orderkey and the final
    aggregate is 5 rows."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "tpch_q22_idle_customers",
    """
    WITH positive AS (SELECT avg(c_acctbal) AS avg_bal
                      FROM customer WHERE c_acctbal > 0.0)
    SELECT c_mktsegment, count(*) AS numcust,
           round(sum(c_acctbal::DECIMAL(18,2)), 2)::DOUBLE AS totacctbal
    FROM customer, positive
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: rich customers
    (balance above the positive-balance average) who never ordered,
    grouped by market segment instead of phone country code (no phone
    column). Shape: a scalar subquery (1-row broadcast threshold) + a
    NULL-safe anti join against orders. The anti join shuffles customer
    and the o_custkey projection of orders on the same key; at 100 TB
    the orders side is pre-aggregated to distinct keys by the shuffle's
    partial dedup (left_anti needs only key presence). The average is
    computed over doubles but used only as a threshold — a tie would
    need a balance EXACTLY equal to the mean at full precision, which
    the synthetic doubles cannot hit; the summed output is exact
    decimal as usual."""
    c = table(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    o = table(spark, sf_dir, "orders").select("o_custkey")
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("totacctbal"),
    )


BLOOM_M = 1 << 16   # filter bits
BLOOM_K = 3         # hash functions


@register(
    "bloom_semi_filter_probe",
    f"""
    WITH bkeys AS (
        SELECT p_partkey AS k FROM part WHERE p_size < 15),
    bpos AS (
        SELECT DISTINCT
               ('0x' || substr(md5(j.j::VARCHAR || '_' || b.k::VARCHAR), 1, 8))::BIGINT
                   % {BLOOM_M} AS p
        FROM bkeys b CROSS JOIN generate_series(0, {BLOOM_K - 1}) j(j)),
    probe AS (
        SELECT l_orderkey, l_linenumber, l_partkey,
               (SELECT count(*) FROM generate_series(0, {BLOOM_K - 1}) j(j)
                WHERE EXISTS (
                    SELECT 1 FROM bpos WHERE bpos.p =
                        ('0x' || substr(md5(j.j::VARCHAR || '_' || l_partkey::VARCHAR), 1, 8))::BIGINT
                            % {BLOOM_M})) AS nhit
        FROM lineitem),
    truth AS (
        SELECT l_orderkey, l_linenumber FROM lineitem
        WHERE EXISTS (SELECT 1 FROM bkeys WHERE k = l_partkey))
    SELECT count(*) AS n_probed,
           count(*) FILTER (WHERE nhit = {BLOOM_K}) AS n_passed,
           (SELECT count(*) FROM truth) AS n_true_match,
           count(*) FILTER (WHERE nhit = {BLOOM_K})
               - (SELECT count(*) FROM truth) AS n_false_pos,
           round((count(*) FILTER (WHERE nhit = {BLOOM_K})
                  - (SELECT count(*) FROM truth))::DOUBLE
                 / count(*), 6) AS fp_rate
    FROM probe
    """,
)
def bloom_semi_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pre-filter: build a 65536-bit / 3-hash
    Bloom filter over the selective dimension side (parts with
    p_size < 15), probe the fact side map-only, and account exactly
    for what the filter admits — probed rows, passed rows, true
    matches, and false positives. This is the classic shuffle-killer
    for selective joins: the fact table is filtered BEFORE the join
    shuffle by a sketch whose size is independent of either input.

    Scale shape: the build side is one partial agg to <= 2^16
    distinct bit positions collected into ONE array row (256 KB
    ceiling — a metadata-sized collect_set, like the IVF centroid
    broadcast) and cross-broadcast to the probe; the probe is
    map-only (3 md5s + array_contains per row) with a single
    counters-row partial agg at the end. No shuffle touches fact
    rows. At 100 TB the array becomes a real bitmap (m ~ 2^27+,
    BitArray in a UDF or Spark's own runtime
    spark.sql.optimizer.runtime.bloomFilter) — the admission
    arithmetic this entry pins is identical.

    The exact-truth side (broadcast semi join on the same predicate)
    quantifies the false-positive rate the m/k choice buys; Bloom
    never yields false negatives, asserted by construction here
    (n_passed >= n_true_match or the build is broken)."""
    part = table(spark, sf_dir, "part").filter(F.col("p_size") < 15)
    li = table(spark, sf_dir, "lineitem")

    def pos(key, j):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", F.lit(j).cast("string"), key.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % BLOOM_M
        )

    bpos = None
    for j in range(BLOOM_K):
        sel = part.select(pos(F.col("p_partkey"), j).alias("p"))
        bpos = sel if bpos is None else bpos.unionAll(sel)
    bits = bpos.distinct().agg(F.collect_set("p").alias("bits"))

    probed = li.select("l_partkey").crossJoin(F.broadcast(bits))
    passed = None
    for j in range(BLOOM_K):
        hit = F.array_contains(F.col("bits"), pos(F.col("l_partkey"), j))
        passed = hit if passed is None else (passed & hit)
    counts = probed.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(passed.cast("long")).alias("n_passed"),
    )
    truth = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_true_match"))
    )
    return (
        counts.crossJoin(truth)
        .select(
            "n_probed",
            "n_passed",
            "n_true_match",
            (F.col("n_passed") - F.col("n_true_match")).alias("n_false_pos"),
            F.round(
                (F.col("n_passed") - F.col("n_true_match")).cast("double")
                / F.col("n_probed"),
                6,
            ).alias("fp_rate"),
        )
    )
