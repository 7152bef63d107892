"""Relational operators: scan/filter, aggregation, joins, windows, set ops.

The reference has NO relational surface (SURVEY.md §2.A.4 — its only
dataflow is a sequential for-loop over matched files,
``download_file.py:254-262``); this module is the engine's analytics
extension (SURVEY.md §2.B #1-#13), expressed purely with the DataFrame API
so Catalyst owns optimization: predicate pushdown and column pruning reach
the parquet scan, small dimensions are broadcast explicitly, and AQE picks
shuffle partition counts at runtime.

Oracle-parity conventions (the driver hash-compares values):

- Integer-returning scalar functions are cast to ``bigint`` on the Spark
  side because DuckDB's ``year()/length()/row_number()`` return ``BIGINT``.
- DuckDB ``SUM(integer)`` returns ``HUGEINT`` — every such oracle SUM is
  wrapped in ``CAST(... AS BIGINT)``.
- Sums/averages of *non-integer* doubles are order-dependent in the last
  bits, so both sides round (2-6 decimals).  Sums of integer-valued doubles
  (``l_quantity``) are exact in IEEE754 and stay unrounded.
- Window/top-k orderings always include a unique tiebreaker key so results
  are total-ordered and deterministic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from googlecloudstorage_blueprints_spark.functions.frames import sort_bounded
from googlecloudstorage_blueprints_spark.operators import register
from googlecloudstorage_blueprints_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# 1. scan + projection + filter (TPC-H Q6-style predicate)
# --------------------------------------------------------------------------

@register(
    "scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
           l_extendedprice * l_discount AS potential_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective scan: all three predicates and the 5-column projection are
    pushed into the parquet scan (verify with .explain → PushedFilters /
    ReadSchema).  Per-row arithmetic only — no shuffle at all."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            (F.col("l_extendedprice") * F.col("l_discount")).alias(
                "potential_revenue"
            ),
        )
    )


# --------------------------------------------------------------------------
# 2. pricing summary (TPC-H Q1) — the flagship aggregation
# --------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity)                       AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)        AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                               * 10000) AS BIGINT)) AS BIGINT)
               / 10000.0                         AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) * 1000000) AS BIGINT)) AS BIGINT)
               / 1000000.0                       AS sum_charge,
           SUM(l_quantity) / COUNT(*)            AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)        AS avg_price,
           ROUND(AVG(l_discount), 6)             AS avg_disc,
           COUNT(*)                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan → filter → hash-aggregate → sort.

    Scale: partial (map-side) aggregation means the shuffle carries only
    |groups| × |partitions| rows (6 groups here); the plan is one shuffle.
    avg_qty is expressed as exact integer-sum / count (bit-identical across
    engines); price aggregates are rounded (summation-order drift).

    Parity: sum_disc_price and sum_charge both use the r7 fixed-point
    rule.  Each term is scaled (×1e4 for the 4-decimal discount product,
    ×1e6 for the 6-decimal charge) and rounded to BIGINT at birth
    (per-term float error ≪ 0.5, so the integer is exact); the
    order-independent integer sum is divided once at the end —
    bit-identical across engines and across runs.  A 4dp ROUND of a
    double SUM is not enough near 4e9: double's granularity there is
    ~5e-7, so a few hundred additions drift past the 5e-5 rounding
    boundary (a generated lineitem summed to 4186958072.0952 exactly,
    DuckDB's double sum to …2.0952497, which rounds to …2.0953).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            (
                F.sum(F.round(disc_price * 10_000).cast("long")) / 10_000.0
            ).alias("sum_disc_price"),
            (
                F.sum(F.round(charge * 1_000_000).cast("long")) / 1_000_000.0
            ).alias("sum_charge"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # 6 groups: bounded sort, no range-sampling job
        .transform(sort_bounded, "l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# 3. broadcast join chain (customer ⋈ nation ⋈ region)
# --------------------------------------------------------------------------

@register(
    "join_broadcast",
    oracle="""
    SELECT r.r_name, n.n_name,
           COUNT(*)                    AS n_customers,
           ROUND(SUM(c.c_acctbal), 2)  AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join with explicitly broadcast dimensions.

    nation (25 rows) and region (5 rows) are broadcast — at 100 TB the fact
    side streams through map-side hash joins with ZERO shuffle; the only
    shuffle is the final 25-group aggregate."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        # 25 (region, nation) groups: bounded sort
        .transform(sort_bounded, "r_name", "n_name")
    )


# --------------------------------------------------------------------------
# 4. large-to-large shuffle join (orders ⋈ lineitem)
# --------------------------------------------------------------------------

@register(
    "join_shuffle",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*)                          AS n_lines,
           SUM(l.l_quantity)                 AS sum_qty,
           ROUND(SUM(l.l_extendedprice), 2)  AS sum_price
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact equi-join: sort-merge on the shuffled join key.

    Scale: both sides hash-partition on orderkey (co-partitioned shuffle);
    AQE handles skew splitting.  On a real deployment both tables would be
    bucketed by orderkey, turning this into a zero-shuffle join — the code
    is identical, only the table layout changes."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        # 5 priority groups: bounded sort
        .transform(sort_bounded, "o_orderpriority")
    )


# --------------------------------------------------------------------------
# 5/6. semi + anti joins
# --------------------------------------------------------------------------

@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — customers having at least one >$400k order.
    Semi joins ship only the key column of the build side and stop probing
    at first match; no row multiplication."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# 7. outer join with null-aware aggregation
# --------------------------------------------------------------------------

@register(
    "join_outer",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey)                          AS n_orders,
           ROUND(SUM(COALESCE(o.o_totalprice, 0)), 2)   AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers (COUNT of a nullable
    column counts only matches; SUM over COALESCE keeps zeros exact)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2)
            .alias("total_spent"),
        )
    )


# --------------------------------------------------------------------------
# 8. distinct aggregates
# --------------------------------------------------------------------------

@register(
    "agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*)                   AS n_orders,
           COUNT(DISTINCT o_custkey)  AS n_customers,
           COUNT(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Spark expands multiple distinct aggregates with
    the `expand` operator; exact, not approximate, to match the oracle.
    (The approx path — approx_count_distinct/HLL — is the 100 TB default
    and is exposed in text.py's corpus profile.)"""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
        )
        # 5 priority groups: bounded sort
        .transform(sort_bounded, "o_orderpriority")
    )


# --------------------------------------------------------------------------
# 9/10. grouping sets: rollup + cube
# --------------------------------------------------------------------------

@register(
    "grouping_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*)                       AS n_orders,
           ROUND(SUM(o_totalprice), 2)    AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    HAVING COUNT(*) > 0
    """,
)
def grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: (status, priority) → (status) → () subtotal levels in one
    pass; Spark's Expand operator materializes the grouping sets map-side.
    Oracle carries HAVING COUNT(*) > 0: on a ZERO-ROW input Spark's
    rollup emits no rows while DuckDB (SQL-standard) emits the ()
    grand-total row — identity on any non-empty input, where every
    grouping-set row aggregates ≥1 source row (empty-catalog audit,
    r17; same note on cube/grouping_sets)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "grouping_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           COUNT(*)        AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0
    """,
)
def grouping_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the 2×2 flag/status space (exact integer sums).
    Oracle HAVING COUNT(*) > 0 — the zero-row grouping-set alignment
    (see grouping_rollup)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# 11. ranking window functions
# --------------------------------------------------------------------------

@register(
    "window_ranking",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK()       OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank per customer.  The ORDER BY includes
    the unique o_orderkey tiebreaker → fully deterministic output.
    Scale: one hash-partition shuffle on o_custkey; within-partition sort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


# --------------------------------------------------------------------------
# 12. analytic window functions (running totals, lag/lead)
# --------------------------------------------------------------------------

@register(
    "window_analytic",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           SUM(l_quantity) OVER w_run AS running_qty,
           LAG(l_quantity)  OVER w    AS prev_qty,
           LEAD(l_quantity) OVER w    AS next_qty
    FROM lineitem
    WINDOW
      w AS (PARTITION BY l_orderkey
            ORDER BY l_linenumber NULLS FIRST, l_quantity NULLS FIRST,
                     l_extendedprice NULLS FIRST, l_partkey NULLS FIRST,
                     l_suppkey NULLS FIRST),
      w_run AS (PARTITION BY l_orderkey
                ORDER BY l_linenumber NULLS FIRST, l_quantity NULLS FIRST,
                         l_extendedprice NULLS FIRST, l_partkey NULLS FIRST,
                         l_suppkey NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag/lead per order.

    (l_orderkey, l_linenumber) is NOT unique in the fixture, so the window
    ordering adds value tiebreakers down to full-row uniqueness — without a
    total order, lag/lead are engine-dependent.  l_quantity is
    integer-valued, so running sums are exact doubles on both engines.
    The oracle spells NULLS FIRST explicitly (null-catalog audit, r18:
    Spark's ASC default is NULLS FIRST, DuckDB's is NULLS LAST — on a
    NULL-riddled copy the engines otherwise disagree on the total
    order; identical on non-NULL keys)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_quantity", "l_extendedprice", "l_partkey",
        "l_suppkey",
    )
    wr = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_quantity", "l_extendedprice", "l_partkey",
        "l_suppkey",
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.sum("l_quantity").over(wr).alias("running_qty"),
        F.lag("l_quantity").over(w).alias("prev_qty"),
        F.lead("l_quantity").over(w).alias("next_qty"),
    )


# --------------------------------------------------------------------------
# 13. top-k per group + global top-k
# --------------------------------------------------------------------------

@register(
    "topk_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rk
    FROM (
        SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey)
                   AS rk
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
    )
    WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per market segment.

    Scale: Spark rewrites `rank-limit` windows with a WindowGroupLimit
    (partial top-k before the shuffle) — each map task keeps only 3 rows
    per segment, so the shuffle is tiny regardless of fact size.  The
    customer side is broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
    )


@register(
    "orderby_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20: Spark plans TakeOrderedAndProject — each task keeps a
    20-row heap, the driver merges; no full sort, no full shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# 14. set operations
# --------------------------------------------------------------------------

@register(
    "set_ops",
    oracle="""
    SELECT c_custkey FROM (
        (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION
         SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_nationkey < 15
    )
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) → INTERSECT → EXCEPT composition.  Spark's
    `.union` is UNION ALL, so distinct() is applied to match SQL UNION;
    intersect/subtract are the distinct set semantics."""
    c = load_table(spark, sf_dir, "customer")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.where(F.col("c_acctbal") > 9000).select("c_custkey")
    low_nation = c.where(F.col("c_nationkey") < 15).select("c_custkey")
    negative = c.where(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        building.union(rich).distinct().intersect(low_nation).subtract(negative)
    )


# --------------------------------------------------------------------------
# 15. scalar function coverage: string / date / math
# --------------------------------------------------------------------------

@register(
    "scalar_string_date_math",
    oracle="""
    SELECT o_orderkey,
           UPPER(substr(o_orderpriority, 3))            AS prio_name,
           concat_ws('|', o_orderstatus, o_orderpriority) AS status_tag,
           CAST(length(o_orderpriority) AS BIGINT)      AS prio_len,
           CAST(year(o_orderdate)  AS BIGINT)           AS o_year,
           CAST(month(o_orderdate) AS BIGINT)           AS o_month,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                                                        AS order_month,
           o_orderkey % 7                               AS key_mod,
           o_totalprice * 0.1                           AS tithe,
           ABS(o_totalprice - 250000.0)                 AS dist_mid
    FROM orders
    WHERE o_orderstatus <> 'P'
    """,
)
def scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function sweep: substring/upper/concat_ws/length (string),
    year/month/date_trunc+format (date), %/round/abs (math) — all JVM
    builtins inside one whole-stage-codegen'd projection."""
    o = load_table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderstatus") != "P").select(
        "o_orderkey",
        F.upper(F.expr("substring(o_orderpriority, 3)")).alias("prio_name"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("status_tag"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd")
        .alias("order_month"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
        # no rounding: the per-row IEEE product is bit-identical on both
        # engines, while round() at the systematic half-cent boundary
        # (2-decimal price × 0.1) tiebreaks differently per engine
        (F.col("o_totalprice") * 0.1).alias("tithe"),
        F.abs(F.col("o_totalprice") - 250000.0).alias("dist_mid"),
    )


# --------------------------------------------------------------------------
# 16. conditional aggregation + HAVING
# --------------------------------------------------------------------------

@register(
    "conditional_agg_having",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high_discount,
           ROUND(SUM(CASE WHEN l_discount > 0.05
                          THEN l_extendedprice ELSE 0 END), 2)
               AS high_discount_price
    FROM lineitem
    GROUP BY l_returnflag
    HAVING COUNT(*) > 1000
    ORDER BY l_returnflag
    """,
)
def conditional_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN inside aggregates + post-aggregation HAVING filter."""
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("l_discount") > 0.05
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(high, 1).otherwise(0)).cast("long")
            .alias("n_high_discount"),
            F.round(
                F.sum(F.when(high, F.col("l_extendedprice")).otherwise(0.0)), 2
            ).alias("high_discount_price"),
        )
        .where(F.col("n_lines") > 1000)
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# 17. multi-way join with selective dims (TPC-H Q3-flavored)
# --------------------------------------------------------------------------

@register(
    "multiway_join_agg",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate_str
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def multiway_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter (broadcast) → fact join →
    aggregate → global top-10.  Catalyst pushes all three filters to the
    scans; the filtered customer side is broadcast.

    Parity (r9): revenue rounds 4dp — the discount products carry exactly
    4 decimals, so the true sum sits on a rounding target, never a
    half-cent boundary (r6 rule); 4dp also makes the revenue-DESC top-10
    cut identical across engines."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_str"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )
