"""Fourth tranche: the remaining classic TPC-H shapes (Q9/Q11/Q12/Q13/
Q16/Q17/Q20 analogs), completing all 22 query patterns, adapted to the
harness schema (no partsupp — lineitem×part stand in; no shipmode —
l_returnflag stands in).

Each is written as the decorrelated, shuffle-minimal Spark plan you'd
want at 100 TB:

- Q9  (profit rollup): dims (part/supplier/nation) broadcast into ONE
  pass over the fact join lineitem⋈orders; profit stays exact DECIMAL
  until the final cast.
- Q11 (HAVING vs global total): scalar subquery over an aggregate →
  1-row broadcast, not a recomputation per group.
- Q12 (conditional counts): CASE-based pivot inside one hash agg —
  one shuffle on the group key, no per-branch scans.
- Q13 (distribution of counts): LEFT OUTER + two-stage agg; the join
  key (c_custkey) and the first groupBy key coincide, so Catalyst
  reuses the exchange — the second agg is over tiny data.
- Q16 (distinct suppliers per part class): NOT IN on a non-null key →
  left_anti broadcast join; countDistinct shuffles once.
- Q17 (correlated avg threshold): avg-per-part decorrelated into a
  groupBy + equi-join back (never a per-row subquery).
- Q20 (nested IN chain): two semi-join reductions over pre-aggregated
  per-(part,supplier) quantities.

Reference context: these are downstream-SQL shapes the reference
delegates to Athena (SURVEY.md §2.11; cumulus_etl hands study SQL to
Athena per docs/deid.md). The engine must answer them natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cumulus_etl_spark.functions import check_literal_parsing, sql_str
from cumulus_etl_spark.plans.catalog import dec, register
from cumulus_etl_spark.sources import table

_Q9_ORACLE = """
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(24,4))
                      * (1 - CAST(l.l_discount AS DECIMAL(8,6)))
                      - CAST(p.p_retailprice AS DECIMAL(18,4))
                        * CAST(l.l_quantity AS DECIMAL(12,2))
                        * CAST(0.5 AS DECIMAL(2,1))), 2) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE 'red %'
GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
"""


@register("q9_profit_by_nation_year", _Q9_ORACLE, tags=("join", "agg", "tpch"))
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: multi-way star join + computed profit measure,
    grouped by nation×year. part/supplier/nation broadcast; the only
    shuffles are lineitem⋈orders on orderkey and the final hash agg.
    Profit = revenue − 0.5·retailprice·qty (supplycost proxy), exact
    decimal end-to-end."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("red %"))
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        dec("l_extendedprice", 24, 4) * (F.lit(1) - dec("l_discount", 8, 6))
        - dec("p_retailprice", 18, 4) * dec("l_quantity", 12, 2) * dec(F.lit(0.5), 2, 1)
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li["l_partkey"] == F.col("p_partkey"))
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
    )


_Q11_ORACLE = """
WITH val AS (
  SELECT l.l_partkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(24,4))) AS part_value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY l.l_partkey
)
SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM val
WHERE CAST(part_value AS DOUBLE) >
      (SELECT CAST(SUM(part_value) AS DOUBLE) * CAST(0.001 AS DOUBLE) FROM val)
"""


@register("q11_important_parts", _Q11_ORACLE, tags=("agg", "subquery", "tpch"))
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value filtered against a fraction of
    the GLOBAL total (scalar subquery over the same aggregate). The
    total is a 1-row broadcast crossJoin — the per-part aggregate is
    computed once and reused for both sides, not recomputed per row.
    Sums stay exact decimal; the threshold comparison happens in double
    space with identical operands on both engines (a pure-decimal
    multiply would exceed precision 38 and round engine-dependently)."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    val = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice", 24, 4)).alias("part_value"))
    )
    total = val.agg(
        (F.sum("part_value").cast("double") * F.lit(0.001).cast("double")).alias("threshold")
    )
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("part_value").cast("double") > F.col("threshold"))
        .select("l_partkey", F.col("part_value").cast("double").alias("part_value"))
    )


_Q12_ORACLE = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag
"""


@register("q12_priority_by_returnflag", _Q12_ORACLE, tags=("join", "agg", "tpch"))
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts (CASE inside SUM) split one
    scan into high/low-priority tallies — a 2-way pivot in a single
    hash aggregation. The shipdate filter pushes into the lineitem
    parquet scan before the join."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


_Q13_ORACLE = """
WITH c_orders AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM c_orders
GROUP BY c_count
"""


@register("q13_customer_distribution", _Q13_ORACLE, tags=("join", "agg", "tpch"))
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution-of-counts. LEFT OUTER join keeps
    order-less customers (c_count=0 bucket); the join predicate filters
    the RIGHT side only, so it stays in the join condition, not a WHERE
    (a WHERE would turn the outer join inner). First agg groups on the
    join key — the exchange is reused — and the second agg input is
    |customers| rows, trivially small."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_Q16_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register("q16_supplier_cnt_by_part_class", _Q16_ORACLE, tags=("join", "agg", "subquery", "tpch"))
def q16_supplier_cnt_by_part_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery + COUNT(DISTINCT) per part
    class. The NOT IN is over a non-null key, so it lowers to a
    broadcast left_anti join (null-safe NOT IN semantics would need
    null checks; s_suppkey is a PK). countDistinct expands to a
    two-phase agg — one shuffle on (brand,type,size,suppkey), then the
    final count."""
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad_sup = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad_sup), li["l_suppkey"] == bad_sup["s_suppkey"], "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q17_ORACLE = """
SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(24,4))), 2) AS DOUBLE)
       / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < (
    SELECT CAST(0.2 AS DOUBLE) * AVG(l2.l_quantity)
    FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
  )
"""


@register("q17_small_quantity_revenue", _Q17_ORACLE, tags=("join", "agg", "subquery", "tpch"))
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG threshold, decorrelated into
    avg-per-part + equi-join back (one shuffle on l_partkey, reused by
    both the aggregate and the join). l_quantity is integral-valued, so
    SUM is exact in double and AVG = sum/count is bit-identical across
    engines; the 0.2 factor is applied as the same double on both
    sides. Final division by 7.0 happens after the exact-decimal
    revenue sum is rounded, so no double-accumulation drift."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (F.lit(0.2).cast("double") * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(avg_qty, li["l_partkey"] == avg_qty["ak"])
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.round(F.sum(dec("l_extendedprice", 24, 4)), 2).cast("double") / F.lit(7.0))
            .alias("avg_yearly")
        )
    )


_FULL_OUTER_ORACLE = """
WITH c AS (
  SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_rich_cust
  FROM customer WHERE c_acctbal > 8000 GROUP BY c_nationkey
),
s AS (
  SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_rich_supp
  FROM supplier WHERE s_acctbal > 8000 GROUP BY s_nationkey
)
SELECT COALESCE(c.nk, s.nk) AS nationkey, c.n_rich_cust, s.n_rich_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
"""


@register("join_full_outer_nation_wealth", _FULL_OUTER_ORACLE, tags=("join",))
def join_full_outer_nation_wealth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two filtered aggregates — nations rich in
    customers, suppliers, or either; nulls mark one-sided nations.
    Both inputs pre-aggregate to |nations| rows before the join, so
    the outer join is over tiny data regardless of fact size."""
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_cust"))
    )
    sup = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_supp"))
    )
    return cust.join(sup, cust["c_nk"] == sup["s_nk"], "full_outer").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"), "n_rich_cust", "n_rich_supp"
    )


_FIRST_LAST_ORACLE = """
SELECT event_id, user_id,
       first_value(event_type) OVER w AS first_type,
       last_value(event_type) OVER w AS last_type,
       nth_value(event_type, 2) OVER w AS second_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("window_first_last_nth", _FIRST_LAST_ORACLE, tags=("window",))
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with an explicit UNBOUNDED frame — the
    default frame (up to CURRENT ROW) makes last_value useless, the
    classic window gotcha. Total order (ts, event_id) pins ties."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


_EXCEPT_ALL_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
"""


@register("set_except_all_multiplicity", _EXCEPT_ALL_ORACLE, tags=("setop",))
def set_except_all_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference): a customer with 5 open orders and 2
    low-priority ones keeps 3 rows — multiplicity arithmetic that the
    DISTINCT variant erases. Compiles to one aggregation counting per
    side + generate, not a join per duplicate."""
    o = table(spark, sf_dir, "orders")
    open_orders = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return open_orders.exceptAll(low)


_Q20_ORACLE = """
WITH qty AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
total AS (
  SELECT l_partkey, SUM(sq) AS tq FROM qty GROUP BY l_partkey
)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (
  SELECT q.l_suppkey
  FROM qty q
  JOIN total t ON t.l_partkey = q.l_partkey
  JOIN part p ON p.p_partkey = q.l_partkey
  WHERE p.p_name LIKE 'blue %' AND q.sq > 0.5 * t.tq
)
"""


@register("q20_promotion_suppliers", _Q20_ORACLE, tags=("join", "subquery", "tpch"))
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN chain (suppliers ∈ {dominant shippers
    of blue parts this year}). Spark-first: pre-aggregate once per
    (part,supplier), derive per-part totals from THAT aggregate (not a
    second fact scan), semi-join the supplier dim with the qualifying
    supplier keys. sq/tq are sums of integral doubles — exact, so the
    0.5·tq comparison is engine-independent."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    qty = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("sq"))
    total = qty.groupBy(F.col("l_partkey").alias("tk")).agg(F.sum("sq").alias("tq"))
    blue = table(spark, sf_dir, "part").filter(F.col("p_name").like("blue %")).select("p_partkey")
    dominant = (
        qty.join(total, qty["l_partkey"] == total["tk"])
        .join(F.broadcast(blue), qty["l_partkey"] == blue["p_partkey"], "left_semi")
        .filter(F.col("sq") > F.lit(0.5) * F.col("tq"))
        .select("l_suppkey")
    )
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    return (
        sup.join(dominant, sup["s_suppkey"] == dominant["l_suppkey"], "left_semi")
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .select("s_suppkey", "s_name", "n_name")
    )


_BLOOM_JOIN_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size = 1
GROUP BY p_brand
"""


@register("join_bloom_pruned_revenue", _BLOOM_JOIN_ORACLE, tags=("join", "scale"))
def join_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (operators/bloom.py): the probe side
    (lineitem) is shed row-by-row against a 64Kbit bloom of the build
    side's keys (p_size=1 parts) BEFORE the join shuffle; the exact
    join then removes bloom false positives, so the result is identical
    to the plain join the oracle runs. The shape for build sides too
    large to broadcast but whose bit-set fits anywhere."""
    from cumulus_etl_spark.operators.bloom import bloom_pruned_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    build = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 1)
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    joined = bloom_pruned_join(li, build, "l_partkey")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(rev), 2).cast("double").alias("revenue"),
    )


_ARRAY_FN_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents WHERE trim(text) <> ''
)
SELECT doc_id,
       CAST(len(w) AS INT) AS n_words,
       CAST(len(list_filter(w, x -> length(x) >= 5)) AS INT) AS n_long_words,
       CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS total_chars,
       list_contains(w, 'spark') AS has_spark,
       array_to_string(list_sort(list_distinct(list_transform(w[1:3], x -> upper(x)))), ',')
         AS first3_upper_sorted,
       w[-1] AS last_word
FROM t
"""


@register("scalar_array_functions", _ARRAY_FN_ORACLE, tags=("scalar", "array"))
def scalar_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function suite (SURVEY §2.11 projection row):
    transform / filter / aggregate / exists / slice / distinct / sort —
    all Catalyst lambda expressions mirrored by DuckDB list functions.
    Row-local, rides the scan, no shuffle."""
    d = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    check_literal_parsing(spark)
    w = "split(trim(`text`), " + sql_str(r"\s+") + ")"
    return d.select(
        "doc_id",
        F.expr(f"size({w})").alias("n_words"),
        F.expr(f"size(filter({w}, __x -> length(__x) >= 5))").alias("n_long_words"),
        F.expr(
            f"aggregate(transform({w}, __x -> CAST(length(__x) AS BIGINT)), CAST(0 AS BIGINT),"
            " (__acc, __n) -> __acc + __n)"
        ).alias("total_chars"),
        F.expr(f"array_contains({w}, 'spark')").alias("has_spark"),
        F.expr(
            f"array_join(array_sort(array_distinct(transform(slice({w}, 1, 3), __x -> upper(__x)))), ',')"
        ).alias("first3_upper_sorted"),
        F.expr(f"element_at({w}, -1)").alias("last_word"),
    )


_SALT_FACTOR = 8

_SALTED_JOIN_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4))
                      * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2) AS DOUBLE)
         AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@register("join_salted_bigkey", _SALTED_JOIN_ORACLE, tags=("join", "skew"))
def join_salted_bigkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-to-dimension join proven a SEMANTIC NO-OP: the
    probe side (lineitem) gets a deterministic salt in [0, 8) per row,
    the build side (orders) is replicated once per salt value, and the
    join runs on (key, salt) — so one hot orderkey spreads over 8
    shuffle partitions instead of one straggler task. The oracle is the
    PLAIN join: identical per-priority counts and revenue, pinning that
    salting changes the physical distribution and nothing else (the
    join-side analogue of agg_salted_returnflag). At 100 TB: pick the
    factor from the observed hot-key share, or let AQE skew-join split
    post-hoc; explicit salting also covers the aggregation-free
    co-group cases AQE cannot rewrite."""
    from cumulus_etl_spark.plans.catalog import dsum2

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (dec("l_extendedprice", 15, 4)
         * (F.lit(1) - dec("l_discount", 8, 6))).alias("rev"),
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT_FACTOR))
        .alias("salt"),
    )
    orders = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_FACTOR - 1)))
        )
        .withColumn("salt", F.col("salt").cast("bigint"))
    )
    return (
        li.join(
            orders,
            (li["l_orderkey"] == orders["o_orderkey"])
            & (li["salt"] == orders["salt"]),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            dsum2(F.col("rev"), "revenue"),
        )
    )
