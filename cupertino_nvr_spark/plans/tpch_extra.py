"""Additional TPC-H-shaped batch plans (SURVEY §2.4-2.7 widening).

The driver's star schema omits several TPC-H columns (no partsupp,
l_shipmode, p_container), so each classic query shape is adapted to the
columns that exist while keeping its *physical* signature intact:

- Q13: left-outer join + two-level aggregation (outer join preserving
  zero-order customers, then a distribution over the counts).
- Q14: conditional-aggregate ratio (promo revenue share).
- Q17: correlated scalar subquery decorrelated into an agg-join
  (per-part average quantity threshold).
- Q18: IN-subquery with HAVING → left-semi join onto a grouped filter.
- Q19: disjunction of conjunctive blocks — Catalyst extracts the common
  `p_partkey` equi-key and pushes the residual OR below the join.
- Q10: selective fact filter + 3-way join + top-k (TakeOrderedAndProject).
- Q22: scalar subquery threshold + anti join + final agg.

Float determinism policy follows `plans.relational`: aggregate raw
2-decimal money columns exactly in DECIMAL(18,2), cast the final result
to DOUBLE; scalar double arithmetic stays unrounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint
from cupertino_nvr_spark.plans.registry import register
from cupertino_nvr_spark.sources.tables import load_table, register_views


def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


def _order_part_pairs(li: DataFrame, strict: bool) -> DataFrame:
    """Within-order part pairs (pa, pb) — ``strict`` keeps pb > pa
    (unordered pairs once), else pb != pa (both directions).

    r14 shape: the three market-basket consumers (orders_part_pairs,
    parts_copurchase_lift, parts_copurchase_pagerank) used a distinct +
    order-keyed SELF-JOIN, which pays the (l_orderkey, l_partkey)
    distinct exchange plus a re-exchange of BOTH join sides on
    l_orderkey — and the self-join arms each recompute the distinct
    (no CSE across arms). One map-side-combined collect_set per order
    (set semantics subsume the old DISTINCT) followed by a double
    explode emits the identical pair multiset for ONE exchange total;
    the fan-out is bounded by items-per-order squared per row (<= 7
    lines in TPC-H shapes — the bound the old join relied on), so the
    per-row array is small at any corpus scale."""
    grp = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("_pks"))
    )
    cond = (
        (F.col("pb") > F.col("pa")) if strict else (F.col("pb") != F.col("pa"))
    )
    return (
        grp.select(F.explode("_pks").alias("pa"), "_pks")
        .select("pa", F.explode("_pks").alias("pb"))
        .filter(cond)
        .select("pa", "pb")
    )


@register(
    "customer_order_distribution",
    """
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) per_cust
    GROUP BY n_orders
    """,
    doc=(
        "TPC-H Q13 shape: left-outer join keeps customers with zero orders, "
        "then a second aggregation over the per-customer counts. Both "
        "shuffles are on high-cardinality keys (custkey, then the tiny "
        "n_orders domain after map-side combine) — safe at 100 TB."
    ),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(cust.c_custkey)
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@register(
    "promo_revenue_ratio",
    """
    SELECT
      CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        * 100.0 AS promo_pct,
      COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    """,
    doc=(
        "TPC-H Q14 shape: conditional-aggregate ratio over a broadcast dim "
        "join; exact decimal sums so the double division is bit-identical "
        "across engines."
    ),
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, "part", sf_dir)
    disc = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.sum(promo).cast("double")
                / F.sum(disc).cast("double")
                * F.lit(100.0)
            ).alias("promo_pct"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "small_quantity_revenue",
    """
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    ) a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * a.avg_qty
    GROUP BY p.p_brand
    """,
    doc=(
        "TPC-H Q17 shape: the correlated `AVG(l_quantity) per part` scalar "
        "subquery, decorrelated into an aggregate joined back to the fact — "
        "the plan Catalyst produces for the correlated form, written "
        "explicitly so both engines compute the identical decimal-exact "
        "threshold. Self-join shuffles once on l_partkey; the part dim "
        "broadcasts."
    ),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    avg_qty = li.groupBy("l_partkey").agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty")
    )
    return (
        li.join(avg_qty.withColumnRenamed("l_partkey", "a_partkey"),
                F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias("small_qty_revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "large_volume_orders",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    doc=(
        "TPC-H Q18 shape: grouped HAVING filter feeding an IN-subquery "
        "(left-semi join), then re-aggregation after the 3-way join. The "
        "semi-join side is already aggregated, so its output is small "
        "relative to the fact — AQE can flip it to broadcast at runtime."
    ),
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("s"))
        .filter(F.col("s") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "b_orderkey"),
                    F.col("o_orderkey") == F.col("b_orderkey"), "left_semi")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
    )


@register(
    "disjunctive_part_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc=(
        "TPC-H Q19 shape: OR of conjunctive blocks across both join sides. "
        "Catalyst keeps the p_partkey equi-key, derives the per-side "
        "implied filters (brand IN (...), quantity <= 30) for pushdown, and "
        "evaluates the residual disjunction post-probe."
    ),
)
def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    blocks = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 20)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(20, 30)
    )
    disc = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(blocks)
        .agg(
            F.sum(disc).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "returned_item_revenue",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc=(
        "TPC-H Q10 shape: selective returnflag filter pushed to the "
        "lineitem scan, 3-way join with a broadcast nation dim, global "
        "top-20 via TakeOrderedAndProject (no full sort); c_custkey "
        "tiebreak keeps the cut deterministic."
    ),
)
def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, "nation", sf_dir)
    disc = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(disc).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "idle_rich_customers",
    """
    SELECT c.c_nationkey, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    WHERE c.c_acctbal > (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      FROM customer WHERE c_acctbal > 0.0
    )
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
    doc=(
        "TPC-H Q22 shape: uncorrelated scalar-subquery threshold (computed "
        "once, broadcast) + NOT EXISTS anti join + final agg. The anti "
        "join's build side is just order custkeys — column-pruned to one "
        "int column at scan time."
    ),
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SQL form so the uncorrelated threshold stays a scalar subquery
    # (computed once, wired in as a literal at runtime) rather than a
    # 1-row nested-loop join
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_nationkey, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        FROM customer c
        WHERE c.c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM customer WHERE c_acctbal > 0.0
        )
        AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c.c_nationkey
        """
    )


@register(
    "order_priority_check",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o.o_orderpriority
    """,
    doc=(
        "TPC-H Q4 shape (the driver schema has no l_commitdate/"
        "l_receiptdate, so 'late' is shipped >30 days after ordering): "
        "correlated EXISTS decorrelated into a LEFT SEMI join on orderkey "
        "with the date predicate as a residual join condition — lineitem is "
        "column-pruned to (l_orderkey, l_shipdate) at the scan and never "
        "duplicated per matching row. Reference analog: the wall's "
        "existence-gated overlay rendering (cupertino_nvr/wall/"
        "overlay_renderer.py draws only frames that HAVE detections)."
    ),
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "nation_volume_shipping",
    """
    SELECT supp_nation, cust_nation, yr,
           CAST(SUM(vol) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
    FROM (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             year(l.l_shipdate) AS yr,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS vol
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey  = o.o_custkey
      JOIN supplier s ON s.s_suppkey  = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
      WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
          OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, yr
    """,
    doc=(
        "TPC-H Q7 shape: two fact-side shuffle joins (orders, customer) "
        "plus three broadcast dims (supplier, nation x2 under distinct "
        "aliases), with the disjunctive nation-pair predicate pushed below "
        "the aggregation. Decimal-exact volume sums; year() bucketing."
    ),
)
def nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    vol = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), supp.s_nationkey == F.col("ns_key"))
        .join(F.broadcast(nc), cust.c_nationkey == F.col("nc_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("yr"),
            vol.alias("vol"),
        )
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(
            F.sum("vol").cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "returnflag_priority_counts",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
    doc=(
        "TPC-H Q12 shape (no l_shipmode in the driver schema, so "
        "l_returnflag is the grouping category): fact-fact equi-join with "
        "the selective date filter pushed to the lineitem scan, then "
        "conditional integer counting — exact across engines by "
        "construction."
    ),
)
def returnflag_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    orders = load_table(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "top_supplier_revenue",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    doc=(
        "TPC-H Q15 shape: a derived revenue view joined against its own "
        "scalar MAX. Revenue stays DECIMAL through the max comparison so "
        "the equality is exact (a double roundtrip could drop the winner); "
        "the 1-row max broadcasts and the supplier dim join broadcasts."
    ),
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    supp = load_table(spark, "supplier", sf_dir)
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).alias(
            "total_rev"
        )
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(F.col("total_rev") == F.col("mx"))
    return (
        F.broadcast(supp)
        .join(top, supp.s_suppkey == top.supplier_no)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


@register(
    "waiting_suppliers",
    """
    WITH li_o AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM li_o l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.is_late
      AND EXISTS (SELECT 1 FROM li_o l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM li_o l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.is_late)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
    doc=(
        "TPC-H Q21 shape ('late' derived as shipped >60 days after "
        "ordering, finished orders only): the sole-late-supplier hunt — a "
        "LEFT SEMI join (some OTHER supplier served the order) chained "
        "with a LEFT ANTI join (no OTHER supplier was late), both equi on "
        "orderkey with the supplier inequality as residual condition, then "
        "a broadcast dim join and top-k via TakeOrderedAndProject."
    ),
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderstatus") == "F"
    )
    li_o = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "is_late"
        ),
    )
    l1 = li_o.filter(F.col("is_late")).select("l_orderkey", "l_suppkey")
    l2 = li_o.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li_o.filter(F.col("is_late")).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    sole_late = l1.join(
        l2, (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2), "left_semi"
    ).join(l3, (l1.l_orderkey == F.col("o3")) & (l1.l_suppkey != F.col("s3")), "left_anti")
    supp = load_table(spark, "supplier", sf_dir)
    return (
        sole_late.join(F.broadcast(supp), sole_late.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@register(
    "forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS forecast_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc=(
        "TPC-H Q6 shape (the forecasting-revenue-change query): a single "
        "selective scan-aggregate with every predicate pushed to the "
        "parquet scan — no join, no shuffle beyond the final 1-row "
        "combine. The canonical test that filter pushdown + map-side "
        "partial aggregation are working: at 100 TB this reads only the "
        "row groups the shipdate range survives and moves one partial "
        "row per partition."
    ),
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("forecast_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "market_share",
    """
    WITH all_lines AS (
      SELECT YEAR(o.o_orderdate) AS yr,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS vol,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = nc.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT yr,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share,
           COUNT(*) AS n_lines
    FROM all_lines GROUP BY yr
    """,
    doc=(
        "TPC-H Q8 shape (national market share): the widest join tree in "
        "the suite — fact-fact lineitem-orders shuffle, then five bounded "
        "dimensions (customer-side nation->region, supplier-side nation, "
        "part) all BROADCAST so the fact rows never reshuffle for them. "
        "Share = conditional decimal sum / total decimal sum per year, "
        "exact until the final rounded division."
    ),
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    part = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "PROMO")
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    vol = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), cust.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(region), F.col("nc_region") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), supp.s_nationkey == F.col("ns_key"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        joined.select(
            F.year("o_orderdate").alias("yr"),
            vol.alias("vol"),
            "supp_nation",
        )
        .groupBy("yr")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("vol")).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum("vol").cast("double"),
                6,
            ).alias("mkt_share"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "product_profit",
    """
    SELECT ns.n_name AS supp_nation, YEAR(o.o_orderdate) AS yr,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS profit,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY ns.n_name, YEAR(o.o_orderdate)
    """,
    doc=(
        "TPC-H Q9 shape (product-type profit by nation and year; the "
        "driver schema has no partsupp/supplycost, so profit is the "
        "discounted revenue proxy): part-name LIKE filter broadcast-prunes "
        "the fact FIRST — the selective dims (part, supplier, nation) are "
        "all broadcast, leaving lineitem-orders as the only shuffle."
    ),
)
def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(F.col("p_name").contains("widget"))
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), supp.s_nationkey == F.col("ns_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("supp_nation", F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("profit"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "nation_yearly_growth",
    """
    WITH yearly AS (
      SELECT n.n_name, CAST(year(o.o_orderdate) AS INT) AS yr,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev_dec
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, CAST(year(o.o_orderdate) AS INT)
    ), lagged AS (
      SELECT n_name, yr, rev_dec,
             LAG(rev_dec) OVER (PARTITION BY n_name ORDER BY yr) AS prev_dec
      FROM yearly
    )
    SELECT n_name, yr, CAST(rev_dec AS DOUBLE) AS revenue,
           round((CAST(rev_dec AS DOUBLE) - CAST(prev_dec AS DOUBLE))
                 / CAST(prev_dec AS DOUBLE) * 100.0, 6) AS yoy_pct
    FROM lagged
    """,
    doc="year-over-year revenue growth per nation: grouped yearly revenue "
    "(exact decimal sums), then LAG over the per-nation year series. The "
    "time-series growth shape: the lag window runs over #nations x #years "
    "rows — the aggregate, never the fact table; first year emits NULL "
    "growth in both engines. Fact-fact shuffle joins + broadcast nation",
)
def nation_yearly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    yearly = (
        li.join(orders, li.l_orderkey == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(F.sum(rev).alias("rev_dec"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    lagged = yearly.withColumn("prev_dec", F.lag("rev_dec").over(w))
    rev_d = F.col("rev_dec").cast("double")
    prev_d = F.col("prev_dec").cast("double")
    return lagged.select(
        "n_name",
        "yr",
        rev_d.alias("revenue"),
        F.round((rev_d - prev_d) / prev_d * 100.0, 6).alias("yoy_pct"),
    )


@register(
    "orders_part_pairs",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    counted AS (SELECT p1, p2, COUNT(*) AS support FROM pairs GROUP BY p1, p2)
    SELECT p1, p2, support, rank FROM (
      SELECT p1, p2, support,
             ROW_NUMBER() OVER (ORDER BY support DESC, p1, p2) AS rank
      FROM counted) WHERE rank <= 20
    """,
    doc="market-basket co-occurrence: top-20 part pairs bought in the same "
    "order. The self-join is keyed on l_orderkey so pairs explode only "
    "WITHIN an order (bounded by items-per-order squared, ~21 for TPC-H's "
    "<=7 lines), never across the corpus; the pair count partial-aggregates "
    "map-side and the global top-20 is TakeOrderedAndProject over distinct "
    "pairs (the docs_vocab_topk pattern), never an unpartitioned window "
    "over the pair stream",
)
def orders_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    counted = (
        _order_part_pairs(li, strict=True)
        .select(F.col("pa").alias("p1"), F.col("pb").alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("support"))
    )
    top = counted.orderBy(F.col("support").desc(), "p1", "p2").limit(20)
    w = Window.orderBy(F.col("support").desc(), "p1", "p2")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "p1", "p2", "support", "rank"
    )


@register(
    "min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(round(l_extendedprice / l_quantity, 6)) AS unit_cost
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, l_suppkey, unit_cost,
             MIN(unit_cost) OVER (PARTITION BY l_partkey) AS best_cost
      FROM cost
    )
    SELECT p.p_partkey, s.s_suppkey, s.s_name, n.n_name, b.unit_cost
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey AND p.p_size <= 10
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE b.unit_cost = b.best_cost
    """,
    doc=(
        "TPC-H Q2 shape (min-cost supplier per part; lineitem's observed "
        "unit price stands in for the missing partsupp.supplycost): the "
        "correlated MIN subquery is decorrelated into a window MIN over "
        "the (part, supplier) aggregate — the window runs over the "
        "per-pair AGGREGATE (|parts|x|suppliers| upper bound), never the "
        "fact table, and reuses the groupBy's partkey clustering. Ties "
        "keep every achieving supplier, exactly like Q2. part/supplier/"
        "nation all broadcast; the only fact shuffle is the (partkey, "
        "suppkey) partial-agg. Unit cost is a single IEEE divide rounded "
        "to 6 — both engines compute it from identical operands, so the "
        "equality against the window min is deterministic."
    ),
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") > 0)
    part = load_table(spark, "part", sf_dir).filter(F.col("p_size") <= 10)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)).alias(
            "unit_cost"
        )
    )
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn("best_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("best_cost")
    )
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("p_partkey", "s_suppkey", "s_name", "n_name", "unit_cost")
    )


@register(
    "important_parts",
    """
    WITH pr AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(rev_dec) AS total_dec FROM pr)
    SELECT pr.l_partkey AS p_partkey,
           CAST(pr.rev_dec AS DOUBLE) AS part_revenue,
           round(CAST(pr.rev_dec AS DOUBLE) / CAST(tot.total_dec AS DOUBLE)
                 * 100.0, 6) AS revenue_pct
    FROM pr, tot
    WHERE CAST(pr.rev_dec AS DOUBLE) > CAST(tot.total_dec AS DOUBLE) * 0.0015
    """,
    doc=(
        "TPC-H Q11 shape (parts whose revenue exceeds a fraction of the "
        "corpus total): the HAVING-with-scalar-subquery is a 1-row total "
        "attached by broadcast cross join — the per-part aggregate "
        "streams once, no second pass and no driver collect. Sums are "
        "exact DECIMAL so the double threshold comparison is "
        "bit-identical across engines."
    ),
)
def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    pr = li.groupBy("l_partkey").agg(F.sum(rev).alias("rev_dec"))
    tot = pr.agg(F.sum("rev_dec").alias("total_dec"))
    rev_d = F.col("rev_dec").cast("double")
    tot_d = F.col("total_dec").cast("double")
    return (
        pr.join(F.broadcast(tot))
        .filter(rev_d > tot_d * F.lit(0.0015))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            rev_d.alias("part_revenue"),
            F.round(rev_d / tot_d * 100.0, 6).alias("revenue_pct"),
        )
    )


@register(
    "supplier_part_variety",
    """
    WITH ps AS (
      SELECT DISTINCT l.l_partkey, l.l_suppkey
      FROM lineitem l
      ANTI JOIN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7') bad
        ON l.l_suppkey = bad.s_suppkey
    )
    SELECT p.p_brand, p.p_type,
           CAST(FLOOR(p.p_size / 10) AS INT) AS size_band,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1'
    GROUP BY p.p_brand, p.p_type, CAST(FLOOR(p.p_size / 10) AS INT)
    """,
    doc=(
        "TPC-H Q16 shape (supplier variety per part group, excluding "
        "complained-about suppliers): the NOT IN subquery is a broadcast "
        "anti join on the tiny excluded-supplier set, the (part, "
        "supplier) de-dup partial-aggregates map-side, and the final "
        "COUNT(DISTINCT) runs over the deduped pairs grouped by the "
        "small (brand, type, band) domain — two bounded shuffles total, "
        "no fact-side blowup at any scale."
    ),
)
def supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(F.col("p_brand") != "Brand#1")
    bad = supp.filter(F.col("s_name").endswith("7")).select("s_suppkey")
    ps = (
        li.join(
            F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"), "left_anti"
        )
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            "p_type",
            F.floor(F.col("p_size") / 10).cast("int").alias("size_band"),
        )
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "dominant_promo_suppliers",
    """
    WITH pq AS (
      SELECT l.l_partkey, l.l_suppkey,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS supp_qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    shared AS (
      SELECT l_partkey, l_suppkey, supp_qty,
             SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
      FROM pq
    )
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
    FROM shared sh
    JOIN supplier s ON s.s_suppkey = sh.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE CAST(sh.supp_qty AS DOUBLE) > CAST(sh.part_qty AS DOUBLE) * 0.5
    """,
    doc=(
        "TPC-H Q20 shape (suppliers dominating the 1997 supply of PROMO "
        "parts): the nested EXISTS/IN chain becomes one (part, supplier) "
        "aggregate + a window SUM over the aggregate for the per-part "
        "total (reusing the partkey clustering — no self-join), a "
        "share-threshold filter, then a distinct supplier projection "
        "joined to broadcast dims. The selective part-type filter "
        "broadcast-prunes the fact before its only shuffle. Quantity "
        "sums are exact DECIMAL, so the half-share comparison is "
        "engine-independent."
    ),
)
def dominant_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "PROMO")
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    pq = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("supp_qty"))
    )
    w = Window.partitionBy("l_partkey")
    shared = pq.withColumn("part_qty", F.sum("supp_qty").over(w))
    dominant = shared.filter(
        F.col("supp_qty").cast("double") > F.col("part_qty").cast("double") * 0.5
    ).select("l_suppkey").distinct()
    return (
        dominant.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


# 3-iteration PageRank CTE chain shared across the oracle's iterations.
def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
    c{out} AS (
      SELECT e.dst, CAST(round(r.r / d.deg, 12) AS DECIMAL(22,12)) AS c
      FROM edges e JOIN r{prev} r ON e.src = r.node JOIN deg d ON e.src = d.src
    ),
    r{out} AS (
      SELECT dst AS node,
             round(CAST(0.15 AS DOUBLE) / n
                   + CAST(0.85 AS DOUBLE) * CAST(SUM(c) AS DOUBLE), 12) AS r
      FROM c{out}, nn GROUP BY dst, n
    )"""


@register(
    "parts_copurchase_pagerank",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / n AS r FROM deg, nn),
    {_pr_iter_sql("0", "1")},
    {_pr_iter_sql("1", "2")},
    {_pr_iter_sql("2", "3")}
    SELECT node AS p_partkey, r AS pagerank, rank FROM (
      SELECT node, r, ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rank
      FROM r3) WHERE rank <= 20
    """,
    doc=(
        "graph analytics next to the connected-components family: "
        "3-iteration PageRank (d=0.85) over the part co-purchase graph, "
        "top-20 by rank. Edges come from an order-keyed self-join "
        "(bounded by items-per-order squared, the orders_part_pairs "
        "rule) and are checkpointed ONCE so the three iterations "
        "reuse the materialized edge/degree frames instead of replaying "
        "the lineitem derivation per iteration — via reliable_checkpoint, "
        "which uses fault-tolerant checkpoint() when a checkpoint dir is "
        "configured (spark.cupertino.checkpoint.dir) and localCheckpoint "
        "only under local masters, so one lost executor cannot strand "
        "unreplicated blocks on a real cluster. Each iteration is one "
        "src-keyed join + one dst-keyed sum — O(|E|) per round, the "
        "canonical distributed PageRank step; the undirected edge set "
        "guarantees every node receives mass, so no dangling-node "
        "correction is needed. Per-edge contributions are rounded to "
        "fixed-point DECIMAL before summing, so three rounds of "
        "accumulation stay bit-identical across engines; the global "
        "top-20 is TakeOrderedAndProject."
    ),
)
def parts_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    edges = (
        _order_part_pairs(li, strict=False)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )
    # repartition by the iteration join key BEFORE the checkpoint: the
    # checkpointed LogicalRDD carries its outputPartitioning, so each of
    # the three rank iterations' src-keyed joins reuses it instead of
    # re-exchanging the full edge list per round (guide §2.4 — two
    # operations keyed the same way share one exchange); only the
    # node-sized rank frame moves per iteration.
    edges = reliable_checkpoint(edges.repartition("src"))
    deg = reliable_checkpoint(edges.groupBy("src").agg(F.count("*").alias("deg")))
    n = deg.count()
    # carry (node, deg, r) together so each iteration joins the edge
    # stream ONCE — re-attaching deg onto the nodes-sized rank frame is
    # free compared to a second edge-sized join per round
    rd = deg.select(
        F.col("src").alias("node"), "deg", F.lit(1.0 / n).alias("r")
    )
    for _ in range(3):
        contrib = edges.join(rd, edges.src == rd.node).select(
            "dst",
            F.round(F.col("r") / F.col("deg"), 12)
            .cast("decimal(22,12)")
            .alias("c"),
        )
        new_r = contrib.groupBy("dst").agg(
            F.round(
                F.lit(0.15 / n) + F.lit(0.85) * F.sum("c").cast("double"), 12
            ).alias("r")
        )
        rd = new_r.join(deg, new_r.dst == deg.src).select(
            F.col("dst").alias("node"), "deg", "r"
        )
    ranks = rd.select("node", "r")
    top = ranks.orderBy(F.col("r").desc(), "node").limit(20)
    w = Window.orderBy(F.col("r").desc(), "node")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            F.col("node").alias("p_partkey"), F.col("r").alias("pagerank"), "rank"
        )
    )


@register(
    "customer_value_distribution",
    """
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    doc=(
        "distribution-rank window surface (percent_rank / cume_dist / "
        "ntile in one pass): account-balance position of every customer "
        "WITHIN its market segment. All three functions share one window "
        "spec, so Catalyst evaluates them in a single Window operator "
        "over one segment-keyed shuffle — and partitioning by segment "
        "means per-partition sorts, never a global sort. Deterministic "
        "ntile via the (acctbal, custkey) total order."
    ),
)
def customer_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@register(
    "supplier_concentration_hhi",
    """
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev_dec
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    tot AS (
      SELECT s_nationkey, SUM(rev_dec) AS tot_dec, COUNT(*) AS n_suppliers
      FROM rev GROUP BY s_nationkey
    ),
    shares AS (
      SELECT r.s_nationkey, t.n_suppliers,
             CAST(round(power(CAST(r.rev_dec AS DOUBLE)
                              / CAST(t.tot_dec AS DOUBLE), 2), 12)
                  AS DECIMAL(14,12)) AS sq_share
      FROM rev r JOIN tot t USING (s_nationkey)
    )
    SELECT n.n_name, sh.n_suppliers,
           round(CAST(SUM(sh.sq_share) AS DOUBLE), 6) AS hhi
    FROM shares sh JOIN nation n ON n.n_nationkey = sh.s_nationkey
    GROUP BY n.n_name, sh.n_suppliers
    """,
    doc=(
        "market-concentration analytics: the Herfindahl-Hirschman index "
        "of supplier revenue per nation (sum of squared revenue shares; "
        "1/n = perfectly even, 1.0 = monopoly). Revenue sums are exact "
        "DECIMAL; each squared share is one deterministic double "
        "power/divide rounded to fixed-point BEFORE the per-nation sum, "
        "so the cross-supplier accumulation is order-independent (the "
        "embedding_dim_stats policy). One fact shuffle on (nation, "
        "supplier), then nation-sized aggregates; nation dim broadcast."
    ),
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    rev = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(revenue).alias("rev_dec"))
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("rev_dec").alias("tot_dec"), F.count("*").alias("n_suppliers")
    )
    sq_share = F.round(
        F.pow(F.col("rev_dec").cast("double") / F.col("tot_dec").cast("double"), 2),
        12,
    ).cast("decimal(14,12)")
    shares = rev.join(tot, "s_nationkey").select(
        "s_nationkey", "n_suppliers", sq_share.alias("sq_share")
    )
    return (
        shares.join(F.broadcast(nation), shares.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "n_suppliers")
        .agg(F.round(F.sum("sq_share").cast("double"), 6).alias("hhi"))
    )


@register(
    "orders_open_backlog",
    """
    WITH span AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS start_day,
             CAST(MAX(l.l_shipdate) AS DATE) + 1 AS end_day
      FROM orders o JOIN lineitem l ON o_orderkey = l_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
      SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM (
        SELECT start_day AS day, 1 AS d FROM span
        UNION ALL
        SELECT end_day AS day, -1 AS d FROM span)
      GROUP BY day
    )
    SELECT day, delta,
           CAST(SUM(delta) OVER (
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS n_open
    FROM deltas
    """,
    doc=(
        "concurrent-interval counting via delta encoding + prefix sum — "
        "how many orders are OPEN (placed, not yet fully shipped) on "
        "each day. The naive formulation is a point-in-interval range "
        "join (every day x every order — quadratic and unshuffleable); "
        "the scalable identity instead emits +1/-1 boundary deltas per "
        "order, aggregates them to DATE granularity with map-side "
        "combine (one keyed shuffle over order-count rows), and runs "
        "the prefix sum over the DATES-sized series — the unpartitioned "
        "running-sum window is safe precisely because it executes on "
        "the calendar-sized aggregate, never on facts (the "
        "daily_revenue_gapfill rule). Each order's close date is its "
        "max l_shipdate; the interval is [orderdate, close], close "
        "inclusive via the +1-day exclusive bound."
    ),
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    span = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("close_ts"))
        .select(
            F.to_date("o_orderdate").alias("start_day"),
            F.date_add(F.to_date("close_ts"), 1).alias("end_day"),
        )
    )
    # explode the two boundary deltas instead of a self-union: the union
    # form duplicates the whole span subtree (two fact scans + two
    # aggregations); the explode emits both rows from ONE pass
    deltas = (
        span.select(
            F.explode(
                F.array(
                    F.struct(F.col("start_day").alias("day"), F.lit(1).alias("d")),
                    F.struct(F.col("end_day").alias("day"), F.lit(-1).alias("d")),
                )
            ).alias("b")
        )
        .select("b.day", "b.d")
        .groupBy("day")
        .agg(F.sum("d").cast("bigint").alias("delta"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "day", "delta", F.sum("delta").over(w).cast("bigint").alias("n_open")
    )


# Benford's-law first-digit audit (Newcomb 1881 / Benford 1938) — the
# forensic-accounting screen a finance team runs over transaction
# amounts: naturally-occurring multi-magnitude totals follow
# p(d) = log10(1 + 1/d); fabricated or capped data doesn't. The first
# digit comes from string arithmetic on the floored total (log10-based
# extraction can mis-bucket exact powers of ten via float error, and
# integer CAST rounds in DuckDB while truncating in Spark — FLOOR
# first sidesteps both engine hazards).
@register(
    "orders_benford",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
      SELECT digit, COUNT(*) AS n,
             SUM(COUNT(*)) OVER () AS total
      FROM digits GROUP BY digit
    ),
    scored AS (
      SELECT digit, n, total,
             n * 1.0 / total AS obs_frac,
             log10(1.0 + 1.0 / digit) AS benford_frac
      FROM obs
    )
    SELECT CAST(digit AS INT) AS digit, CAST(n AS BIGINT) AS n,
           round(obs_frac, 6) AS obs_frac,
           round(benford_frac, 6) AS benford_frac,
           round(total * (obs_frac - benford_frac) * (obs_frac - benford_frac)
                 / benford_frac, 6) AS chisq_contrib,
           round(SUM(total * (obs_frac - benford_frac) * (obs_frac - benford_frac)
                     / benford_frac) OVER (), 6) AS chisq_total
    FROM scored
    """,
    doc=(
        "Benford first-digit audit of order totals: observed vs "
        "log10(1+1/d) expected frequencies, per-digit chi-square "
        "contribution and the 8-dof total a fraud screen thresholds. "
        "Scale shape: one map-side-combined 9-group aggregate over the "
        "fact table; fractions, expectations and the chi-square all run "
        "on the 9-row digit frame (the unpartitioned windows span 9 "
        "rows, never the corpus)."
    ),
)
def orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir)
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    wt = Window.partitionBy()
    obs = (
        digits.groupBy("digit")
        .agg(F.count("*").alias("n"))
        .withColumn("total", F.sum("n").over(wt))
    )
    obs_frac = F.col("n") * F.lit(1.0) / F.col("total")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    contrib = (
        F.col("total") * (obs_frac - benford) * (obs_frac - benford) / benford
    )
    scored = obs.select(
        F.col("digit").cast("int").alias("digit"),
        F.col("n").cast("bigint").alias("n"),
        F.round(obs_frac, 6).alias("obs_frac"),
        F.round(benford, 6).alias("benford_frac"),
        F.round(contrib, 6).alias("chisq_contrib"),
        F.round(F.sum(contrib).over(wt), 6).alias("chisq_total"),
    )
    return scored


@register(
    "parts_copurchase_lift",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    norders AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    item AS (SELECT l_partkey, COUNT(*) AS n_item FROM op GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND b.l_partkey > a.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
    ),
    scored AS (
      SELECT part_a, part_b, n_both,
             ia.n_item AS n_a, ib.n_item AS n_b,
             CAST(n_both AS DOUBLE) / n_orders AS support,
             CAST(n_both AS DOUBLE) / ia.n_item AS confidence_a_to_b,
             CAST(n_both AS DOUBLE) / ib.n_item AS confidence_b_to_a,
             (CAST(n_both AS DOUBLE) * n_orders) / (ia.n_item * ib.n_item) AS lift
      FROM pairs
      JOIN item ia ON ia.l_partkey = part_a
      JOIN item ib ON ib.l_partkey = part_b
      CROSS JOIN norders
    )
    SELECT part_a, part_b, n_both, n_a, n_b,
           ROUND(support, 6) AS support,
           ROUND(confidence_a_to_b, 6) AS confidence_a_to_b,
           ROUND(confidence_b_to_a, 6) AS confidence_b_to_a,
           ROUND(lift, 6) AS lift,
           rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, part_a, part_b) AS rank
      FROM scored) WHERE rank <= 20
    """,
    doc=(
        "market-basket association rules over the part co-purchase graph "
        "(the classic Agrawal-Srikant support/confidence/lift statistics), "
        "top-20 unordered pairs by lift at min co-occurrence 2 — the "
        "mining companion to parts_copurchase_pagerank, sharing its "
        "distinct-(order, part) basket derivation. Pair counts come from "
        "the order-keyed self-join (bounded by items-per-order squared "
        "per order, the orders_part_pairs rule — never parts squared), "
        "one (part_a, part_b)-keyed aggregate with the support floor "
        "applied BEFORE the stats joins prune the pair stream; support and "
        "lift are symmetric but confidence is not, and the pair is "
        "canonicalized to part_a < part_b, so BOTH rule directions are "
        "emitted (confidence_a_to_b = n_both/n_a, confidence_b_to_a = "
        "n_both/n_b); item "
        "supports attach by part-keyed equi-joins and the basket total "
        "is a 1-row broadcast. All ratios are single divisions of exact "
        "integer counts, so both engines produce identical doubles; the "
        "global top-20 is TakeOrderedAndProject. Lift ties break on the "
        "pair ids"
    ),
)
def parts_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    op = li.select("l_orderkey", "l_partkey").distinct()
    norders = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = op.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    pairs = (
        _order_part_pairs(li, strict=True)
        .groupBy(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    ia = item.select(
        F.col("l_partkey").alias("_ka"), F.col("n_item").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("_kb"), F.col("n_item").alias("n_b")
    )
    scored = (
        pairs.join(ia, F.col("part_a") == F.col("_ka"))
        .join(ib, F.col("part_b") == F.col("_kb"))
        .crossJoin(F.broadcast(norders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            (F.col("n_both").cast("double") / F.col("n_orders")).alias("support"),
            (F.col("n_both").cast("double") / F.col("n_a")).alias(
                "confidence_a_to_b"
            ),
            (F.col("n_both").cast("double") / F.col("n_b")).alias(
                "confidence_b_to_a"
            ),
            (
                (F.col("n_both").cast("double") * F.col("n_orders"))
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )
    top = scored.orderBy(F.col("lift").desc(), "part_a", "part_b").limit(20)
    w = Window.orderBy(F.col("lift").desc(), "part_a", "part_b")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            F.round("support", 6).alias("support"),
            F.round("confidence_a_to_b", 6).alias("confidence_a_to_b"),
            F.round("confidence_b_to_a", 6).alias("confidence_b_to_a"),
            F.round("lift", 6).alias("lift"),
            "rank",
        )
    )
