"""TPC-H-shaped relational analytics over the orders/lineitem star."""

from spark_ifs_spark.registry._common import *  # noqa: F401,F403
from spark_ifs_spark.registry._common import (  # noqa: F401
    _BENFORD_PPM,
    _PROFILE_SKETCH_COLS,
    _SQL_SHINGLES,
    _SQL_WORDS,
    _lr_features,
    _quantized_wide,
    _read,
    _sql_bpe_round,
    _sql_count_word,
    _sql_emb_long,
    _sql_emb_lsh_cand,
    _sql_pair_mi,
    _sql_unrolled_greedy,
    _t,
)


def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table join query (TPC-H Q5/Q10 shape): revenue per nation
    from open orders. Join strategy at scale: orders⋈customer shuffles on
    custkey (both large → sort-merge, AQE may re-plan), nation is a
    25-row dim → explicit broadcast. Filter on o_orderstatus pushes to
    the parquet scan."""
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .select("n_name", "n_orders", "revenue")
    )


def q_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join query shape (TPC-H Q4): count orders per priority that
    have at least one large-lot lineitem (quantity > 45). EXISTS becomes
    a leftsemi join — at scale a shuffle-join on orderkey whose build
    side carries only the join key (no lineitem payload ever moves), and
    the quantity filter pushes to the lineitem scan."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .select("o_orderpriority", "order_count")
    )


def sql_priority_orders() -> str:
    return """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_quantity > 45
)
GROUP BY o_orderpriority
"""


def sql_nation_revenue() -> str:
    return """
SELECT n_name,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderstatus = 'O'
GROUP BY n_name
"""


def sql_lineitem_pricing() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue for one market
    segment. Three-table join with filters on every side — all three
    predicates push to the parquet scans; customer⋈orders and
    ⋈lineitem shuffle on their keys (big-big → sort-merge, AQE
    re-plans); the top-10 is TakeOrdered, never a global sort."""
    cust = _read(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def sql_shipping_priority() -> str:
    return """
SELECT o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1998-01-01'
  AND l.l_shipdate > DATE '1998-01-01'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
"""


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    date window. The big-big joins shuffle on their keys; the 25-row
    nation dim broadcasts."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def sql_returned_revenue() -> str:
    return """
SELECT c.c_custkey, c.c_name, n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate < DATE '1997-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
"""


def q_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-shape: distinct suppliers per part brand/size, excluding a
    blocklisted supplier set via ANTI-join (`NOT IN` with non-null keys
    ≡ left-anti). Plan: the blocklist aggregates to a handful of rows
    and broadcasts; the distinct-count is a two-level hash aggregate on
    (brand, size, suppkey) — no sort. Brands ~25, so the final key
    space is tiny regardless of lineitem volume."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    supp = _read(spark, sf_dir, "supplier")
    blocked = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(blocked), li["l_suppkey"] == blocked["s_suppkey"], "left_anti")
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


def sql_supplier_diversity() -> str:
    return """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipped volume between a nation pair by year.
    Plan: the big lineitem/orders join shuffles on orderkey; supplier,
    customer and (twice) the 25-row nation dim broadcast; the date
    filter pushes to the lineitem scan; year() folds into the
    aggregate key."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    nation = _read(spark, sf_dir, "nation")
    sup = (
        _read(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _read(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def sql_nation_trade_volume() -> str:
    return """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three disjunctive brand/size/
    quantity brackets. Plan: part broadcasts, the OR-of-ANDs predicate
    evaluates inside one codegen stage after the join, and the whole
    query folds to a single scalar aggregate — one scan of lineitem."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    bracket = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(20, 40)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(bracket).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def sql_bracket_revenue() -> str:
    return """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 20 AND 40)
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue over a
    quarter. The 'revenue view' aggregates once; the max is a scalar
    aggregate broadcast back as an equi-filter — NOT a global-sort
    window, which would funnel every supplier through one task at
    scale. Revenue is rounded before the max compare so tie resolution
    is engine-portable."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    sup = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev["total_revenue"] == mx["max_rev"])
        .join(F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def sql_top_supplier() -> str:
    return """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s.s_suppkey
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share — a CASE ratio reduced
    to a single row. Plan: the month filter pushes to the lineitem
    scan; part is a dimension (broadcast under AQE sizing); both sums
    come out of ONE aggregate, and the division happens on the two
    final scalars — no second pass, no self-join."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1998-02-01")
    )
    part = _read(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.col("p_type").startswith("PROMO")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(promo, rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


def sql_promo_revenue() -> str:
    return """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1998-01-01' AND l_shipdate < '1998-02-01'
"""


def q_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in below-average-quantity lines —
    the correlated-scalar-subquery pattern. Plan: Catalyst's rewrite is
    expressed directly — the per-part average is ONE aggregate over the
    (cardinality-bounded) part key space joined back to lineitem; at
    dimension-sized part counts AQE broadcasts it, so lineitem is
    scanned once and never shuffled twice. The threshold comparison is
    computed identically on both engines (exact integer sums under
    double arithmetic), so the boundary cannot drift."""
    li = _read(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("threshold")
    )
    return (
        li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def sql_small_order_revenue() -> str:
    return """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS threshold
  FROM lineitem GROUP BY l_partkey
) t USING (l_partkey)
WHERE l.l_quantity < t.threshold
"""


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers with no URGENT order — a
    scalar-aggregate threshold plus an anti-join against a filtered
    subquery (the priority filter pushes to the orders scan and keeps
    the result non-degenerate on the synthetic data, where every
    customer has *some* order). Plan: the global average is a 1-row
    aggregate broadcast into the filter (Spark's scalar-subquery
    execution, written as a crossJoin of a 1-row frame); the NOT
    EXISTS is a left-anti shuffle join on custkey (big-big safe); the
    final rollup keys on nationkey — bounded."""
    cust = _read(spark, sf_dir, "customer")
    urgent = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


def sql_idle_customers() -> str:
    return """
SELECT c_nationkey, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
  )
GROUP BY c_nationkey
"""


def q_unconverted_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-interval join: views with NO same-user click inside the
    30-minute horizon — attribution's complement (the funnel-drop
    report). Plan: left-anti join with an equi key (user) plus the
    event-time range condition; Spark executes the equi part as a
    hash/sort-merge anti join and evaluates the range residual per
    matched key group — never a cartesian. Rolled up per user, bounded
    output."""
    ev = _read(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    unconv = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") < F.col("v_ts") + F.expr("INTERVAL 30 minutes")),
        "left_anti",
    )
    return unconv.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_unconverted")
    )


def sql_unconverted_views() -> str:
    return """
SELECT v.user_id, count(*) AS n_unconverted
FROM events v
WHERE v.event_type = 'view'
  AND NOT EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click'
      AND c.user_id = v.user_id
      AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 30 MINUTE
  )
GROUP BY v.user_id
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a supplier nation's yearly share of PROMO-part
    revenue sold into one market region — the deepest join tree in the
    registry (6 tables). Plan: part/supplier/nation/region are
    dimensions and broadcast (nation/region doubly so — 25 and 5 rows);
    the one unavoidable big-big shuffle is lineitem⋈orders on the
    orderkey, and AQE re-plans the customer join after the region
    filter collapses it. The share divides two sums from ONE aggregate
    over a 2-row year key space — never two passes."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").filter(F.col("p_type") == MKT_PART_TYPE)
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = _read(spark, sf_dir, "customer")
    sup = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    reg = _read(spark, sf_dir, "region").filter(F.col("r_name") == MKT_REGION)
    cnat = nat.alias("cnat")
    snat = nat.alias("snat")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    from_nation = F.col("snat.n_name") == MKT_SUPP_NATION
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cnat), F.col("c_nationkey") == F.col("cnat.n_nationkey"))
        .join(F.broadcast(reg), F.col("cnat.n_regionkey") == reg["r_regionkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(snat), F.col("s_nationkey") == F.col("snat.n_nationkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(from_nation, rev).otherwise(F.lit(0.0))) / F.sum(rev), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def sql_market_share() -> str:
    return f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(CASE WHEN sn.n_name = '{MKT_SUPP_NATION}'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = '{MKT_PART_TYPE}'
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = '{MKT_REGION}'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1998-01-01'
GROUP BY 1 ORDER BY 1
"""


def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts per customer,
    INCLUDING zero-order customers — the outer-join aggregate family.
    Plan: customer LEFT JOIN filtered orders shuffles both sides on the
    custkey (big-big; AQE handles the skewed no-order key space), the
    per-customer count folds map-side, and the second aggregate is over
    a ~tens-row key space — effectively free. No window, no collect."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left"
    ).groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def sql_custdist() -> str:
    return """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
GROUP BY 1 ORDER BY custdist DESC, c_count DESC
"""


def q_big_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind orders whose total line
    quantity exceeds a threshold. Plan: the lineitem aggregate runs
    FIRST (map-side combined on the orderkey, the table's natural
    cluster key) and the HAVING filter collapses it to a handful of
    rows BEFORE any join — so the joins to orders and customer are
    broadcast-sized regardless of corpus scale. Quantities are
    integral doubles in this dataset, so the sums are exact."""
    li = _read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > BIGVOL_QTY)
    )
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            F.col("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy("o_orderkey")
    )


def sql_big_volume_customers() -> str:
    return f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_totalprice, b.sum_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > {BIGVOL_QTY}
) b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_orderkey
"""


def q_widget_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved real volume of a named part
    family — nested semi-joins. Plan: the part-name filter broadcasts
    into the lineitem scan (a ~dimension-sized build side), the
    per-(supplier, part) aggregate folds map-side, the HAVING collapses
    it, and supplier is kept via LEFT SEMI — the supplier relation is
    never duplicated by the many qualifying parts per supplier."""
    part = _read(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    ).select("p_partkey")
    li = _read(spark, sf_dir, "lineitem")
    movers = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > WIDGET_QTY)
        .select("l_suppkey")
    )
    sup = _read(spark, sf_dir, "supplier")
    return (
        sup.join(movers, sup["s_suppkey"] == movers["l_suppkey"], "leftsemi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def sql_widget_part_suppliers() -> str:
    return f"""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%widget%'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > {WIDGET_QTY}
)
ORDER BY s_suppkey
"""


def q_supplier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped standardization: per-nation population z-score of
    supplier account balance in integer micro-units — the
    feature-engineering complement of per-key winsorization.

    Exactness: ``avg``/``stddev_pop`` are float sums whose
    partition-order ulps cross floor boundaries (observed at sf0.01),
    so z is computed from EXACT integer sufficient statistics over
    balance cents ``b = round(100·acctbal)``:
    ``z = (n·b − S) / sqrt(n·Q − S²)`` with ``S = Σb``, ``Q = Σb²`` —
    algebraically identical to ``(x − μ)/σ_pop``, but the only floats
    are one correctly-rounded sqrt of an exact BIGINT and one division.
    σ = 0 is exactly ``n·Q = S²``; those rows emit NULL, not an error.
    (``n·Q`` bounds: fine through ~10⁶-row groups in cents; at lake
    scale promote the sums to DECIMAL.)

    Plan: one bounded per-nation aggregate broadcast back into a
    scan-fused projection; the supplier relation never shuffles."""
    sup = _read(spark, sf_dir, "supplier")
    cents = F.round(F.col("s_acctbal") * 100).cast("long")
    keyed = sup.select("s_suppkey", "s_nationkey", cents.alias("b"))
    stats = keyed.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("b").alias("s_"),
        F.sum(F.col("b") * F.col("b")).alias("q"),
    )
    disc = F.col("n") * F.col("q") - F.col("s_") * F.col("s_")
    z = F.when(
        disc > 0,
        F.floor(
            (F.col("n") * F.col("b") - F.col("s_")).cast("double")
            * F.lit(1000000.0)
            / F.sqrt(disc.cast("double"))
        ).cast("long"),
    )
    return (
        keyed.join(F.broadcast(stats), "s_nationkey")
        .select("s_suppkey", "s_nationkey", z.alias("z_micro"))
    )


def sql_supplier_zscore() -> str:
    return """
WITH keyed AS (
  SELECT s_suppkey, s_nationkey,
         CAST(round(s_acctbal * 100) AS BIGINT) AS b
  FROM supplier
), stats AS (
  SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(b) AS BIGINT) AS s_, CAST(sum(b * b) AS BIGINT) AS q
  FROM keyed GROUP BY 1
)
SELECT k.s_suppkey, k.s_nationkey,
       CASE WHEN st.n * st.q - st.s_ * st.s_ > 0
            THEN CAST(floor(CAST(st.n * k.b - st.s_ AS DOUBLE) * 1000000.0
                            / sqrt(CAST(st.n * st.q - st.s_ * st.s_ AS DOUBLE))) AS BIGINT)
       END AS z_micro
FROM keyed k JOIN stats st USING (s_nationkey)
"""


def q_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month order revenue growth: window-over-aggregate —
    the lag/window runs on the BOUNDED monthly relation (months², not
    orders), so the only corpus-scale work is one map-combined monthly
    aggregate. Growth in integer ppm of the prior month (floor), NULL
    for the first month."""
    orders = _read(spark, sf_dir, "orders")
    from pyspark.sql import Window

    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    growth = F.when(
        prev.isNotNull(),
        F.floor((F.col("revenue") - prev) * F.lit(1000000.0) / prev).cast("long"),
    )
    return monthly.select("month", "revenue", growth.alias("growth_ppm")).orderBy(
        "month"
    )


def sql_monthly_growth() -> str:
    return """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         round(sum(o_totalprice), 4) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       CASE WHEN lag(revenue) OVER (ORDER BY month) IS NOT NULL
            THEN CAST(floor((revenue - lag(revenue) OVER (ORDER BY month)) * 1000000.0
                            / lag(revenue) OVER (ORDER BY month)) AS BIGINT)
       END AS growth_ppm
FROM monthly
ORDER BY month
"""


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation, quartiled WITHIN nation: recency
    (last order date), frequency (order count), monetary (total spend)
    each ``ntile(4)``-bucketed per nation — the marketing-analytics
    staple. Partitioning the ntile windows by nation is the scale
    choice, not a semantic accident: a GLOBAL ntile funnels every
    customer through one sorted task, while per-nation windows bound
    each task by the largest nation (salt further or swap to
    ``approx_percentile`` boundaries at extreme skew). Orders fold to
    one row per customer FIRST (map-combined), so the windows run on
    the bounded customer relation. All three orders embed c_custkey, so
    every bucket boundary is total-ordered and engine-reproducible."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 4).alias("monetary"),
        )
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
    )
    from pyspark.sql import Window

    def bucket(order_cols):
        return F.ntile(4).over(
            Window.partitionBy("c_nationkey").orderBy(*order_cols)
        )

    return per.select(
        "c_custkey",
        "c_nationkey",
        "frequency",
        "monetary",
        bucket([F.col("last_order").desc(), F.col("c_custkey").asc()]).alias("r_bucket"),
        bucket([F.col("frequency").desc(), F.col("c_custkey").asc()]).alias("f_bucket"),
        bucket([F.col("monetary").desc(), F.col("c_custkey").asc()]).alias("m_bucket"),
    )


def sql_customer_rfm() -> str:
    return """
WITH per AS (
  SELECT o.o_custkey AS c_custkey, c.c_nationkey,
         strftime(max(o.o_orderdate), '%Y-%m-%d') AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         round(sum(o.o_totalprice), 4) AS monetary
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT c_custkey, c_nationkey, frequency, monetary,
       CAST(ntile(4) OVER (PARTITION BY c_nationkey
            ORDER BY last_order DESC, c_custkey ASC) AS INT) AS r_bucket,
       CAST(ntile(4) OVER (PARTITION BY c_nationkey
            ORDER BY frequency DESC, c_custkey ASC) AS INT) AS f_bucket,
       CAST(ntile(4) OVER (PARTITION BY c_nationkey
            ORDER BY monetary DESC, c_custkey ASC) AS INT) AS m_bucket
FROM per
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecast-revenue-change — the pure scan-aggregate.
    Plan: all three predicates push to the parquet scan (min/max row-group
    pruning takes the year filter), ONE partial+final aggregate, zero
    joins; at 100 TB this query is I/O-bound by design and the filter
    pushdown (asserted in test_plans.py) is the whole game."""
    li = _read(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        )
    )


def sql_forecast_revenue() -> str:
    return """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper in a
    multi-supplier finished order — the exists/not-exists double
    correlated subquery, the hardest relational shape in the TPC-H deck.

    Plan: expressed as one left-semi + one left-anti join instead of
    per-row subqueries, so Catalyst runs them as two shuffle joins
    co-keyed on l_orderkey — the semi ("some OTHER supplier in this
    order") and the anti ("no OTHER supplier was late") reuse the same
    hash partitioning as the late-rows relation they filter, and the
    final count is a bounded groupBy on s_suppkey. Supplier is a
    broadcast dimension. No correlated per-row execution anywhere."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderstatus")
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_suppkey")
    )
    waiting = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("x_orderkey"))
            & (F.col("l_suppkey") != F.col("x_suppkey")),
            "leftsemi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("y_orderkey"))
            & (F.col("l_suppkey") != F.col("y_suppkey")),
            "leftanti",
        )
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("s_suppkey").alias("suppkey"), "s_name", "numwait")
    )


def sql_late_suppliers() -> str:
    return f"""
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY
),
waiting AS (
  SELECT t.l_orderkey, t.l_suppkey
  FROM late t
  WHERE EXISTS (
      SELECT 1 FROM lineitem x
      WHERE x.l_orderkey = t.l_orderkey AND x.l_suppkey <> t.l_suppkey)
    AND NOT EXISTS (
      SELECT 1 FROM late y
      WHERE y.l_orderkey = t.l_orderkey AND y.l_suppkey <> t.l_suppkey)
)
SELECT s.s_suppkey AS suppkey, s.s_name, count(*) AS numwait
FROM waiting w JOIN supplier s ON w.l_suppkey = s.s_suppkey
GROUP BY 1, 2
"""


@staged("part_pairs", "lineitem")
def _part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The support>=2 part co-occurrence relation ``(item_a, item_b,
    n_baskets)``, session-staged: part_pair_counts reads it directly and
    part_pair_lift filtered to its higher support floor (counts are
    support-independent, so the min_count=3 relation IS this one
    filtered)."""
    from spark_ifs_spark.operators import affinity

    li = _read(spark, sf_dir, "lineitem")
    return affinity.co_occurrence_pairs(
        li, "l_orderkey", "l_partkey", min_count=2
    )


def q_part_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: unordered part pairs co-occurring in an
    order, counted over orders — the co-occurrence primitive behind
    "bought together", tag co-occurrence, and domain co-citation graphs.
    Plan: see :func:`~spark_ifs_spark.operators.affinity.
    co_occurrence_pairs` — 2 shuffles, no join, pairs expand map-side
    from per-basket sorted item arrays under a hard per-basket cap.
    min_count=2 is the support floor: singleton pairs are noise (and at
    sf0.1 ~97% of the raw pair space), so the result stays a few
    thousand rows at every SF instead of growing with the corpus.
    Served from the session-staged build (:func:`_part_pairs`) shared
    with part_pair_lift."""
    return _part_pairs(spark, sf_dir)


def sql_part_pair_counts() -> str:
    # the Spark side's per-basket cap (64 smallest ids) never binds at
    # TPC-H shapes (<= 7 lineitems/order), so the uncapped SQL matches
    return """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, count(*) AS n_baskets
FROM items a
JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def q_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate detection (CCNet-style, shingle-unit): the top
    50 word 3-grams by document frequency among those present in ≥5% of
    documents — template chrome, not content. Deterministic top-k: the
    (df DESC, sh ASC) order is total."""
    from spark_ifs_spark.operators.textstats import shingle_doc_freq
    from spark_ifs_spark.registry.dedup import _shingles

    docs = _read(spark, sf_dir, "documents")
    out = shingle_doc_freq(
        docs, "doc_id", "text", n=NGRAM_N, sh=_shingles(spark, sf_dir)
    )
    return (
        out.filter(F.col("frac") >= BOILER_MIN_FRAC)
        .orderBy(F.col("df").desc(), F.col("sh").asc())
        .limit(BOILER_TOP)
        .select("sh", "df", F.round("frac", 6).alias("frac"))
    )


def sql_boilerplate_shingles() -> str:
    return f"""
WITH {_SQL_SHINGLES},
dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
tot AS (SELECT count(*) AS n_docs FROM documents)
SELECT sh, df, round(df * 1.0 / n_docs, 6) AS frac
FROM dfreq, tot
WHERE df * 1.0 / n_docs >= {BOILER_MIN_FRAC}
ORDER BY df DESC, sh ASC
LIMIT {BOILER_TOP}
"""


def q_lineitem_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of (quantity, extended price) per return
    flag from EXACT integer sufficient statistics: quantity is integral
    (cast long), price quantized to cents (floor(x·100) as long), and
    the five sums (Σx, Σy, Σxy, Σx², Σy²) accumulate as
    decimal(38,0)/HUGEINT — no float addition anywhere, so the single
    final double expression computes from bit-identical inputs on both
    engines (the `supplier_zscore` convention applied to correlation).
    ONE map-combined aggregate; shuffle is 3 groups × 6 cells."""
    li = _read(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice") * 100).cast("long")
    # operand cast BEFORE the multiply (ab_cuped convention): decimal
    # products never pass through a wrappable int64 intermediate
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    stats = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(dx * F.col("y")).alias("sxy"),
            F.sum(dx * F.col("x")).alias("sxx"),
            F.sum(dy * F.col("y")).alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") * n - sx * sy
    vx = F.col("sxx").cast("double") * n - sx * sx
    vy = F.col("syy").cast("double") * n - sy * sy
    return stats.select(
        "l_returnflag",
        "n",
        F.round(cov / F.sqrt(vx * vy), 6).alias("corr_qty_price"),
    )


def sql_lineitem_corr() -> str:
    return """
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         sum(CAST(l_quantity AS BIGINT)) AS sx,
         sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS sy,
         sum(CAST(l_quantity AS BIGINT) * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS sxy,
         sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
         sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS syy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(syy AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS corr_qty_price
FROM s
"""


def q_part_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift for co-ordered part pairs:
    ``lift = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b)`` in integer
    MICRO-units (exact 64-bit arithmetic — `n_ab·N·10⁶` tops out near
    2^41 at sf0.1), top 30 by (lift, pair) total order among pairs with
    support ≥ 3. Composes the join-free pair counts with one bounded
    per-item aggregate; the ranking is TakeOrdered, never a global
    sort."""
    li = _read(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    # total basket count rides the plan as a broadcast 1-row aggregate
    # instead of an eager driver count (one fewer corpus action at
    # construction; bit-identical integer arithmetic)
    nbd = F.broadcast(
        items.select("l_orderkey").distinct().agg(
            F.count(F.lit(1)).alias("_N")
        )
    )
    # support floor 3 = the staged support>=2 relation filtered (pair
    # counts are support-independent)
    pairs = _part_pairs(spark, sf_dir).filter(
        F.col("n_baskets") >= PAIR_LIFT_MIN_COUNT
    )
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    fa = freq.select(F.col("l_partkey").alias("item_a"), F.col("n_item").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("item_b"), F.col("n_item").alias("n_b"))
    out = (
        pairs.join(fa, "item_a")
        .join(fb, "item_b")
        .crossJoin(nbd)
        .select(
            "item_a",
            "item_b",
            "n_baskets",
            F.floor(
                F.col("n_baskets") * F.col("_N") * F.lit(1_000_000)
                / (F.col("n_a") * F.col("n_b"))
            ).cast("long").alias("lift_micro"),
        )
    )
    return out.orderBy(
        F.col("lift_micro").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(PAIR_LIFT_TOP)


def sql_part_pair_lift() -> str:
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
pairs AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, count(*) AS n_baskets
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {PAIR_LIFT_MIN_COUNT}
),
freq AS (SELECT l_partkey, count(*) AS n_item FROM items GROUP BY 1)
SELECT p.item_a, p.item_b, p.n_baskets,
       CAST(floor(p.n_baskets * nb.n * 1000000.0 / (fa.n_item * fb.n_item)) AS BIGINT) AS lift_micro
FROM pairs p
JOIN freq fa ON fa.l_partkey = p.item_a
JOIN freq fb ON fb.l_partkey = p.item_b
CROSS JOIN nb
ORDER BY lift_micro DESC, item_a ASC, item_b ASC
LIMIT {PAIR_LIFT_TOP}
"""


def q_supplier_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection on supplier balances per nation: MAD
    (median absolute deviation) instead of stddev — one extreme balance
    cannot mask others (the flaw of the z-score form, kept side by side
    as ``supplier_zscore``). Both medians are EXACT lower-medians via
    the same integer cumulative-count crossing as the weighted median
    (total-ordered windows, engine-reproducible); the only float step
    is the final ``|x−med| > 3·1.4826·MAD`` comparison on identical
    doubles. Windows run per nation over the bounded supplier
    relation."""
    from pyspark.sql import Window

    supp = _read(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )

    def lower_median(df, part, val, extra_order, out):
        cum = Window.partitionBy(part).orderBy(val, *extra_order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        tot = Window.partitionBy(part)
        flagged = df.select(
            "*",
            F.count(F.lit(1)).over(cum).alias("_cn"),
            F.count(F.lit(1)).over(tot).alias("_tn"),
        )
        med = (
            flagged.filter(F.col("_cn") * 2 >= F.col("_tn"))
            .groupBy(part)
            .agg(F.min(val).alias(out))
        )
        return df.join(F.broadcast(med), part)

    with_med = lower_median(
        supp, "s_nationkey", "s_acctbal", ["s_suppkey"], "med"
    )
    dev = with_med.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        "med",
        F.abs(F.col("s_acctbal") - F.col("med")).alias("adev"),
    )
    with_mad = lower_median(dev, "s_nationkey", "adev", ["s_suppkey"], "mad")
    return (
        with_mad.groupBy("s_nationkey")
        .agg(
            F.round(F.min("med"), 4).alias("median_bal"),
            F.round(F.min("mad"), 4).alias("mad"),
            F.sum(
                (
                    F.col("adev") > F.lit(MAD_K * MAD_SCALE) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
    )


def sql_supplier_mad_outliers() -> str:
    return f"""
WITH c1 AS (
  SELECT s_suppkey, s_nationkey, s_acctbal,
         count(*) OVER (PARTITION BY s_nationkey
                        ORDER BY s_acctbal, s_suppkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         count(*) OVER (PARTITION BY s_nationkey) AS tn
  FROM supplier
),
med AS (
  SELECT s_nationkey, min(s_acctbal) AS med
  FROM c1 WHERE cn * 2 >= tn GROUP BY 1
),
dev AS (
  SELECT s.s_suppkey, s.s_nationkey, s.s_acctbal, m.med,
         abs(s.s_acctbal - m.med) AS adev
  FROM supplier s JOIN med m USING (s_nationkey)
),
c2 AS (
  SELECT *,
         count(*) OVER (PARTITION BY s_nationkey
                        ORDER BY adev, s_suppkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         count(*) OVER (PARTITION BY s_nationkey) AS tn
  FROM dev
),
mad AS (
  SELECT s_nationkey, min(adev) AS mad
  FROM c2 WHERE cn * 2 >= tn GROUP BY 1
)
SELECT d.s_nationkey,
       round(min(d.med), 4) AS median_bal,
       round(min(m.mad), 4) AS mad,
       CAST(sum(CASE WHEN d.adev > {MAD_K * MAD_SCALE} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (s_nationkey)
GROUP BY d.s_nationkey
"""


def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensics on extended prices: observed first-digit
    frequencies (integer ppm) against the Benford expectation — the
    fabricated-data screen auditors run on financial columns. One
    map-combined digit aggregate (9-row shuffle); the expectation is a
    9-literal lookup, identical in both engines by construction."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") >= 1)
    digit = F.substring(
        F.floor(F.col("l_extendedprice")).cast("long").cast("string"), 1, 1
    )
    counts = li.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("t"))
    exp = F.create_map(
        *[x for d, p in _BENFORD_PPM.items() for x in (F.lit(str(d)), F.lit(p))]
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.floor(F.col("n") * F.lit(1_000_000) / F.col("t")).cast("long").alias(
                "observed_ppm"
            ),
            exp[F.col("digit")].cast("long").alias("benford_ppm"),
        )
    )


def sql_benford_first_digit() -> str:
    cases = " ".join(
        f"WHEN digit = '{d}' THEN {p}" for d, p in _BENFORD_PPM.items()
    )
    return f"""
WITH counts AS (
  SELECT substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit,
         count(*) AS n
  FROM lineitem WHERE l_extendedprice >= 1
  GROUP BY 1
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts)
SELECT digit, n,
       CAST(floor(n * 1000000.0 / t.t) AS BIGINT) AS observed_ppm,
       CAST(CASE {cases} END AS BIGINT) AS benford_ppm
FROM counts, t
"""




# Z-order layout audit (zorder_layout): rectangular predicate covering
# 1/8 × 1/8 of the normalized (customer, order-day) space.
ZQ_X = (8192, 16383)
ZQ_Y = (8192, 16383)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max file-pruning audit of a Z-order (Morton) layout vs a
    linear time-ordered layout over orders(o_custkey, o_orderdate) —
    the `OPTIMIZE ZORDER BY` decision, measured: rows a 2-D predicate
    scans under each layout's per-file envelope statistics. See
    :mod:`spark_ifs_spark.operators.layout`."""
    from spark_ifs_spark.functions.timeutil import epoch_us
    from spark_ifs_spark.operators.layout import zorder_scan_audit

    orders = _read(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").alias("x"),
        (epoch_us(orders, "o_orderdate") / F.lit(86_400_000_000)).cast("long").alias("y"),
    )
    return zorder_scan_audit(base, "x", "y", ZQ_X, ZQ_Y)


def sql_zorder_layout() -> str:
    from spark_ifs_spark.operators.layout import (
        FILE_BITS,
        ZBITS,
        bucketize_sql,
        interleave_sql,
    )

    bx = bucketize_sql("x", "mnx", "mxx", "//", ZBITS)
    by = bucketize_sql("y", "mny", "mxy", "//", ZBITS)
    z = interleave_sql("gx", "gy", "//", ZBITS)
    zshift = 1 << (2 * ZBITS - FILE_BITS)
    lshift = 1 << (ZBITS - FILE_BITS)
    (x1, x2), (y1, y2) = ZQ_X, ZQ_Y
    return f"""
WITH base AS (
  SELECT CAST(o_custkey AS BIGINT) AS x,
         epoch_us(o_orderdate) // 86400000000 AS y
  FROM orders
),
mm AS (
  SELECT min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy FROM base
),
b AS (SELECT {bx} AS gx, {by} AS gy FROM base, mm),
k AS MATERIALIZED (
  SELECT gx, gy,
         CASE WHEN gx >= {x1} AND gx <= {x2}
               AND gy >= {y1} AND gy <= {y2} THEN 1 ELSE 0 END AS m,
         ({z}) // {zshift} AS zfile,
         gy // {lshift} AS lfile
  FROM b
),
e AS (
  SELECT 'zorder' AS layout, zfile AS f, gx, gy, m FROM k
  UNION ALL
  SELECT 'linear' AS layout, lfile AS f, gx, gy, m FROM k
),
files AS (
  SELECT layout, f, count(*) AS n_rows, sum(m) AS n_matched,
         min(gx) AS mnx, max(gx) AS mxx, min(gy) AS mny, max(gy) AS mxy
  FROM e GROUP BY 1, 2
)
SELECT layout,
       CAST(count(*) AS INT) AS n_files,
       CAST(sum(CASE WHEN mxx >= {x1} AND mnx <= {x2}
                      AND mxy >= {y1} AND mny <= {y2} THEN 1 ELSE 0 END) AS INT)
         AS files_scanned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN mxx >= {x1} AND mnx <= {x2}
                      AND mxy >= {y1} AND mny <= {y2} THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_scanned,
       CAST(sum(n_matched) AS BIGINT) AS rows_matched,
       (CAST(sum(CASE WHEN mxx >= {x1} AND mnx <= {x2}
                       AND mxy >= {y1} AND mny <= {y2} THEN n_rows ELSE 0 END) AS BIGINT)
        * 1000000) // CAST(sum(n_rows) AS BIGINT) AS scan_ppm
FROM files
GROUP BY 1
"""


JSE_K = 256
JSE_PRIORITY = "1-URGENT"


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven join-cardinality estimation — the cost-based
    optimizer's core decision, audited: estimate
    |σ(orders) ⋈ lineitem| with the textbook uniform-key formula
    ``n_a·n_b / max(d_a, d_b)`` where the distinct key counts come
    from KMV sketches (k smallest md5 hashes — the statistics a
    catalog would store per column), and compare against the true
    join size. At 100 TB this is exactly the call a planner makes
    BEFORE choosing broadcast vs shuffle vs sort-merge; the audit
    reports the estimator's ppm error so the sketch size k can be
    costed. Sketch paths are one digest-distinct + grouped top-k per
    side; the true join is the audit."""
    from spark_ifs_spark.operators.sketches import kmv_estimate, kmv_sketch

    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    a = orders.filter(F.col("o_orderpriority") == JSE_PRIORITY).select(
        F.col("o_orderkey").alias("k")
    )
    b = li.select(F.col("l_orderkey").alias("k"))

    def _d(df):
        g = df.withColumn("g", F.lit(1))
        sk = kmv_sketch(g, ["g"], "k", k=JSE_K)
        return kmv_estimate(sk, ["g"], k=JSE_K).select("est_distinct")

    na = a.agg(F.count(F.lit(1)).alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).alias("n_b"))
    da = _d(a).withColumnRenamed("est_distinct", "d_a_est")
    db = _d(b).withColumnRenamed("est_distinct", "d_b_est")
    true_df = a.join(b, "k").agg(F.count(F.lit(1)).alias("true_join"))
    one = (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(da))
        .crossJoin(F.broadcast(db))
        .crossJoin(F.broadcast(true_df))
    )
    est = F.floor(
        (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        / F.greatest(
            F.col("d_a_est").cast("double"), F.col("d_b_est").cast("double")
        )
    ).cast("long")
    return one.select(
        "n_a", "n_b", "d_a_est", "d_b_est",
        est.alias("est_join"),
        "true_join",
        F.floor(
            (F.abs(est - F.col("true_join")).cast("double") * 1e6)
            / F.col("true_join").cast("double")
        ).cast("long").alias("err_ppm"),
    )


def sql_join_size_estimate() -> str:
    from spark_ifs_spark.operators.sketches import _kmv_num

    k = JSE_K
    num = repr(_kmv_num(k))
    h = sql_md5_int60("CAST(k AS VARCHAR)")

    def sketch(rel: str, alias: str) -> str:
        return f"""{alias}_d AS (
  SELECT CASE WHEN n_sketch < {k} THEN CAST(n_sketch AS BIGINT)
              ELSE CAST(floor(CAST({num} AS DOUBLE) / CAST(kth AS DOUBLE)) AS BIGINT)
         END AS d_est
  FROM (
    SELECT CAST(count(*) AS INT) AS n_sketch, max(h) AS kth
    FROM (
      SELECT h, row_number() OVER (ORDER BY h) AS rn
      FROM (SELECT DISTINCT {h} AS h FROM {rel})
    ) WHERE rn <= {k}
  )
)"""

    return f"""
WITH a AS (SELECT o_orderkey AS k FROM orders
           WHERE o_orderpriority = '{JSE_PRIORITY}'),
b AS (SELECT l_orderkey AS k FROM lineitem),
na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM a),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM b),
{sketch('a', 'a')},
{sketch('b', 'b')},
tr AS (SELECT CAST(count(*) AS BIGINT) AS true_join
       FROM a JOIN b ON b.k = a.k)
SELECT n_a, n_b,
       a_d.d_est AS d_a_est, b_d.d_est AS d_b_est,
       CAST(floor((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                  / greatest(CAST(a_d.d_est AS DOUBLE), CAST(b_d.d_est AS DOUBLE)))
            AS BIGINT) AS est_join,
       true_join,
       CAST(floor((CAST(abs(CAST(floor((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                  / greatest(CAST(a_d.d_est AS DOUBLE), CAST(b_d.d_est AS DOUBLE)))
            AS BIGINT) - true_join) AS DOUBLE) * 1e6)
                  / CAST(true_join AS DOUBLE)) AS BIGINT) AS err_ppm
FROM na, nb, a_d, b_d, tr
"""
