"""Query/operator registry: the driver-facing correctness surface.

Each entry pairs a Spark DataFrame implementation with an equivalent
ANSI-SQL oracle string that DuckDB runs on the same parquet tables.
The driver compares row-count + schema + order-insensitive value hash,
so every computed column is aliased identically on both sides and
floating-point aggregates go through DECIMAL casts (exact, summation-
order-independent in both engines) before a final cast back to DOUBLE.

Registry grows as operators from SURVEY.md §2 are implemented; the
`queries()` / `oracle_sql()` functions in ``__spark_entry__.py`` simply
re-export this module's REGISTRY.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_bigquery_spark.operators.merge import (
    dedup_latest_per_key,
    merge_delete_only,
    merge_upsert,
    merge_upsert_delete,
)
from kafka_connect_bigquery_spark.session import read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# r13 NOTE: a `_wide` helper (project + fan_out before the md5 sketch
# builds) was tried on the whole sketch family and measured SLOWER on
# every member once steal-noise was settled by min-over-runs (each
# build's filter pushes below the round-robin exchange, so every build
# pays its own exchange + AQE round while the original single-task
# stages already overlap as one job). Removed; per-query notes remain
# at the call sites so round 14 doesn't retry it.


# DuckDB reads the events table's ts as TIMESTAMP_NS; Spark floors it to
# microseconds (read_table). Oracle SQL must emit the same truncation.
def _ts_us(col: str = "ts") -> str:
    return f"make_timestamp(epoch_ns({col}) // 1000)"


_TS_US = _ts_us()


# Fixed-point quantization for money-style aggregates.
#
# Summing doubles is partial-aggregation-order dependent, and a straight
# double->decimal CAST can round differently across engines (Spark rounds
# the shortest decimal repr, DuckDB the binary value — they disagree on
# midpoint-adjacent values, observed ~1/60k rows). Instead quantize in
# IEEE double space (x*1e4+0.5 then floor: every step bitwise identical
# in both engines), sum the exact integers in DECIMAL(38,0), and convert
# back to double once at the end.
_Q = 10_000


def _qsum(expr):
    """Exact order-independent SUM of a double expression at 1e-4 quanta.

    Returns a Spark Column: SUM over floor(x*1e4+0.5) as DECIMAL(38,0).
    Pair with ``_qsum_sql``. Combine to a final double via _qval.
    """
    return F.sum(F.floor(expr * _Q + F.lit(0.5)).cast("decimal(38,0)"))


def _qval(sum_col):
    """Quantized decimal sum -> double value (divide out the 1e4 scale)."""
    return sum_col.cast("double") / F.lit(float(_Q))


def _qsum_sql(expr_sql: str) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr_sql}) * {_Q} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)"
        f" / {_Q}.0"
    )


EVENT_COLS = ["user_id", "event_id", "ts", "event_type", "value"]


def _events_split(spark: SparkSession, sf_dir: str) -> int:
    """Deterministic split point: first half of event_ids = existing
    destination state, second half = incoming batch."""
    mx = _t(spark, sf_dir, "events").agg(F.max("event_id")).first()[0]
    return (int(mx) + 1) // 2


_SPLIT_SQL = "(SELECT (max(event_id) + 1) // 2 FROM events)"


# ---------------------------------------------------------------------------
# TPC-H-style analytics (headline/bench queries)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape): 2-col groupBy, 8 aggregates.

    Scale: single shuffle on the two low-cardinality group keys with
    map-side partial aggregation; scans only 7 of 11 lineitem columns
    (column pruning) with the shipdate filter pushed to parquet.
    """
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    out = (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _qval(_qsum(F.col("l_quantity"))).alias("sum_qty"),
            _qval(_qsum(F.col("l_extendedprice"))).alias("sum_base_price"),
            _qval(_qsum(disc_price)).alias("sum_disc_price"),
            _qval(_qsum(charge)).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )
    return out


Q_TPCH_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_qsum_sql('l_quantity')} AS sum_qty,
       {_qsum_sql('l_extendedprice')} AS sum_base_price,
       {_qsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_qsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       COUNT(*) AS count_order,
       {_qsum_sql('l_quantity')} / COUNT(*) AS avg_qty,
       {_qsum_sql('l_extendedprice')} / COUNT(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority top-10 (TPC-H Q3 shape): 3-way join + agg + top-k.

    Scale: customer filter prunes before the join; customer and orders
    sides shrink early so AQE can broadcast them against lineitem.
    """
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_qval(_qsum(revenue)).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )
    return out


Q_TPCH_Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {_qsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier-volume (TPC-H Q5 shape): 6-way star join.

    Scale: region/nation/supplier are broadcast dims; the only big
    shuffle is lineitem⨝orders on orderkey.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_qval(_qsum(revenue)).alias("revenue"))
    )
    return out


Q_TPCH_Q5_SQL = f"""
SELECT n_name,
       {_qsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue (TPC-H Q6 shape): pure scan+filter+global agg.

    Scale: no shuffle beyond the final single-row combine; all three
    predicates push to the parquet scan, only 4 columns read.
    """
    l = _t(spark, sf_dir, "lineitem")
    out = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_qval(_qsum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"))
    )
    return out


Q_TPCH_Q6_SQL = f"""
SELECT {_qsum_sql('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): EXISTS semi-join.

    Scale: left-semi hash join — lineitem never materializes beyond the
    join; no dedup pass needed because semi-join emits each order once.
    (Reference lacks commit/receipt dates, so the EXISTS predicate is
    "some line shipped after the order date".)
    """
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    out = (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
    return out


Q_TPCH_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-shipping (TPC-H Q7 shape): nation-pair revenue by year.

    Scale: nation is broadcast twice under different aliases; the only
    big shuffles are lineitem⨝orders and ⨝supplier on their keys. The
    nation-pair filter prunes before aggregation.
    """
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            _qval(_qsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
    )
    return out


Q_TPCH_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {_qsum_sql('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER
    join preserving order-less customers, then a second aggregation over
    the counts.

    Scale: two shuffles (custkey join, count groupBy); the second input
    is one row per customer, so the distribution agg is tiny.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    out = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )
    return out


Q_TPCH_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-revenue share (TPC-H Q14 shape): conditional aggregate
    ratio over a join.

    Scale: part is the broadcast dim; one shuffle for the global agg.
    Both sums are quantized before the final double division so the
    ratio is bit-identical across engines and partitionings.
    """
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    out = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * _qval(_qsum(promo))
                / _qval(_qsum(disc_price))
            ).alias("promo_revenue")
        )
    )
    return out


Q_TPCH_Q14_SQL = f"""
SELECT 100.0 * ({_qsum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")})
       / ({_qsum_sql('l_extendedprice * (1 - l_discount)')}) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15 shape): aggregate, then keep the rows
    equal to the global max of that aggregate.

    Scale: revenue-per-supplier is one shuffle; the scalar max is a
    single-row broadcast joined back — no second pass over lineitem.
    Equality is tested on the exact quantized decimal, not a double.
    """
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        _qsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev_q")
    )
    # rev feeds BOTH the scalar max and the join-back; without an
    # explicit materialization Spark plans two full lineitem scans —
    # neither plan-time ReuseExchange nor AQE dedups the branches
    # (measured 2x at sf0.1). Same one-shot-checkpoint discipline as
    # the ANN encoded corpus (operators/ann.py). rev is per-supplier —
    # tiny relative to lineitem at any scale.
    rev = rev.localCheckpoint(eager=False)
    mx = rev.agg(F.max("rev_q").alias("max_q"))
    out = (
        rev.join(F.broadcast(mx), rev.rev_q == mx.max_q)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            _qval(F.col("rev_q")).alias("total_revenue"),
        )
    )
    return out


Q_TPCH_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * {_Q} + 0.5)
             AS DECIMAL(38,0))) AS rev_q
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_q AS DOUBLE) / {_Q}.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_q = (SELECT max(rev_q) FROM rev)
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier diversity (TPC-H Q16 shape): COUNT(DISTINCT) per group
    with an anti-join exclusion list.

    Scale: the exclusion list (suppliers in arrears) is tiny →
    broadcast anti-join; distinct-agg shuffles once on the group keys
    with partial distinct on the map side.
    """
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 2, 3, 4, 5))
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    out = (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )
    return out


Q_TPCH_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 2, 3, 4, 5)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders (TPC-H Q18 shape): HAVING over an aggregate,
    joined back to the fact and dimensions, deterministic top-100.

    Scale: the HAVING list is small → broadcast to re-join lineitem;
    orders/customer joins then run on an already-tiny left side.
    """
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(_qsum(F.col("l_quantity")).alias("qty_q"))
        .filter(F.col("qty_q") > 300 * _Q)
        .select("l_orderkey", "qty_q")
    )
    out = (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            _qval(F.col("qty_q")).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )
    return out


Q_TPCH_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(qty_q AS DOUBLE) / {_Q}.0 AS total_qty
FROM (
  SELECT l_orderkey,
         SUM(CAST(FLOOR(l_quantity * {_Q} + 0.5) AS DECIMAL(38,0))) AS qty_q
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(FLOOR(l_quantity * {_Q} + 0.5) AS DECIMAL(38,0))) > {300 * _Q}
)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-cost-supplier (TPC-H Q2 shape): correlated MIN subquery
    decorrelated into an aggregate + equality join-back.

    Per (part, supplier) the unit cost is the min quantized
    extendedprice/quantity over their lineitems; keep suppliers
    achieving their part's minimum. Scale: the per-pair aggregation is
    the only big shuffle; the per-part minimum is a partial re-agg of
    that result, and the join-back is on the already-aggregated frame.
    """
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = _t(spark, sf_dir, "supplier")
    cost_q = F.floor(
        F.col("l_extendedprice") / F.col("l_quantity") * _Q + F.lit(0.5)
    ).cast("long")
    pair = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "p_brand", "l_suppkey")
        .agg(F.min(cost_q).alias("cost_q"))
    )
    # pair feeds both the per-part minimum and the join-back; checkpoint
    # once or the lineitem join+shuffle runs twice (see q15 note)
    pair = pair.localCheckpoint(eager=False)
    best = pair.groupBy("p_partkey").agg(F.min("cost_q").alias("best_q"))
    out = (
        pair.join(best, "p_partkey")
        .filter(F.col("cost_q") == F.col("best_q"))
        .join(F.broadcast(s), pair.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_brand",
            F.col("s_suppkey"),
            F.col("s_name"),
            (F.col("cost_q").cast("double") / _Q).alias("supply_cost"),
        )
    )
    return out


Q_TPCH_Q2_SQL = f"""
WITH pair AS (
  SELECT p_partkey, p_brand, l_suppkey,
         MIN(CAST(FLOOR(l_extendedprice / l_quantity * {_Q} + 0.5) AS BIGINT)) AS cost_q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size <= 10
  GROUP BY 1, 2, 3
)
SELECT p_partkey, p_brand, s_suppkey, s_name,
       CAST(cost_q AS DOUBLE) / {_Q} AS supply_cost
FROM pair
JOIN supplier ON l_suppkey = s_suppkey
WHERE cost_q = (SELECT MIN(p2.cost_q) FROM pair p2 WHERE p2.p_partkey = pair.p_partkey)
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle-customer analysis (TPC-H Q22 shape): scalar subquery
    (average balance) + anti-join against recent orders.

    Scale: the scalar average is a one-row broadcast; the anti-join
    probes a small filtered orders projection, broadcast to every
    customer partition — no big shuffle.
    """
    c = _t(spark, sf_dir, "customer")
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    pos = c.filter(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(
        (_qval(_qsum(F.col("c_acctbal"))) / F.count(F.lit(1))).alias("avg_bal")
    )
    out = (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(F.broadcast(recent), c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _qval(_qsum(F.col("c_acctbal"))).alias("totacctbal"),
        )
    )
    return out


Q_TPCH_Q22_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS numcust, {_qsum_sql('c_acctbal')} AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT {_qsum_sql('c_acctbal')} / COUNT(*)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c_mktsegment
"""


# profit = revenue - cost; the testdata has no partsupp table, so the
# cost proxy is retail-price-based (10% of retail per unit), keeping
# Q9's 5-way join + two-level grouping shape intact.
_Q9_AMOUNT = "l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1"


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape): five-way join — lineitem
    against part (name filter), supplier, nation, orders — aggregated by
    supplier nation and order year.

    Scale: the name-filtered part, supplier, and nation sides broadcast;
    the only big shuffle is lineitem⋈orders on orderkey, then one
    partial-aggregated groupBy on (nation, year). Profit sums are
    quantized (order-independent)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    )
    out = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_qval(_qsum(amount)).alias("sum_profit"))
    )
    return out


Q_TPCH_Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       {_qsum_sql(_Q9_AMOUNT)} AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


# Q11's importance threshold: share > 1.2x the mean share. TPC-H's
# fixed fraction (0.0001/SF) needs the scale factor baked into the
# query; an above-average multiple is scale-invariant and still the
# same scalar-subquery shape. Compared on quantized integers.
_Q11_NATIONS = ("NATION_12", "NATION_13", "NATION_15")


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock (TPC-H Q11 shape): per-part inventory value from
    a nation group's suppliers, kept when above 1.2x the average part's
    value — the scalar-subquery-threshold shape. No partsupp table in
    the testdata: lineitem provides the supplier-part link, quantity x
    retail price the value proxy.

    Scale: nation-filtered supplier side broadcasts into lineitem; one
    shuffle for the per-part aggregation; the grand total re-aggregates
    the per-part frame and broadcasts back as a single row. The
    threshold compares quantized integers, not doubles."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*_Q11_NATIONS))
    value_q = _qsum(F.col("l_quantity") * F.col("p_retailprice"))
    per_part = (
        l.join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
               l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_partkey")
        .agg(value_q.alias("value_q"))
    )
    # per_part feeds both the grand total and the threshold filter;
    # checkpoint once or the lineitem joins run twice (see q15 note)
    per_part = per_part.localCheckpoint(eager=False)
    total = per_part.agg(
        F.sum("value_q").alias("total_q"), F.count(F.lit(1)).alias("n_parts")
    )
    out = (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("value_q") * F.col("n_parts") * 10 > F.col("total_q") * 12
        )
        .select("p_partkey", _qval(F.col("value_q")).alias("value"))
    )
    return out


Q_TPCH_Q11_SQL = f"""
WITH per_part AS (
  SELECT p_partkey,
         SUM(CAST(FLOOR(l_quantity * p_retailprice * {_Q} + 0.5)
             AS DECIMAL(38,0))) AS value_q
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
             AND n_name IN {_Q11_NATIONS!r}
  JOIN part ON p_partkey = l_partkey
  GROUP BY p_partkey
),
tot AS (SELECT SUM(value_q) AS total_q, COUNT(*) AS n_parts FROM per_part)
SELECT p_partkey, CAST(value_q AS DOUBLE) / {_Q}.0 AS value
FROM per_part, tot
WHERE value_q * n_parts * 10 > total_q * 12
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential-part-promotion (TPC-H Q20 shape): nested semi-join
    chain — suppliers selected by an aggregated-HAVING subquery (their
    1997 shipped quantity of name-filtered parts exceeds a threshold),
    restricted to a nation subset. No partsupp: the availability
    subquery becomes a shipped-quantity aggregate over lineitem.

    Scale: part filter broadcasts into lineitem, the per-(supplier,
    part) aggregate is one shuffle, and the resulting supplier-key set
    is tiny — a broadcast semi-join into supplier. Quantity sums are
    quantized for the exact threshold compare."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("bolt"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(
            "NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5"
        )
    )
    qty_q = _qsum(F.col("l_quantity"))
    heavy = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(qty_q.alias("qty_q"))
        .filter(F.col("qty_q") > 45 * _Q)
        .select("l_suppkey")
        .distinct()
    )
    out = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(heavy), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )
    return out


Q_TPCH_Q20_SQL = f"""
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
           AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5')
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%bolt%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(CAST(FLOOR(l_quantity * {_Q} + 0.5) AS DECIMAL(38,0))) > 45 * {_Q}
)
"""


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): a supplier nation's
    revenue share per year within one region's orders — conditional
    aggregate ratio over a 6-way star join, both sums quantized before
    the final division."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_1", volume).otherwise(F.lit(0.0))
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            (_qval(_qsum(target)) / _qval(_qsum(volume))).alias("mkt_share")
        )
    )
    return out


Q_TPCH_Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       ({_qsum_sql("CASE WHEN n2.n_name = 'NATION_1' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")})
       / ({_qsum_sql('l_extendedprice * (1 - l_discount)')}) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): join + agg + top-20
    by revenue. Scale: the returnflag filter shrinks lineitem at the
    scan; customer joins after aggregation would be ideal but the
    group key includes customer attrs, so the join stays pre-agg with
    AQE choosing broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(_qval(_qsum(revenue)).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )
    return out


Q_TPCH_Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
       {_qsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3, 4, 5
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-mode priority counts (TPC-H Q12 shape): conditional
    CASE-WHEN aggregation after a fact-fact join. (No l_shipmode in the
    synthetic schema — l_returnflag plays the mode role.)"""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )
    return out


Q_TPCH_Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
         AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): correlated AVG
    subquery — lineitems below 20% of their part's average quantity.
    Decorrelated into a per-part aggregate joined back; the threshold
    is quantized so the comparison is engine-exact."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    # per-part avg quantity, quantized: avg = qsum / count. Only the
    # brand's parts survive the final join, so push the part filter
    # BELOW the aggregate as a broadcast semi-join — the avg shuffle
    # carries 1/|brands| of lineitem instead of all of it (result-
    # identical: the join would prune the other groups anyway).
    per_part = (
        l.join(F.broadcast(p.select("p_partkey")),
               l.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(_qsum(F.col("l_quantity")).alias("qty_q"),
             F.count(F.lit(1)).alias("cnt"))
    )
    thresh = (
        F.lit(0.2) * (F.col("qty_q").cast("double") / F.lit(float(_Q))) / F.col("cnt")
    )
    out = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < thresh)
        .agg(
            (_qval(_qsum(F.col("l_extendedprice"))) / F.lit(7.0)).alias("avg_yearly")
        )
    )
    return out


Q_TPCH_Q17_SQL = f"""
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(FLOOR(l_quantity * {_Q} + 0.5) AS DECIMAL(38,0))) AS qty_q,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT {_qsum_sql('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN per_part USING (l_partkey)
WHERE p_brand = 'Brand#1'
  AND l_quantity < 0.2 * (CAST(qty_q AS DOUBLE) / {_Q}.0) / cnt
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted-revenue (TPC-H Q19 shape): disjunctive multi-branch
    predicate over a join — the OR-of-ANDs pattern that tests predicate
    normalization. Each branch pairs a brand with a quantity band."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity").between(1, 11)) & (F.col("p_size") <= 5))
        | ((F.col("p_brand") == "Brand#2") & (F.col("l_quantity").between(10, 20)) & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#3") & (F.col("l_quantity").between(20, 30)) & (F.col("p_size") <= 15))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(_qval(_qsum(revenue)).alias("revenue"))
    )
    return out


Q_TPCH_Q19_SQL = f"""
SELECT {_qsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size <= 15)
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waiting-supplier analysis (TPC-H Q21 shape): EXISTS + NOT EXISTS
    chain — suppliers with a late line on a multi-supplier order where
    no other supplier was late. (shipdate > orderdate stands in for
    receipt/commit lateness.) Semi- and anti-joins on the same key
    reuse one shuffle partitioning."""
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")
    # `late` feeds BOTH the probe side and the NOT-EXISTS side
    # (late_others); without materialization Spark plans the
    # lineitem ⨝ orders(F) join twice — neither ReuseExchange nor AQE
    # dedups the branches. Same one-shot-checkpoint discipline as
    # q_tpch_q15's `rev` and q_tpch_q2's min-cost pair. `late` is one
    # row per late line on a finished order — a small fraction of
    # lineitem at any SF.
    late = l.join(o, l.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate")
    ).select("l_orderkey", "l_suppkey").localCheckpoint(eager=False)
    others = l.select(
        F.col("l_orderkey").alias("o_okey"), F.col("l_suppkey").alias("o_skey")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("lo_okey"), F.col("l_suppkey").alias("lo_skey")
    )
    cand = (
        late.join(
            others,
            (late.l_orderkey == others.o_okey) & (late.l_suppkey != others.o_skey),
            "left_semi",
        )
        .join(
            late_others,
            (late.l_orderkey == late_others.lo_okey)
            & (late.l_suppkey != late_others.lo_skey),
            "left_anti",
        )
    )
    out = (
        cand.join(s, cand.l_suppkey == s.s_suppkey)
        .groupBy("s_name", "s_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return out


Q_TPCH_Q21_SQL = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate
)
SELECT s_name, s_suppkey, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name, s_suppkey
"""


# ---------------------------------------------------------------------------
# Reference-surface operators (SURVEY §2) on the events stream table
# ---------------------------------------------------------------------------

def q_last_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/W1: newest row per key (the reference's batch-dedup subquery,
    MergeQueries.java:219-225) via window row_number."""
    e = _t(spark, sf_dir, "events")
    out = dedup_latest_per_key(e, ["user_id"], order_col="event_id").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return out


Q_LAST_EVENT_SQL = f"""
SELECT user_id, event_id, {_TS_US} AS ts, event_type, value
FROM (
  SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events e
) WHERE rn = 1
"""


def _dest_state(spark, sf_dir):
    """Destination table for upsert sims: latest event per user in the
    first half of the stream (unique per key, like a BQ upsert target)."""
    split = _events_split(spark, sf_dir)
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < split)
    return dedup_latest_per_key(e, ["user_id"], "event_id").select(*EVENT_COLS), split


_DEST_SQL = f"""
  SELECT user_id, event_id, {_TS_US} AS ts, event_type, value FROM (
    SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events e WHERE event_id < {_SPLIT_SQL}
  ) WHERE rn = 1
"""

_SRC_SQL = f"""
  SELECT user_id, event_id, {_TS_US} AS ts, event_type, value FROM (
    SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events e WHERE event_id >= {_SPLIT_SQL}
  ) WHERE rn = 1
"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/J1: MERGE upsert — second half of the event stream upserted
    into the state built from the first half (key = user_id)."""
    dest, split = _dest_state(spark, sf_dir)
    batch = _t(spark, sf_dir, "events").filter(F.col("event_id") >= split)
    return merge_upsert(dest, batch, ["user_id"], order_col="event_id")


Q_MERGE_UPSERT_SQL = f"""
WITH dest AS ({_DEST_SQL}), src AS ({_SRC_SQL})
SELECT user_id, event_id, ts, event_type, value FROM src
UNION ALL
SELECT d.user_id, d.event_id, d.ts, d.event_type, d.value
FROM dest d WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.user_id = d.user_id)
"""


def q_merge_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/J2: MERGE upsert+delete — batch rows whose *latest* record per
    key is a tombstone (event_type='error' stands in for a Kafka null
    value) delete the key; others upsert."""
    dest, split = _dest_state(spark, sf_dir)
    batch = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") >= split)
        .withColumn("__tombstone", F.col("event_type") == "error")
    )
    return merge_upsert_delete(
        dest, batch, ["user_id"], order_col="event_id", tombstone_col="__tombstone"
    )


Q_MERGE_UPSERT_DELETE_SQL = f"""
WITH dest AS ({_DEST_SQL}), src AS ({_SRC_SQL})
SELECT user_id, event_id, ts, event_type, value FROM src WHERE event_type <> 'error'
UNION ALL
SELECT d.user_id, d.event_id, d.ts, d.event_type, d.value
FROM dest d WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.user_id = d.user_id)
"""


def q_merge_delete_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/F3/F4/J3: delete-only MERGE with tombstone-ordering — dest is
    an append log; batch rows before their key's latest tombstone are
    dropped, tombstoned keys are purged from dest, survivors append."""
    split = _events_split(spark, sf_dir)
    e = _t(spark, sf_dir, "events")
    dest = e.filter(F.col("event_id") < split).select(*EVENT_COLS)
    batch = (
        e.filter(F.col("event_id") >= split)
        .withColumn("i", F.col("event_id"))
        .withColumn("__tombstone", F.col("event_type") == "error")
    )
    return merge_delete_only(
        dest, batch, ["user_id"], order_col="i", tombstone_col="__tombstone"
    )


Q_MERGE_DELETE_ONLY_SQL = f"""
WITH batch AS (
  SELECT user_id, event_id, {_TS_US} AS ts, event_type, value, event_id AS i,
         (event_type = 'error') AS tomb
  FROM events WHERE event_id >= {_SPLIT_SQL}
), deletes AS (
  SELECT user_id, max(i) AS del_i FROM batch WHERE tomb GROUP BY user_id
), surviving AS (
  SELECT b.* FROM batch b LEFT JOIN deletes d USING (user_id)
  WHERE d.del_i IS NULL OR b.i >= d.del_i
)
SELECT user_id, event_id, ts, event_type, value FROM surviving WHERE NOT tomb
UNION ALL
SELECT e.user_id, e.event_id, {_ts_us('e.ts')} AS ts, e.event_type, e.value
FROM events e
WHERE e.event_id < {_SPLIT_SQL}
  AND NOT EXISTS (SELECT 1 FROM deletes x WHERE x.user_id = e.user_id)
"""


def q_merge_upsert_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/J1 via the warehouse's *bucketed* MERGE path — the 100 TB
    default (sinks/warehouse.py:_merge_bucketed): dest stored hash-
    bucketed by key, only buckets touched by the batch are read and
    rewritten. Same semantics as merge_upsert, so the same oracle; this
    entry makes the scale path the thing CORRECTNESS verifies."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    split = _events_split(spark, sf_dir)
    e = _t(spark, sf_dir, "events")
    # unique scratch dir per invocation: concurrent runs (pytest + verify
    # + driver) must not share mutable state; the returned DataFrame reads
    # these files lazily so the dir outlives this function. Old runs'
    # dirs are swept opportunistically.
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_bmerge")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    root = os.path.join(base, _uuid.uuid4().hex[:12])
    wh = Warehouse(spark, root)
    spec = TableSpec(partition_grain="NONE", key_bucket_count=8)
    # the warehouse treats order_col as a batch-local helper (the Kafka
    # offset in the reference) and drops it from stored state, so feed a
    # copy rather than the event_id data column itself
    for pred in (F.col("event_id") < split, F.col("event_id") >= split):
        wh.merge(
            e.filter(pred).withColumn("i", F.col("event_id")),
            "t",
            ["user_id"],
            mode="upsert",
            order_col="i",
            spec=spec,
        )
    return wh.read_bucketed("t").select(*EVENT_COLS)


def q_warehouse_zonemap_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping (L4 clustering made useful on read):
    events land in a warehouse table clustered by event_type
    (range-partitioned files + per-file min/max recorded from the
    parquet footers at write, sinks/warehouse.py:_record_zonemap), then
    a clustered-predicate read resolves the zone map and opens only the
    files whose [min, max] can contain the predicate value —
    complementing parquet's row-group skipping with *file-level*
    pruning before Spark lists any data. The oracle re-derives the same
    filter from the source table, proving pruning loses no rows; the
    plan-level fewer-files assertion lives in tests/test_layout.py."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_zonemap")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE", clustering=("event_type",))
    wh.overwrite(e, "events_c", spec)
    # re-cluster into explicitly-sized range files so the map has
    # something to prune (a toy-scale single-file write prunes nothing)
    wh.compact("events_c", spec, target_file_rows=2000, min_files=1)
    return wh.read_pruned("events_c", "event_type", eq="purchase")


Q_WAREHOUSE_ZONEMAP_SQL = """
SELECT event_id, user_id, event_type, value
FROM events WHERE event_type = 'purchase'
"""


def q_warehouse_bloom_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping (sinks/warehouse.py:record_bloom):
    events append in three batches with interleaved user_ids, so every
    file's [min, max] spans the whole id domain and a zone map can
    prune NOTHING — then per-file Bloom bitmaps (built by a distributed
    md5/double-hash pass; only set-bit positions reach the driver)
    let an equality probe on user_id open only files that can contain
    it. The oracle re-derives the same filter from the source table:
    Bloom false negatives are impossible, so pruning loses no rows.
    The fewer-files assertions live in tests/test_layout.py."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_bloom")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE")
    for res in range(3):
        wh.append(e.filter(F.col("user_id") % 3 == res), "events_b", spec)
    wh.record_bloom("events_b", ["user_id"])
    return wh.read_pruned_where("events_b", {"user_id": 7})


Q_WAREHOUSE_BLOOM_SQL = """
SELECT event_id, user_id, event_type, value
FROM events WHERE user_id = 7
"""


def q_warehouse_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-path schema evolution read-back, flat + NESTED, through a
    PRUNED read whose every surviving file PREDATES the evolution — the
    exact surface of the bug class that bit three times (r04 merge
    manifest, r05 flat-append footer sampling, r06 pruned-read nested
    narrowing; kcbq/SchemaManager.java:379-469 unionization semantics,
    recursive per :443-460). Events land in two clustered appends: the
    lower id half with a nested struct<a>, the upper half carrying an
    evolved flat column vx AND an evolved nested subfield meta.b. The
    zone map prunes the range read down to pre-evolution files only, so
    the result's vx / meta.b MUST surface as typed NULLs with the full
    post-evolution schema (sinks/warehouse.py::_conform_to_stored) —
    the oracle re-derives the same rows from the source table."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    stats = e.agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi")).first()
    lo, hi = int(stats["lo"]), int(stats["hi"])
    split = lo + (hi - lo) // 2
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_evol")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE", clustering=("event_id",))
    old = e.filter(F.col("event_id") <= split).withColumn(
        "meta", F.struct(F.col("user_id").alias("a"))
    )
    new = (
        e.filter(F.col("event_id") > split)
        .withColumn("vx", (F.col("user_id") * 2).cast("bigint"))
        .withColumn(
            "meta",
            F.struct(F.col("user_id").alias("a"), F.col("event_type").alias("b")),
        )
    )
    wh.append(old, "t", spec)
    wh.append(new, "t", spec)  # evolves: + vx, + meta.b (recursive union)
    pruned = wh.read_pruned("t", "event_id", lo=lo, hi=split)
    return pruned.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "vx",
        F.col("meta.a").alias("meta_a"),
        F.col("meta.b").alias("meta_b"),
    )


Q_WAREHOUSE_EVOLUTION_SQL = """
WITH b AS (
  SELECT MIN(event_id) + (MAX(event_id) - MIN(event_id)) // 2 AS split
  FROM events
)
SELECT e.event_id, e.user_id, e.event_type, e.value,
       CAST(NULL AS BIGINT) AS vx,
       e.user_id AS meta_a,
       CAST(NULL AS VARCHAR) AS meta_b
FROM events e, b
WHERE e.event_id <= b.split
"""


def q_warehouse_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deferred (merge-on-read) predicate deletes
    (sinks/warehouse.py::delete_where): DELETE WHERE as an O(1)
    metadata commit scoped to the files present at delete time — no
    data rewrite. The staged lifecycle exercises every semantic edge:
    a first delete (user_id % 7 = 3), then a LATE append re-adding a
    matching subset (those rows must SURVIVE — the delete is a snapshot
    fact, not a forever-filter), then a second delete (event_id % 10 =
    1) whose scope covers both eras, then the read. The oracle
    re-derives the surviving multiset from the source table with the
    same two-era set algebra."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_deldef")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE")
    wh.append(e, "t", spec)
    wh.delete_where("t", "user_id % 7 = 3")
    late = e.filter((F.col("user_id") % 7 == 3) & (F.col("event_id") % 5 == 0))
    wh.append(late, "t", spec)
    wh.delete_where("t", "event_id % 10 = 1")
    return wh.read("t").select("event_id", "user_id", "event_type", "value")


Q_WAREHOUSE_DELETE_SQL = """
WITH s1 AS (
  SELECT event_id, user_id, event_type, value FROM events
  WHERE NOT coalesce(user_id % 7 = 3, FALSE)
),
late AS (
  SELECT event_id, user_id, event_type, value FROM events
  WHERE user_id % 7 = 3 AND event_id % 5 = 0
),
state AS (SELECT * FROM s1 UNION ALL SELECT * FROM late)
SELECT * FROM state WHERE NOT coalesce(event_id % 10 = 1, FALSE)
"""


_HLL_P = 8
_HLL_M = 1 << _HLL_P
_HLL_W = 1 << (32 - _HLL_P)
_HLL_RMAX = 32 - _HLL_P + 1
_HLL_ALPHA_PPM = 718273
_KMV_K = 64


def q_warehouse_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-table time travel (sinks/warehouse.py::_read_flat_version):
    each commit's op-log record carries a self-contained state snapshot
    (files, schema, pending deletes), so ``read(version=)`` reconstructs
    any version whose files survive — full history for append/delete
    workloads, no file rewrite ever needed. The staged lifecycle:
    append low event_ids (v0), append the rest (v1), delete_where
    (v2) — then read versions 0 and 2 and union them with a version
    tag. v0 must show ONLY the first append; v2 must show the delete
    applied to both appends; the later delete must NOT leak into v0.
    The oracle re-derives both versions from the source table."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_ttravel")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE")
    stats = e.agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi")).first()
    split = int(stats["lo"]) + (int(stats["hi"]) - int(stats["lo"])) // 2
    wh.append(e.filter(F.col("event_id") <= split), "t", spec)  # v0
    wh.append(e.filter(F.col("event_id") > split), "t", spec)  # v1
    wh.delete_where("t", "user_id % 5 = 2")  # v2
    v0 = wh.read("t", version=0).withColumn("at_version", F.lit(0))
    v2 = wh.read("t", version=2).withColumn("at_version", F.lit(2))
    return v0.unionByName(v2).select(
        "at_version", "event_id", "user_id", "event_type", "value"
    )


Q_WAREHOUSE_TIME_TRAVEL_SQL = """
WITH b AS (
  SELECT MIN(event_id) + (MAX(event_id) - MIN(event_id)) // 2 AS split
  FROM events
)
SELECT 0 AS at_version, event_id, user_id, event_type, value
FROM events, b WHERE event_id <= b.split
UNION ALL
SELECT 2 AS at_version, event_id, user_id, event_type, value
FROM events WHERE NOT coalesce(user_id % 5 = 2, FALSE)
"""


def q_warehouse_clone_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone (sinks/warehouse.py::clone_table): zero-copy
    flat-table clone via hardlinks — the dev/test-snapshot primitive.
    Staged lifecycle: append low event_ids (v0), delete_where
    ``user_id % 5 = 2`` (v1, deferred/merge-on-read), append the highs
    (v2, NOT subject to the earlier delete — snapshot-scoped
    semantics), then clone twice: pinned at v1 and at head. AFTER
    cloning, the source takes another delete (``user_id % 5 = 3``) —
    neither clone may see it, which is the independence proof: a
    leaked post-clone predicate loses rows and hash-mismatches. Both
    clones read through their own carried deferred-delete scopes;
    ``zero_copy`` pins that every file was hardlinked, not copied
    (same filesystem — deterministic in this harness)."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_clone")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE")
    stats = e.agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi")).first()
    split = int(stats["lo"]) + (int(stats["hi"]) - int(stats["lo"])) // 2
    wh.append(e.filter(F.col("event_id") <= split), "t", spec)  # v0
    wh.delete_where("t", "user_id % 5 = 2")  # v1 (scoped to v0's files)
    wh.append(e.filter(F.col("event_id") > split), "t", spec)  # v2
    r1 = wh.clone_table("t", "t_v1", version=1)
    r2 = wh.clone_table("t", "t_head")
    wh.delete_where("t", "user_id % 5 = 3")  # post-clone: must not leak
    zero_copy = F.lit(r1["n_copied"] == 0 and r2["n_copied"] == 0)
    v1 = wh.read("t_v1").withColumn("clone_tag", F.lit("v1"))
    head = wh.read("t_head").withColumn("clone_tag", F.lit("head"))
    return v1.unionByName(head).select(
        "clone_tag", "event_id", "user_id", "event_type", "value",
        zero_copy.alias("zero_copy"),
    )


Q_WAREHOUSE_CLONE_SQL = """
WITH b AS (
  SELECT MIN(event_id) + (MAX(event_id) - MIN(event_id)) // 2 AS split
  FROM events
)
SELECT 'v1' AS clone_tag, event_id, user_id, event_type, value,
       TRUE AS zero_copy
FROM events, b
WHERE event_id <= b.split AND NOT coalesce(user_id % 5 = 2, FALSE)
UNION ALL
SELECT 'head', event_id, user_id, event_type, value, TRUE
FROM events, b
WHERE event_id <= b.split AND NOT coalesce(user_id % 5 = 2, FALSE)
UNION ALL
SELECT 'head', event_id, user_id, event_type, value, TRUE
FROM events, b WHERE event_id > b.split
"""


def q_warehouse_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-consumer feed over the flat append log
    (sinks/warehouse.py::read_appended) — "process only the data that
    arrived since my cursor", the append-only half of the bucketed CDC
    feed. Staged lifecycle: append low event_ids (v0), append the mids
    (v1), COMPACT (v2 — parks v0/v1's files in a retained layer), then
    append the highs (v3). ``read_appended(from_version=0)`` must
    return exactly the mid + high rows: the compact is row-preserving
    and contributes nothing, and the mid append's files — rewritten
    away by the compact — are still read through the retained-layer
    resolution. The oracle re-derives the span from the split
    predicates."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_increread")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE")
    stats = e.agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi")).first()
    lo, hi = int(stats["lo"]), int(stats["hi"])
    s1 = lo + (hi - lo) // 3
    s2 = lo + 2 * (hi - lo) // 3
    wh.append(e.filter(F.col("event_id") <= s1), "t", spec)        # v0
    wh.append(
        e.filter((F.col("event_id") > s1) & (F.col("event_id") <= s2)),
        "t", spec,
    )                                                              # v1
    wh.compact("t", spec, target_file_rows=1_000_000, min_files=2)  # v2
    wh.append(e.filter(F.col("event_id") > s2), "t", spec)         # v3
    return wh.read_appended("t", 0).select(
        "event_id", "user_id", "event_type", "value"
    )


Q_WAREHOUSE_INCREMENTAL_SQL = """
WITH b AS (
  SELECT MIN(event_id) + (MAX(event_id) - MIN(event_id)) // 3 AS s1
  FROM events
)
SELECT event_id, user_id, event_type, value
FROM events, b WHERE event_id > b.s1
"""


def q_warehouse_clone_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone of a BUCKETED MERGE table
    (sinks/warehouse.py::_clone_bucketed) — the upsert-destination
    tables are where the reference's users live, so the dev/test-
    snapshot primitive must cover them too. Staged lifecycle: upsert
    event_ids with ``%3 != 0`` (g0), then upsert the ``%3 == 0``
    remainder and tombstone ``%7 == 1`` keys (g1); clone pinned at g0
    and at head, then tombstone half the SOURCE's keys post-clone —
    neither clone may see it (independence: generation dirs are
    uniquely tokened, data files immutable and hardlinked). The oracle
    re-derives both pinned states from the source table; ``zero_copy``
    pins that no file was byte-copied."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_cloneb")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE", key_bucket_count=8)
    v0 = (
        e.filter(F.col("event_id") % 3 != 0)
        .withColumn("i", F.lit(0).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    wh.merge(v0, "bt", ["event_id"], mode="upsert_delete", order_col="i", spec=spec)
    g0 = int(wh.layout_meta("bt")["generation"])
    batch1 = (
        e.filter(F.col("event_id") % 3 == 0)
        .withColumn("i", F.lit(1).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
        .unionByName(
            e.filter(F.col("event_id") % 7 == 1)
            .withColumn("i", F.lit(2).cast("bigint"))
            .withColumn("__tombstone", F.lit(True))
        )
    )
    wh.merge(
        batch1, "bt", ["event_id"], mode="upsert_delete", order_col="i", spec=spec
    )
    r1 = wh.clone_table("bt", "bt_g0", version=g0)
    r2 = wh.clone_table("bt", "bt_head")
    # post-clone source write: must not leak into either clone
    gone = (
        e.filter(F.col("event_id") % 2 == 0)
        .withColumn("i", F.lit(3).cast("bigint"))
        .withColumn("__tombstone", F.lit(True))
    )
    wh.merge(
        gone, "bt", ["event_id"], mode="upsert_delete", order_col="i", spec=spec
    )
    zero_copy = F.lit(r1["n_copied"] == 0 and r2["n_copied"] == 0)
    a = wh.read("bt_g0").withColumn("clone_tag", F.lit("g0"))
    b = wh.read("bt_head").withColumn("clone_tag", F.lit("head"))
    return a.unionByName(b).select(
        "clone_tag", "event_id", "user_id", "event_type", "value",
        zero_copy.alias("zero_copy"),
    )


Q_WAREHOUSE_CLONE_BUCKETED_SQL = """
SELECT 'g0' AS clone_tag, event_id, user_id, event_type, value,
       TRUE AS zero_copy
FROM events WHERE event_id % 3 <> 0
UNION ALL
SELECT 'head', event_id, user_id, event_type, value, TRUE
FROM events WHERE NOT (event_id % 7 = 1)
"""


# canonical-text / whitespace-token SQL twins of
# operators.dedup.canonical_text + functions.text.tokens (same macros
# as queries_ext — duplicated here to keep module imports acyclic)
_DOC_CANON = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_DOC_TOKS = f"str_split({_DOC_CANON}, ' ')"


def q_warehouse_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text token lookup through the per-file text index
    (sinks/warehouse.py::record_text_index/read_containing) — grep at
    warehouse scale: documents land in TWO appends (the second
    refreshes the recorded postings incrementally, new files only) and
    the probe term's matches are found by reading ONLY the files whose
    recorded postings contain the term; scanned files without it are
    provably skipped. The probe term is data-derived identically on
    both engines (most frequent token of length >= 6, lexicographic
    tie-break — a 1-row bounded collect on the Spark side, a scalar
    subquery in the oracle), and the result must equal the plain
    tokenized filter the oracle runs over ALL documents — a wrongly
    skipped file loses rows and hash-mismatches."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.functions.text import token_count, tokens
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    term = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 6)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(1)  # 1-row bounded collect: the probe term
        .collect()[0]["tok"]
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_textidx")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE")
    wh.append(d.filter(F.col("doc_id") % 2 == 0), "docs", spec)
    wh.record_text_index("docs", ["text"])
    wh.append(d.filter(F.col("doc_id") % 2 == 1), "docs", spec)  # incremental
    return wh.read_containing("docs", "text", term).select(
        "doc_id",
        "lang",
        F.lit(term).alias("term"),
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
    )


Q_WAREHOUSE_TEXT_SEARCH_SQL = f"""
WITH toked AS (SELECT doc_id, lang, {_DOC_TOKS} AS toks FROM documents),
term AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest(toks) AS tok FROM toked)
    WHERE length(tok) >= 6 GROUP BY 1
  ) ORDER BY n DESC, tok LIMIT 1
)
SELECT doc_id, lang, term.tok AS term,
       CAST(len(toks) AS BIGINT) AS n_tok
FROM toked CROSS JOIN term
WHERE list_contains(toks, term.tok)
"""


def q_warehouse_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT DISTINCT through the per-file HLL index
    (sinks/warehouse.py::record_sketch/approx_distinct): events land in
    TWO appends — the second refreshes the recorded index incrementally
    (new files only) — and the estimates for user_id and event_id are
    answered purely from the merged per-file registers, never a data
    scan. Per-register max is associative, so the file-sliced build
    must be bit-identical to registers computed from the raw rows —
    which is exactly what the oracle does in SQL."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select("event_id", "user_id")
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_sketch")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE")
    wh.append(e.filter(F.col("event_id") % 2 == 0), "t", spec)
    wh.record_sketch("t", ["event_id", "user_id"])
    wh.append(e.filter(F.col("event_id") % 2 == 1), "t", spec)  # incremental
    exact = e.agg(
        F.countDistinct("event_id").alias("x_event_id"),
        F.countDistinct("user_id").alias("x_user_id"),
    )
    parts = []
    for col in ("event_id", "user_id"):
        est = wh.approx_distinct("t", col).withColumn("col_name", F.lit(col))
        parts.append(
            est.crossJoin(exact).select(
                "col_name",
                "m",
                "n_nonzero",
                "s_scaled",
                "hll_estimate",
                F.col(f"x_{col}").alias("n_exact"),
            )
        )
    return parts[0].unionByName(parts[1])


Q_WAREHOUSE_SKETCH_SQL = f"""
WITH vals AS (
  SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS s FROM events
  WHERE event_id IS NOT NULL
  UNION ALL
  SELECT 'user_id' AS col_name, CAST(user_id AS VARCHAR) AS s FROM events
  WHERE user_id IS NOT NULL
),
h AS (
  SELECT col_name,
         CAST(concat('0x', substr(md5(concat('hll:', s)), 1, 8)) AS BIGINT) AS hv
  FROM vals
),
rr AS (
  SELECT col_name, hv // {_HLL_W} AS register,
         CASE WHEN hv % {_HLL_W} = 0 THEN {_HLL_RMAX}
              ELSE {_HLL_RMAX} - length(bin(hv % {_HLL_W})) END AS rho
  FROM h
),
reg AS (SELECT col_name, register, MAX(rho) AS rho FROM rr GROUP BY 1, 2),
agg AS (
  SELECT col_name, COUNT(*) AS n_nonzero,
         CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RMAX} - rho)) AS BIGINT) AS s_present
  FROM reg GROUP BY 1
),
est AS (
  SELECT col_name, {_HLL_M} AS m, n_nonzero,
         s_present + ({_HLL_M} - n_nonzero) * {1 << _HLL_RMAX} AS s_scaled
  FROM agg
),
exact AS (
  SELECT 'event_id' AS col_name, COUNT(DISTINCT event_id) AS n_exact FROM events
  WHERE event_id IS NOT NULL
  UNION ALL
  SELECT 'user_id' AS col_name, COUNT(DISTINCT user_id) AS n_exact FROM events
  WHERE user_id IS NOT NULL
)
SELECT col_name, m, n_nonzero, s_scaled,
       (CAST({_HLL_ALPHA_PPM} AS BIGINT) * {_HLL_M} * {_HLL_M} * {1 << _HLL_RMAX})
         // (s_scaled * 1000000) AS hll_estimate,
       n_exact
FROM est JOIN exact USING (col_name)
"""


def _staged_wh(spark, tag: str):
    """Scratch Warehouse under a per-invocation unique dir (stale
    siblings older than an hour swept) — the staging pattern every
    warehouse oracle entry uses."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks.warehouse import Warehouse

    base = os.path.join(tempfile.gettempdir(), f"kcbq_spark_{tag}")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    return Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))


def q_warehouse_sketch_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT DISTINCT on a BUCKETED MERGE table (r07
    verdict ask 3 — the reference's upsert destinations,
    BigQuerySinkConfig upsert mode, are exactly this layout): events
    MERGE in keyed by event_id (v0), the HLL index is recorded on the
    NON-key user_id column, then a second MERGE deletes every
    event_id ≡ 4 (mod 13) and moves every event_id ≡ 5 (mod 13) to a
    NEW user (+10^6) — touched buckets get new generation dirs, the
    commit hook indexes them incrementally, and the superseded
    generations' index rows go DEAD in place. ``approx_distinct`` must
    merge registers over the live manifest only: the oracle computes
    the register math from the post-merge state's values, so a dead
    row leaking in (old user_ids of moved keys) over-estimates and
    hash-mismatches."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    e = _t(spark, sf_dir, "events").select("event_id", "user_id")
    wh = _staged_wh(spark, "sketchbkt")
    spec = TableSpec(partition_grain="NONE", key_bucket_count=8)
    wh.merge(
        e.withColumn("i", F.lit(0)).withColumn("__tombstone", F.lit(False)),
        "t", ["event_id"], mode="upsert_delete", spec=spec,
    )
    wh.record_sketch("t", ["user_id"])
    upd = (
        e.filter(F.col("event_id") % 13 == 5)
        .withColumn("user_id", F.col("user_id") + 1000000)
        .withColumn("i", F.lit(1))
        .withColumn("__tombstone", F.lit(False))
    )
    dels = (
        e.filter(F.col("event_id") % 13 == 4)
        .select("event_id", F.lit(None).cast("long").alias("user_id"))
        .withColumn("i", F.lit(1))
        .withColumn("__tombstone", F.lit(True))
    )
    wh.merge(
        upd.unionByName(dels), "t", ["event_id"],
        mode="upsert_delete", spec=spec,
    )
    exact = wh.read("t").agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        wh.approx_distinct("t", "user_id")
        .crossJoin(F.broadcast(exact))
        .select("m", "n_nonzero", "s_scaled", "hll_estimate", "n_exact")
    )


Q_WAREHOUSE_SKETCH_BUCKETED_SQL = f"""
WITH state AS (
  SELECT CASE WHEN event_id % 13 = 5 THEN user_id + 1000000
              ELSE user_id END AS user_id
  FROM events WHERE event_id % 13 <> 4
),
h AS (
  SELECT CAST(concat('0x', substr(md5(concat('hll:', CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) AS hv
  FROM state WHERE user_id IS NOT NULL
),
rr AS (
  SELECT hv // {_HLL_W} AS register,
         CASE WHEN hv % {_HLL_W} = 0 THEN {_HLL_RMAX}
              ELSE {_HLL_RMAX} - length(bin(hv % {_HLL_W})) END AS rho
  FROM h
),
reg AS (SELECT register, MAX(rho) AS rho FROM rr GROUP BY 1),
agg AS (
  SELECT COUNT(*) AS n_nonzero,
         CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RMAX} - rho)) AS BIGINT) AS s_present
  FROM reg
),
est AS (
  SELECT {_HLL_M} AS m, n_nonzero,
         s_present + ({_HLL_M} - n_nonzero) * {1 << _HLL_RMAX} AS s_scaled
  FROM agg
)
SELECT m, n_nonzero, s_scaled,
       (CAST({_HLL_ALPHA_PPM} AS BIGINT) * {_HLL_M} * {_HLL_M} * {1 << _HLL_RMAX})
         // (s_scaled * 1000000) AS hll_estimate,
       (SELECT COUNT(DISTINCT user_id) FROM state) AS n_exact
FROM est
"""


def q_warehouse_text_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text CONTAINS through the per-file token index on a
    BUCKETED MERGE table (r07 verdict ask 3): documents MERGE in keyed
    by doc_id, the text index is recorded, then a second MERGE deletes
    every doc_id ≡ 3 (mod 11) and prepends a marker token to every
    doc_id ≡ 7 (mod 11) — new generations indexed incrementally by the
    commit hook, superseded generations' postings dead in place. Two
    probes, unioned with a tag: the corpus-derived frequent term (the
    warehouse_text_search convention) proves dead postings cannot
    resurrect deleted/rewritten rows; the marker term proves the
    incrementally-indexed new generations are actually found. The
    oracle runs both filters over the post-merge state."""
    from kafka_connect_bigquery_spark.functions.text import token_count, tokens
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    term = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 6)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(1)  # 1-row bounded collect: the probe term
        .collect()[0]["tok"]
    )
    wh = _staged_wh(spark, "textbkt")
    spec = TableSpec(partition_grain="NONE", key_bucket_count=8)
    wh.merge(
        d.withColumn("i", F.lit(0)).withColumn("__tombstone", F.lit(False)),
        "docs", ["doc_id"], mode="upsert_delete", spec=spec,
    )
    wh.record_text_index("docs", ["text"])
    upd = (
        d.filter(F.col("doc_id") % 11 == 7)
        .withColumn("text", F.concat(F.lit("xmarkerx "), F.col("text")))
        .withColumn("i", F.lit(1))
        .withColumn("__tombstone", F.lit(False))
    )
    dels = (
        d.filter(F.col("doc_id") % 11 == 3)
        .select(
            "doc_id",
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("text"),
        )
        .withColumn("i", F.lit(1))
        .withColumn("__tombstone", F.lit(True))
    )
    wh.merge(
        upd.unionByName(dels), "docs", ["doc_id"],
        mode="upsert_delete", spec=spec,
    )
    parts = []
    for tag, probe in (("corpus", term), ("marker", "xmarkerx")):
        parts.append(
            wh.read_containing("docs", "text", probe).select(
                F.lit(tag).alias("probe"),
                "doc_id",
                "lang",
                token_count(F.col("text")).cast("bigint").alias("n_tok"),
            )
        )
    return parts[0].unionByName(parts[1])


Q_WAREHOUSE_TEXT_BUCKETED_SQL = f"""
WITH term AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest({_DOC_TOKS}) AS tok FROM documents)
    WHERE length(tok) >= 6 GROUP BY 1
  ) ORDER BY n DESC, tok LIMIT 1
),
state AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 11 = 7 THEN concat('xmarkerx ', text)
              ELSE text END AS text
  FROM documents WHERE doc_id % 11 <> 3
),
toked AS (SELECT doc_id, lang, {_DOC_TOKS} AS toks FROM state)
SELECT 'corpus' AS probe, doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tok
FROM toked CROSS JOIN term WHERE list_contains(toks, term.tok)
UNION ALL
SELECT 'marker' AS probe, doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tok
FROM toked WHERE list_contains(toks, 'xmarkerx')
"""


def q_warehouse_bloom_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom point-lookup on a NON-key column of a BUCKETED MERGE table
    (r08, completing the per-generation index family — bucket routing
    prunes by the key, bloom covers everything else): events MERGE in
    keyed by event_id, the bloom index is recorded on user_id, then a
    second MERGE deletes every event_id ≡ 4 (mod 13) and moves every
    event_id ≡ 5 (mod 13) to a NEW user (+10^6) — new generations
    indexed incrementally by the commit hook, superseded generations'
    words ignored by the probe (it iterates live manifest files only).
    The probe user is data-derived identically on both engines (the
    final state's minimum user_id); a wrongly skipped file loses rows
    and hash-mismatches, a dead-generation leak resurrects the moved
    keys' OLD rows and hash-mismatches."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    e = _t(spark, sf_dir, "events").select("event_id", "user_id")
    wh = _staged_wh(spark, "bloombkt")
    spec = TableSpec(partition_grain="NONE", key_bucket_count=8)
    wh.merge(
        e.withColumn("i", F.lit(0)).withColumn("__tombstone", F.lit(False)),
        "t", ["event_id"], mode="upsert_delete", spec=spec,
    )
    wh.record_bloom("t", ["user_id"])
    upd = (
        e.filter(F.col("event_id") % 13 == 5)
        .withColumn("user_id", F.col("user_id") + 1000000)
        .withColumn("i", F.lit(1))
        .withColumn("__tombstone", F.lit(False))
    )
    dels = (
        e.filter(F.col("event_id") % 13 == 4)
        .select("event_id", F.lit(None).cast("long").alias("user_id"))
        .withColumn("i", F.lit(1))
        .withColumn("__tombstone", F.lit(True))
    )
    wh.merge(
        upd.unionByName(dels), "t", ["event_id"],
        mode="upsert_delete", spec=spec,
    )
    probe = wh.read("t").agg(F.min("user_id")).first()[0]  # 1-row collect
    return (
        wh.read_pruned_where("t", {"user_id": int(probe)})
        .select("event_id", "user_id")
        .orderBy("event_id")
    )


Q_WAREHOUSE_BLOOM_BUCKETED_SQL = """
WITH state AS (
  SELECT event_id,
         CASE WHEN event_id % 13 = 5 THEN user_id + 1000000
              ELSE user_id END AS user_id
  FROM events WHERE event_id % 13 <> 4
)
SELECT event_id, user_id FROM state
WHERE user_id = (SELECT MIN(user_id) FROM state)
ORDER BY event_id
"""


def q_warehouse_partition_compact_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped compaction (r08 — the O(partition) rewrite +
    delta commit a 100 TB flat store schedules instead of compact()'s
    O(table) swap): DAY-partitioned events land in TWO appends (several
    small files per partition), a deferred DELETE goes pending, then
    the busiest partition is rewritten via ``compact_partition`` —
    materializing the delete for exactly that partition's files,
    parking the old era for time travel, and committing an
    O(|partition files|) delta. The result frame unions the v0 read
    (time travel THROUGH the rewrite: parked files resolve) with the
    latest read (rows must be byte-identical through the rewrite, the
    delete applied everywhere). A lost/duplicated row in the rewritten
    partition, a leaked soft-deleted row, or a broken parked-file
    resolution all hash-mismatch."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    wh = _staged_wh(spark, "pcompact")
    spec = TableSpec(partition_grain="DAY", timestamp_field="ts")
    wh.append(e.filter(F.col("event_id") % 2 == 0), "t", spec)  # v0
    wh.append(e.filter(F.col("event_id") % 2 == 1), "t", spec)  # v1
    wh.delete_where("t", "user_id % 7 = 3")  # v2 (pending, snapshot-scoped)
    target = (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .count()
        .orderBy(F.desc("count"), F.asc("d"))
        .limit(1)  # 1-row bounded collect: the busiest day
        .first()["d"]
    )
    wh.compact_partition("t", spec, target, target_file_rows=10_000_000)  # v3
    v0 = wh.read("t", version=0).withColumn("at_version", F.lit(0))
    v3 = wh.read("t", version=3).withColumn("at_version", F.lit(3))
    return v0.unionByName(v3).select(
        "at_version", "event_id", "user_id", "p_date", "value"
    )


Q_WAREHOUSE_PARTITION_COMPACT_SQL = f"""
SELECT 0 AS at_version, event_id, user_id,
       strftime({_TS_US}, '%Y-%m-%d') AS p_date, value
FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT 3 AS at_version, event_id, user_id,
       strftime({_TS_US}, '%Y-%m-%d') AS p_date, value
FROM events WHERE NOT coalesce(user_id % 7 = 3, FALSE)
"""


def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (IVM) over the
    warehouse CDC feed (operators/rollup.py): the per-(user, type)
    count/sum rollup built at snapshot v0 is kept fresh by applying the
    signed pre/post-image deltas from ``read_changes(images="both")`` —
    never recomputed from the corpus. The reference refreshes by
    re-running MERGE-side queries in BigQuery (MergeQueries.java:137);
    an engine that owns storage maintains the aggregate at CDC cost.

    Staged scenario: all events MERGE in at v0; a delta MERGE updates
    every 7th event's value (+100) and tombstones every event_id ≡ 3
    (mod 11) at v1. The returned frame is rollup(v0) ⊕ delta(CDC), and
    the oracle recomputes the v1 aggregate directly from the source
    table — proving maintained == recomputed, including groups that
    empty out. Exactness: contributions are integer-quantized
    (rollup.quantized), so maintenance is order- and
    history-independent. Cost ∝ |changes| + |rollup|, never |corpus|.
    """
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.operators import rollup as R
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_rollup")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE", key_bucket_count=8)
    base_batch = (
        e.withColumn("i", F.lit(0).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    wh.merge(base_batch, "t", ["event_id"], mode="upsert_delete", order_col="i", spec=spec)
    updates = (
        e.filter(F.col("event_id") % 7 == 0)
        .withColumn("value", F.col("value") + F.lit(100.0))
        .withColumn("i", F.lit(1).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    deletes = (
        e.filter(F.col("event_id") % 11 == 3)
        .withColumn("i", F.lit(2).cast("bigint"))
        .withColumn("__tombstone", F.lit(True))
    )
    wh.merge(
        updates.unionByName(deletes), "t", ["event_id"],
        mode="upsert_delete", order_col="i", spec=spec,
    )
    keys = ["user_id", "event_type"]
    measures = {
        "n_events": F.lit(1).cast("bigint"),
        "sum_value_q": R.quantized("value"),
    }
    base_rollup = R.build_rollup(wh.read("t", version=0), keys, measures)
    changes = wh.read_changes("t", from_version=0, images="both")
    delta = R.rollup_delta(changes, keys, measures)
    maintained = R.apply_rollup_delta(base_rollup, delta, keys, count_measure="n_events")
    return maintained.select(
        "user_id",
        "event_type",
        "n_events",
        R.dequantized("sum_value_q").alias("sum_value"),
    )


Q_ROLLUP_INCREMENTAL_SQL = f"""
WITH final AS (
  SELECT user_id, event_type,
         CASE WHEN event_id % 7 = 0 THEN value + 100 ELSE value END AS value
  FROM events WHERE event_id % 11 <> 3
)
SELECT user_id, event_type, COUNT(*) AS n_events, {_qsum_sql("value")} AS sum_value
FROM final GROUP BY 1, 2
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column profile of the orders table
    (operators/profile.py): null counts, exact cardinalities, numeric /
    timestamp ranges, string ranges and mean lengths — one aggregate
    job, one row out per column. The stats that drive broadcast-join
    decisions and data-quality gates at 100 TB."""
    from kafka_connect_bigquery_spark.operators.profile import profile

    return profile(_t(spark, sf_dir, "orders"))


def _profile_oracle_sql() -> str:
    num = lambda c: (
        f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows,"
        f" COUNT(*) - COUNT({c}) AS n_nulls, COUNT(DISTINCT {c}) AS n_distinct,"
        f" CAST(MIN({c}) AS DOUBLE) AS min_num, CAST(MAX({c}) AS DOUBLE) AS max_num,"
        f" CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,"
        f" CAST(NULL AS DOUBLE) AS avg_len FROM orders"
    )
    ts = lambda c: (
        f"SELECT '{c}', COUNT(*), COUNT(*) - COUNT({c}), COUNT(DISTINCT {c}),"
        f" CAST(MIN(epoch_us({c})) AS DOUBLE), CAST(MAX(epoch_us({c})) AS DOUBLE),"
        f" CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)"
        f" FROM orders"
    )
    st = lambda c: (
        f"SELECT '{c}', COUNT(*), COUNT(*) - COUNT({c}), COUNT(DISTINCT {c}),"
        f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), MIN({c}), MAX({c}),"
        f" CAST(SUM(length({c})) AS DOUBLE) / COUNT({c}) FROM orders"
    )
    return "\nUNION ALL\n".join(
        [
            num("o_orderkey"),
            num("o_custkey"),
            st("o_orderstatus"),
            num("o_totalprice"),
            ts("o_orderdate"),
            st("o_orderpriority"),
        ]
    )


Q_TABLE_PROFILE_SQL = _profile_oracle_sql()


_CMS_DEPTH, _CMS_WIDTH = 4, 256
_AMS_DEPTH, _AMS_WIDTH = 5, 64


def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation over event user_ids
    (operators/sketch.py): the depth x width additive sketch is built in
    one bounded-output shuffle, probed for every distinct user, and
    audited against the exact per-user counts — ``never_underestimates``
    is the CMS guarantee made hash-checkable. Deterministic depth-salted
    md5 slots mean the oracle rebuilds the identical sketch in SQL."""
    from kafka_connect_bigquery_spark.operators import sketch as SK

    # NOTE (r13 negative result): _wide widening looked like a 0.63x
    # win against a steal-inflated baseline reading (1.69 s), but the
    # min-over-runs settlement put the TRUE narrow-scan baseline at
    # 0.41 s vs 0.74 s widened — the same per-build exchange + AQE
    # round tax as the other sketch builds. Reverted; the whole family
    # keeps the fused single-task scan shape.
    e = _t(spark, sf_dir, "events")
    kw = dict(depth=_CMS_DEPTH, width=_CMS_WIDTH)
    sk = SK.count_min_build(e, "user_id", **kw)
    est = SK.count_min_estimate(sk, e, "user_id", **kw)
    exact = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return est.join(exact, "user_id").select(
        "user_id",
        "cm_estimate",
        "n_exact",
        (F.col("cm_estimate") >= F.col("n_exact")).alias("never_underestimates"),
    )


Q_SKETCH_COUNT_MIN_SQL = f"""
WITH ds AS (SELECT unnest(range({_CMS_DEPTH})) AS d),
hashed AS (
  SELECT user_id, d,
         CAST(concat('0x', substr(md5(concat(CAST(d AS VARCHAR), ':',
              CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % {_CMS_WIDTH} AS slot
  FROM events, ds
  WHERE user_id IS NOT NULL
),
sketch AS (SELECT d, slot, COUNT(*) AS cnt FROM hashed GROUP BY 1, 2),
probes AS (SELECT DISTINCT user_id, d, slot FROM hashed),
est AS (
  SELECT user_id, MIN(COALESCE(cnt, 0)) AS cm_estimate
  FROM probes LEFT JOIN sketch USING (d, slot) GROUP BY 1
),
exact AS (
  SELECT user_id, COUNT(*) AS n_exact FROM events
  WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT user_id, cm_estimate, n_exact,
       cm_estimate >= n_exact AS never_underestimates
FROM est JOIN exact USING (user_id)
"""


def q_sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count registers (operators/sketch.py):
    per-event_type sketches built in one pass, merged by per-register
    max, and audited three ways in a single integer row — the merged
    registers must be bit-identical to a direct global build
    (``n_register_mismatch = 0``), the integer raw estimate must land
    within 40% of the exact distinct count, and the harmonic sum
    itself (``s_scaled``) is value-hashed so any drift in the hash or
    rank arithmetic is caught, not just the headline estimate. The
    per-group-then-merge shape is the 100 TB deployment: per-day
    sketches of 2^p integers each, mergeable to any grain without
    rescanning."""
    from kafka_connect_bigquery_spark.operators import sketch as SK

    # NOTE (r13): _wide widening measured 2x SLOWER here — the register
    # build is ~0.3 s of md5 at sf0.1 and the grouped/direct/exact
    # subtrees already overlap as one job; per-subtree exchanges +
    # AQE rounds cost more than the width buys (sketch_count_min, with
    # one heavier shared frame, is where widening wins).
    e = _t(spark, sf_dir, "events")
    grouped = SK.hll_build_grouped(e, "event_id", ["event_type"], p=_HLL_P)
    merged = SK.hll_merge(grouped.select("register", "rho"))
    direct = SK.hll_build(e, "event_id", p=_HLL_P)
    mism = (
        merged.withColumnRenamed("rho", "rho_m")
        .join(direct.withColumnRenamed("rho", "rho_d"), "register", "full")
        .agg(
            F.sum(
                F.when(
                    F.col("rho_m").isNull()
                    | F.col("rho_d").isNull()
                    | (F.col("rho_m") != F.col("rho_d")),
                    1,
                ).otherwise(0)
            ).alias("n_register_mismatch")
        )
    )
    est = SK.hll_estimate(merged, p=_HLL_P)
    exact = e.filter(F.col("event_id").isNotNull()).agg(
        F.countDistinct("event_id").alias("n_exact")
    )
    # three 1-row frames: the nested-loop joins broadcast single rows
    return (
        est.crossJoin(exact)
        .crossJoin(mism)
        .select(
            "m",
            "n_nonzero",
            "s_scaled",
            "hll_estimate",
            "n_exact",
            "n_register_mismatch",
            (F.col("n_register_mismatch") == 0).alias("merge_ok"),
            (
                F.abs(F.col("hll_estimate") - F.col("n_exact")) * 100
                <= F.col("n_exact") * 40
            ).alias("within_40pct"),
        )
    )


Q_SKETCH_HLL_SQL = f"""
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(concat('hll:', CAST(event_id AS VARCHAR))), 1, 8))
              AS BIGINT) AS hv
  FROM events WHERE event_id IS NOT NULL
),
rr AS (
  SELECT event_type, hv // {_HLL_W} AS register,
         CASE WHEN hv % {_HLL_W} = 0 THEN {_HLL_RMAX}
              ELSE {_HLL_RMAX} - length(bin(hv % {_HLL_W})) END AS rho
  FROM h
),
grouped AS (SELECT event_type, register, MAX(rho) AS rho FROM rr GROUP BY 1, 2),
merged AS (SELECT register, MAX(rho) AS rho FROM grouped GROUP BY 1),
direct AS (SELECT register, MAX(rho) AS rho FROM rr GROUP BY 1),
mism AS (
  SELECT CAST(SUM(CASE WHEN m.rho IS NULL OR d.rho IS NULL OR m.rho <> d.rho
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_register_mismatch
  FROM merged m FULL JOIN direct d USING (register)
),
agg AS (
  SELECT COUNT(*) AS n_nonzero,
         CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RMAX} - rho)) AS BIGINT) AS s_present
  FROM merged
),
est AS (
  SELECT {_HLL_M} AS m, n_nonzero,
         s_present + ({_HLL_M} - n_nonzero) * {1 << _HLL_RMAX} AS s_scaled
  FROM agg
),
exact AS (SELECT COUNT(DISTINCT event_id) AS n_exact FROM events
          WHERE event_id IS NOT NULL)
SELECT m, n_nonzero, s_scaled,
       (CAST({_HLL_ALPHA_PPM} AS BIGINT) * {_HLL_M} * {_HLL_M} * {1 << _HLL_RMAX})
         // (s_scaled * 1000000) AS hll_estimate,
       n_exact, n_register_mismatch,
       n_register_mismatch = 0 AS merge_ok,
       abs((CAST({_HLL_ALPHA_PPM} AS BIGINT) * {_HLL_M} * {_HLL_M} * {1 << _HLL_RMAX})
         // (s_scaled * 1000000) - n_exact) * 100 <= n_exact * 40 AS within_40pct
FROM est, exact, mism
"""


def q_sketch_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct-count dashboard via HLL registers
    (operators/sketch.py): one register frame per day built in a single
    pass, per-day integer estimates, and an ALL row whose registers are
    the per-day MERGE — never a rescan. This is the sketch's production
    shape at 100 TB: store 2^p integers per day, answer any date-range
    distinct query by merging register frames. Per-day rows also audit
    the estimate against the exact per-day distinct count; the
    ``within_40pct`` flag is computed identically by the oracle (it is
    *expected* to be False on small days — raw HLL without the
    linear-counting branch overestimates when n << m; the ALL row
    shows the sketch in its accurate regime)."""
    from kafka_connect_bigquery_spark.operators import sketch as SK

    # NOTE (r13): fan_out widening measured 2x SLOWER here (same
    # mechanism as sketch_hll_distinct — see note there)
    e = _t(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"), "event_id"
    )
    grouped = SK.hll_build_grouped(e, "event_id", ["day"], p=_HLL_P)
    daily = SK.hll_estimate_grouped(grouped, ["day"], p=_HLL_P)
    day_exact = e.groupBy("day").agg(F.countDistinct("event_id").alias("n_exact"))
    merged = SK.hll_merge(grouped.select("register", "rho"))
    all_est = SK.hll_estimate(merged, p=_HLL_P).withColumn("day", F.lit("ALL"))
    all_exact = e.agg(F.countDistinct("event_id").alias("n_exact")).withColumn(
        "day", F.lit("ALL")
    )
    cols = ["day", "m", "n_nonzero", "s_scaled", "hll_estimate", "n_exact"]
    rows = daily.join(day_exact, "day").select(*cols).unionByName(
        all_est.join(all_exact, "day").select(*cols)
    )
    return rows.select(
        *cols,
        (
            F.abs(F.col("hll_estimate") - F.col("n_exact")) * 100
            <= F.col("n_exact") * 40
        ).alias("within_40pct"),
    )


Q_SKETCH_HLL_DAILY_SQL = f"""
WITH h AS (
  SELECT strftime({_TS_US}, '%Y-%m-%d') AS day,
         CAST(concat('0x', substr(md5(concat('hll:', CAST(event_id AS VARCHAR))), 1, 8))
              AS BIGINT) AS hv
  FROM events WHERE event_id IS NOT NULL
),
rr AS (
  SELECT day, hv // {_HLL_W} AS register,
         CASE WHEN hv % {_HLL_W} = 0 THEN {_HLL_RMAX}
              ELSE {_HLL_RMAX} - length(bin(hv % {_HLL_W})) END AS rho
  FROM h
),
grouped AS (SELECT day, register, MAX(rho) AS rho FROM rr GROUP BY 1, 2),
merged AS (SELECT 'ALL' AS day, register, MAX(rho) AS rho FROM grouped GROUP BY 2),
both_g AS (SELECT * FROM grouped UNION ALL SELECT * FROM merged),
agg AS (
  SELECT day, COUNT(*) AS n_nonzero,
         CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RMAX} - rho)) AS BIGINT) AS s_present
  FROM both_g GROUP BY 1
),
est AS (
  SELECT day, {_HLL_M} AS m, n_nonzero,
         s_present + ({_HLL_M} - n_nonzero) * {1 << _HLL_RMAX} AS s_scaled
  FROM agg
),
exact AS (
  SELECT strftime({_TS_US}, '%Y-%m-%d') AS day,
         COUNT(DISTINCT event_id) AS n_exact
  FROM events WHERE event_id IS NOT NULL GROUP BY 1
  UNION ALL
  SELECT 'ALL' AS day, COUNT(DISTINCT event_id) AS n_exact
  FROM events WHERE event_id IS NOT NULL
)
SELECT day, m, n_nonzero, s_scaled,
       (CAST({_HLL_ALPHA_PPM} AS BIGINT) * {_HLL_M} * {_HLL_M} * {1 << _HLL_RMAX})
         // (s_scaled * 1000000) AS hll_estimate,
       n_exact,
       abs((CAST({_HLL_ALPHA_PPM} AS BIGINT) * {_HLL_M} * {_HLL_M} * {1 << _HLL_RMAX})
         // (s_scaled * 1000000) - n_exact) * 100 <= n_exact * 40 AS within_40pct
FROM est JOIN exact USING (day)
"""


def q_sketch_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the per-day HLL distinct-count
    rollup over the warehouse CDC feed
    (operators/sketch.py::hll_maintain_grouped) — closing the
    mergeable-sketch story into the streaming path the same way
    ``rollup_incremental`` / ``bm25_incremental`` did for exact
    aggregates and postings: maintained == recomputed, proven inside
    the query.

    Staged scenario: events with event_id % 5 != 0 MERGE in at v0; one
    delta MERGE then inserts the %5 == 0 remainder, updates every 7th
    surviving event's value (+100 — the sketched (day, event_id) tuple
    is unchanged, so these must ride the cheap merge path), and
    tombstones event_id ≡ 3 (mod 11) rows on month-days 01-03 (days
    that LOST a contribution, forcing the targeted rebuild path).
    Maintenance = stored v0 registers ⊕ post-image registers for
    untouched days (per-register max — additions and re-insertions are
    free under max-monotonicity), plus a rebuild of ONLY the
    delete-affected days; cost follows |changes| + |affected days|,
    never |corpus|. The frame audits the algebra three ways: per-day
    ``n_register_mismatch`` against a direct rebuild of the final
    state (must be 0, the oracle pins it as a contract literal),
    per-day ``rebuilt`` derived from the CDC lost-contribution
    anti-join (the oracle re-derives it from the scenario predicate),
    and the estimate columns themselves, hash-compared against the
    oracle's from-scratch registers."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.operators import sketch as SK
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    dom = F.substring(F.date_format(F.col("ts"), "yyyy-MM-dd"), 9, 2).cast("int")
    del_cond = (
        (F.col("event_id") % 11 == 3) & (F.col("event_id") % 5 != 0) & (dom <= 3)
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_hll_ivm")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE", key_bucket_count=8)
    v0 = (
        e.filter(F.col("event_id") % 5 != 0)
        .withColumn("i", F.lit(0).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    wh.merge(v0, "t", ["event_id"], mode="upsert_delete", order_col="i", spec=spec)
    inserts = (
        e.filter(F.col("event_id") % 5 == 0)
        .withColumn("i", F.lit(1).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    updates = (
        e.filter((F.col("event_id") % 7 == 0) & (F.col("event_id") % 5 != 0))
        .withColumn("value", F.col("value") + F.lit(100.0))
        .withColumn("i", F.lit(1).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    deletes = (
        e.filter(del_cond)
        .withColumn("i", F.lit(2).cast("bigint"))
        .withColumn("__tombstone", F.lit(True))
    )
    wh.merge(
        inserts.unionByName(updates).unionByName(deletes),
        "t", ["event_id"], mode="upsert_delete", order_col="i", spec=spec,
    )
    stored = SK.hll_build_grouped(
        wh.read("t", version=0).select(day, "event_id"), "event_id", ["day"],
        p=_HLL_P,
    )
    changes = wh.read_changes("t", from_version=0, images="both").select(
        day, "event_id", "_change_type"
    )
    current = wh.read("t").select(day, "event_id").localCheckpoint(
        eager=False
    )  # feeds rebuild, direct-build proof, AND the exact audit
    maintained = SK.hll_maintain_grouped(
        stored, changes, "event_id", ["day"], current, p=_HLL_P
    ).localCheckpoint(eager=False)  # feeds estimates AND the mismatch proof
    direct = SK.hll_build_grouped(current, "event_id", ["day"], p=_HLL_P)
    m = maintained.select("day", "register", F.col("rho").alias("m_rho"))
    d = direct.select("day", "register", F.col("rho").alias("d_rho"))
    mism = (
        m.join(d, ["day", "register"], "full_outer")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(
                    F.col("m_rho").isNull()
                    | F.col("d_rho").isNull()
                    | (F.col("m_rho") != F.col("d_rho")),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_register_mismatch")
        )
    )
    est = SK.hll_estimate_grouped(maintained, ["day"], p=_HLL_P)
    exact = current.groupBy("day").agg(
        F.countDistinct("event_id").alias("n_exact")
    )
    reb = (
        changes.filter(F.col("_change_type").isin("delete", "update_preimage"))
        .join(
            changes.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            ).select("day", "event_id"),
            ["day", "event_id"],
            "left_anti",
        )
        .select("day")
        .distinct()
        .withColumn("rebuilt", F.lit(True))
    )
    return (
        est.join(exact, "day")
        .join(mism, "day")
        .join(reb, "day", "left")
        .select(
            "day", "m", "n_nonzero", "s_scaled", "hll_estimate", "n_exact",
            F.coalesce(F.col("rebuilt"), F.lit(False)).alias("rebuilt"),
            "n_register_mismatch",
            (F.col("n_register_mismatch") == 0).alias("merge_ok"),
        )
    )


Q_SKETCH_HLL_INCREMENTAL_SQL = f"""
WITH final AS (
  SELECT event_id, strftime({_TS_US}, '%Y-%m-%d') AS day
  FROM events
  WHERE event_id IS NOT NULL
    AND NOT (event_id % 11 = 3 AND event_id % 5 <> 0
             AND CAST(substr(strftime({_TS_US}, '%Y-%m-%d'), 9, 2) AS INT) <= 3)
),
h AS (
  SELECT day,
         CAST(concat('0x', substr(md5(concat('hll:', CAST(event_id AS VARCHAR))), 1, 8))
              AS BIGINT) AS hv
  FROM final
),
rr AS (
  SELECT day, hv // {_HLL_W} AS register,
         CASE WHEN hv % {_HLL_W} = 0 THEN {_HLL_RMAX}
              ELSE {_HLL_RMAX} - length(bin(hv % {_HLL_W})) END AS rho
  FROM h
),
grouped AS (SELECT day, register, MAX(rho) AS rho FROM rr GROUP BY 1, 2),
agg AS (
  SELECT day, COUNT(*) AS n_nonzero,
         CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RMAX} - rho)) AS BIGINT) AS s_present
  FROM grouped GROUP BY 1
),
est AS (
  SELECT day, {_HLL_M} AS m, n_nonzero,
         s_present + ({_HLL_M} - n_nonzero) * {1 << _HLL_RMAX} AS s_scaled
  FROM agg
),
exact AS (SELECT day, COUNT(DISTINCT event_id) AS n_exact FROM final GROUP BY 1),
reb AS (
  SELECT DISTINCT strftime({_TS_US}, '%Y-%m-%d') AS day, TRUE AS rebuilt
  FROM events
  WHERE event_id % 11 = 3 AND event_id % 5 <> 0
    AND CAST(substr(strftime({_TS_US}, '%Y-%m-%d'), 9, 2) AS INT) <= 3
)
SELECT e.day, m, n_nonzero, s_scaled,
       (CAST({_HLL_ALPHA_PPM} AS BIGINT) * {_HLL_M} * {_HLL_M} * {1 << _HLL_RMAX})
         // (s_scaled * 1000000) AS hll_estimate,
       n_exact,
       COALESCE(r.rebuilt, FALSE) AS rebuilt,
       CAST(0 AS BIGINT) AS n_register_mismatch,
       TRUE AS merge_ok
FROM est e JOIN exact USING (day) LEFT JOIN reb r ON e.day = r.day
"""


def q_sketch_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the per-day KMV distinct sketch over
    the warehouse CDC feed (operators/sketch.py::kmv_maintain_grouped)
    — the KMV twin of ``sketch_hll_incremental``, completing the
    mergeable-sketch IVM family: KMV merge is LOSSLESS set algebra, so
    insert/update post-images fold into the stored kept sets at CDC
    cost (per-group top-k window), while days that LOST a contribution
    (the same month-day 01-03 tombstones) rebuild from only the
    affected days. Same staged scenario as the HLL twin; the frame
    audits per-day kept-hash equality against a direct rebuild
    (``n_hash_mismatch`` = 0, oracle-pinned) plus the rebuilt-path flag
    and the estimate columns hash-compared against the oracle's
    from-scratch sketch."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.operators import sketch as SK
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    dom = F.substring(F.date_format(F.col("ts"), "yyyy-MM-dd"), 9, 2).cast("int")
    del_cond = (
        (F.col("event_id") % 11 == 3) & (F.col("event_id") % 5 != 0) & (dom <= 3)
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_kmv_ivm")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE", key_bucket_count=8)
    v0 = (
        e.filter(F.col("event_id") % 5 != 0)
        .withColumn("i", F.lit(0).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    wh.merge(v0, "t", ["event_id"], mode="upsert_delete", order_col="i", spec=spec)
    inserts = (
        e.filter(F.col("event_id") % 5 == 0)
        .withColumn("i", F.lit(1).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    updates = (
        e.filter((F.col("event_id") % 7 == 0) & (F.col("event_id") % 5 != 0))
        .withColumn("value", F.col("value") + F.lit(100.0))
        .withColumn("i", F.lit(1).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    deletes = (
        e.filter(del_cond)
        .withColumn("i", F.lit(2).cast("bigint"))
        .withColumn("__tombstone", F.lit(True))
    )
    wh.merge(
        inserts.unionByName(updates).unionByName(deletes),
        "t", ["event_id"], mode="upsert_delete", order_col="i", spec=spec,
    )
    stored = SK.kmv_build_grouped(
        wh.read("t", version=0).select(day, "event_id"), "event_id", ["day"],
        k=_KMV_K,
    )
    changes = wh.read_changes("t", from_version=0, images="both").select(
        day, "event_id", "_change_type"
    )
    current = wh.read("t").select(day, "event_id").localCheckpoint(
        eager=False
    )  # feeds rebuild, direct-build proof, AND the exact audit
    maintained = SK.kmv_maintain_grouped(
        stored, changes, "event_id", ["day"], current, k=_KMV_K
    ).localCheckpoint(eager=False)  # feeds estimates AND the mismatch proof
    direct = SK.kmv_build_grouped(current, "event_id", ["day"], k=_KMV_K)
    m = maintained.select("day", "hv", F.lit(1).alias("_m"))
    d = direct.select("day", "hv", F.lit(1).alias("_d"))
    mism = (
        m.join(d, ["day", "hv"], "full_outer")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("_m").isNull() | F.col("_d").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_hash_mismatch")
        )
    )
    est = SK.kmv_estimate_grouped(maintained, ["day"], k=_KMV_K)
    exact = current.groupBy("day").agg(
        F.countDistinct("event_id").alias("n_exact")
    )
    reb = (
        changes.filter(F.col("_change_type").isin("delete", "update_preimage"))
        .join(
            changes.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            ).select("day", "event_id"),
            ["day", "event_id"],
            "left_anti",
        )
        .select("day")
        .distinct()
        .withColumn("rebuilt", F.lit(True))
    )
    return (
        est.join(exact, "day")
        .join(mism, "day")
        .join(reb, "day", "left")
        .select(
            "day",
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.col("kth_hash").cast("bigint").alias("kth_hash"),
            "kmv_estimate",
            "n_exact",
            F.coalesce(F.col("rebuilt"), F.lit(False)).alias("rebuilt"),
            "n_hash_mismatch",
            (F.col("n_hash_mismatch") == 0).alias("merge_ok"),
        )
    )


Q_SKETCH_KMV_INCREMENTAL_SQL = f"""
WITH final AS (
  SELECT event_id, strftime({_TS_US}, '%Y-%m-%d') AS day
  FROM events
  WHERE event_id IS NOT NULL
    AND NOT (event_id % 11 = 3 AND event_id % 5 <> 0
             AND CAST(substr(strftime({_TS_US}, '%Y-%m-%d'), 9, 2) AS INT) <= 3)
),
h AS (
  SELECT day,
         CAST(concat('0x', substr(md5(concat('kmv:', CAST(event_id AS VARCHAR))), 1, 8))
              AS BIGINT) AS hv
  FROM final
),
kept AS (
  SELECT day, hv FROM (
    SELECT day, hv,
           row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
    FROM (SELECT DISTINCT day, hv FROM h)
  ) WHERE rn <= {_KMV_K}
),
agg AS (SELECT day, COUNT(*) AS n_kept, MAX(hv) AS kth_hash FROM kept GROUP BY 1),
est AS (
  SELECT day, CAST(n_kept AS BIGINT) AS n_kept, CAST(kth_hash AS BIGINT) AS kth_hash,
         CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS BIGINT)
              ELSE CAST({_KMV_K - 1} AS BIGINT) * 4294967296 // kth_hash END
           AS kmv_estimate
  FROM agg
),
exact AS (SELECT day, COUNT(DISTINCT event_id) AS n_exact FROM final GROUP BY 1),
reb AS (
  SELECT DISTINCT strftime({_TS_US}, '%Y-%m-%d') AS day, TRUE AS rebuilt
  FROM events
  WHERE event_id % 11 = 3 AND event_id % 5 <> 0
    AND CAST(substr(strftime({_TS_US}, '%Y-%m-%d'), 9, 2) AS INT) <= 3
)
SELECT e.day, n_kept, kth_hash, kmv_estimate, n_exact,
       COALESCE(r.rebuilt, FALSE) AS rebuilt,
       CAST(0 AS BIGINT) AS n_hash_mismatch,
       TRUE AS merge_ok
FROM est e JOIN exact USING (day) LEFT JOIN reb r ON e.day = r.day
"""


def q_sketch_cm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the per-day count-min frequency
    sketch over the warehouse CDC feed
    (operators/sketch.py::count_min_maintain_grouped) — the third and
    strongest member of the sketch-IVM family: count-min is a LINEAR
    sketch, so deletions SUBTRACT. Unlike ``sketch_hll_incremental``
    (max cannot unsee) and ``sketch_kmv_incremental`` (the discarded
    (k+1)-th hash), maintenance takes NO ``current`` input and has NO
    rebuild path — the staged scenario's tombstoned days flow through
    the same cell arithmetic as the inserts, and the frame proves the
    maintained cells bit-equal to a from-scratch build of the final
    state (``n_cell_mismatch`` = 0, oracle-pinned) even on
    delete-affected days (``had_deletes`` re-derived by the oracle from
    the scenario predicate). Updates that keep the sketched tuple
    cancel exactly (pre-image -1, post-image +1, same cells).
    Estimates are audited per (day, event_type) against exact counts —
    never-underestimate is inherited from the equality proof."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.operators import sketch as SK
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    dom = F.substring(F.date_format(F.col("ts"), "yyyy-MM-dd"), 9, 2).cast("int")
    del_cond = (
        (F.col("event_id") % 11 == 3) & (F.col("event_id") % 5 != 0) & (dom <= 3)
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_cm_ivm")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE", key_bucket_count=8)
    v0 = (
        e.filter(F.col("event_id") % 5 != 0)
        .withColumn("i", F.lit(0).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    wh.merge(v0, "t", ["event_id"], mode="upsert_delete", order_col="i", spec=spec)
    inserts = (
        e.filter(F.col("event_id") % 5 == 0)
        .withColumn("i", F.lit(1).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    updates = (
        e.filter((F.col("event_id") % 7 == 0) & (F.col("event_id") % 5 != 0))
        .withColumn("value", F.col("value") + F.lit(100.0))
        .withColumn("i", F.lit(1).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    deletes = (
        e.filter(del_cond)
        .withColumn("i", F.lit(2).cast("bigint"))
        .withColumn("__tombstone", F.lit(True))
    )
    wh.merge(
        inserts.unionByName(updates).unionByName(deletes),
        "t", ["event_id"], mode="upsert_delete", order_col="i", spec=spec,
    )
    kw = dict(depth=_CMS_DEPTH, width=_CMS_WIDTH)
    stored = SK.count_min_build_grouped(
        wh.read("t", version=0).select(day, "event_type"), "event_type", ["day"],
        **kw,
    )
    changes = wh.read_changes("t", from_version=0, images="both").select(
        day, "event_type", "_change_type"
    )
    # NO current argument: the linear path is the whole point
    maintained = SK.count_min_maintain_grouped(
        stored, changes, "event_type", ["day"], **kw
    ).localCheckpoint(eager=False)  # feeds estimates AND the mismatch proof
    current = wh.read("t").select(day, "event_type").localCheckpoint(
        eager=False
    )  # feeds the direct-build proof and the exact audit only
    direct = SK.count_min_build_grouped(current, "event_type", ["day"], **kw)
    m = maintained.select("day", "d", "slot", F.col("cnt").alias("m_cnt"))
    dd = direct.select("day", "d", "slot", F.col("cnt").alias("d_cnt"))
    mism = (
        m.join(dd, ["day", "d", "slot"], "full_outer")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(
                    F.col("m_cnt").isNull()
                    | F.col("d_cnt").isNull()
                    | (F.col("m_cnt") != F.col("d_cnt")),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_cell_mismatch")
        )
    )
    est = SK.count_min_estimate_grouped(
        maintained, current, "event_type", ["day"], **kw
    )
    exact = current.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    deld = (
        _t(spark, sf_dir, "events")
        .filter(del_cond)
        .select(day)
        .distinct()
        .withColumn("had_deletes", F.lit(True))
    )
    return (
        est.join(exact, ["day", "event_type"])
        .join(mism, "day")
        .join(deld, "day", "left")
        .select(
            "day", "event_type", "cm_estimate",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            (F.col("cm_estimate") >= F.col("n_exact")).alias(
                "never_underestimates"
            ),
            F.coalesce(F.col("had_deletes"), F.lit(False)).alias("had_deletes"),
            "n_cell_mismatch",
            (F.col("n_cell_mismatch") == 0).alias("linear_ok"),
        )
    )


Q_SKETCH_CM_INCREMENTAL_SQL = f"""
WITH final AS (
  SELECT event_type, strftime({_TS_US}, '%Y-%m-%d') AS day
  FROM events
  WHERE event_type IS NOT NULL
    AND NOT (event_id % 11 = 3 AND event_id % 5 <> 0
             AND CAST(substr(strftime({_TS_US}, '%Y-%m-%d'), 9, 2) AS INT) <= 3)
),
ds AS (SELECT unnest(range({_CMS_DEPTH})) AS d),
hashed AS (
  SELECT day, event_type, d,
         CAST(concat('0x', substr(md5(concat(CAST(d AS VARCHAR), ':',
              event_type)), 1, 8)) AS BIGINT) % {_CMS_WIDTH} AS slot
  FROM final, ds
),
sketch AS (SELECT day, d, slot, COUNT(*) AS cnt FROM hashed GROUP BY 1, 2, 3),
probes AS (SELECT DISTINCT day, event_type, d, slot FROM hashed),
est AS (
  SELECT day, event_type, MIN(COALESCE(cnt, 0)) AS cm_estimate
  FROM probes LEFT JOIN sketch USING (day, d, slot) GROUP BY 1, 2
),
exact AS (
  SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM final GROUP BY 1, 2
),
deld AS (
  SELECT DISTINCT strftime({_TS_US}, '%Y-%m-%d') AS day, TRUE AS had_deletes
  FROM events
  WHERE event_id % 11 = 3 AND event_id % 5 <> 0
    AND CAST(substr(strftime({_TS_US}, '%Y-%m-%d'), 9, 2) AS INT) <= 3
)
SELECT e.day, e.event_type, cm_estimate, n_exact,
       cm_estimate >= n_exact AS never_underestimates,
       COALESCE(dl.had_deletes, FALSE) AS had_deletes,
       CAST(0 AS BIGINT) AS n_cell_mismatch,
       TRUE AS linear_ok
FROM est e JOIN exact USING (day, event_type)
LEFT JOIN deld dl ON e.day = dl.day
"""


_HIST_LO, _HIST_HI, _HIST_NBINS = 0.0, 512.0, 64


def q_sketch_hist_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the per-day fixed-grid histogram over
    the warehouse CDC feed (operators/sketch.py::hist_maintain_grouped)
    — mergeable QUANTILES that survive deletes, which approx_percentile's
    GK/KLL summaries cannot do (they cannot unsee). Same staged scenario
    as the count-min twin, with one twist that matters here: the +100
    value updates MOVE rows across buckets, so the linear path must
    decrement the old bucket and increment the new one in the same pass
    (pre-image -1, post-image +1 — different cells this time). No
    ``current`` input, no rebuild path; maintained buckets bit-equal a
    from-scratch build (``n_cell_mismatch`` = 0, oracle-pinned). The
    p50/p90 buckets are read off the maintained histogram in
    cross-multiplied integer arithmetic; values above the grid clamp
    into the top bucket (the clamp path is data-exercised: max value
    560 > hi 512)."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.operators import sketch as SK
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    e = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    dom = F.substring(F.date_format(F.col("ts"), "yyyy-MM-dd"), 9, 2).cast("int")
    del_cond = (
        (F.col("event_id") % 11 == 3) & (F.col("event_id") % 5 != 0) & (dom <= 3)
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_hist_ivm")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    spec = TableSpec(partition_grain="NONE", key_bucket_count=8)
    v0 = (
        e.filter(F.col("event_id") % 5 != 0)
        .withColumn("i", F.lit(0).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    wh.merge(v0, "t", ["event_id"], mode="upsert_delete", order_col="i", spec=spec)
    inserts = (
        e.filter(F.col("event_id") % 5 == 0)
        .withColumn("i", F.lit(1).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    updates = (
        e.filter((F.col("event_id") % 7 == 0) & (F.col("event_id") % 5 != 0))
        .withColumn("value", F.col("value") + F.lit(100.0))
        .withColumn("i", F.lit(1).cast("bigint"))
        .withColumn("__tombstone", F.lit(False))
    )
    deletes = (
        e.filter(del_cond)
        .withColumn("i", F.lit(2).cast("bigint"))
        .withColumn("__tombstone", F.lit(True))
    )
    wh.merge(
        inserts.unionByName(updates).unionByName(deletes),
        "t", ["event_id"], mode="upsert_delete", order_col="i", spec=spec,
    )
    kw = dict(lo=_HIST_LO, hi=_HIST_HI, nbins=_HIST_NBINS)
    stored = SK.hist_build_grouped(
        wh.read("t", version=0).select(day, "value"), "value", ["day"], **kw
    )
    changes = wh.read_changes("t", from_version=0, images="both").select(
        day, "value", "_change_type"
    )
    maintained = SK.hist_maintain_grouped(
        stored, changes, "value", ["day"], **kw
    ).localCheckpoint(eager=False)  # feeds quantiles AND the mismatch proof
    current = wh.read("t").select(day, "value").localCheckpoint(eager=False)
    direct = SK.hist_build_grouped(current, "value", ["day"], **kw)
    m = maintained.select("day", "bucket", F.col("cnt").alias("m_cnt"))
    dd = direct.select("day", "bucket", F.col("cnt").alias("d_cnt"))
    mism = (
        m.join(dd, ["day", "bucket"], "full_outer")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(
                    F.col("m_cnt").isNull()
                    | F.col("d_cnt").isNull()
                    | (F.col("m_cnt") != F.col("d_cnt")),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_cell_mismatch")
        )
    )
    q = SK.hist_quantile_grouped(maintained, ["day"], [500, 900], **kw)
    deld = (
        _t(spark, sf_dir, "events")
        .filter(del_cond)
        .select(day)
        .distinct()
        .withColumn("had_deletes", F.lit(True))
    )
    return (
        q.join(mism, "day")
        .join(deld, "day", "left")
        .select(
            "day",
            F.col("n").cast("bigint").alias("n"),
            F.col("p500_bucket").cast("bigint").alias("p500_bucket"),
            "p500_lo",
            F.col("p900_bucket").cast("bigint").alias("p900_bucket"),
            "p900_lo",
            F.coalesce(F.col("had_deletes"), F.lit(False)).alias("had_deletes"),
            "n_cell_mismatch",
            (F.col("n_cell_mismatch") == 0).alias("linear_ok"),
        )
    )


Q_SKETCH_HIST_INCREMENTAL_SQL = f"""
WITH final AS (
  SELECT strftime({_TS_US}, '%Y-%m-%d') AS day,
         CASE WHEN event_id % 7 = 0 AND event_id % 5 <> 0
              THEN value + 100.0 ELSE value END AS value
  FROM events
  WHERE value IS NOT NULL
    AND NOT (event_id % 11 = 3 AND event_id % 5 <> 0
             AND CAST(substr(strftime({_TS_US}, '%Y-%m-%d'), 9, 2) AS INT) <= 3)
),
hist AS (
  SELECT day,
         GREATEST(0, LEAST({_HIST_NBINS - 1},
           CAST(floor((value - {_HIST_LO}) * {float(_HIST_NBINS)}
                / {_HIST_HI - _HIST_LO}) AS BIGINT))) AS bucket,
         COUNT(*) AS cnt
  FROM final GROUP BY 1, 2
),
cum AS (
  SELECT day, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY day ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY day) AS n
  FROM hist
),
p50 AS (
  SELECT day, MIN(bucket) AS p500_bucket FROM cum
  WHERE cum * 1000 >= 500 * n GROUP BY 1
),
p90 AS (
  SELECT day, MIN(bucket) AS p900_bucket FROM cum
  WHERE cum * 1000 >= 900 * n GROUP BY 1
),
tot AS (SELECT day, CAST(MAX(n) AS BIGINT) AS n FROM cum GROUP BY 1),
deld AS (
  SELECT DISTINCT strftime({_TS_US}, '%Y-%m-%d') AS day, TRUE AS had_deletes
  FROM events
  WHERE event_id % 11 = 3 AND event_id % 5 <> 0
    AND CAST(substr(strftime({_TS_US}, '%Y-%m-%d'), 9, 2) AS INT) <= 3
)
SELECT t.day, n,
       CAST(p500_bucket AS BIGINT) AS p500_bucket,
       {_HIST_LO} + CAST(p500_bucket AS DOUBLE)
         * {(_HIST_HI - _HIST_LO) / _HIST_NBINS} AS p500_lo,
       CAST(p900_bucket AS BIGINT) AS p900_bucket,
       {_HIST_LO} + CAST(p900_bucket AS DOUBLE)
         * {(_HIST_HI - _HIST_LO) / _HIST_NBINS} AS p900_lo,
       COALESCE(dl.had_deletes, FALSE) AS had_deletes,
       CAST(0 AS BIGINT) AS n_cell_mismatch,
       TRUE AS linear_ok
FROM tot t
JOIN p50 USING (day) JOIN p90 USING (day)
LEFT JOIN deld dl ON t.day = dl.day
"""


def q_sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war F2 sketch (operators/sketch.py::ams_build): the
    second-moment estimator — F2 = sum of squared key frequencies = the
    SELF-JOIN SIZE, the number a planner needs to size a shuffle before
    running it (Alon, Matias & Szegedy 1996). depth x width signed
    cells; estimate = median over depth of the per-row sum of squared
    cells, exact int64 end-to-end (odd depth makes the median a single
    element). Audited three ways in one integer row: two half-corpus
    sketches (even/odd event_id) merged cell-wise must be bit-identical
    to the direct build (linearity, ``n_cell_mismatch`` = 0), the
    estimate lands within the theoretical 5-sigma band of the exact
    self-join size on user_id (rel-std = sqrt(2/width), checked in
    IEEE doubles over the same exact integers), and the estimate itself
    is value-hashed against the oracle's from-scratch sketch."""
    from kafka_connect_bigquery_spark.operators import sketch as SK

    # NOTE (r13 negative result): widening this scan with _wide made it
    # 1.3x SLOWER — the parity filters push below the round-robin
    # exchange, so each of the three builds pays its own exchange + AQE
    # round instead of sharing one, and the single-task md5 stages were
    # already overlapping wall-clock as independent subtrees of one
    # job. Matches the r12 finding that the 6-scan shape beats shared
    # materialization here.
    e = _t(spark, sf_dir, "events")
    kw = dict(depth=_AMS_DEPTH, width=_AMS_WIDTH)
    # Deliberately SIX pushed-down 2-column scans, not a shared
    # checkpointed cell table: an r12 rewrite that built both halves
    # from one parity-keyed scan + lazy checkpoints measured SLOWER at
    # BOTH sf0.1 (2.26 vs 1.70 s) and sf10 (15.4 vs 9.1 s, interleaved
    # A/B) — the md5 tug-of-war pipeline is compute-bound inside
    # whole-stage codegen, and the checkpoint's RDD boundary costs more
    # than the repeated cheap scans save (BASELINE.md Round 12).
    a = SK.ams_build(e.filter(F.col("event_id") % 2 == 0), "user_id", **kw)
    b = SK.ams_build(e.filter(F.col("event_id") % 2 == 1), "user_id", **kw)
    merged = SK.ams_merge(a, b)
    direct = SK.ams_build(e, "user_id", **kw)
    mism = (
        merged.withColumnRenamed("s", "s_m")
        .join(direct.withColumnRenamed("s", "s_d"), ["d", "slot"], "full_outer")
        .agg(
            F.sum(
                F.when(
                    F.col("s_m").isNull()
                    | F.col("s_d").isNull()
                    | (F.col("s_m") != F.col("s_d")),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_cell_mismatch")
        )
    )
    est = SK.ams_f2_estimate(merged, depth=_AMS_DEPTH)
    exact = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).cast("bigint").alias("f2_exact"))
    )
    err2 = (
        (F.col("f2_estimate") - F.col("f2_exact")).cast("double")
        * (F.col("f2_estimate") - F.col("f2_exact")).cast("double")
        * F.lit(float(_AMS_WIDTH))
    )
    bound = (
        F.lit(50.0)
        * F.col("f2_exact").cast("double")
        * F.col("f2_exact").cast("double")
    )
    return (
        est.crossJoin(exact)
        .crossJoin(mism)
        .select(
            F.col("f2_estimate").cast("bigint").alias("f2_estimate"),
            "f2_exact",
            (err2 <= bound).alias("within_5sigma"),
            "n_cell_mismatch",
            (F.col("n_cell_mismatch") == 0).alias("merge_ok"),
        )
    )


Q_SKETCH_AMS_F2_SQL = f"""
WITH ds AS (SELECT unnest(range({_AMS_DEPTH})) AS d),
r AS (
  SELECT d,
         CAST(concat('0x', substr(md5(concat(CAST(d AS VARCHAR), ':',
              CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % {_AMS_WIDTH} AS slot,
         1 - 2 * (CAST(concat('0x', substr(md5(concat('s', CAST(d AS VARCHAR), ':',
              CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 2) AS sign
  FROM events, ds
  WHERE user_id IS NOT NULL
),
cells AS (
  SELECT d, slot, SUM(sign) AS s FROM r GROUP BY 1, 2 HAVING SUM(sign) <> 0
),
perd0 AS (SELECT d, CAST(SUM(s * s) AS BIGINT) AS f2 FROM cells GROUP BY 1),
perd AS (
  SELECT ds.d, COALESCE(p.f2, 0) AS f2 FROM ds LEFT JOIN perd0 p USING (d)
),
med AS (
  SELECT f2 AS f2_estimate FROM perd ORDER BY f2
  LIMIT 1 OFFSET {(_AMS_DEPTH - 1) // 2}
),
exact AS (
  SELECT CAST(SUM(n * n) AS BIGINT) AS f2_exact
  FROM (SELECT COUNT(*) AS n FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
)
SELECT CAST(f2_estimate AS BIGINT) AS f2_estimate, f2_exact,
       (CAST(f2_estimate - f2_exact AS DOUBLE)
          * CAST(f2_estimate - f2_exact AS DOUBLE) * {float(_AMS_WIDTH)}
        <= 50.0 * CAST(f2_exact AS DOUBLE) * CAST(f2_exact AS DOUBLE))
         AS within_5sigma,
       CAST(0 AS BIGINT) AS n_cell_mismatch,
       TRUE AS merge_ok
FROM med, exact
"""


def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k minimum values) distinct sketch (operators/sketch.py):
    two half-corpus sketches (even/odd event_id) merged and checked
    EXACTLY equal to the direct global sketch — KMV's merge is lossless
    set algebra, an integer fact the oracle re-derives — plus the
    (k-1)*2^32/U_(k) estimate audited against the exact count. At
    100 TB each partition keeps k=64 hashes; the merge is a k-bounded
    TakeOrderedAndProject, never a global sort."""
    from kafka_connect_bigquery_spark.operators import sketch as SK

    # NOTE (r13): _wide widening measured 1.8x SLOWER here (same
    # mechanism as sketch_ams_f2 — parity filters push below the
    # exchange, one exchange per build; see note there)
    e = _t(spark, sf_dir, "events")
    a = SK.kmv_build(e.filter(F.col("event_id") % 2 == 0), "event_id", k=_KMV_K)
    b = SK.kmv_build(e.filter(F.col("event_id") % 2 == 1), "event_id", k=_KMV_K)
    merged = SK.kmv_merge(a, b, k=_KMV_K)
    direct = SK.kmv_build(e, "event_id", k=_KMV_K)
    mism = (
        merged.withColumn("_m", F.lit(1))
        .join(direct.withColumn("_d", F.lit(1)), "hv", "full")
        .agg(
            F.sum(
                F.when(F.col("_m").isNull() | F.col("_d").isNull(), 1).otherwise(0)
            ).alias("n_hash_mismatch")
        )
    )
    est = SK.kmv_estimate(merged, k=_KMV_K)
    exact = e.filter(F.col("event_id").isNotNull()).agg(
        F.countDistinct("event_id").alias("n_exact")
    )
    return (
        est.crossJoin(exact)
        .crossJoin(mism)
        .select(
            "n_kept",
            "kth_hash",
            "kmv_estimate",
            "n_exact",
            "n_hash_mismatch",
            (F.col("n_hash_mismatch") == 0).alias("merge_ok"),
            (
                F.abs(F.col("kmv_estimate") - F.col("n_exact")) * 100
                <= F.col("n_exact") * 40
            ).alias("within_40pct"),
        )
    )


Q_SKETCH_KMV_SQL = f"""
WITH h AS (
  SELECT event_id,
         CAST(concat('0x', substr(md5(concat('kmv:', CAST(event_id AS VARCHAR))), 1, 8))
              AS BIGINT) AS hv
  FROM events WHERE event_id IS NOT NULL
),
ka AS (SELECT hv FROM (SELECT DISTINCT hv FROM h WHERE event_id % 2 = 0)
       ORDER BY hv LIMIT {_KMV_K}),
kb AS (SELECT hv FROM (SELECT DISTINCT hv FROM h WHERE event_id % 2 = 1)
       ORDER BY hv LIMIT {_KMV_K}),
merged AS (SELECT hv FROM (SELECT DISTINCT hv FROM (SELECT * FROM ka UNION ALL SELECT * FROM kb))
           ORDER BY hv LIMIT {_KMV_K}),
direct AS (SELECT hv FROM (SELECT DISTINCT hv FROM h) ORDER BY hv LIMIT {_KMV_K}),
mism AS (
  SELECT CAST(SUM(CASE WHEN m._m IS NULL OR d._d IS NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_hash_mismatch
  FROM (SELECT hv, 1 AS _m FROM merged) m
  FULL JOIN (SELECT hv, 1 AS _d FROM direct) d USING (hv)
),
agg AS (SELECT COUNT(*) AS n_kept, MAX(hv) AS kth_hash FROM merged),
est AS (
  SELECT n_kept, kth_hash,
         CASE WHEN n_kept < {_KMV_K} THEN n_kept
              ELSE CAST({_KMV_K - 1} AS BIGINT) * 4294967296 // kth_hash END
           AS kmv_estimate
  FROM agg
),
exact AS (SELECT COUNT(DISTINCT event_id) AS n_exact FROM events
          WHERE event_id IS NOT NULL)
SELECT n_kept, kth_hash, kmv_estimate, n_exact, n_hash_mismatch,
       n_hash_mismatch = 0 AS merge_ok,
       abs(kmv_estimate - n_exact) * 100 <= n_exact * 40 AS within_40pct
FROM est, exact, mism
"""


def q_sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra (operators/sketch.py): estimate the OVERLAP of
    two event sets by inclusion-exclusion — est(A∩B) = est(A) + est(B)
    - est(A∪B), where the union's sketch is the lossless k-min merge of
    the two kept sets (exactly the union-built sketch, checked with
    ``merge_ok``; the property holds for OVERLAPPING inputs, which this
    query exercises — the distinct-sketch entry merges disjoint
    halves). This is the theta-sketch workflow for audience-overlap
    questions at 100 TB: keep k hashes per segment, answer any pairwise
    overlap from 2k integers. Estimates are audited against exact
    distinct counts; everything is bigint arithmetic."""
    from kafka_connect_bigquery_spark.operators import sketch as SK

    # NOTE (r13): _wide widening measured 1.75x SLOWER here (same
    # mechanism as sketch_ams_f2/kmv_distinct; see notes there)
    e = _t(spark, sf_dir, "events")
    in_a = F.col("user_id") % 2 == 0
    in_b = F.col("user_id") % 3 == 0
    a = SK.kmv_build(e.filter(in_a), "event_id", k=_KMV_K)
    b = SK.kmv_build(e.filter(in_b), "event_id", k=_KMV_K)
    merged = SK.kmv_merge(a, b, k=_KMV_K)
    direct_u = SK.kmv_build(e.filter(in_a | in_b), "event_id", k=_KMV_K)
    mism = (
        merged.withColumn("_m", F.lit(1))
        .join(direct_u.withColumn("_d", F.lit(1)), "hv", "full")
        .agg(
            F.sum(
                F.when(F.col("_m").isNull() | F.col("_d").isNull(), 1).otherwise(0)
            ).alias("n_hash_mismatch")
        )
    )
    ea = SK.kmv_estimate(a, k=_KMV_K).select(
        F.col("kmv_estimate").alias("est_a")
    )
    eb = SK.kmv_estimate(b, k=_KMV_K).select(
        F.col("kmv_estimate").alias("est_b")
    )
    eu = SK.kmv_estimate(merged, k=_KMV_K).select(
        F.col("kmv_estimate").alias("est_union")
    )
    exact = e.agg(
        F.countDistinct(F.when(in_a, F.col("event_id"))).alias("x_a"),
        F.countDistinct(F.when(in_b, F.col("event_id"))).alias("x_b"),
        F.countDistinct(F.when(in_a & in_b, F.col("event_id"))).alias("x_inter"),
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(exact)
        .crossJoin(mism)
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersection"
            ),
            "x_a",
            "x_b",
            "x_inter",
            "n_hash_mismatch",
            (F.col("n_hash_mismatch") == 0).alias("merge_ok"),
        )
    )


Q_SKETCH_KMV_OVERLAP_SQL = f"""
WITH h AS (
  SELECT event_id, user_id,
         CAST(concat('0x', substr(md5(concat('kmv:', CAST(event_id AS VARCHAR))), 1, 8))
              AS BIGINT) AS hv
  FROM events WHERE event_id IS NOT NULL
),
ka AS (SELECT hv FROM (SELECT DISTINCT hv FROM h WHERE user_id % 2 = 0)
       ORDER BY hv LIMIT {_KMV_K}),
kb AS (SELECT hv FROM (SELECT DISTINCT hv FROM h WHERE user_id % 3 = 0)
       ORDER BY hv LIMIT {_KMV_K}),
merged AS (SELECT hv FROM (SELECT DISTINCT hv FROM
             (SELECT * FROM ka UNION ALL SELECT * FROM kb))
           ORDER BY hv LIMIT {_KMV_K}),
direct_u AS (SELECT hv FROM (SELECT DISTINCT hv FROM h
               WHERE user_id % 2 = 0 OR user_id % 3 = 0)
             ORDER BY hv LIMIT {_KMV_K}),
mism AS (
  SELECT CAST(SUM(CASE WHEN m._m IS NULL OR d._d IS NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_hash_mismatch
  FROM (SELECT hv, 1 AS _m FROM merged) m
  FULL JOIN (SELECT hv, 1 AS _d FROM direct_u) d USING (hv)
),
est AS (
  SELECT
    (SELECT CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)
                 ELSE CAST({_KMV_K - 1} AS BIGINT) * 4294967296 // MAX(hv) END
     FROM ka) AS est_a,
    (SELECT CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)
                 ELSE CAST({_KMV_K - 1} AS BIGINT) * 4294967296 // MAX(hv) END
     FROM kb) AS est_b,
    (SELECT CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)
                 ELSE CAST({_KMV_K - 1} AS BIGINT) * 4294967296 // MAX(hv) END
     FROM merged) AS est_union
),
exact AS (
  SELECT COUNT(DISTINCT CASE WHEN user_id % 2 = 0 THEN event_id END) AS x_a,
         COUNT(DISTINCT CASE WHEN user_id % 3 = 0 THEN event_id END) AS x_b,
         COUNT(DISTINCT CASE WHEN user_id % 2 = 0 AND user_id % 3 = 0
                             THEN event_id END) AS x_inter
  FROM events WHERE event_id IS NOT NULL
)
SELECT est_a, est_b, est_union, est_a + est_b - est_union AS est_intersection,
       x_a, x_b, x_inter, n_hash_mismatch,
       n_hash_mismatch = 0 AS merge_ok
FROM est, exact, mism
"""


def q_cobucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join through catalog-native bucketing
    (sinks/bucketed_catalog.py): customer and orders land bucketed by
    their join key, so the fact⨝fact join plans with ZERO Exchange on
    either side (plan property pinned in tests/test_bucketed_catalog.py)
    — the one-time write shuffle is amortized over every later join, the
    repeated-join regime a 100 TB warehouse lives in. The oracle is the
    plain join: bucketing must change the plan, never the answer."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.sinks import bucketed_catalog as BC

    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_cobkt")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    suffix = _uuid.uuid4().hex[:10]
    root = os.path.join(base, suffix)
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    tc, to = f"cbkt_c_{suffix}", f"cbkt_o_{suffix}"
    BC.save_bucketed(c, tc, ["c_custkey"], 8, path=os.path.join(root, "c"))
    BC.save_bucketed(o, to, ["o_custkey"], 8, path=os.path.join(root, "o"))
    j = spark.table(tc).join(
        spark.table(to), F.col("c_custkey") == F.col("o_custkey")
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _qval(_qsum(F.col("o_totalprice"))).alias("total_price"),
    )


Q_COBUCKETED_JOIN_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_orders,
       {_qsum_sql("o_totalprice")} AS total_price
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY 1
"""


_PR_ITERS = 3


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (operators/graph.py) over the directed
    supplier→customer trade graph (an edge per distinct supplier that
    served a customer's order; suppliers carry negated keys so the two
    id spaces never collide). Three message-passing rounds, every
    operation on the 1/q integer lattice — the oracle replays the same
    rounds as chained CTEs and must hash-match bit-for-bit, something
    float PageRank can never promise across engines."""
    from kafka_connect_bigquery_spark.operators import graph as G

    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = l.join(o, l.l_orderkey == o.o_orderkey).select(
        (-F.col("l_suppkey")).alias("src"), F.col("o_custkey").alias("dst")
    )
    return G.pagerank(edges, iterations=_PR_ITERS)


def _pagerank_oracle_sql(iters: int = _PR_ITERS) -> str:
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""r{i} AS (
  SELECT n.node,
         (15 * 1000000) // (100 * c.n)
           + (85 * COALESCE(s.s, 0)) // 100 AS rank_q
  FROM nodes n CROSS JOIN cnt c
  LEFT JOIN (SELECT e.dst AS node, CAST(SUM(r.rank_q // o.deg) AS BIGINT) AS s
             FROM edges e JOIN r{i - 1} r ON e.src = r.node
             JOIN outdeg o ON e.src = o.src GROUP BY 1) s ON n.node = s.node
)""")
    return f"""
WITH edges AS (
  SELECT DISTINCT -l_suppkey AS src, o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
cnt AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
r0 AS (SELECT node, 1000000 // n AS rank_q FROM nodes CROSS JOIN cnt),
{",".join(steps)}
SELECT node, CAST(rank_q AS BIGINT) AS rank_q FROM r{iters}
"""


Q_GRAPH_PAGERANK_SQL = _pagerank_oracle_sql()


_TRI_TOP = 8  # k-NN sparsification: keep each node's 8 strongest edges


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts (operators/graph.py:triangle_counts)
    over the k-NN co-supply graph: each supplier keeps its 8 strongest
    partners by shared-order count (ties broken by partner id), an edge
    surviving when EITHER endpoint ranks it. Pair generation is a
    lineitem self-join on l_orderkey — fan-out bounded by
    lines-per-order (≤7 in TPC-H), never quadratic in |lineitem|. The
    top-k sparsification is the point at scale: the raw co-supply graph
    densifies toward a clique as orders accumulate (≈half of all
    supplier pairs co-occur at sf0.1 already) and triangle counting on
    a clique is Θ(n³) for any algorithm; a bounded-degree similarity
    graph keeps wedge work O(n·k²) forever. Orientation by degree then
    makes hubs close wedges instead of centering them."""
    from kafka_connect_bigquery_spark.operators import graph as G

    # pair generation as a co-partitioned self-join on the order key
    # (fan-out bounded by lines-per-order, ≤7 in TPC-H — never
    # quadratic in |lineitem|). An earlier round expanded pairs locally
    # with a nested array HOF over per-order collect_set to save two
    # exchanges, but higher-order functions evaluate INTERPRETED, not
    # whole-stage-codegen: profiled 16.3 s CPU for ~1.2M pairs at sf0.1
    # (~13 µs/pair) vs ~1 s through the codegen hash join — guide §1.2:
    # per-task work beats shuffle count when the shuffled bytes are a
    # few MB of keys. Both join inputs derive from the SAME distinct
    # subtree, so the second side rides a ReusedExchange.
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    ds = l.distinct()
    p2 = ds.select("l_orderkey", F.col("l_suppkey").alias("s2"))
    # NOTE (r14 negative result — do not retry without an sf1+
    # measurement): both `sym` union branches re-run the final pair
    # aggregation (ReuseExchange dedups only the EXCHANGE; profiled
    # 2x reads of the pairs shuffle, ~1 M extra rows). An eager
    # checkpoint here removes that re-read (profiled shuffle rows
    # 3.35 M -> 2.37 M) but measured consistently SLOWER on wall
    # (11 interleaved rounds: minima 2.24 vs 2.34, medians 2.6 vs
    # 2.8): the duplicated final agg runs fully parallel and overlaps
    # the window exchange, while the checkpoint inserts a synchronous
    # job barrier the query then waits on. Revisit only at a scale
    # where the duplicated agg pass dominates the barrier.
    pairs = (
        ds.join(p2, "l_orderkey")
        .filter(F.col("l_suppkey") < F.col("s2"))
        .groupBy("l_suppkey", "s2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    sym = pairs.select(
        F.col("l_suppkey").alias("node"), F.col("s2").alias("nbr"), "n_orders"
    ).unionByName(
        pairs.select(
            F.col("s2").alias("node"), F.col("l_suppkey").alias("nbr"), "n_orders"
        )
    )
    w = Window.partitionBy("node").orderBy(F.desc("n_orders"), F.asc("nbr"))
    knn = sym.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _TRI_TOP
    )
    return G.triangle_counts(knn, "node", "nbr")


Q_GRAPH_TRIANGLES_SQL = f"""
WITH ds AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
pairs AS (
  SELECT l1.l_suppkey AS a, l2.l_suppkey AS b, COUNT(*) AS n_orders
  FROM ds l1 JOIN ds l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_suppkey < l2.l_suppkey
  GROUP BY 1, 2
),
sym AS (
  SELECT a AS node, b AS nbr, n_orders FROM pairs
  UNION ALL
  SELECT b AS node, a AS nbr, n_orders FROM pairs
),
e AS (
  SELECT DISTINCT LEAST(node, nbr) AS u, GREATEST(node, nbr) AS v FROM (
    SELECT node, nbr,
           row_number() OVER (PARTITION BY node
                              ORDER BY n_orders DESC, nbr) AS rk
    FROM sym
  ) WHERE rk <= {_TRI_TOP}
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY 1
),
oe AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
tris AS (
  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
  FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
  JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
  SELECT x AS node FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris
) GROUP BY 1
"""


def q_user_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface beyond top-1 (W1): rank, dense_rank,
    lag delta, and running sum per user ordered by value — one window
    partitioning shared by all four functions (single shuffle+sort)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    running_q = F.sum(
        F.floor(F.col("value") * _Q + F.lit(0.5)).cast("decimal(38,0)")
    ).over(wsum)
    out = (
        e.select(
            "user_id",
            "event_id",
            "value",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.coalesce(F.lag("value").over(w), F.lit(0.0)).alias("prev_value"),
            _qval(running_q).alias("running_value"),
        )
        .filter(F.col("rnk") <= 3)
    )
    return out


Q_USER_VALUE_RANKS_SQL = f"""
SELECT user_id, event_id, value, rnk, drnk, prev_value, running_value FROM (
  SELECT user_id, event_id, value,
         rank() OVER w AS rnk,
         dense_rank() OVER w AS drnk,
         coalesce(lag(value) OVER w, 0.0) AS prev_value,
         CAST(SUM(CAST(FLOOR(value * {_Q} + 0.5) AS DECIMAL(38,0)))
              OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / {_Q}.0 AS running_value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC)
) WHERE rnk <= 3
"""


def q_events_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py:salted_aggregate)
    over the events fact keyed by event_type — 5 keys over the whole
    corpus, the textbook hot-key shape where single-phase groupBy
    funnels each key into one task. Phase 1 aggregates on (key, salt),
    phase 2 recombines the decomposable partials; the oracle (plain
    GROUP BY) proves the recombination exact, making the skew machinery
    itself a driver-gated correctness surface, not just a pytest one."""
    from kafka_connect_bigquery_spark.operators import skew

    e = _t(spark, sf_dir, "events").withColumn(
        "vq", F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    )
    out = skew.salted_aggregate(
        e,
        ["event_type"],
        {
            "n_events": ("event_id", "count"),
            "sum_q": ("vq", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
        salt_buckets=8,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_q").cast("bigint").alias("sum_q"),
        (F.col("sum_q").cast("double") / 10000.0).alias("sum_value"),
        "min_value",
        "max_value",
    )


Q_EVENTS_SALTED_AGG_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_q,
       CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0
         AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1
"""


def q_staged_load_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GCS-staged batch-load path (S5 stage + S6 loader tick),
    witnessed end-to-end: events become Kafka-shaped records, flow
    through the pipeline's convert → NDJSON staging dir → loader tick →
    warehouse append, and the loaded table must equal the source rows
    (the oracle reads them straight from parquet). Timestamps stay out
    of the payload: the JSON wire format is the reference's
    (GCSToBQWriter), and cross-engine timestamp-string round-trips are
    a separate, already-oracled concern (logical_types_wire)."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.config import SinkConfig
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse
    from kafka_connect_bigquery_spark.streaming.pipeline import SinkPipeline

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_staged")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    root = os.path.join(base, _uuid.uuid4().hex[:12])
    wh = Warehouse(spark, os.path.join(root, "wh"))
    staging = os.path.join(root, "staging")
    kafka_shaped = e.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct("user_id", "event_id", "event_type", "value")
        ).cast("binary").alias("value"),
        F.lit("events_t").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.lit(None).cast("timestamp").alias("timestamp"),
    )
    value_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    pipe = SinkPipeline(
        warehouse=wh,
        config=SinkConfig(topics=["events_t"], time_partitioning_type="NONE"),
        value_parser=lambda c: F.from_json(c.cast("string"), value_schema),
        table_specs={"events_t": TableSpec(partition_grain="NONE")},
    )
    pipe.stage_batch(kafka_shaped, 0, staging)
    loaded = pipe.load_staged(staging)
    assert loaded == ["events_t"], loaded
    return wh.read("events_t").select("user_id", "event_id", "event_type", "value")


Q_STAGED_LOAD_SQL = """
SELECT user_id, event_id, event_type, value FROM events
"""


def q_routed_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic→table routing + RegexRouter SMT (S7/X4), witnessed
    end-to-end: events fan out over five per-type topics, the SMT
    rewrites ``src_<type>`` → ``tbl_<type>``, the streaming-insert
    handler writes each routed table, and the union-back (with the
    table name as a column) must equal the source partitioned by
    event_type — proving both the routing split and that no row ever
    lands in the wrong table."""
    import shutil as _sh
    import tempfile
    import time as _time
    import uuid as _uuid

    from kafka_connect_bigquery_spark.config import SinkConfig
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse
    from kafka_connect_bigquery_spark.streaming.pipeline import SinkPipeline

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    types = [r["event_type"] for r in e.select("event_type").distinct().collect()]
    base = os.path.join(tempfile.gettempdir(), "kcbq_spark_routed")
    os.makedirs(base, exist_ok=True)
    now = _time.time()
    for stale in os.listdir(base):
        p = os.path.join(base, stale)
        try:
            if now - os.path.getmtime(p) > 3600:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    wh = Warehouse(spark, os.path.join(base, _uuid.uuid4().hex[:12]))
    kafka_shaped = e.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct("user_id", "event_id", "event_type", "value")
        ).cast("binary").alias("value"),
        F.concat(F.lit("src_"), F.col("event_type")).alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.lit(None).cast("timestamp").alias("timestamp"),
    )
    value_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    pipe = SinkPipeline(
        warehouse=wh,
        config=SinkConfig(
            topics=[f"src_{t}" for t in types],
            time_partitioning_type="NONE",
            smt_regex_routers=[(r"src_(.*)", r"tbl_$1")],
        ),
        value_parser=lambda c: F.from_json(c.cast("string"), value_schema),
    )
    pipe.write_batch(kafka_shaped, 0)
    parts = [
        wh.read(f"tbl_{t}")
        .select("user_id", "event_id", "event_type", "value")
        .withColumn("table_name", F.lit(f"tbl_{t}"))
        for t in sorted(types)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


Q_ROUTED_WRITE_SQL = """
SELECT user_id, event_id, event_type, value,
       concat('tbl_', event_type) AS table_name
FROM events
"""


def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: one row per
    FK edge with total rows, distinct keys, and orphan count (left rows
    whose key misses the dimension) — the data-quality report a
    warehouse runs after every load. Parent key sets broadcast onto
    each child table as presence flags so every edge out of one child
    rides a single scan+aggregate; edges union into one frame so the
    report is a single job."""
    t = lambda n: _t(spark, sf_dir, n)  # noqa: E731

    # All edges out of one child table ride ONE scan+aggregation:
    # parent key sets join onto the child as presence flags, so each
    # orphan count is a conditional sum in the SAME aggregate as the
    # row/distinct-key counts — one pass per child table instead of
    # (agg + anti-join agg) per edge. The pre-r13 per-edge shape
    # profiled 56 stages / 28 exchanges at sf0.1 with stage-launch
    # latency, not data, dominating the wall; this shape is also the
    # right one at 100 TB (the fact table is scanned once, not six
    # times). The wide 1-row aggregate explodes back into per-edge rows.
    #
    # Join strategy per edge (guide §3.1/§3.2): DIMENSION-scale parents
    # (part/supplier/customer/nation/region — bounded catalogs) are
    # explicitly broadcast as before. FACT-scale parents (orders: the
    # key set grows with the fact table — billions of keys at 100 TB)
    # must never be broadcast: that edge uses a merge-hinted shuffled
    # join, which spills gracefully at any key-set size and is
    # AQE-skew-splittable; locally it costs two extra exchanges of
    # key-only projections (~MBs). A Bloom pre-filter (§3.2) is the
    # wrong tool here: orphans are the EXCEPTION, so the filter would
    # pass ~every row and pay its build for nothing.
    def audit(child, edges):
        j = child
        for i, (_, fk, parent, pk, *flags) in enumerate(edges):
            keys = parent.select(F.col(pk).alias(fk)).distinct()
            keys = keys.withColumn(f"_p{i}", F.lit(1))
            big_parent = bool(flags and flags[0])
            if big_parent:
                j = j.join(keys.hint("merge"), fk, "left")
            else:
                j = j.join(F.broadcast(keys), fk, "left")
        aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
        for i, (_, fk, *_rest) in enumerate(edges):
            aggs.append(
                F.count_distinct(F.col(fk)).cast("bigint").alias(f"_k{i}")
            )
            aggs.append(
                F.sum(F.when(F.col(f"_p{i}").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"_o{i}")
            )
        rows = F.array(
            *[
                F.struct(
                    F.lit(name).alias("fk_edge"),
                    F.col("n_rows").alias("n_rows"),
                    F.col(f"_k{i}").alias("n_keys"),
                    F.col(f"_o{i}").alias("n_orphans"),
                )
                for i, (name, *_rest) in enumerate(edges)
            ]
        )
        return j.agg(*aggs).select(F.explode(rows).alias("e")).select("e.*")

    o, c, s, n = t("orders"), t("customer"), t("supplier"), t("nation")
    parts = [
        audit(
            t("lineitem").select("l_orderkey", "l_partkey", "l_suppkey"),
            [
                # big_parent=True: orders keys scale with the fact
                # table — shuffled merge join, never a broadcast
                ("lineitem->orders", "l_orderkey", o, "o_orderkey", True),
                ("lineitem->part", "l_partkey", t("part"), "p_partkey"),
                ("lineitem->supplier", "l_suppkey", s, "s_suppkey"),
            ],
        ),
        audit(o, [("orders->customer", "o_custkey", c, "c_custkey")]),
        audit(c, [("customer->nation", "c_nationkey", n, "n_nationkey")]),
        audit(s, [("supplier->nation", "s_nationkey", n, "n_nationkey")]),
        audit(n, [("nation->region", "n_regionkey", t("region"), "r_regionkey")]),
    ]
    out = parts[0]
    for e in parts[1:]:
        out = out.unionByName(e)
    return out


Q_INTEGRITY_AUDIT_SQL = """
SELECT 'lineitem->orders' AS fk_edge, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys,
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT)
         AS n_orphans
FROM lineitem
UNION ALL
SELECT 'lineitem->part', COUNT(*), COUNT(DISTINCT l_partkey),
       (SELECT COUNT(*) FROM lineitem
        WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
FROM lineitem
UNION ALL
SELECT 'lineitem->supplier', COUNT(*), COUNT(DISTINCT l_suppkey),
       (SELECT COUNT(*) FROM lineitem
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
FROM lineitem
UNION ALL
SELECT 'orders->customer', COUNT(*), COUNT(DISTINCT o_custkey),
       (SELECT COUNT(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
FROM orders
UNION ALL
SELECT 'customer->nation', COUNT(*), COUNT(DISTINCT c_nationkey),
       (SELECT COUNT(*) FROM customer
        WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
FROM customer
UNION ALL
SELECT 'supplier->nation', COUNT(*), COUNT(DISTINCT s_nationkey),
       (SELECT COUNT(*) FROM supplier
        WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
FROM supplier
UNION ALL
SELECT 'nation->region', COUNT(*), COUNT(DISTINCT n_regionkey),
       (SELECT COUNT(*) FROM nation
        WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
FROM nation
"""


def q_orders_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⨝dimension join (operators/skew.py:salted_join): the
    orders fact salts into 8 sub-keys, the customer dimension replicates
    once per bucket, so a hot customer's orders spread across 8
    partitions instead of one. The oracle (plain join + GROUP BY)
    proves salting changes the plan, never the result — the property
    that makes it safe to flip on for a skewed production key."""
    from kafka_connect_bigquery_spark.operators import skew

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = skew.salted_join(o, c, ["custkey"], salt_buckets=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        _qval(_qsum(F.col("o_totalprice"))).alias("revenue"),
    )


Q_ORDERS_SALTED_JOIN_SQL = f"""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_qsum_sql("o_totalprice")} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


_ROLL_WIN_S = 7 * 86400  # rolling 7 days, in seconds


def q_events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-7-day aggregates via a RANGE window frame
    (value-based, not row-based: the frame is defined by the timestamp
    interval, so sparse and bursty users get the same semantics) — the
    rolling-feature shape every feature store materializes. One shuffle
    on user_id, one sort; counts and quantized sums share the frame."""
    e = _t(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    vq = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    base = e.select("event_id", "user_id", sec.alias("sec"), vq.alias("vq"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-_ROLL_WIN_S, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_7d"),
        F.sum("vq").over(w).cast("bigint").alias("sum_7d_q"),
        (F.sum("vq").over(w).cast("double") / 10000.0).alias("sum_7d"),
    )


Q_EVENTS_ROLLING_SQL = f"""
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
       CAST(SUM(vq) OVER w AS BIGINT) AS sum_7d_q,
       CAST(SUM(vq) OVER w AS DOUBLE) / 10000.0 AS sum_7d
FROM (
  SELECT event_id, user_id,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec,
         CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS vq
  FROM events
)
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN {_ROLL_WIN_S} PRECEDING AND CURRENT ROW)
"""


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregation: CUBE over (event_type, day) with
    grouping ids — the OLAP rollup surface. Spark expands grouping sets
    before one shuffle; partial aggregation still applies."""
    e = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    out = (
        e.cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _qval(_qsum(F.col("value"))).alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
    )
    return out


Q_EVENTS_CUBE_SQL = f"""
SELECT event_type, strftime({_TS_US}, '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       {_qsum_sql('value')} AS sum_value,
       GROUPING(event_type, strftime({_TS_US}, '%Y-%m-%d')) AS gid
FROM events
GROUP BY CUBE (event_type, strftime({_TS_US}, '%Y-%m-%d'))
"""


def q_events_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates for 100 TB interactive analytics:
    HyperLogLog++ distinct users and t-digest-style value quantiles per
    event type. Sketches merge associatively, so partial aggregation
    and AQE apply exactly as for exact aggregates.

    Sketch *internals* are engine-specific, so the oracle checks the
    published error contracts instead of raw sketch values: the Spark
    side computes both the sketches and the exact answers in one
    aggregation and emits per-group booleans
    (``hll_ok`` = HLL++ estimate within 3*rsd of the exact distinct
    count; ``pXX_ok`` = percentile_approx result inside the exact value
    band at rank p±0.01, a 100x-slack envelope over the 1/accuracy=1e-4
    rank-error guarantee). The DuckDB oracle computes the exact columns
    and asserts the contract booleans literally TRUE — a sketch that
    drifts out of its bound hash-mismatches the driver row."""
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx_users"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000).alias("_q"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
        # exact rank bands: lower at p-0.01, upper at p+0.01 (p99 upper = max)
        F.expr("percentile(value, array(0.49D, 0.94D, 0.98D))").alias("_lo"),
        F.expr("percentile(value, array(0.51D, 0.96D, 1.0D))").alias("_hi"),
    )
    within = lambda i: (  # noqa: E731 — local contract predicate
        (F.col("_q")[i] >= F.col("_lo")[i]) & (F.col("_q")[i] <= F.col("_hi")[i])
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("_approx_users") - F.col("exact_users"))
            <= 3 * 0.02 * F.col("exact_users")
        ).alias("hll_ok"),
        within(0).alias("p50_ok"),
        within(1).alias("p95_ok"),
        within(2).alias("p99_ok"),
    )


Q_EVENTS_APPROX_STATS_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(*) AS n_events,
       TRUE AS hll_ok,
       TRUE AS p50_ok,
       TRUE AS p95_ok,
       TRUE AS p99_ok
FROM events
GROUP BY event_type
"""


def q_events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles — the oracle-checkable twin of
    ``events_approx_stats``. Values are quantized to 1e-4 integer quanta
    before the percentile so the linear interpolation is exact dyadic
    arithmetic (integer endpoints x dyadic fractions stay bit-identical
    across engines; raw-double interpolation would not).

    Scale: exact percentile needs the group's values together — one
    shuffle on event_type, sort within group. For 100 TB interactive
    use, prefer the sketch twin; this is the audit/verification path.
    """
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.expr(
            "percentile(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT),"
            " array(0.25D, 0.5D, 0.75D, 0.9D))"
        ).alias("_q"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        (F.col("_q")[0] / 10000.0).alias("p25"),
        (F.col("_q")[1] / 10000.0).alias("p50"),
        (F.col("_q")[2] / 10000.0).alias("p75"),
        (F.col("_q")[3] / 10000.0).alias("p90"),
        "n_events",
    )


_QUANT_INT = "CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)"

Q_EVENTS_VALUE_QUANTILES_SQL = f"""
SELECT event_type,
       quantile_cont({_QUANT_INT}, 0.25) / 10000.0 AS p25,
       quantile_cont({_QUANT_INT}, 0.5) / 10000.0 AS p50,
       quantile_cont({_QUANT_INT}, 0.75) / 10000.0 AS p75,
       quantile_cont({_QUANT_INT}, 0.9) / 10000.0 AS p90,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


_MAD_K = 5  # flag |x - median| > K * MAD


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier detection: median / MAD (median absolute
    deviation) instead of mean / stddev, so a user's own extreme events
    cannot mask themselves by inflating the scale estimate — the robust
    twin of ``events_daily_anomalies``. A row is an outlier when
    |x - median| > K·MAD (multiplication only: no division, so MAD = 0
    degenerates deterministically instead of dividing by zero).

    Exactness: values quantized to the 1e-4 integer lattice before the
    exact percentile (type-7 interpolation of integers is dyadic —
    bit-identical across engines); deviations then live on the half-
    integer lattice, so the second percentile is exact too. Scale: two
    groupBy passes + a join-back on user_id — the audit-path cousin of
    a sketch-based production rollup."""
    e = _t(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    base = e.select("user_id", vq.alias("vq"))
    med = base.groupBy("user_id").agg(
        F.expr("percentile(vq, 0.5D)").alias("med_q"),
        F.count(F.lit(1)).alias("n_events"),
    )
    j = base.join(med, "user_id").withColumn(
        "adev", F.abs(F.col("vq") - F.col("med_q"))
    )
    mad = j.groupBy("user_id").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad_q")
    )
    return (
        j.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            (F.first("med_q") / 10000.0).alias("median_value"),
            (F.first("mad_q") / 10000.0).alias("mad_value"),
            F.first("n_events").cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("adev") > _MAD_K * F.col("mad_q"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


Q_EVENTS_MAD_SQL = f"""
WITH base AS (
  SELECT user_id, CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS vq FROM events
),
med AS (
  SELECT user_id, quantile_cont(vq, 0.5) AS med_q, COUNT(*) AS n_events
  FROM base GROUP BY 1
),
j AS (
  SELECT b.user_id, b.vq, m.med_q, m.n_events, abs(b.vq - m.med_q) AS adev
  FROM base b JOIN med m USING (user_id)
),
mad AS (SELECT user_id, quantile_cont(adev, 0.5) AS mad_q FROM j GROUP BY 1)
SELECT j.user_id,
       ANY_VALUE(j.med_q) / 10000.0 AS median_value,
       ANY_VALUE(d.mad_q) / 10000.0 AS mad_value,
       CAST(ANY_VALUE(j.n_events) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN j.adev > {_MAD_K} * d.mad_q THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM j JOIN mad d USING (user_id)
GROUP BY 1
"""


def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/S8 analog: ingestion-time partition rollup — events bucketed to
    their HOUR partition (the reference's TimePartitioning grain,
    SchemaManager.java:574-598) with per-partition per-type counts."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.withColumn("p_hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("p_hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _qval(_qsum(F.col("value"))).alias("sum_value"),
        )
    )
    return out


Q_HOURLY_ROLLUP_SQL = f"""
SELECT date_trunc('hour', ts) AS p_hour, event_type,
       COUNT(*) AS n_events,
       {_qsum_sql("value")} AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_user_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (the W-surface beyond ranks):
    ntile quartiles, percent_rank, cume_dist over one shared window —
    single shuffle+sort per event type. Outputs are exact rationals of
    row positions (deterministic IEEE division), and the sort is fully
    pinned (value, event_id unique tiebreak; NULLS FIRST explicit —
    Spark's ASC default, which DuckDB must be told)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_first("value"), F.asc("event_id")
    )
    return e.select(
        "event_type",
        "event_id",
        "value",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


Q_USER_VALUE_DISTRIBUTION_SQL = """
SELECT event_type, event_id, value,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cum_dist
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value ASC NULLS FIRST, event_id ASC)
"""


def q_events_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-aggregate surface (corr/covar/stddev family) in
    EXACT integer moments: per event type, n, Σx, Σy, Σxy, Σx², Σy²
    over (value, hour-of-day) — the sufficient statistics from which
    any consumer derives variance/covariance/correlation, without the
    engine ever doing a sqrt or order-dependent float sum. Moments are
    additive, so per-partition partials combine map-side and per-day
    moment tables merge by addition (the same property the rollup IVM
    exploits)."""
    e = _t(spark, sf_dir, "events")
    xq = F.floor(F.col("value") * _Q + F.lit(0.5)).cast("decimal(19,0)")
    y = F.hour("ts").cast("decimal(10,0)")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xq).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(xq * y).alias("_sxy"),
        F.sum(xq * xq).alias("_sx2"),
        F.sum(y * y).alias("_sy2"),
    )
    # exact decimals -> doubles at the very end (one correctly-rounded
    # conversion + one power-of-ten division; identical on any engine)
    q = float(_Q)
    return agg.select(
        "event_type",
        "n",
        (F.col("_sx").cast("double") / q).alias("sum_x"),
        F.col("_sy").cast("double").alias("sum_y"),
        (F.col("_sxy").cast("double") / q).alias("sum_xy"),
        (F.col("_sx2").cast("double") / (q * q)).alias("sum_x2"),
        F.col("_sy2").cast("double").alias("sum_y2"),
    )


Q_EVENTS_MOMENT_STATS_SQL = f"""
WITH m AS (
  SELECT event_type,
         CAST(FLOOR(value * {_Q} + 0.5) AS DECIMAL(19,0)) AS xq,
         CAST(EXTRACT(hour FROM {_TS_US}) AS DECIMAL(10,0)) AS y
  FROM events
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(xq) AS DOUBLE) / {_Q}.0 AS sum_x,
       CAST(SUM(y) AS DOUBLE) AS sum_y,
       CAST(SUM(xq * y) AS DOUBLE) / {_Q}.0 AS sum_xy,
       CAST(SUM(xq * xq) AS DOUBLE) / ({_Q}.0 * {_Q}.0) AS sum_x2,
       CAST(SUM(y * y) AS DOUBLE) AS sum_y2
FROM m GROUP BY 1
"""


def q_events_rollup_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup pyramid: hourly partials re-aggregate to
    daily, daily to monthly — each level computed ONLY from the level
    below (the continuous-aggregate cascade TimescaleDB/Druid serve
    dashboards from). Counts and quantized sums are associative, so the
    pyramid is exactly equal to aggregating the raw events directly —
    which is what the oracle does. At 100 TB only the hourly level ever
    reads the raw table; day/month re-aggregations touch frames that
    are orders of magnitude smaller."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _qsum(F.col("value")).alias("sq"),
    )
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", "h").alias("d")
    ).agg(F.sum("n").alias("n"), F.sum("sq").alias("sq"))
    monthly = daily.groupBy(
        "event_type",
        F.date_format(F.date_trunc("month", "d"), "yyyy-MM").alias("month"),
    ).agg(
        F.sum("n").alias("n_events"),
        _qval(F.sum("sq")).alias("sum_value"),
    )
    return monthly


Q_EVENTS_ROLLUP_PYRAMID_SQL = f"""
SELECT event_type,
       strftime(date_trunc('month', {_TS_US}), '%Y-%m') AS month,
       COUNT(*) AS n_events,
       {_qsum_sql("value")} AS sum_value
FROM events GROUP BY 1, 2
"""


def q_customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value decile profile: per-customer total spend
    (orders⨝customer), EXACT ntile(10) deciles over a fully pinned
    order, then per-decile aggregates — the two-level
    windowed-then-aggregated shape BI cohort dashboards run. Spend
    totals are quantized-exact and the per-decile min/max/sum re-derive
    from those exact integers.

    Scale shape (r07 verdict ask 2 — this was the registry's last
    data-sized single-partition window): the exact global rank is a
    distributed sort, not a global ntile window. ``repartitionByRange``
    on (spend_q DESC, c_custkey) range-partitions the per-customer
    frame into ``P`` ordered slices (partition ids follow range order —
    the same contract distributed sort rests on); a within-slice
    ``row_number`` plus broadcast per-slice count OFFSETS gives the
    exact global rank with no single-task sort anywhere. The offsets
    are a triangular broadcast self-join over the CONSTANT P-row count
    frame (no global window at all — the plan fence needs no
    allowlist). The decile is then computed from (rank, N) by the
    exact SQL-standard ntile split — the first N mod 10 tiles take
    ceil(N/10) rows, the rest floor(N/10); note floor((rank-1)*10/N)+1
    is NOT ntile (it interleaves the remainder tiles) — so the result
    hash-matches the oracle's genuine ntile(10) on every N."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(_qsum(F.col("o_totalprice")).alias("spend_q"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    # P is a constant slice count (raise for fleet scale: |customers|/P
    # rows sort per task). localCheckpoint pins the range shuffle so the
    # count pass and the rank pass see identical partition ids, and the
    # spend aggregate is scanned once (reused subtrees are not
    # AQE-deduplicated — the q15/q2/q11 pattern).
    P = 64
    parts = (
        spend.repartitionByRange(P, F.desc("spend_q"), F.asc("c_custkey"))
        .withColumn("__p", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = parts.groupBy("__p").agg(F.count(F.lit(1)).alias("__cnt"))
    b = counts.select(
        F.col("__p").alias("__bp"), F.col("__cnt").alias("__bcnt")
    )
    offsets = (
        counts.join(F.broadcast(b), F.col("__bp") < F.col("__p"), "left")
        .groupBy("__p")
        .agg(F.coalesce(F.sum("__bcnt"), F.lit(0)).alias("__off"))
    )
    total = counts.agg(F.sum("__cnt").alias("__n"))
    within = Window.partitionBy("__p").orderBy(
        F.desc("spend_q"), F.asc("c_custkey")
    )
    ranked = (
        parts.join(F.broadcast(offsets), "__p")
        .crossJoin(F.broadcast(total))
        .withColumn("__r", F.row_number().over(within) + F.col("__off"))
    )
    # exact ntile(10): q = N div 10, rem = N mod 10; ranks 1..rem*(q+1)
    # fall in the first rem (big) tiles, the rest in q-sized tiles.
    # greatest(q,1) keeps the unused else-branch division defined when
    # N < 10 (ANSI mode would otherwise raise on the dead branch).
    decile = F.expr(
        "CAST(CASE WHEN __r <= (__n % 10) * (__n DIV 10 + 1) "
        "THEN (__r - 1) DIV (__n DIV 10 + 1) + 1 "
        "ELSE (__n % 10) + (__r - (__n % 10) * (__n DIV 10 + 1) - 1) "
        "DIV greatest(__n DIV 10, 1) + 1 END AS BIGINT)"
    )
    return (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("n_orders").alias("n_orders"),
            _qval(F.sum("spend_q")).alias("total_spend"),
            _qval(F.min("spend_q")).alias("min_spend"),
            _qval(F.max("spend_q")).alias("max_spend"),
        )
    )


Q_CUSTOMER_LTV_DECILES_SQL = f"""
WITH spend AS (
  SELECT c_custkey, c_mktsegment,
         SUM(CAST(FLOOR(o_totalprice * {_Q} + 0.5) AS DECIMAL(38,0))) AS spend_q,
         COUNT(*) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT spend.*,
         CAST(ntile(10) OVER (ORDER BY spend_q DESC, c_custkey) AS BIGINT) AS decile
  FROM spend
)
SELECT decile, COUNT(*) AS n_customers,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       CAST(SUM(spend_q) AS DOUBLE) / {_Q}.0 AS total_spend,
       CAST(MIN(spend_q) AS DOUBLE) / {_Q}.0 AS min_spend,
       CAST(MAX(spend_q) AS DOUBLE) / {_Q}.0 AS max_spend
FROM ranked GROUP BY 1
"""


def q_events_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics: extract a field from the JSON props
    column and aggregate over it — extraction happens in the scan
    projection (codegen'd regexp), grouped on the parsed value."""
    e = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("long")
    out = (
        e.withColumn("k_bucket", F.floor(k / 10).cast("long"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _qval(_qsum(F.col("value"))).alias("sum_value"),
        )
    )
    return out


Q_EVENTS_JSON_AGG_SQL = f"""
SELECT CAST(FLOOR(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) / 10.0)
         AS BIGINT) AS k_bucket,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {_qsum_sql('value')} AS sum_value
FROM events
GROUP BY 1
"""


def q_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per market segment by total price (the LATERAL /
    top-N-per-group shape): one window over the segment join."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    out = (
        o.join(c, o.o_custkey == c.c_custkey)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rnk")
    )
    return out


Q_TOP_ORDERS_SQL = """
SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY c_mktsegment
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rnk <= 2
"""


def q_events_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT / UNION ALL): membership of
    each user across the two halves of the event stream. The reference
    has no set ops (SURVEY §2.7) — engine addition. Distinct sets are
    small post-aggregation, so the set ops run on shrunken inputs."""
    split = _events_split(spark, sf_dir)
    e = _t(spark, sf_dir, "events")
    first = e.filter(F.col("event_id") < split).select("user_id").distinct()
    second = e.filter(F.col("event_id") >= split).select("user_id").distinct()
    return (
        first.intersect(second).withColumn("membership", F.lit("both"))
        .unionAll(first.subtract(second).withColumn("membership", F.lit("first_only")))
        .unionAll(second.subtract(first).withColumn("membership", F.lit("second_only")))
    )


Q_EVENTS_SET_OPS_SQL = f"""
WITH first AS (SELECT DISTINCT user_id FROM events WHERE event_id < {_SPLIT_SQL}),
     second AS (SELECT DISTINCT user_id FROM events WHERE event_id >= {_SPLIT_SQL})
SELECT user_id, 'both' AS membership FROM (SELECT user_id FROM first INTERSECT SELECT user_id FROM second)
UNION ALL
SELECT user_id, 'first_only' FROM (SELECT user_id FROM first EXCEPT SELECT user_id FROM second)
UNION ALL
SELECT user_id, 'second_only' FROM (SELECT user_id FROM second EXCEPT SELECT user_id FROM first)
"""


def q_logical_types_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 as a hard-correctness row: run the logical-type converter
    registry (schema/logical_types.py, mirroring
    KafkaLogicalConverters.java + DebeziumLogicalConverters.java) over
    wire-shaped columns synthesized deterministically from events.
    Covers Date, Time (ms), MicroTime (unpadded remainder quirk),
    Timestamp (ms), MicroTimestamp, ZonedTimestamp, and the Decimal
    bytes decode (two's-complement unscaled int + scale)."""
    from kafka_connect_bigquery_spark.schema import logical_types as LT

    e = _t(spark, sf_dir, "events")
    conv = lambda name: LT.lookup(name).convert  # noqa: E731
    days = (F.col("event_id") % 20000).cast("int")
    ms_day = ((F.col("event_id") * 104729) % 86400000).cast("long")
    us_day = ((F.col("event_id") * 7919) % 86400000000).cast("long")
    epoch_us = F.expr("unix_micros(ts)")
    epoch_ms = F.expr("unix_micros(ts) div 1000")
    n = ((F.col("event_id") * 7) % 20001 - 10000).cast("long")
    dec_bytes = F.unhex(F.lpad(F.hex(n.bitwiseAND(F.lit(4294967295))), 8, "0"))
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    return e.select(
        "event_id",
        conv("org.apache.kafka.connect.data.Date")(days).cast("string").alias("date_str"),
        conv("org.apache.kafka.connect.data.Time")(ms_day).alias("time_ms"),
        conv("io.debezium.time.MicroTime")(us_day).alias("micro_time"),
        conv("org.apache.kafka.connect.data.Timestamp")(epoch_ms).alias("ts_ms"),
        conv("io.debezium.time.MicroTimestamp")(epoch_us).alias("ts_us"),
        conv("io.debezium.time.ZonedTimestamp")(iso).alias("ts_zoned"),
        conv("org.apache.kafka.connect.data.Decimal")(dec_bytes, scale=2).alias("dec_val"),
    )


Q_LOGICAL_TYPES_SQL = f"""
SELECT event_id,
       CAST(DATE '1970-01-01' + CAST(event_id % 20000 AS INT) AS VARCHAR)
         AS date_str,
       strftime(make_timestamp((event_id * 104729) % 86400000 * 1000),
                '%H:%M:%S.%g') AS time_ms,
       strftime(make_timestamp((event_id * 7919) % 86400000000), '%H:%M:%S')
         || '.' || CAST((event_id * 7919) % 86400000000 % 1000000 AS VARCHAR)
         AS micro_time,
       make_timestamp(epoch_ns(ts) // 1000000 * 1000) AS ts_ms,
       {_TS_US} AS ts_us,
       date_trunc('second', {_TS_US}) AS ts_zoned,
       CAST((event_id * 7) % 20001 - 10000 AS DOUBLE) / 100.0 AS dec_val
FROM events
"""


def q_sanitized_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 as a hard-correctness row: recursive field-name sanitization
    (FieldNameSanitizer.java:29-54 via schema/sanitize.py) — illegal
    characters become '_', digit-leading names get a '_' prefix, nested
    struct fields sanitize recursively. The schema compare IS the
    assertion: the oracle simply declares the expected legal names."""
    from kafka_connect_bigquery_spark.schema.sanitize import sanitize_field_names

    e = _t(spark, sf_dir, "events")
    dirty = e.select(
        F.col("event_id").alias("1 event/id"),
        F.col("user_id").alias("user id"),
        F.col("event_type").alias("event-type"),
        F.struct(
            F.col("value").alias("the value"),
            (F.col("event_id") % 7).alias("n.items"),
        ).alias("payload info"),
    )
    clean = sanitize_field_names(dirty)
    # flatten through the *sanitized* nested names (struct outputs don't
    # canonicalize across engines in the comparator) — resolving
    # `payload_info.the_value` only works if the recursive rename landed
    return clean.select(
        "_1_event_id",
        "user_id",
        "event_type",
        F.col("payload_info.the_value").alias("the_value"),
        F.col("payload_info.n_items").alias("n_items"),
    )


Q_SANITIZED_SQL = """
SELECT event_id AS _1_event_id,
       user_id,
       event_type,
       value AS the_value,
       event_id % 7 AS n_items
FROM events
"""


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts spread into one column per event
    type (fixed value list — at scale an unbounded pivot is a schema
    explosion; the engine requires the values enumerated)."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _PIVOT_TYPES)
    )
    return out


Q_EVENTS_PIVOT_SQL = (
    "SELECT user_id, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f' AS "{t}"'
        for t in _PIVOT_TYPES
    )
    + " FROM events GROUP BY user_id"
)


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# name -> (spark_fn, oracle_sql_or_None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "tpch_q1_pricing_summary": (q_tpch_q1, Q_TPCH_Q1_SQL),
    "tpch_q3_shipping_priority": (q_tpch_q3, Q_TPCH_Q3_SQL),
    "tpch_q5_local_supplier_volume": (q_tpch_q5, Q_TPCH_Q5_SQL),
    "tpch_q6_forecast_revenue": (q_tpch_q6, Q_TPCH_Q6_SQL),
    "tpch_q4_order_priority": (q_tpch_q4, Q_TPCH_Q4_SQL),
    "tpch_q7_nation_volume": (q_tpch_q7, Q_TPCH_Q7_SQL),
    "tpch_q13_customer_distribution": (q_tpch_q13, Q_TPCH_Q13_SQL),
    "tpch_q14_promo_revenue_share": (q_tpch_q14, Q_TPCH_Q14_SQL),
    "tpch_q15_top_supplier": (q_tpch_q15, Q_TPCH_Q15_SQL),
    "tpch_q2_min_cost_supplier": (q_tpch_q2, Q_TPCH_Q2_SQL),
    "tpch_q16_supplier_diversity": (q_tpch_q16, Q_TPCH_Q16_SQL),
    "tpch_q18_large_orders": (q_tpch_q18, Q_TPCH_Q18_SQL),
    "tpch_q8_market_share": (q_tpch_q8, Q_TPCH_Q8_SQL),
    "tpch_q10_returned_items": (q_tpch_q10, Q_TPCH_Q10_SQL),
    "tpch_q12_priority_shipping": (q_tpch_q12, Q_TPCH_Q12_SQL),
    "tpch_q17_small_qty_revenue": (q_tpch_q17, Q_TPCH_Q17_SQL),
    "tpch_q19_discounted_revenue": (q_tpch_q19, Q_TPCH_Q19_SQL),
    "tpch_q21_waiting_suppliers": (q_tpch_q21, Q_TPCH_Q21_SQL),
    "tpch_q22_idle_customers": (q_tpch_q22, Q_TPCH_Q22_SQL),
    "tpch_q9_product_profit": (q_tpch_q9, Q_TPCH_Q9_SQL),
    "tpch_q11_important_stock": (q_tpch_q11, Q_TPCH_Q11_SQL),
    "tpch_q20_part_promotion": (q_tpch_q20, Q_TPCH_Q20_SQL),
    "last_event_per_user": (q_last_event_per_user, Q_LAST_EVENT_SQL),
    "merge_upsert": (q_merge_upsert, Q_MERGE_UPSERT_SQL),
    "merge_upsert_delete": (q_merge_upsert_delete, Q_MERGE_UPSERT_DELETE_SQL),
    "merge_delete_only": (q_merge_delete_only, Q_MERGE_DELETE_ONLY_SQL),
    "merge_upsert_bucketed": (q_merge_upsert_bucketed, Q_MERGE_UPSERT_SQL),
    "logical_types_wire": (q_logical_types_wire, Q_LOGICAL_TYPES_SQL),
    "sanitized_projection": (q_sanitized_projection, Q_SANITIZED_SQL),
    "hourly_partition_rollup": (q_hourly_rollup, Q_HOURLY_ROLLUP_SQL),
    "warehouse_zonemap_read": (q_warehouse_zonemap_read, Q_WAREHOUSE_ZONEMAP_SQL),
    "warehouse_bloom_read": (q_warehouse_bloom_read, Q_WAREHOUSE_BLOOM_SQL),
    "warehouse_evolution_read": (q_warehouse_evolution_read, Q_WAREHOUSE_EVOLUTION_SQL),
    "warehouse_delete_read": (q_warehouse_delete_read, Q_WAREHOUSE_DELETE_SQL),
    "warehouse_sketch_distinct": (q_warehouse_sketch_distinct, Q_WAREHOUSE_SKETCH_SQL),
    "warehouse_text_search": (q_warehouse_text_search, Q_WAREHOUSE_TEXT_SEARCH_SQL),
    "warehouse_sketch_bucketed": (
        q_warehouse_sketch_bucketed, Q_WAREHOUSE_SKETCH_BUCKETED_SQL,
    ),
    "warehouse_text_bucketed": (
        q_warehouse_text_bucketed, Q_WAREHOUSE_TEXT_BUCKETED_SQL,
    ),
    "warehouse_bloom_bucketed": (
        q_warehouse_bloom_bucketed, Q_WAREHOUSE_BLOOM_BUCKETED_SQL,
    ),
    "warehouse_partition_compact_read": (
        q_warehouse_partition_compact_read, Q_WAREHOUSE_PARTITION_COMPACT_SQL,
    ),
    "warehouse_time_travel_read": (q_warehouse_time_travel_read, Q_WAREHOUSE_TIME_TRAVEL_SQL),
    "warehouse_clone_read": (q_warehouse_clone_read, Q_WAREHOUSE_CLONE_SQL),
    "warehouse_clone_bucketed": (q_warehouse_clone_bucketed, Q_WAREHOUSE_CLONE_BUCKETED_SQL),
    "warehouse_incremental_read": (q_warehouse_incremental_read, Q_WAREHOUSE_INCREMENTAL_SQL),
    "rollup_incremental": (q_rollup_incremental, Q_ROLLUP_INCREMENTAL_SQL),
    "table_profile": (q_table_profile, Q_TABLE_PROFILE_SQL),
    "sketch_count_min": (q_sketch_count_min, Q_SKETCH_COUNT_MIN_SQL),
    "sketch_hll_distinct": (q_sketch_hll_distinct, Q_SKETCH_HLL_SQL),
    "sketch_hll_daily": (q_sketch_hll_daily, Q_SKETCH_HLL_DAILY_SQL),
    "sketch_hll_incremental": (q_sketch_hll_incremental, Q_SKETCH_HLL_INCREMENTAL_SQL),
    "sketch_kmv_incremental": (q_sketch_kmv_incremental, Q_SKETCH_KMV_INCREMENTAL_SQL),
    "sketch_cm_incremental": (q_sketch_cm_incremental, Q_SKETCH_CM_INCREMENTAL_SQL),
    "sketch_ams_f2": (q_sketch_ams_f2, Q_SKETCH_AMS_F2_SQL),
    "sketch_hist_incremental": (q_sketch_hist_incremental, Q_SKETCH_HIST_INCREMENTAL_SQL),
    "sketch_kmv_distinct": (q_sketch_kmv_distinct, Q_SKETCH_KMV_SQL),
    "sketch_kmv_overlap": (q_sketch_kmv_overlap, Q_SKETCH_KMV_OVERLAP_SQL),
    "cobucketed_join": (q_cobucketed_join, Q_COBUCKETED_JOIN_SQL),
    "graph_pagerank": (q_graph_pagerank, Q_GRAPH_PAGERANK_SQL),
    "graph_triangles": (q_graph_triangles, Q_GRAPH_TRIANGLES_SQL),
    "user_value_distribution": (q_user_value_distribution, Q_USER_VALUE_DISTRIBUTION_SQL),
    "events_moment_stats": (q_events_moment_stats, Q_EVENTS_MOMENT_STATS_SQL),
    "events_rollup_pyramid": (q_events_rollup_pyramid, Q_EVENTS_ROLLUP_PYRAMID_SQL),
    "customer_ltv_deciles": (q_customer_ltv_deciles, Q_CUSTOMER_LTV_DECILES_SQL),
    "user_value_ranks": (q_user_value_ranks, Q_USER_VALUE_RANKS_SQL),
    "events_approx_stats": (q_events_approx_stats, Q_EVENTS_APPROX_STATS_SQL),
    "events_value_quantiles": (q_events_value_quantiles, Q_EVENTS_VALUE_QUANTILES_SQL),
    "events_mad_outliers": (q_events_mad_outliers, Q_EVENTS_MAD_SQL),
    "events_set_ops": (q_events_set_ops, Q_EVENTS_SET_OPS_SQL),
    "events_json_agg": (q_events_json_agg, Q_EVENTS_JSON_AGG_SQL),
    "top_orders_per_segment": (q_top_orders_per_segment, Q_TOP_ORDERS_SQL),
    "events_pivot": (q_events_pivot, Q_EVENTS_PIVOT_SQL),
    "events_cube": (q_events_cube, Q_EVENTS_CUBE_SQL),
    "events_rolling_7d": (q_events_rolling_7d, Q_EVENTS_ROLLING_SQL),
    "events_salted_agg": (q_events_salted_agg, Q_EVENTS_SALTED_AGG_SQL),
    "orders_salted_join": (q_orders_salted_join, Q_ORDERS_SALTED_JOIN_SQL),
    "integrity_audit": (q_integrity_audit, Q_INTEGRITY_AUDIT_SQL),
    "staged_load_roundtrip": (q_staged_load_roundtrip, Q_STAGED_LOAD_SQL),
    "routed_write_roundtrip": (q_routed_write_roundtrip, Q_ROUTED_WRITE_SQL),
}


# Names surfaced FIRST in queries()/oracle_sql() order. External harnesses
# that budget a fixed number of correctness checks walk the registry in
# insertion order. The window ALTERNATES round to round: lead with the
# entries whose most recent driver row is oldest, park last round's fresh
# greens at the tail.
# Round 14 window (50 slots), executed exactly as pre-registered in
# SURVEY's round-14 block + the r13 verdict "Next round" #1: LEAD with
# the 28 r10-stale rows that did not fit the r13 window (they include
# integrity_audit, whose plan changed in BOTH r13 and r14 — the
# broadcast size-guard), then the two other r13-changed plans the r13
# window missed (search_hybrid_rrf — query-postings broadcast +
# queries_in_corpus index build; docs_ngram_novelty — unconditional
# widen + eager checkpoint), then the r14-changed plans
# (dedup_ngram_jaccard + dedup_containment — BIGINT shingle pack;
# docs_decontaminate — BINARY(16) gram keys; dedup_minhash_recall's
# truth side also rides the pack but it is core, below), then the CORE
# SET (witnessed every round), then backfill with 12 of the 47
# r11-stale rows — the ANN ranking family (its literal construction
# changed in r13), the dedup verification family (adjacent to this
# round's pack), the packing/docs family (decontaminate's module), and
# one flagship each for graph/sampling/TPC-H. The 34 r11-stale
# rows that do not fit (docs_length_histogram, docs_quality_filter,
# embedding_label_centroids, events_attribution,
# events_cohort_retention, events_daily_anomalies, events_funnel,
# events_transitions, events_value_quantiles, sketch_kmv_overlap,
# text_bigram_fluency, text_pii_scrub, text_repetition_stats,
# text_subword_stats, text_top_terms, and the 18 r11-stale TPC-H rows
# q3-q8 + q11-q22, plus text_token_stats) are pre-registered to LEAD
# the r15 window.
# (The r13 window text this replaces is archived in SURVEY.md's
# round-13 pre-registration block, executed exactly as written.)
_CORE_SET: list[str] = [
    # witnessed EVERY round (SURVEY budget: core/rotation split) —
    # the tolerance-contract entry + one flagship per family whose
    # breakage would invalidate the most downstream consumers
    "events_approx_stats",       # the tolerance-contract oracle
    "tpch_q1_pricing_summary",   # scan+agg flagship (also the entry() query)
    "merge_upsert",              # MERGE family core (the reference's D1)
    "dedup_minhash_recall",      # LLM-dedup family flagship
]
_PRIORITY_ORDER: list[str] = [
    # -- the 28 r10-stale rows (oldest driver witnesses; lead) ----------
    "docs_chi_square",
    "events_asof_join",
    "events_asof_tolerance",
    "events_benford",
    "events_ewma",
    "events_gap_fill",
    "events_mad_outliers",
    "events_rolling_7d",
    "events_salted_agg",
    "events_session_window",
    "events_sessionize",
    "events_sliding_window",
    "events_streaks",
    "events_tumbling_window",
    "events_welch_t",
    "integrity_audit",          # plan changed r13 (one-pass) AND r14 (size-guard)
    "mixture_entropy",
    "multimodal_audio_chunks",
    "multimodal_frame_features",
    "multimodal_image_meta",
    "orders_salted_join",
    "pairs_contrastive",
    "sketch_hll_daily",
    "sketch_hll_distinct",
    "sketch_kmv_distinct",
    "text_bm25",
    "tpch_q2_min_cost_supplier",
    "weighted_sample",
    # -- r13-changed plans not witnessed in r13 ---------------------------
    "search_hybrid_rrf",
    "docs_ngram_novelty",
    # -- r14-changed plans -------------------------------------------------
    "dedup_ngram_jaccard",
    "dedup_containment",
    "docs_decontaminate",
    "orders_market_basket",   # r14: pair-explosion width (repartition)
    # -- core set: witnessed every round ----------------------------------
    *_CORE_SET,
    # -- backfill: 12 of the 47 r11-stale rows -----------------------------
    "ann_cosine_topk",
    "ann_ivfpq_topk",
    "dedup_components",
    "dedup_exact",
    "dedup_incremental",
    "dedup_minhash_lsh",
    "docs_sequence_pack",
    "docs_dsir_weights",
    "docs_vocab_growth",
    "graph_pagerank",
    "sample_k_per_group",
    "tpch_q9_product_profit",
    # == 50-slot window boundary: everything below was witnessed ==
    # == green in r11, r12 or r13 ==================================
]


def _full_registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    from kafka_connect_bigquery_spark import queries_ext, queries_windows

    merged = dict(REGISTRY)
    merged.update(queries_ext.REGISTRY)
    merged.update(queries_windows.REGISTRY)

    ordered: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}
    for name in _PRIORITY_ORDER:
        if name in merged:
            ordered[name] = merged.pop(name)
    tail = {n: v for n, v in merged.items() if n.startswith("tpch_")}
    for name, entry in merged.items():
        if name not in tail:
            ordered[name] = entry
    ordered.update(tail)
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _full_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _full_registry().items() if sql is not None}
