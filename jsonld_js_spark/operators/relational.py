"""Relational analytics over the big fact table (lineitem) — the
TPC-H-shaped demonstration that the engine's relational surface
(scan pushdown, partial aggregation, fact⋈fact joins, top-k) holds on
a fact table, not just on the KG/document tables.

Cross-engine exactness: the money columns are DOUBLE, and float SUMS
are order-dependent — so every monetary expression is quantized to
int64 CENTS per row BEFORE aggregation (floor of a fixed per-row
float expression: each op is one correctly-rounded IEEE step on
identical inputs, so Spark and DuckDB floor the same double; the SUM
then runs in exact int64). Averages are emitted as integer ppm via
DIV. No raw timestamps or floats in any output.

Plan shapes (the 100 TB story):
- rel_pricing_summary (Q1 shape): filter + project pushed to the
  parquet scan (PushedFilters on l_shipdate, 7-column ReadSchema),
  ONE partial-combining groupBy over a 4-group key — the map side
  collapses ~everything; the exchange moves O(groups) rows.
- rel_top_orders (Q3 shape): date-filtered orders ⋈ date-filtered
  lineitem on l_orderkey (both sides pruned by pushed predicates
  BEFORE the shuffle; AQE picks broadcast when the orders side
  shrinks enough), partial-agg revenue per order, then global top-10
  via TakeOrderedAndProject (no full sort).
"""
from __future__ import annotations

from pyspark.sql import functions as F

Q1_CUTOFF = "1998-09-01 00:00:00"
Q3_DATE = "1996-03-15 00:00:00"
TOP_ORDERS = 10


def _cents(col):
    return F.floor(col * F.lit(100.0)).cast("long")


def q_rel_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: pricing summary by (returnflag, linestatus)
    over lines shipped up to the cutoff — exact int64-cent sums and
    ppm averages."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc * (F.lit(1.0) + F.col("l_tax"))
    rows = (li.filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF)
                      .cast("timestamp"))
            .select("l_returnflag", "l_linestatus",
                    _cents(F.col("l_quantity")).alias("qty_c"),
                    _cents(F.col("l_extendedprice")).alias("base_c"),
                    _cents(disc).alias("disc_c"),
                    _cents(charge).alias("charge_c")))
    return (rows.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("qty_c").alias("sum_qty_c"),
                 F.sum("base_c").alias("sum_base_c"),
                 F.sum("disc_c").alias("sum_disc_c"),
                 F.sum("charge_c").alias("sum_charge_c"),
                 F.count("*").alias("n_lines"),
                 F.expr("sum(qty_c) div count(*)").alias("avg_qty_c"),
                 F.expr("sum(disc_c) div count(*)").alias("avg_disc_c"))
            .orderBy("l_returnflag", "l_linestatus"))


ORACLE_REL_PRICING = f"""
WITH rows_q AS (
  SELECT l_returnflag, l_linestatus,
         cast(floor(l_quantity * 100.0e0) as bigint) AS qty_c,
         cast(floor(l_extendedprice * 100.0e0) as bigint) AS base_c,
         cast(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0)
              as bigint) AS disc_c,
         cast(floor(l_extendedprice * (1.0e0 - l_discount)
                    * (1.0e0 + l_tax) * 100.0e0) as bigint) AS charge_c
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
)
SELECT l_returnflag, l_linestatus,
       cast(sum(qty_c) as bigint) AS sum_qty_c,
       cast(sum(base_c) as bigint) AS sum_base_c,
       cast(sum(disc_c) as bigint) AS sum_disc_c,
       cast(sum(charge_c) as bigint) AS sum_charge_c,
       cast(count(*) as bigint) AS n_lines,
       cast(sum(qty_c) // count(*) as bigint) AS avg_qty_c,
       cast(sum(disc_c) // count(*) as bigint) AS avg_disc_c
FROM rows_q GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_rel_top_orders(spark, sf_dir):
    """TPC-H Q3 shape: top-{TOP_ORDERS} open orders by discounted
    revenue — orders placed before the date, lines shipped after it."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    date = F.lit(Q3_DATE).cast("timestamp")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    lines = (li.filter(F.col("l_shipdate") > date)
             .select(F.col("l_orderkey").alias("o_orderkey"),
                     _cents(disc).alias("rev_c")))
    opens = (o.filter(F.col("o_orderdate") < date)
             .select("o_orderkey", "o_orderpriority"))
    return (lines.join(opens, "o_orderkey")
            .groupBy("o_orderkey", "o_orderpriority")
            .agg(F.sum("rev_c").alias("revenue_c"),
                 F.count("*").alias("n_lines"))
            .orderBy(F.desc("revenue_c"), "o_orderkey")
            .limit(TOP_ORDERS))


ORACLE_REL_TOP_ORDERS = f"""
WITH lines AS (
  SELECT l_orderkey AS o_orderkey,
         cast(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0)
              as bigint) AS rev_c
  FROM lineitem WHERE l_shipdate > TIMESTAMP '{Q3_DATE}'
),
opens AS (
  SELECT o_orderkey, o_orderpriority FROM orders
  WHERE o_orderdate < TIMESTAMP '{Q3_DATE}'
)
SELECT l.o_orderkey, o.o_orderpriority,
       cast(sum(l.rev_c) as bigint) AS revenue_c,
       cast(count(*) as bigint) AS n_lines
FROM lines l JOIN opens o ON l.o_orderkey = o.o_orderkey
GROUP BY l.o_orderkey, o.o_orderpriority
ORDER BY revenue_c DESC, l.o_orderkey
LIMIT {TOP_ORDERS}
"""


def q_rel_pricing_rollup(spark, sf_dir):
    """Multi-level aggregation surface: the Q1 pricing summary with
    ROLLUP(l_returnflag, l_linestatus) — detail rows, per-flag
    subtotals, and the grand total in one pass (Spark plans a single
    Expand + partial-agg, not three scans). `lvl` is the grouping
    bitmask (0 detail, 1 per-flag, 3 grand) — identical bit semantics
    in Spark's grouping_id() and DuckDB's GROUPING(a, b). Ordering
    pins NULLS FIRST explicitly: Spark's ascending default and
    DuckDB's differ."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    rows = (li.filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF)
                      .cast("timestamp"))
            .select("l_returnflag", "l_linestatus",
                    _cents(disc).alias("disc_c")))
    return (rows.rollup("l_returnflag", "l_linestatus")
            .agg(F.grouping_id().alias("lvl"),
                 F.sum("disc_c").alias("sum_disc_c"),
                 F.count("*").alias("n_lines"))
            .select("lvl", "l_returnflag", "l_linestatus",
                    "sum_disc_c", "n_lines")
            .orderBy(F.col("lvl").asc(),
                     F.col("l_returnflag").asc_nulls_first(),
                     F.col("l_linestatus").asc_nulls_first()))


ORACLE_REL_ROLLUP = f"""
WITH rows_q AS (
  SELECT l_returnflag, l_linestatus,
         cast(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0)
              as bigint) AS disc_c
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
)
SELECT cast(GROUPING(l_returnflag, l_linestatus) as bigint) AS lvl,
       l_returnflag, l_linestatus,
       cast(sum(disc_c) as bigint) AS sum_disc_c,
       cast(count(*) as bigint) AS n_lines
FROM rows_q GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY lvl, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""
