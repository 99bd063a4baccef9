"""Named query registry — the engine's shipped task fixtures.

The reference ships concrete task queries (sql/pg/test.postgres.sql,
sql/mysql/test.mysql.sql; SURVEY.md §2 Part B); each entry here is the
Spark-first re-expression of one such query, or of a SQL capability the
reference delegates to its source database (joins, windows, rollups,
set ops — all served natively by Catalyst).

Every spec carries a DuckDB oracle SQL string for the driver's
correctness gate. Cross-engine determinism rules (see
``functions.numeric``): decimal-exact sums cast to double, explicit
tiebreakers in every top-k, timestamps kept naive/UTC.

Determinism note on ``o_totalprice``: it is the one double column in
the test data that is not 2-decimal-exact, so it only appears in
filters / min / max / count — never inside a decimal-cast SUM (cross-
engine double→decimal rounding of full-precision doubles is not
bit-stable; everything else is).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dungbeetle_spark.functions.numeric import davg, dmul, dsum
from dungbeetle_spark.sources.catalog import fan_out, load_tables


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


def _import_operator_modules() -> None:
    """Import every operator module for its @query side effects."""
    import dungbeetle_spark.operators.analytic  # noqa: F401
    import dungbeetle_spark.operators.curation  # noqa: F401
    import dungbeetle_spark.operators.dedup  # noqa: F401
    import dungbeetle_spark.operators.fate_delta  # noqa: F401
    import dungbeetle_spark.operators.layout  # noqa: F401
    import dungbeetle_spark.operators.pipeline  # noqa: F401
    import dungbeetle_spark.operators.relational_ext  # noqa: F401
    import dungbeetle_spark.operators.similarity  # noqa: F401
    import dungbeetle_spark.operators.text  # noqa: F401
    import dungbeetle_spark.operators.mixing  # noqa: F401
    import dungbeetle_spark.operators.modern_sql  # noqa: F401
    import dungbeetle_spark.operators.multimodal  # noqa: F401
    import dungbeetle_spark.operators.temporal  # noqa: F401
    import dungbeetle_spark.operators.warehouse  # noqa: F401
    import dungbeetle_spark.streaming.stateful  # noqa: F401
    import dungbeetle_spark.streaming.upsert  # noqa: F401
    import dungbeetle_spark.streaming.windows  # noqa: F401


def registry() -> dict[str, QuerySpec]:
    """All registered specs, in registration order."""
    _import_operator_modules()
    return dict(_REGISTRY)


def _t(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir, names)


# ---------------------------------------------------------------------------
# Reference-parity fixtures: the shipped dungbeetle tasks, mapped onto the
# `events` table (events.user_id/ts/value ≈ entries.user_id/timestamp/amount,
# FIXTURES.md §B). Reference SQL: sql/pg/test.postgres.sql:8-26.
# ---------------------------------------------------------------------------

@query(
    "profit_summary",
    oracle="""
    SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(ts AS DATE) AS entry_date
    FROM events WHERE user_id = 7 GROUP BY CAST(ts AS DATE)
    """,
    doc="get_profit_summary: SUM(amount) by entry_date for one user "
    "(sql/pg/test.postgres.sql:8-12)",
)
def profit_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    return (
        e.filter(F.col("user_id") == 7)
        .groupBy(F.col("ts").cast("date").alias("entry_date"))
        .agg(dsum("value").alias("total"))
        .select("total", "entry_date")
    )


@query(
    "profit_entries",
    oracle="SELECT * FROM events WHERE user_id = 7",
    doc="get_profit_entries: full-projection filter "
    "(sql/pg/test.postgres.sql:14-17)",
)
def profit_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    return e.filter(F.col("user_id") == 7)


@query(
    "profit_entries_by_date",
    oracle="""
    SELECT * FROM events
    WHERE user_id = 7
      AND ts > TIMESTAMP '2024-01-10 00:00:00'
      AND ts < TIMESTAMP '2024-01-20 00:00:00'
    """,
    doc="get_profit_entries_by_date: conjunctive timestamp range "
    "(sql/pg/test.postgres.sql:19-21)",
)
def profit_entries_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    return e.filter(
        (F.col("user_id") == 7)
        & (F.col("ts") > F.lit("2024-01-10 00:00:00").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp_ntz"))
    )


# ---------------------------------------------------------------------------
# Relational capability surface (SURVEY.md §2 Part B "delegated" operators):
# TPC-H-shaped queries over the star schema. Scale notes inline.
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: wide aggregate over lineitem. One map-side-"
    "combinable hash aggregate; scan prunes to 7 columns. fan_out "
    "spreads the decimal-heavy partial aggregate (single-row-group "
    "local file; a real corpus has natural splits).",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = fan_out(_t(spark, sf_dir, "lineitem")["lineitem"])
    disc_price = dmul("l_extendedprice", F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    charge = disc_price * (F.lit(1) + F.col("l_tax").cast("decimal(18,2)"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    doc="TPC-H Q3 shape: fact-fact join + broadcast dim filter + top-k. "
    "customer broadcasts (small side); orders⋈lineitem shuffles on "
    "orderkey; top-k is a TakeOrderedAndProject, no full sort.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    l = t["lineitem"].filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                dmul("l_extendedprice", F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 shape: 6-way snowflake join. supplier/nation/region "
    "broadcast; the only shuffle is orders⋈lineitem on orderkey. "
    "(TPC-H's extra c_nationkey=s_nationkey predicate is dropped: the "
    "synthetic data assigns keys independently, leaving it degenerate.)",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region")
    r = t["region"].filter(F.col("r_name") == "ASIA")
    o = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        t["lineitem"]
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                dmul("l_extendedprice", F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure scan-filter-aggregate; every predicate "
    "pushes to the parquet scan, single-row result.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(dmul("l_extendedprice", "l_discount")).cast("double").alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer, top 20. "
    "Dims broadcast; group-by keys carry customer attrs to avoid a "
    "second join after the aggregate.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    o = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    l = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                dmul("l_extendedprice", F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q7_nation_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           year(l.l_shipdate) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name, year(l.l_shipdate)
    """,
    doc="TPC-H Q7 shape: volume between (customer nation, supplier "
    "nation) pairs per year — the same dimension table joined twice "
    "under different roles. All dims broadcast; one fact shuffle.",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    cn = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(
                dmul("l_extendedprice", F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS DOUBLE) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: promotion revenue share — conditional "
    "aggregation ratio over a fact⋈dim join. part broadcasts; both "
    "sums come out of one pass.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    l = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp_ntz"))
    )
    disc = dmul("l_extendedprice", F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        l.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0) * F.sum(promo).cast("double") / F.sum(disc).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
    doc="TPC-H Q19 shape: disjunctive multi-column predicates across "
    "both join sides — exercises CNF extraction (the per-side "
    "implied filters push to both scans before the join).",
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    j = t["lineitem"].join(
        F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")
    )
    clause = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#9")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(clause).agg(
        F.sum(
            dmul("l_extendedprice", F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "order_priority_count",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS → left-semi join, then count per "
    "priority. Semi join shuffles only the orderkey+shipdate "
    "projection of lineitem.",
)
def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "lineitem")
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    l = t["lineitem"].select("l_orderkey", "l_shipdate")
    semi = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "parts_never_shipped",
    oracle="""
    SELECT p.p_brand, COUNT(*) AS n_parts
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_partkey = p.p_partkey
          AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00')
    GROUP BY p.p_brand
    """,
    doc="NOT EXISTS → left-anti join: parts with no early shipment, "
    "counted per brand.",
)
def parts_never_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "part", "lineitem")
    l = t["lineitem"].filter(
        F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    ).select("l_partkey")
    anti = t["part"].join(l, F.col("p_partkey") == F.col("l_partkey"), "left_anti")
    return anti.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_parts"))


@query(
    "top_events_per_user",
    oracle="""
    SELECT user_id, event_id, value, rn FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rn
        FROM events) WHERE rn <= 3
    """,
    doc="Window top-k per group: row_number over (user, value desc). "
    "One shuffle on user_id; deterministic event_id tiebreak.",
)
def top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


@query(
    "rollup_sales",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="GROUP BY ROLLUP — hierarchical totals in one pass (Spark "
    "expands grouping sets; single shuffle).",
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = fan_out(_t(spark, sf_dir, "lineitem")["lineitem"])
    return l.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@query(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="GROUP BY CUBE over orders; min/max on the full-precision "
    "double column (order-independent, exact).",
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "distinct_part_suppliers",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Multi-distinct aggregation — Catalyst plans an expand + "
    "two-phase aggregate, no driver-side dedup.",
)
def distinct_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = fan_out(_t(spark, sf_dir, "lineitem")["lineitem"])
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "customer_set_ops",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 1000
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal < -900
    """,
    doc="Set operations (INTERSECT / UNION with implicit distinct).",
)
def customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 1000).select("c_custkey")
    poor = c.filter(F.col("c_acctbal") < -900).select("c_custkey")
    return building.intersect(rich).union(poor).distinct()


@query(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="JSON column handling: extract props.k (the reference collapses "
    "JSON/JSONB to a text canonical type, sqldb.go:267-272; querying "
    "it stays first-class here via get_json_object).",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


@query(
    "user_activity_stats",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE) / 1000000.0
               AS active_span_sec
    FROM events GROUP BY user_id
    """,
    doc="Per-user activity profile incl. exact activity span from "
    "integer-microsecond timestamp arithmetic (deterministic cross-"
    "engine; avg-gap = span/(n-1) telescopes so span is the primitive).",
)
def user_activity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        dsum("value").alias("total_value"),
        ((F.max(ts_us) - F.min(ts_us)).cast("double") / F.lit(1000000.0)).alias(
            "active_span_sec"
        ),
    )


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
    doc="Pivot (long→wide) on event_type with explicit value list — "
    "explicit values keep it one pass, no distinct-values pre-query.",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves null for absent combos; the oracle's FILTER counts give 0
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@query(
    "q13_order_distribution",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey)
    GROUP BY n_orders
    """,
    doc="TPC-H Q13 shape: customer LEFT OUTER JOIN orders → per-"
    "customer order count → count distribution. Two shuffles (custkey "
    "then n_orders); COUNT(o_orderkey) makes customers with no orders "
    "count 0, preserving the outer-join semantics through the agg. At "
    "scale the custkey shuffle dominates; the second input is one row "
    "per customer, the third a handful of rows.",
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        t["customer"]
        .join(t["orders"], t["customer"].c_custkey == t["orders"].o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


_Q18_QTY = 150


@query(
    "q18_large_volume_orders",
    oracle=f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > {_Q18_QTY})
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate
    """,
    doc=f"TPC-H Q18 shape: orders whose total quantity exceeds "
    f"{_Q18_QTY}, rejoined to orders+customer. The HAVING pre-"
    "aggregate runs first and acts as a semi-join filter (LeftSemi on "
    "orderkey), so the expensive 3-way join only sees qualifying "
    "orders — at 100 TB the filter reduces the join input by orders "
    "of magnitude before any wide row is assembled.",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    l, o, c = t["lineitem"], t["orders"], t["customer"]
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("tq"))
        .filter(F.col("tq") > _Q18_QTY)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "bk"), o.o_orderkey == F.col("bk"), "left_semi")
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate")
        .agg(dsum("l_quantity").alias("total_qty"))
    )


@query(
    "q22_idle_customers",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(CAST(c_acctbal AS DECIMAL(18,2)))
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    GROUP BY c_nationkey
    """,
    doc="TPC-H Q22 shape: above-average-balance customers with no "
    "recent orders (the fixture gives every customer *some* order, so "
    "the anti join runs against the recent-order subset to have real "
    "survivors) — scalar subquery (computed once, broadcast as a "
    "literal) + LeftAnti join on custkey + aggregate. The anti join "
    "shuffles only keys; the recency filter pushes to the orders "
    "scan.",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg(F.col("c_acctbal").cast("decimal(18,2)")).alias("a"))
    )
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("a")).drop("a")
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-06-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )


@query(
    "q2_min_price_supplier",
    oracle="""
    WITH costs AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS price
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    ranked AS (
      SELECT l_partkey, l_suppkey, price,
             MIN(price) OVER (PARTITION BY l_partkey) AS best
      FROM costs)
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name AS nation, r.price
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE r.price = r.best AND p.p_size < 5
    """,
    doc="TPC-H Q2 shape (partsupp stood in by lineitem's part-supplier "
    "pairs): cheapest supplier per part via a window MIN over the "
    "grouped price list — one shuffle on l_partkey serves both the "
    "window and the equality filter (no correlated re-scan). Part is "
    "filtered on p_size before its join; supplier/nation broadcast.",
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "part", "supplier", "nation", "lineitem")
    costs = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("price"))
    )
    w = W.partitionBy("l_partkey")
    best = costs.withColumn("best", F.min("price").over(w)).filter(
        F.col("price") == F.col("best")
    )
    p = t["part"].filter(F.col("p_size") < 5)
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(t["supplier"]), best.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "p_name", "s_name", F.col("n_name").alias("nation"), "price")
    )


_SALT_BUCKETS = 8


@query(
    "salted_segment_activity",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc=f"Manually salted fact⋈dim join: the fact side adds a "
    f"deterministic {_SALT_BUCKETS}-bucket salt (hash of event_id), "
    f"the dim side replicates ×{_SALT_BUCKETS} via explode, and the "
    "join keys on (user_id, salt) — a hot user's rows now spread "
    "over 8 reducers instead of one. This is the explicit-salting "
    "pattern for engines/paths where AQE skew-splitting can't help "
    "(streaming joins, aggregation-free pipelines); with AQE on a "
    "batch plan you'd skip it (see session.py skewJoin config) — the "
    "oracle is the plain unsalted join, proving salting never changes "
    "results.",
)
def salted_segment_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "events", "customer")
    e, c = t["events"], t["customer"]
    salt_e = F.pmod(F.xxhash64("event_id"), F.lit(_SALT_BUCKETS)).alias("salt")
    e_s = e.select("user_id", "value", salt_e)
    c_s = c.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)])).alias("salt"),
    )
    return (
        e_s.join(c_s, (e_s.user_id == c_s.c_custkey) & (e_s.salt == c_s.salt))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@query(
    "sketch_user_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS hll_within_5pct,
           TRUE AS p50_in_band,
           TRUE AS p95_in_band,
           TRUE AS p99_in_band
    FROM events GROUP BY event_type
    """,
    doc="Sketch aggregates per event_type with a cross-engine error "
    "bound check: HyperLogLog++ distinct users (approx_count_distinct, "
    "rsd 1%) and approximate value quantiles (percentile_approx, "
    "accuracy 10000) run alongside their EXACT twins in the same "
    "aggregate pass, and what the driver hashes is the exact columns "
    "plus booleans asserting the sketch landed inside its bound (HLL "
    "within 5% of exact; each quantile between the exact interpolated "
    "percentiles at q±0.01 — percentile_approx guarantees rank error "
    "<= n/accuracy = n/10000, far inside the 1%-rank band). The "
    "sketch values themselves have no DuckDB twin (engine-internal "
    "HLL/GK internals), so the oracle pins the booleans to TRUE: a "
    "sketch drifting outside its published bound hash-mismatches. At "
    "100 TB the sketches replace exact distinct/percentile where a "
    "bounded-memory mergeable summary is the only thing that fits.",
)
def sketch_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the sketch aggregate is ONE map-side-combinable
    pass whose shuffle carries per-group sketch kilobytes — HLL
    registers and GK quantile summaries only, both bounded-memory
    mergeable state (ADVICE r06: exact F.percentile used to ride this
    aggregate, whose partial state buffers EVERY value per group — a
    data-scale object buffer that voided the kilobytes claim). Both
    exact twins run as their OWN passes and broadcast-join back on
    the 5-row frame: the distinct twin as a two-level aggregate
    (distinct (type, user) pairs → per-type count; folding
    countDistinct into the sketch aggregate re-keys every sketch
    buffer per (type, user) — a measured 9x cliff), the percentile
    twin as a separate object aggregate that is explicitly the
    DIAGNOSTIC side: it buffers values per group by definition of an
    exact percentile, and at 100 TB it is the thing the sketches
    exist to replace. HLL bound check is pure int64 algebra
    (|approx-exact|*20 <= exact ⇔ err <= 5%)."""
    e = _t(spark, sf_dir, "events")["events"]
    sketches = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("_approx_users"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000).alias("_qa"),
        F.count(F.lit(1)).alias("n_events"),
    )
    exact_q = e.groupBy("event_type").agg(
        F.percentile("value", [0.49, 0.51, 0.94, 0.96, 0.98, 1.0]).alias(
            "_qe"
        ),
    )
    exact = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    agg = sketches.join(F.broadcast(exact_q), "event_type").join(
        F.broadcast(exact), "event_type"
    )

    def _band(approx_idx: int, lo_idx: int, hi_idx: int):
        a = F.element_at("_qa", approx_idx)
        return (a >= F.element_at("_qe", lo_idx)) & (
            a <= F.element_at("_qe", hi_idx)
        )

    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(
                F.col("_approx_users") * F.lit(20)
                - F.col("exact_users") * F.lit(20)
            )
            <= F.col("exact_users")
        ).alias("hll_within_5pct"),
        _band(1, 1, 2).alias("p50_in_band"),
        _band(2, 3, 4).alias("p95_in_band"),
        _band(3, 5, 6).alias("p99_in_band"),
    )
