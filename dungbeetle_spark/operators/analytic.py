"""Analytic extensions: grouped-agg pandas UDAF + interval range frames.

Completes the user-defined-function taxonomy from SURVEY.md §2 (scalar
pandas UDFs, mapInPandas, UDTF, applyInPandasWithState already exist
elsewhere) with the remaining member — a **grouped-aggregate pandas
UDAF** — and adds the remaining window-frame shape: an event-time
**RANGE BETWEEN INTERVAL** frame.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dungbeetle_spark.functions.texts import md5_hash60_sql
from dungbeetle_spark.operators.ranks import global_ntile
from dungbeetle_spark.planmode import maybe_local_checkpoint
from dungbeetle_spark.queries import _t, query


@query(
    "udaf_median_value",
    oracle="""
    SELECT event_type, median(value) AS median_value, COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="Grouped-aggregate pandas UDAF: exact per-group median via an "
    "Arrow-batched Series→scalar aggregate (the one UDF family the "
    "other operators don't already cover). Median is order-"
    "insensitive, and even-count groups average the two middle "
    "2-decimal values identically in pandas and DuckDB, so the UDAF "
    "output is value-exact cross-engine. At scale each group's values "
    "stream to one Arrow batch — fine for bounded groups (per-type "
    "medians); unbounded groups would use percentile_approx sketches "
    "(see sketch_user_stats).",
)
def udaf_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]

    @F.pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(v.median())

    # Spark disallows mixing grouped-agg pandas UDFs with JVM
    # aggregates in one agg() — the row count rides as a second UDAF.
    @F.pandas_udf("long")
    def count_udaf(v: pd.Series) -> int:
        return len(v)

    return e.groupBy("event_type").agg(
        median_udaf("value").alias("median_value"),
        count_udaf("value").alias("n"),
    )


@query(
    "moving_avg_user_value",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS avg_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    doc="Event-time sliding aggregate: per event, the user's average "
    "value over the trailing hour — a RANGE BETWEEN INTERVAL frame, "
    "not a row frame. Spark expresses interval ranges as rangeBetween "
    "on epoch MICROSECONDS (the fixture's timestamps are "
    "microsecond-precision; a seconds-granularity key would shear "
    "frame boundaries off the oracle's). Decimal-exact numerator, one "
    "double division; single user_id shuffle.",
)
def moving_avg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    hour_us = 3_600 * 1_000_000
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-hour_us, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("avg_1h"),
    )


@query(
    "window_rank_family",
    oracle="""
    SELECT event_id, user_id,
           NTILE(4) OVER w AS quartile,
           CAST(PERCENT_RANK() OVER w AS DOUBLE) AS pct_rank,
           CAST(CUME_DIST() OVER w AS DOUBLE) AS cume,
           LAG(value) OVER t AS prev_value,
           LEAD(value) OVER t AS next_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id),
           t AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="The remaining window-function family in one pass: NTILE "
    "bucketing and the rank ratios (PERCENT_RANK / CUME_DIST — "
    "integer-count ratios in one double division, bit-exact "
    "cross-engine) over a value ordering, plus LAG/LEAD neighbors "
    "over an event-time ordering. Both orderings carry event_id "
    "tiebreaks so every rank is total; Catalyst plans the two frames "
    "over ONE user_id shuffle (same partitioning, two sorts).",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("value", "event_id")
    t = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("value").over(t).alias("prev_value"),
        F.lead("value").over(t).alias("next_value"),
    )


@query(
    "user_event_sequence",
    oracle="""
    SELECT user_id,
           string_agg(event_type, '->' ORDER BY ts, event_id) AS sequence,
           COUNT(*) AS n_events
    FROM (SELECT user_id, event_type, ts, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rk
          FROM events) t
    WHERE rk <= 8
    GROUP BY user_id
    """,
    doc="Ordered sequence aggregation: each user's first 8 events as a "
    "'->'-joined behavioral string (the session-path feature "
    "LLM-pipeline labelers consume). collect_list has no ordering "
    "guarantee under parallel aggregation, so order is imposed "
    "DETERMINISTICALLY: sort_array over (ts, event_id, type) structs "
    "— struct comparison is lexicographic, and event_id breaks ts "
    "ties — then transform extracts the types. WindowGroupLimit "
    "prunes to 8 rows per user pre-aggregate; string output (not "
    "array) keeps the result canonical-type friendly.",
)
def user_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first_n = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 8)
    )
    return (
        first_n.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.array_join(
                F.transform("evs", lambda s: s["event_type"]), "->"
            ).alias("sequence"),
            "n_events",
        )
    )


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


@query(
    "profile_orders_columns",
    oracle="""
    SELECT 'o_orderkey' AS column_name,
           COUNT(*) - COUNT(o_orderkey) AS n_null,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
    doc="Column profiling (the data-quality pass a pipeline runs before "
    "training ingest): null count, exact distinct count, min/max per "
    "column, one output row per column. Computed in a SINGLE scan — "
    "all per-column aggregates in one agg, then stack() unpivots to "
    "long form (the oracle's UNION ALL re-scans instead; DuckDB scans "
    "are cheap at fixture scale, Spark's plan is the 100 TB shape). "
    "min/max stringify AFTER aggregating on the native type, so "
    "numeric ordering is preserved. Only int/string columns profiled: "
    "float-to-string rendering differs across engines.",
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__null`, `{c}__distinct`, `{c}__min`, `{c}__max`"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_null, n_distinct, min_value, max_value)"
    )


@query(
    "embedding_array_stats",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           CAST(list_max(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS max_val,
           CAST(list_min(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS min_val,
           CAST(list_position(CAST(embedding AS DOUBLE[]),
                              list_max(CAST(embedding AS DOUBLE[]))) AS INT)
             AS argmax_pos
    FROM embeddings
    """,
    doc="JVM-side higher-order array functions over the embedding "
    "column: size / array_max / array_min / array_position (1-based, "
    "matching DuckDB list_position), all order-free semantics so "
    "float32→double widening stays value-exact cross-engine. This is "
    "the zero-Python vector-column fast path — sums/means stay off "
    "this list on purpose (fold order is engine-defined; ordered "
    "folds live in functions/vectors.py with an explicit sequential "
    "contract).",
)
def embedding_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_max(emb).alias("max_val"),
        F.array_min(emb).alias("min_val"),
        F.array_position(emb, F.array_max(emb)).cast("int").alias("argmax_pos"),
    )


@query(
    "embedding_quantize",
    oracle="""
    WITH prep AS (
        SELECT vec_id,
               CAST(embedding AS DOUBLE[]) AS e,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) AS m
        FROM embeddings
    )
    SELECT vec_id,
           CAST(m AS DOUBLE) AS max_abs,
           CAST(len(list_filter(e,
                x -> abs(floor(127 * x / m + 0.5)) >= 127)) AS BIGINT)
               AS n_saturated,
           CAST(list_max(list_transform(e,
                x -> abs(x - floor(127 * x / m + 0.5) * m / 127))) AS DOUBLE)
               AS max_abs_err
    FROM prep
    WHERE m > 0
    """,
    doc="Symmetric int8 quantization audit per vector: scale = "
    "max|x|/127, q = floor(127*x/scale... + 0.5), reporting saturated "
    "dims and the max reconstruction error. All error metrics are "
    "per-dim MAX (order-free — float SUM fold order is engine-defined "
    "and stays out of oracle-checked columns). The compression step "
    "before shipping 100 TB of embeddings to an ANN index.",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization stats, zero Python: higher-order array
    expressions inside codegen. floor(x + 0.5) is used instead of
    round() because round's half-tie convention differs across
    engines while floor is floor everywhere — the identical
    expression tree yields bit-identical doubles in Spark and DuckDB.
    """
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    m = F.array_max(F.transform(emb, lambda x: F.abs(x)))
    # The per-row scale m must reach the per-element lambdas through
    # zip_with ARGUMENTS (array_repeat, evaluated once per row), not a
    # col("m") reference inside the lambda body: projection collapse
    # inlines the aliased array_max there and re-runs the O(dim) max
    # per ELEMENT — O(dim^2) per row at real embedding widths (see
    # word_ngrams). Expression trees per element are unchanged
    # ((127*x)/m, (q*m)/127 — same associativity), so every double is
    # bit-identical to the previous form.
    mm = F.array_repeat(F.col("m"), F.size("e"))
    qd = F.zip_with(
        "e", mm, lambda x, mv: F.floor(F.lit(127) * x / mv + F.lit(0.5))
    )
    deq = F.zip_with(qd, mm, lambda q, mv: q * mv / F.lit(127))
    return (
        e.select("vec_id", emb.alias("e"), m.alias("m"))
        .filter(F.col("m") > 0)
        .select(
            "vec_id",
            F.col("m").alias("max_abs"),
            F.size(F.filter(qd, lambda q: F.abs(q) >= 127))
            .cast("long")
            .alias("n_saturated"),
            F.array_max(
                F.zip_with("e", deq, lambda x, dq: F.abs(x - dq))
            ).alias("max_abs_err"),
        )
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT stage, stage_order, n_users FROM (
        SELECT 'view' AS stage, 1 AS stage_order,
               CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
        UNION ALL
        SELECT 'click', 2, CAST((SELECT COUNT(*) FROM c) AS BIGINT)
        UNION ALL
        SELECT 'purchase', 3, CAST((SELECT COUNT(*) FROM p) AS BIGINT)
    )
    """,
    doc="Ordered funnel conversion (view -> later click -> later "
    "purchase): per-stage user counts where each stage's first event "
    "must strictly follow the previous stage's first event. Min-per-"
    "user aggregates + user_id-co-keyed joins — one shuffle key "
    "reused across every stage.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic product-analytics funnel, expressed so every stage
    shares the user_id shuffle key (Catalyst reuses the partitioning
    instead of reshuffling per stage). Timestamp comparisons are
    exact microseconds — no window buckets to disagree on.
    """
    e = _t(spark, sf_dir, "events")["events"]
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage_count(df: DataFrame, stage: str, order: int) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(stage).alias("stage"),
            F.lit(order).alias("stage_order"),
            F.col("n_users"),
        )

    return (
        stage_count(v, "view", 1)
        .unionAll(stage_count(c, "click", 2))
        .unionAll(stage_count(p, "purchase", 3))
    )


@query(
    "cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, CAST(date_trunc('week', e.ts) AS DATE) AS w
        FROM events e
    )
    SELECT f.cohort_week,
           CAST((a.w - f.cohort_week) / 7 AS INT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY f.cohort_week, week_offset
    """,
    doc="Weekly cohort retention: users bucketed by first-activity "
    "week (ISO Monday truncation, identical in both engines), counted "
    "in each subsequent active week. Two user_id-keyed aggregates "
    "sharing one shuffle; output bounded by weeks².",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort × week-offset retention triangle. week_offset is integer
    day-difference / 7 on week-truncated dates — engine-convention-free
    (both engines truncate weeks to Monday; datediff of two Mondays is
    always a multiple of 7).
    """
    e = _t(spark, sf_dir, "events")["events"]
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("w")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("w"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "user_value_outliers",
    oracle="""
    WITH stats AS (
        SELECT user_id,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
        HAVING COUNT(*) > 1
    ),
    scored AS (
        SELECT e.event_id, e.user_id, e.value,
               round((e.value - s.s1 / s.n)
                     / sqrt((s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))
                            * (s.n / (s.n - 1))), 6) AS z
        FROM events e JOIN stats s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase'
          AND (s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)) > 0
    )
    SELECT event_id, user_id, value, z
    FROM scored WHERE abs(z) > 2.5
    """,
    doc="Per-user purchase-value outliers (|z| > 2.5). Mean and "
    "variance derive from DECIMAL-EXACT sums (value and value² are "
    "2- and 4-decimal-exact) so the statistics are order-free; only "
    "the final mean/variance/z arithmetic is floating point, and the "
    "identical expression tree runs in both engines. One shuffle on "
    "user_id, stats broadcast back onto the events.",
)
def user_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flagging with cross-engine-stable statistics.

    Float SUMs are order-dependent under parallel aggregation, so the
    moments are accumulated as exact decimals (the trick every
    decimal-exact oracle in queries.py uses) and converted to double
    only for the closed-form mean/var/z — bit-identical in Spark and
    DuckDB because the expression trees match.
    """
    e = _t(spark, sf_dir, "events")["events"]
    purchases = e.filter(F.col("event_type") == "purchase")
    dec = F.col("value").cast("decimal(18,2)")
    stats = (
        purchases.groupBy("user_id")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum(dec).cast("double").alias("s1"),
            F.sum(dec * dec).cast("double").alias("s2"),
        )
        .filter(F.col("n") > 1)
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") / F.col("n") - mean * mean) * (
        F.col("n") / (F.col("n") - 1)
    )
    z = F.round((F.col("value") - mean) / F.sqrt(var), 6)
    return (
        purchases.join(F.broadcast(stats), "user_id")
        .filter(F.col("s2") / F.col("n") - mean * mean > 0)
        .select("event_id", "user_id", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.5)
    )


@query(
    "pagerank_trade_graph",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
      UNION ALL
      SELECT s * 2 + 1, c * 2 FROM e0),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
    c1 AS (
      SELECT e.dst AS node, SUM((r.r // g.d) * 85 // 100) AS contrib
      FROM edges e
      JOIN r0 r ON e.src = r.node
      JOIN deg g ON e.src = g.src
      GROUP BY e.dst),
    r1 AS (
      SELECT n.node, 150000 + COALESCE(c.contrib, 0) AS r
      FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
    c2 AS (
      SELECT e.dst AS node, SUM((r.r // g.d) * 85 // 100) AS contrib
      FROM edges e
      JOIN r1 r ON e.src = r.node
      JOIN deg g ON e.src = g.src
      GROUP BY e.dst),
    r2 AS (
      SELECT n.node, 150000 + COALESCE(c.contrib, 0) AS r
      FROM nodes n LEFT JOIN c2 c ON n.node = c.node)
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS node_key,
           CAST(r AS BIGINT) AS rank_micros
    FROM r2
    """,
    doc="PageRank (Page et al. 1999), two power iterations over the "
    "bipartite customer↔supplier trade graph (distinct lineitem "
    "pairs, both directions so rank flows both ways), damping 0.85. "
    "Ranks are integer MICROS and every per-edge contribution is "
    "((r DIV deg) * 85) DIV 100 in bigint — floor division on "
    "positive integers is bit-identical in Spark, DuckDB, and any "
    "engine, so the iterative fixed-point needs no tolerance: the "
    "oracle unrolls the identical two iterations relationally. "
    "Completes the iterative-algorithm family next to "
    "dedup_components (label propagation) and kmeans_clusters "
    "(Lloyd).",
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the edge list (fact-scale) is built once, degree-
    joined, hash-partitioned on src, and localCheckpoint'd — each
    iteration then reuses that partitioning and only the rank table
    (node-cardinality, orders of magnitude smaller) moves through the
    join shuffle. Checkpoints are lazy (r07): one shared RDD per
    barrier still evaluates once, but materialization rides the
    consuming action instead of a separate job each — measured ~10-20%
    off the query's wall time. Because edges are symmetric every node has in-edges,
    so no separate node table or left join exists: iteration 1's
    uniform prior folds into the edge scan as a constant (one groupBy,
    no rank join at all), and each round's output covers all nodes by
    construction. Lineage truncates between rounds only (the final
    round flows straight to the consumer); ranks never collect to the
    driver."""
    t = _t(spark, sf_dir, "lineitem", "orders")
    e0 = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = e0.select(F.col("cnode").alias("src"), F.col("snode").alias("dst")).union(
        e0.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # One edge-side shuffle for the whole run: degree join + explicit
    # src partitioning, then checkpoint so neither is recomputed per
    # iteration.
    # lazy: one RDD shared by every iteration still evaluates once,
    # without a separate up-front job per checkpoint
    edges_d = maybe_local_checkpoint(
        edges.join(deg, "src").repartition("src"), eager=False
    )
    n_iters = 2
    # Iteration 1: every rank is the uniform 1,000,000-micro prior, so
    # the rank "join" is a constant expression on the edge scan.
    ranks = (
        edges_d.select(
            "dst", F.expr("((1000000 DIV d) * 85) DIV 100").alias("w")
        )
        .groupBy(F.col("dst").alias("node"))
        .agg((F.lit(150_000) + F.sum("w")).cast("long").alias("r"))
        .transform(maybe_local_checkpoint, eager=False)
    )
    for it in range(1, n_iters):
        ranks = (
            edges_d.join(ranks, edges_d.src == ranks.node)
            .select("dst", F.expr("((r DIV d) * 85) DIV 100").alias("w"))
            .groupBy(F.col("dst").alias("node"))
            .agg((F.lit(150_000) + F.sum("w")).cast("long").alias("r"))
        )
        if it < n_iters - 1:
            # checkpoint BETWEEN iterations only: it truncates the
            # lineage the next round would re-execute; the last
            # round's output flows straight to the consumer, saving
            # one materialization barrier.
            ranks = maybe_local_checkpoint(ranks, eager=False)
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node DIV 2").alias("node_key"),
        F.col("r").alias("rank_micros"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2),
    totals AS (
      SELECT from_type, SUM(n) AS tot FROM trans GROUP BY 1)
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n * 1000 // x.tot AS BIGINT) AS permille
    FROM trans t JOIN totals x ON t.from_type = x.from_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "journeys: for every (from, to) event-type pair, the transition "
    "count and its per-mille share of the from-state's outgoing "
    "transitions (integer floor division — exact cross-engine; a "
    "probability double would hash-wobble). Successor order is "
    "(ts, event_id) so same-timestamp events have a deterministic "
    "sequence. The journey analysis behind sankey/flow dashboards.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE user_id shuffle feeds the lead() window; the
    transition aggregate partial-aggregates map-side down to
    |event_types|² rows (25 here), and the denominator join is over
    that tiny matrix — the fact table is scanned and shuffled exactly
    once."""
    e = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("CAST(n * 1000 DIV tot AS BIGINT)").alias("permille"),
        )
    )


@query(
    "anomaly_daily_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    trail AS (
      SELECT event_type, day, cnt,
             CAST(COUNT(*)        OVER w AS BIGINT) AS trail_n,
             CAST(SUM(cnt)        OVER w AS BIGINT) AS trail_sum,
             CAST(SUM(cnt * cnt)  OVER w AS BIGINT) AS trail_sumsq
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, cnt, trail_n, trail_sum, trail_sumsq,
           (trail_n = 7
            AND cnt * trail_n > trail_sum
            AND CAST(cnt * trail_n - trail_sum AS DOUBLE)
                * CAST(cnt * trail_n - trail_sum AS DOUBLE)
              > 4.0 * CAST(trail_n * trail_sumsq - trail_sum * trail_sum
                           AS DOUBLE)) AS is_spike
    FROM trail
    """,
    doc="Rolling z-score anomaly detection on daily event volumes: per "
    "event type, a trailing window of the 7 most recent ACTIVE days "
    "(days with zero events are absent from the daily pre-aggregate, "
    "so the ROWS frame skips over calendar gaps -- gap-fill first if "
    "strict calendar windows are needed, as gap_fill_daily does); a "
    "day is a spike when it sits more than 2 sigmas above the window "
    "mean. The test "
    "z > 2 is algebraically cleared of divisions -- "
    "(n*c - sum)^2 > 4*(n*sumsq - sum^2) with an above-mean guard -- "
    "so every emitted value is integer-exact and the one comparison "
    "runs on doubles both engines derive from identical int64s. The "
    "monitoring primitive behind volume alerting.",
)
def anomaly_daily_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the daily pre-aggregate partial-combines map-side
    down to |types| x |days| rows BEFORE the window; the rolling frame
    then runs over that tiny series (one shuffle on event_type), never
    over raw events. Population variance of the trailing window incl.
    the current day -- the simple online form; n is pinned to full
    7-day baselines so early-series days never alert."""
    e = _t(spark, sf_dir, "events")["events"]
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    trail = daily.select(
        "event_type",
        "day",
        "cnt",
        F.count(F.lit(1)).over(w).alias("trail_n"),
        F.sum("cnt").over(w).alias("trail_sum"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("trail_sumsq"),
    )
    dev = (F.col("cnt") * F.col("trail_n") - F.col("trail_sum")).cast("double")
    var_n2 = (
        F.col("trail_n") * F.col("trail_sumsq")
        - F.col("trail_sum") * F.col("trail_sum")
    ).cast("double")
    return trail.withColumn(
        "is_spike",
        (F.col("trail_n") == 7)
        & (F.col("cnt") * F.col("trail_n") > F.col("trail_sum"))
        & (dev * dev > F.lit(4.0) * var_n2),
    )


@query(
    "anomaly_calendar_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    spans AS (
      SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      FROM daily GROUP BY event_type),
    cal AS (
      SELECT event_type,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM spans),
    filled AS (
      SELECT c.event_type, c.day,
             CAST(COALESCE(d.cnt, 0) AS BIGINT) AS cnt
      FROM cal c LEFT JOIN daily d
        ON c.event_type = d.event_type AND c.day = d.day),
    trail AS (
      SELECT event_type, day, cnt,
             CAST(COUNT(*)        OVER w AS BIGINT) AS trail_n,
             CAST(SUM(cnt)        OVER w AS BIGINT) AS trail_sum,
             CAST(SUM(cnt * cnt)  OVER w AS BIGINT) AS trail_sumsq
      FROM filled
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, cnt, trail_n, trail_sum, trail_sumsq,
           (trail_n = 7
            AND cnt * trail_n > trail_sum
            AND CAST(cnt * trail_n - trail_sum AS DOUBLE)
                * CAST(cnt * trail_n - trail_sum AS DOUBLE)
              > 4.0 * CAST(trail_n * trail_sumsq - trail_sum * trail_sum
                           AS DOUBLE)) AS is_spike
    FROM trail
    """,
    doc="Calendar-window twin of anomaly_daily_zscore (VERDICT r06 "
    "item 8): per event type, a dense calendar spine between the "
    "type's first and last active day (gap_fill_daily's "
    "generate_series construction) zero-fills silent days, so the "
    "trailing 7-ROWS frame is a true trailing 7 CALENDAR days -- the "
    "semantics the monitoring literature wants, where a quiet week "
    "LOWERS the baseline and a return-to-normal day can alert. Same "
    "division-free integer z-test as the sibling: "
    "(n*c - sum)^2 > 4*(n*sumsq - sum^2) with an above-mean guard, "
    "full-baseline days only.",
)
def anomaly_calendar_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the ONLY fact-scale pass is the daily
    pre-aggregate (map-side combined, one event_type+day shuffle).
    The spine explodes |types| span rows into |types| x |span_days|
    calendar rows -- calendar-bounded (decades = ~10^4 rows/type),
    never event-scale -- and the fill join + trailing window run on
    that tiny frame, partitioned by event_type. One added shuffle vs
    the sibling (the spans aggregate feeding the explode)."""
    e = _t(spark, sf_dir, "events")["events"]
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spans = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = spans.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    filled = (
        cal.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
        )
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    trail = filled.select(
        "event_type",
        "day",
        "cnt",
        F.count(F.lit(1)).over(w).alias("trail_n"),
        F.sum("cnt").over(w).alias("trail_sum"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("trail_sumsq"),
    )
    dev = (F.col("cnt") * F.col("trail_n") - F.col("trail_sum")).cast("double")
    var_n2 = (
        F.col("trail_n") * F.col("trail_sumsq")
        - F.col("trail_sum") * F.col("trail_sum")
    ).cast("double")
    return trail.withColumn(
        "is_spike",
        (F.col("trail_n") == 7)
        & (F.col("cnt") * F.col("trail_n") > F.col("trail_sum"))
        & (dev * dev > F.lit(4.0) * var_n2),
    )


@query(
    "incremental_agg_maintenance",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_spend,
           CAST(MAX(o_orderdate) AS DATE) AS last_order_day
    FROM orders GROUP BY o_custkey
    """,
    doc="Incremental materialized-view maintenance: the per-customer "
    "lifetime aggregate is kept as a snapshot (orders before "
    "2000-01-01, pre-aggregated) and refreshed by aggregating ONLY "
    "the delta (orders since), then merging the two partial-aggregate "
    "sets by re-aggregation -- SUM of sums, SUM of counts, MAX of "
    "maxes. Works because (count, decimal-sum, max) is a commutative "
    "monoid; the oracle recomputes from scratch and must match "
    "exactly. The pattern that turns a daily 100 TB rescan into a "
    "1 TB delta pass.",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the snapshot side is what a stored MV table IS --
    here rebuilt from the historical partition for self-containment,
    in production read back pre-aggregated (|customers| rows, no fact
    scan). The delta aggregate shuffles only delta keys; the merge
    union re-aggregates |customers|+|delta keys| partial rows. Uses
    union + re-agg rather than a full-outer join: no join at all, and
    the same code path merges any number of increments."""
    o = _t(spark, sf_dir, "orders")["orders"]
    cutoff = F.lit("2000-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend_dec"),
            F.max("o_orderdate").alias("last_ts"),
        )

    snapshot = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        snapshot.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("order_cnt").alias("order_cnt"),
            F.sum("spend_dec").cast("double").alias("total_spend"),
            F.max("last_ts").cast("date").alias("last_order_day"),
        )
    )


@query(
    "triangle_cohorts",
    oracle="""
    WITH li AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p,
             DATE_TRUNC('month', l.l_shipdate) AS m
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_quantity >= 44),
    e AS (
      SELECT DISTINCT a.c AS x, b.c AS y
      FROM li a JOIN li b ON a.p = b.p AND a.m = b.m AND a.c < b.c),
    tri AS (
      SELECT e1.x AS a, e1.y AS b, e2.y AS c
      FROM e e1
      JOIN e e2 ON e1.y = e2.x
      JOIN e e3 ON e1.x = e3.x AND e2.y = e3.y),
    nodes AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
    SELECT node AS custkey, CAST(COUNT(*) AS BIGINT) AS triangles
    FROM nodes GROUP BY node
    """,
    doc="Triangle counting over the customer co-purchase graph "
    "(customers linked when they ship the same part in the same "
    "month at bulk quantity): per-customer triangle participation -- "
    "the clustering signal behind community/cohort detection and "
    "fraud-ring analysis. Edges are oriented low-id -> high-id so "
    "each triangle is generated exactly once as an (a<b<c) wedge "
    "closed by one membership join. Completes the graph family next "
    "to pagerank_trade_graph and dedup_components.",
)
def triangle_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: candidate pairs come from (part, month) posting
    lists -- cost Sum |posting|^2 like the ngram similarity join,
    never |V|^2 -- and the wedge join runs on oriented edges, whose
    fan-out is bounded by per-node out-degree. At 100 TB the standard
    hardening is degree-ordered relabeling (rank nodes by degree,
    orient toward the higher rank), which caps out-degree at
    O(sqrt(|E|)); id order stands in for that rank here and keeps the
    oracle relational. Both joins shuffle only the edge list (tiny
    vs the fact table); the fact scan happens once."""
    t = _t(spark, sf_dir, "lineitem", "orders")
    li = (
        t["lineitem"]
        .filter(F.col("l_quantity") >= 44)
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_partkey").alias("p"),
            F.date_trunc("month", "l_shipdate").alias("m"),
        )
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.m") == F.col("b.m"))
            & (F.col("a.c") < F.col("b.c")),
        )
        .select(F.col("a.c").alias("x"), F.col("b.c").alias("y"))
        .distinct()
        # Materialize the (tiny) edge list once: it feeds three join
        # sides, and without the checkpoint Catalyst re-executes the
        # whole fact-scan + posting-list self-join per consumer — 9
        # fact scans instead of 1. Lazy: the one shared RDD still
        # evaluates once, inside the consuming action.
        .transform(maybe_local_checkpoint, eager=False)
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.y") == F.col("e2.x"))
        .join(
            e3,
            (F.col("e1.x") == F.col("e3.x")) & (F.col("e2.y") == F.col("e3.y")),
        )
        .select(F.col("e1.x").alias("a"), F.col("e1.y").alias("b"), F.col("e2.y").alias("c"))
    )
    # explode, not a 3-way union: one pass over the triangle set
    nodes = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return nodes.groupBy(F.col("node").alias("custkey")).agg(
        F.count(F.lit(1)).alias("triangles")
    )


@query(
    "funnel_time_bounded",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, v.t_view, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
          AND e.ts <= v.t_view + INTERVAL 72 HOUR
        GROUP BY e.user_id, v.t_view
    ),
    p AS (
        SELECT e.user_id, c.t_view, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          AND e.ts <= c.t_view + INTERVAL 72 HOUR
        GROUP BY e.user_id, c.t_view
    )
    SELECT stage, stage_order, n_users, mean_wait_us FROM (
        SELECT 'view' AS stage, 1 AS stage_order,
               CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users,
               CAST(0 AS BIGINT) AS mean_wait_us
        UNION ALL
        SELECT 'click', 2, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(epoch_us(t_click) - epoch_us(t_view))
                    // COUNT(*) AS BIGINT)
        FROM c
        UNION ALL
        SELECT 'purchase', 3, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(epoch_us(t_purchase) - epoch_us(t_view))
                    // COUNT(*) AS BIGINT)
        FROM p
    )
    """,
    doc="Conversion-window funnel: view -> later click -> later "
    "purchase, where every downstream stage must land within 72 "
    "hours of the user's FIRST view (the start-anchored attribution "
    "window product analytics defines funnels by -- without it a "
    "conversion months later still 'counts'). Emits per-stage user "
    "counts plus mean time-from-funnel-start in integer microseconds "
    "(sum DIV count -- exact cross-engine; a double mean would "
    "hash-wobble). Complements funnel_conversion (unbounded) the way "
    "windowed joins complement plain joins.",
)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to funnel_conversion -- min-per-user
    pre-aggregates and user_id-co-keyed joins reuse ONE shuffle key
    across stages; the 72h bound is a per-row filter after each join
    (no extra shuffle), and at scale it also bounds state: a
    streaming port can drop funnel state at watermark + 72h."""
    e = _t(spark, sf_dir, "events")["events"]
    bound = F.expr("INTERVAL 72 HOURS")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("t_view") + bound))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("t_view") + bound)
        )
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, name: str, order: int, t_col: str | None) -> DataFrame:
        if t_col is None:
            agg = df.agg(
                F.count(F.lit(1)).alias("n_users"),
                F.lit(0).cast("long").alias("mean_wait_us"),
            )
        else:
            agg = df.agg(
                F.count(F.lit(1)).alias("n_users"),
                F.expr(
                    f"CAST(sum(unix_micros(CAST({t_col} AS TIMESTAMP))"
                    " - unix_micros(CAST(t_view AS TIMESTAMP)))"
                    " DIV count(*) AS BIGINT)"
                ).alias("mean_wait_us"),
            )
        return agg.select(
            F.lit(name).alias("stage"),
            F.lit(order).alias("stage_order"),
            "n_users",
            "mean_wait_us",
        )

    return (
        stage(v, "view", 1, None)
        .unionAll(stage(c, "click", 2, "t_click"))
        .unionAll(stage(p, "purchase", 3, "t_purchase"))
    )


@query(
    "frequent_item_pairs",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    n_orders AS (SELECT COUNT(DISTINCT o) AS total FROM op),
    part_supp AS (SELECT p, COUNT(*) AS sup FROM op GROUP BY p),
    pair_supp AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS support
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2)
    SELECT p1, p2, CAST(support AS BIGINT) AS support,
           CAST(support * total * 1000000 // (s1.sup * s2.sup) AS BIGINT)
             AS lift_ppm
    FROM pair_supp
    JOIN part_supp s1 ON p1 = s1.p
    JOIN part_supp s2 ON p2 = s2.p
    CROSS JOIN n_orders
    WHERE support >= 3
    """,
    doc="Market-basket frequent pairs: part pairs co-occurring in >= 3 "
    "orders, with association lift = P(p1,p2)/(P(p1)P(p2)) in exact "
    "integer ppm (support*N*1e6 DIV sup1*sup2 -- floor division, "
    "cross-engine exact; lift > 1e6 means the pair co-occurs more "
    "than independence predicts). The A-Priori support-counting core "
    "of association-rule mining as one relational plan.",
)
def frequent_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: candidate pairs come from per-order posting lists
    (Sum |basket|^2 with |basket| ~ 4-7 in this schema, never
    |parts|^2); the pair aggregate partial-combines map-side. The
    per-part support table is parts-cardinality and broadcasts to
    the pair table; the one-row order count rides a broadcast
    nested-loop. At longer baskets the standard hardening is a
    support-ordered prefix cut per basket (A-Priori pruning) before
    pairing. Numerator support*N*1e6 overflows int64 around N ~ 3e9
    baskets; widen to DECIMAL(38,0) past that."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    op = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        # four consumers (total, part supports, both self-join sides):
        # materialize once or the fact scan + distinct re-execute per
        # use; lazy — one shared RDD, evaluated inside the action
        .transform(maybe_local_checkpoint, eager=False)
    )
    total = op.agg(F.countDistinct("o").alias("total"))
    part_supp = op.groupBy("p").agg(F.count(F.lit(1)).alias("sup"))
    a, b = op.alias("a"), op.alias("b")
    pair_supp = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    s1 = part_supp.select(F.col("p").alias("p1"), F.col("sup").alias("sup1"))
    s2 = part_supp.select(F.col("p").alias("p2"), F.col("sup").alias("sup2"))
    return (
        pair_supp.join(F.broadcast(s1), "p1")
        .join(F.broadcast(s2), "p2")
        .crossJoin(F.broadcast(total))
        .select(
            "p1",
            "p2",
            F.col("support").cast("long").alias("support"),
            F.expr(
                "CAST(support * total * 1000000 DIV (sup1 * sup2) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


@query(
    "ab_test_significance",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN {md5_hash60_sql("CAST(user_id AS VARCHAR)")} % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT)
               AS x_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT)
               AS x_b
      FROM assign)
    SELECT n_a, x_a, n_b, x_b,
           CAST(x_a * 1000000 // n_a AS BIGINT) AS rate_a_ppm,
           CAST(x_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm,
           (CAST((x_a * n_b - x_b * n_a) AS DOUBLE)
              * CAST((x_a * n_b - x_b * n_a) AS DOUBLE)
              * CAST(n_a + n_b AS DOUBLE)
            > 3.841 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                    * CAST(x_a + x_b AS DOUBLE)
                    * CAST(n_a + n_b - x_a - x_b AS DOUBLE))
             AS significant_95
    FROM arms
    """,
    doc="A/B-test significance: users split into arms by md5-hash "
    "parity (the deterministic assignment hash_split_train_test "
    "uses), conversion = a heavy-purchaser threshold (>= 14 purchase "
    "events -- the fixture's every user buys at least once, so the "
    "interesting margin is depth, not incidence); the two-proportion "
    "z-test at alpha=0.05 is evaluated with the pooled-variance "
    "chi-square identity multiplied out to clear every division -- "
    "(x_a*n_b - x_b*n_a)^2 * N > 3.841 * n_a*n_b*x*(N-x) -- so all "
    "inputs to the one double comparison are identical int64s in "
    "both engines. Rates emitted in integer ppm. The experiment "
    "readout every product-analytics stack runs.",
)
def ab_test_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one user_id aggregate (map-side combined) reduces
    events to one row per user, one more to FOUR counters; no joins,
    no windows. Cross products like x_a*n_b stay in int64 up to ~3e9
    users per arm; past that widen to DECIMAL(38,0). The md5-parity
    assignment is stable under reprocessing -- the property that
    makes the experiment re-computable from raw logs."""
    e = _t(spark, sf_dir, "events")["events"]
    from dungbeetle_spark.functions.texts import md5_hash60

    arm = F.when(
        md5_hash60(F.col("user_id").cast("string")) % 2 == 0, F.lit("A")
    ).otherwise(F.lit("B"))
    assign = e.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14
        ).cast("int").alias("converted")
    ).select(arm.alias("arm"), "converted")
    arms = assign.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0)).alias("x_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0)).alias("x_b"),
    )
    d = F.col("x_a") * F.col("n_b") - F.col("x_b") * F.col("n_a")
    n = F.col("n_a") + F.col("n_b")
    x = F.col("x_a") + F.col("x_b")
    return arms.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("x_a").cast("long").alias("x_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("x_b").cast("long").alias("x_b"),
        F.expr("CAST(x_a * 1000000 DIV n_a AS BIGINT)").alias("rate_a_ppm"),
        F.expr("CAST(x_b * 1000000 DIV n_b AS BIGINT)").alias("rate_b_ppm"),
        (
            d.cast("double") * d.cast("double") * n.cast("double")
            > F.lit(3.841)
            * F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
            * x.cast("double")
            * (n - x).cast("double")
        ).alias("significant_95"),
    )


@query(
    "pareto_revenue_share",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_custkey),
    tot AS (SELECT SUM(r) AS t FROM rev),
    cum AS (
      SELECT o_custkey, r,
             CAST(SUM(r) OVER (ORDER BY r DESC, o_custkey
                               ROWS UNBOUNDED PRECEDING) * 100 AS BIGINT)
               AS c_cents
      FROM rev)
    SELECT o_custkey,
           CAST(r AS DOUBLE) AS revenue,
           CAST(c_cents * 1000000 // CAST(t * 100 AS BIGINT) AS BIGINT)
             AS cum_share_ppm,
           (c_cents * 1000000 // CAST(t * 100 AS BIGINT) <= 800000)
             AS in_top80
    FROM cum CROSS JOIN tot
    """,
    doc="Pareto contribution analysis: customers ranked by lifetime "
    "revenue with each one's CUMULATIVE share of total revenue in "
    "exact ppm (decimal cumsum, integer floor division) and an 80/20 "
    "flag. The global running sum is computed as a DISTRIBUTED "
    "prefix sum -- range-partition by the sort key, local cumsum per "
    "partition, then add each partition's broadcast prefix offset -- "
    "not a single-partition window; the oracle's ORDER BY window is "
    "the semantic spec the two-phase plan must reproduce exactly "
    "(it does: decimal addition is order-free and the (revenue desc, "
    "custkey) order is total).",
)
def pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the classic global-cumulative problem. A naive
    Window.orderBy() with no partitionBy moves EVERY row to one task
    -- a scale-killer at 100 TB. Here: (1) per-customer revenue
    aggregate (one custkey shuffle, map-side combined); (2)
    repartitionByRange on the total order so each task holds a
    contiguous rank range, materialized once (pids are then stable
    facts of the data); (3) per-partition local cumsum via a window
    keyed on pid -- a |customers|-row shuffle of pre-aggregated rows,
    never raw orders; (4) per-partition totals
    (|partitions| rows) cumsum'd on the driver scale (tiny window)
    and broadcast back as prefix offsets. Exact decimals make the
    split-and-offset sum bit-equal to the sequential spec."""
    o = _t(spark, sf_dir, "orders")["orders"]
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    )
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    ranged = (
        rev.repartitionByRange(n_parts, F.desc("r"), F.asc("o_custkey"))
        .withColumn("pid", F.spark_partition_id())
        # materialize: spark_partition_id() is nondeterministic and
        # feeds TWO consumers (local cumsum + offsets). Without the
        # checkpoint each branch re-runs RangePartitioner sampling
        # with its own seed, and a boundary-straddling row can land
        # in different pids per branch -- silently wrong offsets.
        # Lazy: one shared RDD + partitioner still guarantees a
        # single sampling/evaluation, without a separate eager job.
        .transform(maybe_local_checkpoint, eager=False)
    )
    wl = W.partitionBy("pid").orderBy(F.desc("r"), F.asc("o_custkey")).rowsBetween(
        W.unboundedPreceding, 0
    )
    local = ranged.withColumn("local_cum", F.sum("r").over(wl))
    ptot = (
        ranged.groupBy("pid")
        .agg(F.sum("r").alias("ptotal"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("ptotal").over(
                    W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0).cast("decimal(28,2)"),
            ),
        )
        .withColumn("grand", F.sum("ptotal").over(W.partitionBy()))
    )
    return (
        local.join(F.broadcast(ptot.select("pid", "offset", "grand")), "pid")
        .select(
            "o_custkey",
            F.col("r").cast("double").alias("revenue"),
            # integer-cent arithmetic: decimal floor-division semantics
            # differ between engines by 1 ulp; BIGINT DIV is exact in
            # both. The ppm multiply runs as TWO-STEP long division
            # (x1000 twice) because cents*1e6 overflows int64 past
            # ~9e10 dollars of cumulative revenue -- the r09 x32 sweep
            # hit exactly that. floor(c*1e6/g) ==
            # floor(c*1e3/g)*1e3 + floor((c*1e3 % g)*1e3/g) exactly,
            # and every intermediate stays under 2^63 until ~$92T
            # cumulative (widen to DECIMAL(38,0) past that).
            F.expr(
                "CAST((CAST((local_cum + offset) * 100 AS BIGINT) * 1000"
                " DIV CAST(grand * 100 AS BIGINT)) * 1000"
                " + (CAST((local_cum + offset) * 100 AS BIGINT) * 1000"
                " % CAST(grand * 100 AS BIGINT)) * 1000"
                " DIV CAST(grand * 100 AS BIGINT) AS BIGINT)"
            ).alias("cum_share_ppm"),
            F.expr(
                "(CAST((local_cum + offset) * 100 AS BIGINT) * 1000"
                " DIV CAST(grand * 100 AS BIGINT)) * 1000"
                " + (CAST((local_cum + offset) * 100 AS BIGINT) * 1000"
                " % CAST(grand * 100 AS BIGINT)) * 1000"
                " DIV CAST(grand * 100 AS BIGINT) <= 800000"
            ).alias("in_top80"),
        )
    )


@query(
    "user_value_trend",
    oracle="""
    WITH pts AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS xs,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y_cents
      FROM events),
    centered AS (
      SELECT user_id,
             xs - MIN(xs) OVER (PARTITION BY user_id) AS x,
             y_cents AS y
      FROM pts),
    moments AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM centered GROUP BY user_id)
    SELECT user_id, n,
           n * sxy - sx * sy AS slope_num,
           n * sxx - sx * sx AS slope_den,
           CASE WHEN n * sxx - sx * sx > 0
                THEN CAST((n * sxy - sx * sy) * 3600
                          // (n * sxx - sx * sx) AS BIGINT)
                ELSE NULL END AS slope_cents_per_hour
    FROM moments
    """,
    doc="Per-user spend trend: the OLS slope of event value over time "
    "for every user, computed ENTIRELY in exact integer algebra -- "
    "x = seconds since the user's own first event (centering keeps "
    "x^2 sums far from int64 overflow), y = integer cents; slope is "
    "emitted as the exact (numerator, denominator) pair plus a "
    "floor-divided cents-per-hour reading. NULL when the user has a "
    "single timestamp (zero variance). The trend feature "
    "churn/forecast models consume, with no float in sight.",
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one user_id shuffle serves the centering window
    AND the moment aggregate (same key); moments partial-combine
    map-side to one row per user. Centered x spans a user's activity
    window (30 days of seconds here): sxx ~ n * (2.6e6)^2 stays
    inside int64 up to ~1e6 events per user-month; for heavier users
    widen the moment sums to DECIMAL(38,0) -- the algebra is
    unchanged."""
    e = _t(spark, sf_dir, "events")["events"]
    pts = e.select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000").alias("xs"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("y"),
    )
    wmin = W.partitionBy("user_id")
    centered = pts.select(
        "user_id",
        (F.col("xs") - F.min("xs").over(wmin)).alias("x"),
        "y",
    )
    moments = centered.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    # the per-hour reading derives from the SAME aliased pair (one
    # algebra definition; no second copy to drift)
    return moments.select(
        "user_id", "n", num.alias("slope_num"), den.alias("slope_den")
    ).select(
        "user_id",
        "n",
        "slope_num",
        "slope_den",
        F.when(
            F.col("slope_den") > 0,
            F.expr("CAST(slope_num * 3600 DIV slope_den AS BIGINT)"),
        ).alias("slope_cents_per_hour"),
    )


@query(
    "rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT user_id,
             CAST(MAX(ts) AS DATE) - DATE '1970-01-01' AS last_day,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                  AS BIGINT) AS monetary_cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    scored AS (
      SELECT user_id,
             CAST(last_day AS BIGINT) AS last_epoch_day,
             frequency, monetary_cents,
             CAST(NTILE(5) OVER (ORDER BY last_day DESC, user_id)
                  AS BIGINT) AS r_score,
             CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id)
                  AS BIGINT) AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary_cents DESC, user_id)
                  AS BIGINT) AS m_score
      FROM rfm)
    SELECT user_id, last_epoch_day, frequency, monetary_cents,
           r_score, f_score, m_score,
           CASE WHEN r_score <= 2 AND f_score <= 2 THEN 'champion'
                WHEN r_score <= 2 THEN 'recent'
                WHEN f_score <= 2 THEN 'loyal_lapsing'
                WHEN r_score >= 4 AND f_score >= 4 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored
    """,
    doc="RFM customer segmentation (recency / frequency / monetary): "
    "per purchasing user, the classic three scores as NTILE(5) "
    "quintiles -- score 1 = most recent / most frequent / highest "
    "spend -- plus a rule-based segment label over the (R,F) grid. "
    "Recency is the last-purchase epoch day (exact integer), monetary "
    "is exact decimal cents; every NTILE ordering carries a user_id "
    "tiebreak so quintile boundaries are deterministic cross-engine. "
    "The standard marketing-analytics cohorting primitive.",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the per-user aggregate partial-combines map-side
    down to |users| rows in one shuffle. The three quintiles are
    GLOBAL rankings; as plain NTILE windows each pulled the whole
    |users| frame through one Exchange SinglePartition task — the
    registry's largest single-partition frame (VERDICT r06 item 5).
    Now each score is a ranks.global_ntile prefix-sum pass: a range
    shuffle of (user_id, metric) pairs per ordering, a
    pid-partitioned row_number, and a broadcast |partitions|-row
    offset table — three parallel sorts instead of three one-task
    sorts, identical output by the closed-form NTILE bucket map (the
    user_id tiebreak makes every ordering unique). The three passes
    branch from one checkpointed base as independent stages of a
    single action (the DAG scheduler overlaps them), and scores
    rejoin user-keyed: |users|-row shuffles of two-long pairs,
    linear at any scale."""
    e = _t(spark, sf_dir, "events")["events"]
    rfm = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(F.max(F.col("ts").cast("date")), F.lit("1970-01-01"))
            .cast("long")
            .alias("last_epoch_day"),
            F.count(F.lit(1)).alias("frequency"),
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    # One base materialization; the three rank passes are independent
    # branches over it whose (lazy-checkpointed) range shuffles are
    # independent stages of the ONE consuming action — Spark runs
    # them concurrently from the DAG, no thread orchestration needed.
    # Each pass ranges only (user_id, metric) pairs; scores join back
    # user-keyed.
    base = maybe_local_checkpoint(rfm, eager=False)

    def _score(out: str, metric: str) -> DataFrame:
        return global_ntile(
            base.select("user_id", metric),
            [F.desc(metric), F.asc("user_id")],
            5,
            out,
            n_parts,
        ).select("user_id", out)

    scored = (
        base.join(_score("r_score", "last_epoch_day"), "user_id")
        .join(_score("f_score", "frequency"), "user_id")
        .join(_score("m_score", "monetary_cents"), "user_id")
        .select(
            "user_id",
            "last_epoch_day",
            "frequency",
            "monetary_cents",
            "r_score",
            "f_score",
            "m_score",
        )
    )
    return scored.withColumn(
        "segment",
        F.when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "champion")
        .when(F.col("r_score") <= 2, "recent")
        .when(F.col("f_score") <= 2, "loyal_lapsing")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "at_risk")
        .otherwise("regular"),
    )


@query(
    "chisq_dow_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT)
               AS dow_idx,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, dow_idx, obs,
             CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT)
               AS row_tot,
             CAST(SUM(obs) OVER (PARTITION BY dow_idx) AS BIGINT)
               AS col_tot,
             CAST(SUM(obs) OVER () AS BIGINT) AS n
      FROM cells)
    SELECT event_type, dow_idx, obs, row_tot, col_tot,
           CAST(row_tot * col_tot * 1000 // n AS BIGINT) AS exp_milli,
           CAST(CAST(CAST(obs * n - row_tot * col_tot AS HUGEINT)
                     * (obs * n - row_tot * col_tot) * 1000000
                     // (CAST(n AS HUGEINT) * row_tot * col_tot)
                AS BIGINT) AS BIGINT) AS chi_cell_micro
    FROM tot
    """,
    doc="Chi-square independence test of event_type x day-of-week (the "
    "seasonality audit behind 'does activity mix shift by weekday'): "
    "the full contingency table with each cell's observed count, "
    "marginals, independence expectation in milli-counts, and its "
    "chi-square contribution (obs*n - row*col)^2 * 1e6 DIV "
    "(n*row*col) -- the classic statistic scaled to micro-units and "
    "computed entirely in exact integer algebra (128-bit "
    "intermediates: DECIMAL(38,0) in Spark, HUGEINT in DuckDB), so "
    "the frame is bit-identical cross-engine. Summing chi_cell_micro "
    "and comparing against the critical value for "
    "(|types|-1)(7-1) degrees of freedom is a driver-side constant "
    "lookup. Companion to ab_test_significance (z-test).",
)
def chisq_dow_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the contingency aggregate partial-combines map-side
    down to |types| x 7 cells -- the ONLY fact-scale pass. The three
    marginal windows run over that tiny constant-size frame (the
    benign-global-window class: |cells| <= |types|*7, never data-
    scale). Day-of-week via epoch-day % 7 -- pure integer, no
    locale-dependent dayofweek()."""
    e = _t(spark, sf_dir, "events")["events"]
    cells = (
        e.groupBy(
            "event_type",
            (
                F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) % 7
            )
            .cast("long")
            .alias("dow_idx"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    tot = cells.select(
        "event_type",
        "dow_idx",
        "obs",
        F.sum("obs").over(W.partitionBy("event_type")).alias("row_tot"),
        F.sum("obs").over(W.partitionBy("dow_idx")).alias("col_tot"),
        F.sum("obs").over(W.partitionBy()).alias("n"),
    )
    dev = F.col("obs") * F.col("n") - F.col("row_tot") * F.col("col_tot")
    # 128-bit intermediates: dev^2 * 1e6 fits DECIMAL(38,0) while
    # n < ~3e9 events (dev <= n^2... no: dev <= n*max_cell < n^2;
    # the binding bound is dev^2*1e6 < 1e38 ⇔ dev < 3e15 ⇔ roughly
    # n*obs < 3e15). Past that, pre-aggregate counts into coarser
    # units or compute the cell statistic in double -- it is a test
    # statistic, not an accounting sum; exactness here buys the
    # cross-engine oracle, not correctness of the inference.
    return tot.withColumn("_dev", dev.cast("decimal(38,0)")).select(
        "event_type",
        "dow_idx",
        "obs",
        "row_tot",
        "col_tot",
        F.expr("CAST(row_tot * col_tot * 1000 DIV n AS BIGINT)").alias(
            "exp_milli"
        ),
        F.expr(
            "CAST(_dev * _dev * 1000000 DIV "
            "(CAST(n AS DECIMAL(38,0)) * row_tot * col_tot) AS BIGINT)"
        ).alias("chi_cell_micro"),
    )


@query(
    "session_path_topk",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    paths AS (
      SELECT event_type || '>' || t1 || '>' || t2 AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE t2 IS NOT NULL GROUP BY 1)
    SELECT path, n
    FROM paths
    ORDER BY n DESC, path
    LIMIT 20
    """,
    doc="Behavioral path mining: the 20 most common 3-step event-type "
    "paths across all user journeys (events ordered per user by ts "
    "with event_id tiebreak, trigrams via LEAD). The session-path "
    "frequency table behind 'what do users do next' product "
    "questions and behavioral-cloning data curation. Deterministic "
    "top-k: count DESC with full path tiebreak.",
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one user_id shuffle for the ordered LEAD window
    (each user's journey is one partition slice), then a map-side-
    combining aggregate on the path string — |paths| <= |types|^3
    distinct keys, so the final top-k is a TakeOrdered over a
    constant-bounded frame, never a global sort of fact data."""
    e = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    paths = (
        seq.filter(F.col("t2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t1", "t2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return paths.orderBy(F.col("n").desc(), "path").limit(20)


@query(
    "mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type,
             MIN(value) FILTER (WHERE cd >= 0.5) AS median_value
      FROM (SELECT event_type, value,
                   cume_dist() OVER (PARTITION BY event_type
                                     ORDER BY value) AS cd
            FROM events)
      GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value,
             ABS(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 - CAST(CAST(m.median_value AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS absdev_cents,
             m.median_value
      FROM events e JOIN med m ON e.event_type = m.event_type),
    mad AS (
      SELECT event_type,
             MIN(absdev_cents) FILTER (WHERE cd >= 0.5) AS mad_cents
      FROM (SELECT event_type, absdev_cents,
                   cume_dist() OVER (PARTITION BY event_type
                                     ORDER BY absdev_cents) AS cd
            FROM dev)
      GROUP BY event_type)
    SELECT d.event_type,
           ANY_VALUE(d.median_value) AS median_value,
           CAST(ANY_VALUE(a.mad_cents) AS BIGINT) AS mad_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE d.absdev_cents > 5 * a.mad_cents)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a ON d.event_type = a.event_type
    GROUP BY d.event_type
    """,
    doc="Robust outlier detection by median absolute deviation: per "
    "event type, the value median (percentile_disc -- an ELEMENT, no "
    "interpolation), each event's |value - median| in exact integer "
    "cents, the MAD (median of those deviations), and the count of "
    "events beyond 5 MADs. The robust alternative to "
    "user_value_outliers' z-score -- a few extreme values cannot "
    "drag the threshold, which is why curation pipelines prefer MAD "
    "fences for heavy-tailed quality signals. Deviations are integer "
    "cents so every emitted number is cross-engine exact.",
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two percentile_disc passes, each one shuffle on
    the 5-key event_type column (mergeable GK-style state map-side);
    the tiny per-type median/MAD frames broadcast back onto the fact
    scan, so no fact-scale data ever moves twice. The deviation pass
    re-reads the fact — at 100 TB cache/checkpoint the first
    projection or accept the rescan (narrow: 2 columns)."""
    e = _t(spark, sf_dir, "events")["events"]
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    e2 = e.select("event_type", cents.alias("v_cents"), "value")
    e2.createOrReplaceTempView("_mad_events")
    med = spark.sql(
        """
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value)
                 AS median_value
        FROM _mad_events GROUP BY event_type
        """
    ).withColumn(
        "med_cents",
        (F.col("median_value").cast("decimal(18,2)") * 100).cast("long"),
    )
    dev = e2.join(F.broadcast(med), "event_type").select(
        "event_type",
        "median_value",
        F.abs(F.col("v_cents") - F.col("med_cents")).alias("absdev_cents"),
    )
    dev.createOrReplaceTempView("_mad_dev")
    mad = spark.sql(
        """
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY absdev_cents)
                 AS mad_cents
        FROM _mad_dev GROUP BY event_type
        """
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("median_value").alias("median_value"),
            F.any_value("mad_cents").cast("long").alias("mad_cents"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("absdev_cents") > 5 * F.col("mad_cents"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
