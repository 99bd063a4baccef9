"""Distributed global-ranking primitives.

A global NTILE / rank / cumulative sum is the one window shape Spark
cannot scale as written: an empty PARTITION BY compiles to Exchange
SinglePartition — every input row through one task. These helpers
express the same EXACT semantics as a range-partitioned prefix-sum
(the pareto_revenue_share construction, VERDICT r06 items 3/5):

1. ``repartitionByRange`` on the order key gives each task a
   contiguous rank range. The frame is ``localCheckpoint``-ed because
   ``spark_partition_id()`` is nondeterministic and feeds two
   consumers (the local rank window and the per-partition counts);
   without the checkpoint Catalyst compiles the shared subtree TWICE
   into independent range shuffles whose RangePartitioner sampling
   uses different seeds, and a boundary-straddling row can land in
   different partitions per consumer — silently wrong offsets. The
   checkpoint is lazy (``eager=False``): both consumers then share
   ONE RDD object and ONE partitioner, which is the actual
   single-evaluation guarantee, without spending a separate job on
   up-front materialization.
2. ``row_number`` windows BY partition id — a parallel sort of
   contiguous ranges, never a single task.
3. Per-partition counts (|partitions| rows) cumulative-sum into rank
   offsets on a constant-size frame and broadcast back.
4. ``global rank = offset + local rank`` feeds the closed-form
   NTILE(k) bucket map: with N rows, q = N div k and rem = N mod k,
   buckets 1..rem hold q+1 rows and the rest q, so
   ``stage(r) = ceil(r / (q+1))`` while ``r <= rem*(q+1)`` else
   ``rem + ceil((r - rem*(q+1)) / q)`` — bit-equal to NTILE whenever
   the order key is unique (callers must include a tiebreak column).

Cost: one range shuffle of the (already aggregated) input per
ranking, all parallel — vs. the global window's one-task sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from dungbeetle_spark.planmode import maybe_local_checkpoint

_AUX = ("_pid", "_lr", "_off", "_n", "_r", "_q", "_rem")


def global_ntile(
    df: DataFrame,
    order_by: list[Column],
    k: int,
    out: str,
    n_parts: int,
) -> DataFrame:
    """Append column ``out`` = NTILE(``k``) over a GLOBAL ordering,
    computed with the range-partitioned prefix-sum construction above
    (no single-partition exchange touches ``df``-scale data).

    ``order_by`` must be a deterministic total order (include a unique
    tiebreak) or the result is not NTILE-equal cross-engine.
    """
    ranged = (
        df.repartitionByRange(n_parts, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        # lazy: materializes once at the first action and is reused by
        # both consumers (same single-evaluation guarantee as eager,
        # without spending a separate job on it before the real one)
        .transform(maybe_local_checkpoint, eager=False)
    )
    wl = W.partitionBy("_pid").orderBy(*order_by)
    local = ranged.withColumn("_lr", F.row_number().over(wl).cast("long"))
    pcnt = (
        ranged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_pc"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_pc").over(
                    W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("_n", F.sum("_pc").over(W.partitionBy()))
    )
    return (
        local.join(F.broadcast(pcnt.select("_pid", "_off", "_n")), "_pid")
        .withColumn("_r", F.col("_off") + F.col("_lr"))
        .withColumn("_q", F.expr(f"_n DIV {int(k)}"))
        .withColumn("_rem", F.expr(f"_n % {int(k)}"))
        .withColumn(
            out,
            # CASE guards the _q=0 branch (N < k): _rem*(_q+1) = N
            # covers every row there, so the DIV _q arm never runs.
            F.expr(
                "CAST(CASE WHEN _r <= _rem * (_q + 1)"
                " THEN (_r + _q) DIV (_q + 1)"
                " ELSE _rem + (_r - _rem * (_q + 1) + _q - 1) DIV _q END"
                " AS BIGINT)"
            ),
        )
        .drop(*_AUX)
    )


def global_cumsum(
    df: DataFrame,
    order_by: list[Column],
    value: str,
    out: str,
    n_parts: int,
    exclusive: bool = False,
) -> DataFrame:
    """Append column ``out`` = cumulative sum of ``value`` over a
    GLOBAL ordering (``exclusive=True`` excludes the current row),
    with the same range-partitioned prefix-sum construction as
    :func:`global_ntile`: a local running sum per contiguous range +
    per-partition totals prefix-summed on the |partitions|-row frame
    and broadcast back. ``order_by`` must be a total order."""
    ranged = (
        df.repartitionByRange(n_parts, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        .transform(maybe_local_checkpoint, eager=False)
    )
    hi = -1 if exclusive else 0
    wl = (
        W.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(W.unboundedPreceding, hi)
    )
    local = ranged.withColumn(
        "_lc", F.coalesce(F.sum(value).over(wl), F.lit(0)).cast("long")
    )
    pcnt = (
        ranged.groupBy("_pid")
        .agg(F.sum(value).cast("long").alias("_ps"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_ps").over(
                    W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
    )
    return (
        local.join(F.broadcast(pcnt.select("_pid", "_off")), "_pid")
        .withColumn(out, F.col("_off") + F.col("_lc"))
        .drop("_pid", "_lc", "_off")
    )
