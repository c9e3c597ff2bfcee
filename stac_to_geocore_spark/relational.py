"""Relational operators Spark lacks as built-ins: as-of (temporal) join.

For each left (fact) row, find the most recent right (dim) row at or before
the left timestamp. Two plans, both avoiding the classic scale-killers
(exploding each left row by all earlier right rows, or re-shuffling the fact
side on all of its columns):

- broadcast path (default; right is a dim): the right side is aggregated to
  ONE row per key holding a sorted array of packed (ts, id) values — the only
  shuffle is on the small right side — then broadcast and equi-joined 1:1 to
  the left. The per-row argmax is array_max(filter(arr, <= bound)), pure JVM
  column math. The fact side never shuffles and never explodes, so the plan
  survives a 100x fact scale-up as a map-only stage over the scan.

- merge path (broadcast_right=False; right too big for one array per key to
  matter): union left and right events tagged with a side flag, shuffle ONCE
  by key, and take a running MAX of the packed right value over a window
  ordered by (ts, side). Each left row reads the greatest right packed value
  at or before its timestamp — the streaming-merge as-of, one narrow shuffle,
  no explosion.

Both preserve left-row multiplicity (duplicate fact rows stay duplicated,
unlike a groupBy-all-columns plan which silently collapses them).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PACK = 100_000_000  # right ids must be < 1e8; epoch_sec * 1e8 stays < 2^63


def range_join(
    facts: DataFrame,
    intervals: DataFrame,
    fact_ts: Column,
    start_ts: Column,
    end_ts: Column,
    bucket_seconds: int = 86_400,
) -> DataFrame:
    """Point-in-interval join: every (fact, interval) pair with
    start_ts <= fact_ts <= end_ts — the range join Spark would otherwise
    plan as a broadcast nested loop over ALL pairs.

    Bucketed-index plan: each interval explodes to one row per covered
    time bucket (sequence of floor(start/b)..floor(end/b)); each fact
    computes its single bucket; the non-equi condition becomes an
    EQUI-join on bucket plus an exact refine. A fact's bucket is unique
    and an interval covers it at most once, so no dedup pass is needed.

    Scale: the (exploded) interval side is broadcast, so the fact side
    computes one int column and never shuffles. Interval explosion is len/bucket_seconds
    rows — pick bucket_seconds near the median interval length so typical
    intervals explode to ~2 rows. All pure JVM column math, no UDF."""
    b = F.lit(bucket_seconds)
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(start_ts) / b),
                F.floor(F.unix_timestamp(end_ts) / b),
            )
        ),
    ).withColumn("_lo", F.unix_timestamp(start_ts)).withColumn("_hi", F.unix_timestamp(end_ts))
    f = facts.withColumn("_fts", F.unix_timestamp(fact_ts)).withColumn(
        "_bucket", F.floor(F.col("_fts") / b)
    )
    return (
        f.join(F.broadcast(iv), "_bucket")
        .filter((F.col("_fts") >= F.col("_lo")) & (F.col("_fts") <= F.col("_hi")))
        .drop("_bucket", "_fts", "_lo", "_hi")
    )


def _unpack(df: DataFrame, best: Column, right_id: str, out_cols: list[str]) -> DataFrame:
    return (
        df.withColumn("_best", best)
        .filter(F.col("_best").isNotNull())  # inner as-of: unmatched left rows drop
        # integer div/mod — _best can exceed 2^53 so float paths would corrupt
        .withColumn(f"asof_{right_id}", F.expr(f"_best % {_PACK}").cast("long"))
        .withColumn("asof_ts_epoch", F.expr(f"_best div {_PACK}").cast("long"))
        .select(*out_cols, f"asof_{right_id}", "asof_ts_epoch")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: Column,
    right_ts: Column,
    right_id: str,
    broadcast_right: bool = True,
) -> DataFrame:
    """For each left row, the right row with the greatest right_ts <= left_ts
    for the same key (ties broken by greatest right_id). Left rows with no
    match are dropped (inner as-of). Returns left columns + asof_<right_id>
    + asof_ts_epoch."""
    packed = (F.unix_timestamp(right_ts) * F.lit(_PACK) + F.col(right_id)).alias("_packed")
    out_cols = list(left.columns)

    if broadcast_right:
        arrs = (
            right.select(F.col(right_key).alias("_rk"), packed)
            .groupBy("_rk")
            .agg(F.sort_array(F.collect_list("_packed")).alias("_arr"))
        )
        joined = left.join(F.broadcast(arrs), F.col(left_key) == F.col("_rk"), "inner")
        bound = F.unix_timestamp(left_ts) * F.lit(_PACK) + F.lit(_PACK - 1)
        best = F.array_max(F.filter(F.col("_arr"), lambda x: x <= bound))
        return _unpack(joined, best, right_id, out_cols)

    # merge path: one shuffle by key, running max over the unioned stream.
    # right rows sort before left rows at equal ts (side=0 < 1) so
    # right_ts == left_ts matches are visible (<= semantics).
    l_rows = left.select(
        F.col(left_key).alias("_mk"),
        F.unix_timestamp(left_ts).alias("_mts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_packed"),
        *[F.col(c) for c in left.columns],
    )
    r_rows = right.select(
        F.col(right_key).alias("_mk"),
        F.unix_timestamp(right_ts).alias("_mts"),
        F.lit(0).alias("_side"),
        packed,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
    )
    w = (
        Window.partitionBy("_mk")
        .orderBy("_mts", "_side", "_packed")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = (
        l_rows.unionByName(r_rows)
        .withColumn("_run", F.max("_packed").over(w))
        .filter(F.col("_side") == 1)
    )
    return _unpack(merged, F.col("_run"), right_id, out_cols)
