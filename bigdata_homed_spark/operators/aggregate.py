"""Aggregation library (SURVEY §2.4 A1-A11, §2.5 W4-W6, §2.6 O2).

Replaces the reference's hand-rolled patterns with single-pass Catalyst
aggregations:

- manual partial+final double ``reduceByKey`` over string-concatenated keys
  (`homed/repots/BusinessVisitCount.scala:188-240`) → one ``groupBy().agg()``
  (Catalyst already does partial/final aggregation map-side);
- region→city→province re-aggregation + unionAll with -1 placeholders
  (`homed/repots/ChannelReport.scala:266-273,360-367,448-451`) → one
  ``rollup``/``grouping sets`` pass;
- keep-latest-per-key ``reduceByKey((x,y) => if(x.ts>=y.ts) x else y)``
  (`homed/realtime/ChannelLive.scala:238-244`) → ``row_number() = 1``;
- dense_rank topN + pack (`ChannelReport.scala:220-251`) → window + filter;
- exact multi-period distinct via persisted user arrays
  (`BusinessVisitCount.scala:524-607`) → re-aggregation from the daily user
  grain, with ``approx_count_distinct`` as the documented 100 TB path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bounded_collect(df: DataFrame, max_rows: int, what: str) -> list:
    """Driver-side collect with an explicit upper bound.

    For the few legitimate driver-side frames (a bounded dim's parent map,
    one row per calendar day/month): fetch at most ``max_rows + 1`` rows via
    a distributed ``limit`` — so a pathological input fails loudly with the
    bound in the message instead of OOMing the driver — and assert the bound
    held.  Callers that need ordering must sort AFTER this check or pass an
    already-ordered frame; the limit is applied before any collect, so
    driver memory is capped at ``max_rows + 1`` rows by construction.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise AssertionError(
            f"bounded_collect: {what} exceeded the documented driver-side "
            f"bound of {max_rows} rows — refusing to pull it to the driver"
        )
    return rows


def keep_latest(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    tiebreak_col: str,
    desc: bool = True,
) -> DataFrame:
    """A8/W4: one row per key — the latest by ``order_col``.

    Deterministic under ties via ``tiebreak_col`` (the reference's
    reduceByKey kept an arbitrary one of equal-timestamp rows).
    """
    oc = [F.col(order_col).desc(), F.col(tiebreak_col).desc()] if desc else [
        F.col(order_col).asc(),
        F.col(tiebreak_col).asc(),
    ]
    w = Window.partitionBy(*key_cols).orderBy(*oc)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def top_n_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_exprs: Sequence[Column],
    n: int,
    rank_col: str = "rnk",
    dense: bool = True,
) -> DataFrame:
    """W5/O2: rank within each group, keep rank <= n.

    ``dense`` mirrors the reference's ``dense_rank`` topN
    (`homed/repots/ChannelReport.scala:220-251`); callers wanting exactly-n
    rows should pass fully tie-broken ``order_exprs`` and dense=False.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_exprs)
    fn = F.dense_rank() if dense else F.row_number()
    return df.withColumn(rank_col, fn.over(w)).where(F.col(rank_col) <= n)


def global_top_k(
    df: DataFrame,
    order_exprs: Sequence[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """O2/O3 at *global* scope, scale-safe: top-k of an unbounded keyspace.

    A partition-less ``row_number()`` window moves EVERY row to one task
    (Spark warns ``WindowExec: No Partition Defined``) — at 100 TB the
    distinct-key set (shingles, token pairs, partkeys, suppliers) is
    billions of rows through a single partition.  ``orderBy().limit(k)``
    instead plans a distributed take-ordered: each task keeps a local top-k
    and only P×k rows meet at the final merge.  Ranks are then assigned by
    a window over the k *surviving* rows — a k-row single partition is free.

    Requires fully tie-broken ``order_exprs`` (registry rule 3), which makes
    ``row_number == dense_rank == rank``; callers relying on dense-rank
    tie-grouping over non-unique orderings must not use this helper.

    The k survivors are collected (bounded: k rows, not data movement — the
    same class of driver-side constant as a 1-row scalar broadcast) and
    re-parallelized with their 1-based rank; a window variant would re-trip
    Spark's empty-partition-spec WindowExec warning because the optimizer
    strips foldable partition keys.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    topk = df.orderBy(*order_exprs).limit(k)
    rows = topk.collect()  # TakeOrderedAndProject returns the k rows sorted
    schema = StructType(
        list(topk.schema.fields) + [StructField(rank_col, IntegerType(), False)]
    )
    ranked = [tuple(r) + (i + 1,) for i, r in enumerate(rows)]
    return df.sparkSession.createDataFrame(ranked, schema)


def multi_grain_rollup(
    df: DataFrame,
    grain_cols: Sequence[str],
    aggs: Sequence[Column],
    placeholder: str = "-1",
) -> DataFrame:
    """A6: one-pass rollup over a grain hierarchy (e.g. province > city >
    area), emitting the reference's ``-1`` placeholder for rolled-up levels
    instead of NULL so outputs match its report-table convention
    (`ChannelReport.scala:448-451` unions three separately aggregated grains;
    this computes identical rows in a single shuffle via partial-agg reuse).
    """
    rolled = df.rollup(*grain_cols).agg(*aggs)
    out = rolled
    for c in grain_cols:
        out = out.withColumn(c, F.coalesce(F.col(c).cast("string"), F.lit(placeholder)))
    return out


def tier_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    measure: Column,
    tiers: Sequence[tuple[str, Column]],
) -> DataFrame:
    """A5: conditional-aggregation pivot — one output column per named tier,
    ``sum(when(cond, 1))`` style (`ChannelReport.scala:169-171` browse /
    hobby / steady user tiers; `:1349-1417` per-terminal pivots)."""
    aggs = [
        F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("bigint").alias(name)
        for name, cond in tiers
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def distinct_users_exact(
    df: DataFrame, group_cols: Sequence[str], user_col: str, out_col: str = "users"
) -> DataFrame:
    """A2/A7/A9 exact path: COUNT(DISTINCT user).  Catalyst plans this as a
    two-stage partial-distinct aggregate — no user arrays persisted to a row
    store as the reference does (`t_business_array_by_day`,
    `BusinessVisitCount.scala:524-607`)."""
    return df.groupBy(*group_cols).agg(F.countDistinct(user_col).alias(out_col))


def distinct_users_approx(
    df: DataFrame,
    group_cols: Sequence[str],
    user_col: str,
    out_col: str = "users_approx",
    rsd: float = 0.01,
) -> DataFrame:
    """A7 scale path: HLL++ sketch distinct.  At 100 TB the exact user-array
    mechanism is quadratic in storage; a 1% HLL is mergeable across periods
    (day → week/month) with constant state."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(user_col, rsd=rsd).alias(out_col)
    )


def bitmap_build(
    df: DataFrame, group_cols: Sequence[str], id_col: str, out_col: str = "bm"
) -> DataFrame:
    """Exact-distinct-at-scale, step 1: fold integer ids into per-group
    roaring-style bitmaps — one (group, bucket) row per 32k-id bucket
    (``bitmap_bucket_number``/``bitmap_construct_agg``, JVM-side).

    This is the modern spelling of the reference's persisted user-array
    index (`t_business_array_by_day`, `BusinessVisitCount.scala:524-607`):
    the day-grain bitmap table is tiny and **mergeable**, so week/month
    distincts re-aggregate bitmaps instead of rescanning raw events, and
    unlike HLL (`distinct_users_approx`) the counts stay exact."""
    return df.groupBy(
        *group_cols, F.expr(f"bitmap_bucket_number({id_col})").alias("__bkt")
    ).agg(
        F.expr(f"bitmap_construct_agg(bitmap_bit_position({id_col}))").alias(out_col)
    )


def bitmap_merge(
    bitmaps: DataFrame,
    group_cols: Sequence[str],
    bm_col: str = "bm",
) -> DataFrame:
    """Step 2: OR-merge bitmaps to a coarser grain (day → week/month).
    Input must carry the ``__bkt`` bucket column from ``bitmap_build``."""
    return bitmaps.groupBy(*group_cols, "__bkt").agg(
        F.expr(f"bitmap_or_agg({bm_col})").alias(bm_col)
    )


def bitmap_distinct_count(
    bitmaps: DataFrame,
    group_cols: Sequence[str],
    bm_col: str = "bm",
    out_col: str = "n_distinct",
) -> DataFrame:
    """Step 3: exact distinct per group = sum of per-bucket popcounts."""
    return bitmaps.groupBy(*group_cols).agg(
        F.sum(F.expr(f"bitmap_count({bm_col})")).alias(out_col)
    )


def pack_group_array(
    df: DataFrame,
    group_cols: Sequence[str],
    item_expr: Column,
    out_col: str = "items",
) -> DataFrame:
    """A4: collect the group's items into a deterministic (sorted) array —
    the reference packs '&'-joined strings with collect_set
    (`etl/RunLogParser.scala:337-345`, `ChannelReport.scala:227`); we sort
    so goldens are stable."""
    return df.groupBy(*group_cols).agg(
        F.sort_array(F.collect_set(item_expr)).alias(out_col)
    )
