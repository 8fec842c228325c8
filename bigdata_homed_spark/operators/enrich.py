"""Enrichment joins (SURVEY §2.3 J1-J10).

The reference joins every fact to MySQL dims with a forced-broadcast
threshold of 200 MB (`common/SparkSession.scala:21`) or driver-collected
HashMaps consulted in map closures (`homed/realtime/ChannelLive.scala:
479-523`).  Here every dim join is a declarative DataFrame join with an
explicit ``F.broadcast`` hint — Catalyst plans a BroadcastHashJoin, no
driver-side maps, no shuffle of the fact side.

The one operator Spark has no native physical strategy for is the EPG
interval join (J6, `homed/repots/ChannelReport.scala:68-73`): play-start
BETWEEN program start/end with a channel equi-key.  Naively that is a
broadcast-nested-loop; ``interval_join`` keeps the channel equi-key so
Catalyst plans a hash join with the range as a post-join residual — linear,
and broadcastable when the program guide is small.  ``bucketed_interval_join``
is the 100 TB path: bucketize time so rows only meet within candidate
buckets even without an equi-key on channel.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    how: str = "left",
) -> DataFrame:
    """J1/J2: fact ⋈ dimension with a broadcast hint.

    Replaces the reference's forced-200MB-broadcast config and its map-side
    HashMap lookups (J7) — one declarative join, Catalyst emits
    BroadcastHashJoin, fact side is never shuffled.
    """
    return fact.join(F.broadcast(dim), on, how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    equi_keys: Sequence[tuple[str, str]],
    point_col: str,
    range_start_col: str,
    range_end_col: str,
    how: str = "inner",
    broadcast_right: bool = True,
) -> DataFrame:
    """J6: equi-key + point-in-interval join.

    Parity with the EPG join `homed/repots/ChannelReport.scala:68-73`
    (``a.f_start_time >= b.start_time and a.f_start_time <= b.end_time`` with
    the channel id as the equi key).  The equi key keeps this a hash join
    (the range predicate becomes a cheap residual filter); the right side is
    broadcast when it is a program guide-sized dim.
    """
    cond = None
    for lk, rk in equi_keys:
        c = left[lk] == right[rk]
        cond = c if cond is None else (cond & c)
    rng = (left[point_col] >= right[range_start_col]) & (left[point_col] <= right[range_end_col])
    cond = rng if cond is None else (cond & rng)
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, cond, how)


def bucketed_interval_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    range_start_col: str,
    range_end_col: str,
    bucket_width: int,
    equi_keys: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """Scale path for J6 when neither side is broadcastable: explode each
    interval into the time buckets it covers, equi-join on the bucket id
    (plus any natural keys), then apply the exact range residual.

    Turns an O(n·m) nested loop into a shuffle hash join keyed on
    ``floor(time / bucket_width)`` — the standard range-join bucketing used
    by Spark's own range-join hints in other engines.  ``bucket_width``
    should approximate the median interval length so each interval lands in
    O(1) buckets.
    """
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.col(range_start_col) / bucket_width).cast("long"),
                (F.col(range_end_col) / bucket_width).cast("long"),
            )
        ),
    )
    lb = left.withColumn("__bucket", (F.col(point_col) / bucket_width).cast("long"))
    cond = lb["__bucket"] == rb["__bucket"]
    for lk, rk in equi_keys:
        cond = cond & (lb[lk] == rb[rk])
    cond = cond & (lb[point_col] >= rb[range_start_col]) & (lb[point_col] <= rb[range_end_col])
    return lb.join(rb, cond, "inner").drop("__bucket")


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    other_key: str,
    row_col: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi join: rows of the skewed side spread across
    ``salt_buckets`` sub-keys, the other side replicated across all salts.
    AQE's skew-join split (enabled in session.py) handles moderate skew
    automatically; this is the explicit tool for pathological keys (the
    reference's string-concat grouping keys invited exactly that,
    SURVEY §4 'skew handling: none').

    The salt derives from ``row_col`` (any roughly-unique column), NOT from
    the key — every row of a hot key must land in a different bucket — and
    not from rand(), so replays/retries are deterministic.
    """
    salted = skewed.withColumn(
        "__salt", (F.crc32(F.col(row_col).cast("string")) % salt_buckets).cast("int")
    )
    replicated = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted.join(
        replicated,
        (salted[key] == replicated[other_key]) & (salted["__salt"] == replicated["__salt"]),
        how,
    )
    return out.drop("__salt")


def normalize_join_key(df: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
    """J8: region-code fixup before the join.

    The reference rewrites malformed region codes (`etl/LogParser.scala:
    449-458`: codes ending '0000' get +101, codes ending '00' get +1 — i.e.
    province/city-level codes are pushed down to a concrete area).  Kept as a
    named, tested expression rather than inline string surgery.
    """
    out = out_col or col
    c = F.col(col).cast("string")
    fixed = (
        F.when(c.isNull() | (F.length(c) != 6), F.lit(None))
        .when(c.endswith("0000"), (c.cast("long") + 101).cast("string"))
        .when(c.endswith("00"), (c.cast("long") + 1).cast("string"))
        .otherwise(c)
    )
    return df.withColumn(out, fixed)


def asof_join(
    points: DataFrame,
    quotes: DataFrame,
    key_cols: Sequence[str],
    point_ts: str,
    quote_ts: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Backward as-of join: each point row picks up the value columns of the
    latest quote row with the same key and ``quote_ts <= point_ts``.

    The reference approximated as-of with interval containment (SURVEY
    §2.3 note) or full-outer state merges; Spark has no native ASOF
    strategy either.  Rather than a non-equi join (range-explosion, BNL
    risk), this is the union + forward-fill spelling: one shuffle on the
    key, one window sort — cost identical to a co-partitioned join, linear
    in rows, and AQE-skew-safe.  At 100 TB, if both sides are bucketed on
    the key (``write_bucketed``) even that shuffle disappears.

    Contract: ``quotes`` must be unique per (key, quote_ts) — pre-aggregate
    with ``max_by`` for deterministic results.  Ties (point_ts == quote_ts)
    match, i.e. '<=' semantics, same as DuckDB/pandas ASOF backward.
    """
    keys = list(key_cols)
    q = quotes.select(
        *keys,
        F.col(quote_ts).cast("bigint").alias("__ts"),
        *[F.col(c) for c in value_cols],
        F.lit(1).alias("__q"),
    )
    p = points.withColumn("__ts", F.col(point_ts).cast("bigint")).withColumn(
        "__q", F.lit(0)
    )
    u = p.unionByName(q, allowMissingColumns=True)
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__q").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in value_cols:
        u = u.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return u.where(F.col("__q") == 0).drop("__q", "__ts")
