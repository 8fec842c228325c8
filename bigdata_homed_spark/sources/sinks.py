"""Sinks (SURVEY §2.1 S7-S13).

The reference wrote day-partitioned ORC facts via Hive ``insert overwrite
… partition(day)`` (S7/S8, `etl/LogParser.scala:92-101`, `etl/MysqlToHive.
scala:52-54`), report tables via JDBC append/overwrite with ``coalesce(10)``
(S9, `utils/DBUtils.scala:75-112`), and Phoenix upsert-by-PK (S10,
`utils/DBUtils.scala:150-158`).

Here the lake sink is partitioned parquet with *dynamic* partition
overwrite (only the partitions present in the batch are replaced — the
exact semantics of the reference's per-day overwrite, without clobbering
other days), and the JDBC sink is a thin gated wrapper (no database in the
test container).  Upsert-by-PK is emulated with an anti-join + union
(MERGE without Delta), usable from ``foreachBatch`` for streaming parity.

Small-file compaction belongs to ``SnapshotTable`` (``sources/snapshots.py``:
``commit_compact_small``/``maybe_compact``), which publishes it in one
atomic manifest commit instead of swapping directories under readers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned_fact(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("day",),
    mode: str = "overwrite",
    output_files_per_partition: int | None = None,
    fmt: str = "parquet",
) -> None:
    """S7/S8: day-partitioned columnar fact write with dynamic partition
    overwrite.  ``output_files_per_partition`` is the explicit file-count
    control the reference exercised with ``repartition(n)`` before insert
    (74 sites) — at 100 TB you size this so files land near the HDFS/S3
    sweet spot (128-1024 MB), not Spark's shuffle width.  ``fmt`` accepts
    "orc" for byte-level parity with the reference's sink
    (`etl/MysqlToHive.scala:52-54` wrote ORC); parquet is the default
    because the synthetic catalog and oracles read parquet."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out = df
    if output_files_per_partition:
        out = df.repartition(output_files_per_partition, *partition_cols)
    out.write.mode(mode).partitionBy(*partition_cols).format(fmt).save(path)


def upsert_by_key(
    existing: DataFrame, updates: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """S10 Phoenix-upsert semantics without a MERGE-capable format:
    new rows win per key, untouched keys survive.  Usable in
    ``foreachBatch`` for streaming state tables."""
    survivors = existing.join(updates.select(*key_cols).distinct(), list(key_cols), "left_anti")
    return survivors.unionByName(updates)


class PartitionedStateStore:
    """Keyed parquet state table, hash-partitioned into fixed buckets —
    the MERGE-into-a-keyed-target shape without a transactional format.

    The reference overwrote Phoenix rows by PK per micro-batch
    (`utils/DBUtils.scala:150-158`); a naive parquet analog reads and
    rewrites the ENTIRE state table every batch — O(total state) I/O that
    dies at 100 TB.  Here the state is partitioned by
    ``pmod(xxhash64(key), n_buckets)``: an upsert reads only the buckets
    its batch keys hash into (partition pruning on the bucket column) and
    rewrites only those directories (dynamic partition overwrite), so
    per-batch I/O is O(batch ∪ touched buckets), independent of total
    state size.  At scale you raise ``n_buckets`` so a bucket ≈ one HDFS
    block; the bucket count is frozen into the layout, like Hive
    bucketing.
    """

    BUCKET_COL = "__bucket"

    def __init__(self, path: str, key_cols: Sequence[str], n_buckets: int = 64):
        self.path = path
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        # caches only a POSITIVE "state exists" answer; the authoritative
        # check is the filesystem (_state_exists), so a fresh instance
        # pointed at pre-existing state merges instead of clobbering it —
        # the restart/at-least-once contract this class advertises.
        self._known_initialized = False

    def _state_exists(self, spark: SparkSession) -> bool:
        if self._known_initialized:
            return True
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        # look for BUCKET DIRS, not any file: after a full expiry the path
        # still holds _SUCCESS markers but no data — treating that as
        # "initialized" would send the next upsert down the merge path and
        # crash reading an empty parquet dir
        exists = bool(fs.exists(jpath)) and any(
            st.getPath().getName().startswith(f"{self.BUCKET_COL}=")
            for st in fs.listStatus(jpath)
        )
        self._known_initialized = exists
        return exists

    def _bucketed(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return df.withColumn(
            self.BUCKET_COL,
            F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_buckets)).cast("int"),
        )

    def _overwrite_buckets(self, df: DataFrame) -> None:
        """Rewrite exactly the bucket dirs present in ``df`` — WITHOUT the
        eager pre-write localCheckpoint the old in-place dynamic overwrite
        needed (its plan read the very files the write was replacing).
        The rows are staged to a sibling directory in ONE Spark job —
        reading the live state files is safe, nothing overwrites them —
        then each staged ``__bucket=N`` dir is swapped into place with
        filesystem renames (driver metadata ops, O(touched buckets)).

        This halves the per-batch write cost: the checkpoint wrote every
        surviving state row twice (block store + parquet); now the merged
        state is written once.  Crash atomicity is unchanged — dynamic
        partition overwrite was never atomic across partition dirs either,
        and the store's at-least-once replay contract (keep-latest /
        retention predicates are idempotent) covers a torn swap exactly as
        it covered a torn multi-dir overwrite."""
        import uuid

        spark = df.sparkSession
        stage = f"{self.path}_stage_{uuid.uuid4().hex}"
        df.write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(stage)
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        stage_p = jvm.org.apache.hadoop.fs.Path(stage)
        fs = stage_p.getFileSystem(conf)
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        if not fs.exists(root):
            fs.mkdirs(root)
        for st in fs.listStatus(stage_p):
            name = st.getPath().getName()
            if not name.startswith(f"{self.BUCKET_COL}="):
                continue
            dest = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{name}")
            fs.delete(dest, True)
            fs.rename(st.getPath(), dest)
        fs.delete(stage_p, True)

    def upsert(self, updates: DataFrame) -> list[int]:
        """Merge a batch (new rows win per key); returns touched buckets."""
        from pyspark.sql import functions as F

        spark = updates.sparkSession
        # lazy persist, not eager localCheckpoint: the touched-bucket
        # collect below materializes the cache in the SAME job, saving one
        # driver round-trip per micro-batch (batch job count, not data
        # volume, bounds micro-batch throughput — see merge_latest)
        upd = self._bucketed(updates).persist()
        try:
            # driver-side list is ≤ n_buckets ints by construction — a bounded
            # metadata collect (the partition-pruning predicate), not data
            touched = [r[0] for r in upd.select(self.BUCKET_COL).distinct().collect()]
            if not self._state_exists(spark):
                upd.write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(
                    self.path
                )
                self._known_initialized = True
                return touched
            existing = spark.read.parquet(self.path).where(
                F.col(self.BUCKET_COL).isin(touched)
            )
            merged = upsert_by_key(existing, upd, self.key_cols)
            # staged write + bucket-dir swap: one job, no pre-write
            # checkpoint materialization (see _overwrite_buckets)
            self._overwrite_buckets(merged)
            return touched
        finally:
            upd.unpersist()

    def merge_latest(
        self,
        updates: DataFrame,
        order_cols: Sequence[str],
        horizon_col: str | None = None,
        horizon_to_predicate=None,
    ) -> list[int]:
        """One-pass newest-wins merge (S10 + T3 fused): union the batch
        with the touched buckets' existing rows and keep, per key, the row
        with the greatest ``order_cols`` tuple.

        Equivalent to ``read_for_keys`` + keep-latest + ``upsert`` — the
        shape the keyed streaming jobs used through r6 — but reads the
        state ONCE per batch instead of twice and needs one driver collect
        instead of two.  In a micro-batch loop the per-batch JOB count,
        not data volume, bounds throughput at any scale, so fusing the
        read matters as much locally as on a cluster.

        Replay/out-of-order safe: max over ``order_cols`` is associative,
        commutative and idempotent, so a reprocessed or late batch can
        never regress the snapshot (same argument as the unfused path).
        ``updates`` may contain several rows per key; exactly one survives.

        ``horizon_col`` + ``horizon_to_predicate`` fuse the retention
        DELETE into the merge.  The bounded per-bucket collect additionally
        carries ``max(horizon_col)`` (same job, same ≤ n_buckets rows), the
        global max is handed to ``horizon_to_predicate(batch_max_or_None)``,
        and the predicate it returns (SQL string or Column, same NULL-safe
        contract as :meth:`expire`; or None) drops matching winners from
        the touched buckets in the SAME write, instead of a separate
        expire() pass re-reading and re-writing the state per batch, and
        instead of the separate driver job per micro-batch that a
        caller-side ``agg(max(...)).collect()`` costs.  The callback owns
        the monotone-horizon state, so replay safety is unchanged (max is
        idempotent).  Buckets the batch does not touch keep their expired
        rows until the caller's final ``expire()`` sweep — with a monotone
        horizon the converged state is identical (an intermediate-expired
        row is final-expired too, and keep-latest is idempotent).
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark = updates.sparkSession
        # lazy persist instead of an eager localCheckpoint: the
        # touched-bucket collect below is the first action anyway, so the
        # cache materializes inside it — one fewer driver job per batch
        upd = self._bucketed(updates).persist()
        try:
            # bounded metadata collect: ≤ n_buckets rows (the pruning
            # predicate, plus the per-bucket horizon max when requested)
            pred = None
            if horizon_col is not None:
                stats = (
                    upd.groupBy(self.BUCKET_COL)
                    .agg(F.max(horizon_col).alias("__hmax"))
                    .collect()
                )
                touched = [r[0] for r in stats]
                hmaxes = [r["__hmax"] for r in stats if r["__hmax"] is not None]
                pred = horizon_to_predicate(
                    max(hmaxes) if hmaxes else None
                )
            else:
                touched = [
                    r[0] for r in upd.select(self.BUCKET_COL).distinct().collect()
                ]
            merged = upd
            if self._state_exists(spark):
                merged = upd.unionByName(
                    spark.read.parquet(self.path).where(
                        F.col(self.BUCKET_COL).isin(touched)
                    )
                )
            w = Window.partitionBy(*self.key_cols).orderBy(
                *[F.desc(c) for c in order_cols]
            )
            winners = (
                merged.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
            if pred is not None:
                if isinstance(pred, str):
                    pred = F.expr(pred)
                # same NULL-safe survivor rule as expire(): NULL retains
                winners = winners.where(~F.coalesce(pred, F.lit(False)))
            # staged write + bucket-dir swap: one job, no pre-write
            # checkpoint materialization (see _overwrite_buckets)
            self._overwrite_buckets(winners)
            self._known_initialized = True
            return touched
        finally:
            upd.unpersist()

    def expire(self, spark: SparkSession, predicate) -> list[int]:
        """Retention delete (S13 analog): remove rows matching ``predicate``
        — the reference's per-batch ``DELETE FROM t WHERE f_date < …``
        (`homed/realtime/ChannelLive.scala:579-625`) mapped onto the bucket
        layout.  Only buckets that actually CONTAIN expired rows are
        rewritten (dynamic partition overwrite); untouched buckets keep
        their files byte-identical, so retention I/O is O(expired-row
        buckets), not O(total state).  Returns the rewritten bucket ids.
        """
        from pyspark.sql import functions as F

        if isinstance(predicate, str):
            predicate = F.expr(predicate)
        if not self._state_exists(spark):
            return []
        state = spark.read.parquet(self.path)
        # ONE bounded stats collect (≤ n_buckets rows) answers both driver
        # questions — which buckets hold expired rows, and which of those
        # still have survivors — instead of two separate scan+distinct
        # passes over the state (one scan, map-combinable agg)
        expired_flag = F.when(F.coalesce(predicate, F.lit(False)), 1).otherwise(0)
        stats = (
            state.groupBy(self.BUCKET_COL)
            .agg(
                F.sum(expired_flag).alias("__n_exp"),
                F.count(F.lit(1)).alias("__n"),
            )
            .collect()
        )
        touched = [r[0] for r in stats if r["__n_exp"] > 0]
        if not touched:
            return []
        # NULL-safe survivor logic: a NULL predicate (e.g. NULL retention
        # column) must RETAIN the row — plain ~predicate would evaluate
        # NULL and silently delete it
        surv_buckets = {r[0] for r in stats if 0 < r["__n_exp"] < r["__n"]}
        if surv_buckets:
            survivors = state.where(
                F.col(self.BUCKET_COL).isin(list(surv_buckets))
            ).where(~F.coalesce(predicate, F.lit(False)))
            # staged write + bucket-dir swap: one job, no pre-write
            # checkpoint materialization (see _overwrite_buckets);
            # fully-expired buckets (no survivors) are dropped as
            # directories below
            self._overwrite_buckets(survivors)
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(self.path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        for b in touched:
            if b not in surv_buckets:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{self.path}/{self.BUCKET_COL}={b}"
                    ),
                    True,
                )
        # a predicate matching EVERY row empties the store; drop the cached
        # "initialized" answer so the next upsert re-probes the filesystem
        # (the initial-load path) instead of merging against nothing
        self._known_initialized = False
        return touched

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).drop(self.BUCKET_COL)

    def read_for_keys(self, spark: SparkSession, keys: DataFrame) -> DataFrame | None:
        """Read only the buckets the given key rows hash into — the
        partition-pruned state lookup a merge-with-existing step needs
        (O(touched buckets) I/O, like upsert).  None if no state exists."""
        from pyspark.sql import functions as F

        if not self._state_exists(spark):
            return None
        touched = [
            r[0]
            for r in self._bucketed(keys).select(self.BUCKET_COL).distinct().collect()
        ]
        return (
            spark.read.parquet(self.path)
            .where(F.col(self.BUCKET_COL).isin(touched))
            .drop(self.BUCKET_COL)
        )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    num_partitions: int = 10,
    properties: dict[str, str] | None = None,
) -> None:
    """S9: JDBC report sink.  ``coalesce(num_partitions)`` mirrors the
    reference's fixed write parallelism (DBUtils.scala:108) — JDBC
    connections are the scarce resource, not Spark tasks.  Gated: no
    database exists in the test container."""
    df.coalesce(num_partitions).write.mode(mode).jdbc(
        url, table, properties=properties or {}
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed, bucket-sorted table write (saveAsTable).

    This is the 100 TB co-location strategy the reference never had: two
    facts bucketed on their join key with the same bucket count join with
    ZERO shuffle — each task zips bucket i with bucket i — and, with
    ``sort_cols`` on the key, zero sort too.  At scale this turns the
    nightly fact-fact joins (session × repair, play × behavior) from a
    full-network pass into a local merge.  The same layout serves
    repeated groupBy on the bucket key.  Spark reads it back
    shuffle-free whenever ``spark.sql.sources.bucketing.enabled`` (default
    true) and bucket counts line up."""
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
