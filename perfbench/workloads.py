"""The four benchmark workloads and the per-layer probes.

Closed loops (one client, the next op starts when the previous one ended):

- ``homed_reports``: the nightly report chain of the IPTV backend;
- ``dedup_corpus``: the training-data dedup pipeline over ``documents``;
- ``stream_replay``: the registry's Structured Streaming jobs replaying
  the events table.

Each closed-loop op is timed in three phases: the registry call (build),
Catalyst planning of the forced query (plan) and the forced action (exec),
which reduces EVERY output column through ``bit_xor(xxhash64(...))``.
The set-up pass checks each op's full output against its DuckDB oracle
and records the checksum every timed pass must reproduce.

Open loop:

- ``realtime_ingest``: play events arrive on a fixed schedule; a cycle
  starts every ``TRIGGER_S`` seconds, takes everything that has arrived
  and runs ``PartitionedStateStore.merge_latest``,
  ``SnapshotTable.commit_merge_on_read``, ``maybe_compact`` every
  ``COMPACT_EVERY`` cycles and a dashboard read of viewers per channel.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from . import inputs
from .measure import (
    FileLedger,
    ProgressListener,
    SparkCounters,
    Span,
    Tracer,
    median,
    quantile,
)

# Every run compiles each op's plans afresh (about 3x its warm time), so
# each list keeps the few ops that load its layers most: the flagship
# report (most of the nightly chain's time sits in its registry call) and
# one op per operator family; see README.md for the time budget.
HOMED_OPS = (
    "channel_report_full",
    "video_play_report",
    "gap_sessions",
    "halfhour_activity",
)
DEDUP_OPS = (
    "minhash_lsh_pairs",
    "dedup_canonical_keep",
    "prefix_filter_jaccard_pairs",
    "simhash_near_pairs",
)
STREAM_OPS = (
    "stream_channel_live_counts",
    "stream_hourly_event_counts",
    "stream_snapshot_commits",
)
CLOSED_LOOPS = {
    "homed_reports": (HOMED_OPS, ("events", "customer", "nation", "region")),
    "dedup_corpus": (DEDUP_OPS, ("documents",)),
    "stream_replay": (STREAM_OPS, ("events", "customer")),
}
# registry entries implemented in bigdata_homed_spark/reports/
REPORT_OPS = frozenset({"channel_report_full", "video_play_report"})

# realtime_ingest: fixed arrival rate and trigger cadence (open loop)
RATE_PER_S = 250
TRIGGER_S = 4.0
COMPACT_EVERY = 2
COMPACT_THRESHOLD = 0.2
RT_USERS = 1500  # the users of the sf0.1 catalog
RT_CHANNELS = 40
RT_WARM_CYCLES = 2
RT_BUCKETS = 4
# the function probes run on this many documents (the fixture's count at
# sf0.001 and sf0.01): minhash_signature takes about 1 s per 100 documents
PROBE_DOCS = 500


@dataclass
class Ctx:
    spark: SparkSession
    input_dir: str
    tmp_dir: str
    seed: int
    seconds: float
    cores: int
    tracer: Tracer
    counters: SparkCounters
    listener: ProgressListener | None = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)




# -- output checks ----------------------------------------------------------


def row_hash_col(df: DataFrame):
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c)
    return F.xxhash64(*cols)


def checksum_frame(df: DataFrame) -> DataFrame:
    return df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(row_hash_col(df)).alias("x")
    )


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, columns matched by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_canon(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def duck_catalog(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in os.listdir(input_dir):
        if name.endswith(".parquet"):
            con.sql(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                f"'{os.path.join(input_dir, name)}'"
            )
    return con


def oracle_digests(input_dir: str, ops) -> dict[str, tuple[list[str], int, str]]:
    """Evaluate each op's DuckDB oracle: (sorted columns, rows, digest)."""
    from bigdata_homed_spark.plans import ORACLES

    con = duck_catalog(input_dir)
    out = {}
    for name in ops:
        res = con.sql(ORACLES[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = (sorted(cols), len(rows), table_digest(cols, rows))
    con.close()
    return out


# -- closed loops -------------------------------------------------------------


def run_op(ctx: Ctx, name: str, fn) -> tuple[tuple[int, int], dict]:
    """One timed op: build / plan / exec; returns (checksum, phase seconds)."""
    tr = ctx.tracer
    with tr.span(f"op.{name}", jobs=True) as op_span:
        # the span start drained the listener bus: later progress is this op's
        n_progress = len(ctx.listener.progress) if ctx.listener else 0
        t0 = time.perf_counter()
        with tr.span("plans.build"):
            df = fn(ctx.spark, ctx.input_dir)
        t1 = time.perf_counter()
        with tr.span("plans.plan"):
            chk = checksum_frame(df)
            chk._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        with tr.span("plans.exec"):
            row = chk.collect()[0]
        t3 = time.perf_counter()
    if op_span is not None and ctx.listener is not None:
        ctx.counters.next_job_id()  # drains the listener bus
        for p in ctx.listener.progress[n_progress:]:
            p["op"] = name
    phases = {"build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2}
    return (int(row["n"]), int(row["x"] or 0)), phases


def warm_pass(ctx: Ctx, ops, oracle: dict) -> dict[str, tuple[int, int]]:
    """The unbilled set-up pass: every op's full output is compared with its
    oracle, and its checksum recorded for the timed passes."""
    from bigdata_homed_spark.plans import QUERIES

    expected = {}
    for name in ops:
        ctx.attempted += 1
        try:
            df = QUERIES[name](ctx.spark, ctx.input_dir)
            cols = df.columns
            rows = df.withColumn("__h", row_hash_col(df)).collect()
        except Exception:
            ctx.fail(f"{name}: set-up pass raised\n{traceback.format_exc()}")
            continue
        finally:
            ctx.spark.catalog.clearCache()
        body = [tuple(r)[:-1] for r in rows]
        want_cols, want_n, want_digest = oracle[name]
        if sorted(cols) != want_cols or len(body) != want_n or (
            table_digest(cols, body) != want_digest
        ):
            ctx.fail(f"{name}: output differs from its DuckDB oracle")
            continue
        x = 0
        for r in rows:
            x ^= r["__h"]
        expected[name] = (len(rows), x)
    return expected


def timed_pass(ctx: Ctx, ops, expected: dict) -> dict:
    from bigdata_homed_spark.plans import QUERIES

    done, phases = [], []
    start = time.perf_counter()
    with ctx.tracer.span("pass", jobs=True):
        for name in ops:
            ctx.attempted += 1
            try:
                chk, ph = run_op(ctx, name, QUERIES[name])
            except Exception:
                ctx.fail(f"{name}: raised\n{traceback.format_exc()}")
                chk, ph = None, None
            finally:
                ctx.spark.catalog.clearCache()
            if chk is not None and chk != expected.get(name):
                ctx.fail(f"{name}: checksum {chk} != set-up {expected.get(name)}")
            done.append(time.perf_counter() - start)
            if ph is not None:
                phases.append((name, ph))
    return {"wall": time.perf_counter() - start, "done": done, "phases": phases}


def load_tables_cold(ctx: Ctx, tables) -> float:
    """Seconds of the first ``load_table`` call for each table: file listing
    and footer schema inference.  Later calls in the same session are hits
    in the engine's scan catalog and cost nothing."""
    from bigdata_homed_spark.sources.tables import load_table

    t0 = time.perf_counter()
    for t in tables:
        load_table(ctx.spark, ctx.input_dir, t)
    return time.perf_counter() - t0


def closed_loop(ctx: Ctx, workload: str, setup: dict) -> dict:
    ops, tables = CLOSED_LOOPS[workload]
    input_bytes = sum(
        os.path.getsize(os.path.join(ctx.input_dir, f"{t}.parquet")) for t in tables
    )
    tracing, ctx.tracer.enabled = ctx.tracer.enabled, False  # set-up is not traced
    t0 = time.perf_counter()
    setup["load_table_s"] = load_tables_cold(ctx, tables)
    # the oracle-checked pass also compiles every op's plans
    expected = warm_pass(ctx, ops, setup["oracle"])
    setup["warmup_s"] = time.perf_counter() - t0
    ledger = FileLedger([ctx.tmp_dir])
    lo = ctx.counters.next_job_id()
    passes = []
    # a traced run alternates untraced and traced passes, starting and
    # ending untraced; the difference of their times is the tracing overhead
    min_passes = 3 if tracing else 2
    start = time.perf_counter()
    # stop before the pass that would end after --seconds
    while len(passes) < min_passes or (
        time.perf_counter() - start + median([p["wall"] for p in passes]) <= ctx.seconds
    ):
        ctx.tracer.enabled = tracing and len(passes) % 2 == 1
        passes.append(timed_pass(ctx, ops, expected))
        passes[-1]["traced"] = ctx.tracer.enabled
    ctx.tracer.enabled = tracing
    hi = ctx.counters.next_job_id()
    written = ledger.new_bytes()
    work = ctx.counters.totals(lo, hi)
    n = len(passes)
    # per pass: when each op's result was complete, counted from the start
    # of the pass (the nightly chain's "report ready" times)
    result = {
        "run_s": median([p["wall"] for p in passes]),
        "freshness_p50_s": median([quantile(p["done"], 0.5) for p in passes]),
        "freshness_p99_s": median([quantile(p["done"], 0.99) for p in passes]),
        "write_amp": (written + work["shuffle_write_bytes"] + work["spill_bytes"])
        / (n * input_bytes),
        "space_amp": (input_bytes + written / n) / input_bytes,
        "pass_walls": [p["wall"] for p in passes],
        "input_bytes": input_bytes,
    }
    if tracing:
        result["layers"] = closed_loop_layers(ctx, passes)
        result["layers"]["sources.tables.load_table_s"] = setup["load_table_s"]
    return result


# -- realtime ingest -----------------------------------------------------------


@dataclass
class Realtime:
    table: object
    store: object
    truth: dict  # user_id -> (sec, event_id, channel_id, device_id)
    table_files: FileLedger
    store_files: FileLedger


def _batch_frame(spark: SparkSession, t: pa.Table) -> DataFrame:
    return spark.createDataFrame(
        list(zip(*(t.column(c).to_pylist() for c in t.column_names))),
        "event_id long, user_id long, channel_id long, device_id long, sec long",
    )


def _apply_truth(truth: dict, t: pa.Table) -> None:
    for eid, uid, ch, dev, sec in zip(*(t.column(c).to_pylist() for c in t.column_names)):
        cur = truth.get(uid)
        if cur is None or (sec, eid) > cur[:2]:
            truth[uid] = (sec, eid, ch, dev)


def _channel_counts(truth: dict) -> dict[int, int]:
    out: dict[int, int] = {}
    for _, _, ch, _ in truth.values():
        out[ch] = out.get(ch, 0) + 1
    return out


def _open_tables(root: str, spark: SparkSession, base: pa.Table) -> Realtime:
    from bigdata_homed_spark.sources.sinks import PartitionedStateStore
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    os.makedirs(root, exist_ok=True)
    table = SnapshotTable(os.path.join(root, "table"))
    store = PartitionedStateStore(os.path.join(root, "store"), ["user_id"], n_buckets=RT_BUCKETS)
    df = _batch_frame(spark, base)
    table.commit_append(df, stats_cols=["user_id"])
    store.merge_latest(df, ["sec", "event_id"])
    truth: dict = {}
    _apply_truth(truth, base)
    return Realtime(table, store, truth, FileLedger([table.path]), FileLedger([store.path]))


def ingest_cycle(ctx: Ctx, rt: Realtime, batch: pa.Table, cycle: int) -> tuple[bool, float]:
    """One cycle: merge, commit, compaction when due, dashboard read.
    Returns (dashboard matched the newest-wins truth, read seconds)."""
    from bigdata_homed_spark.operators.aggregate import keep_latest

    spark, tr = ctx.spark, ctx.tracer
    df = _batch_frame(spark, batch)
    ctx.attempted += 2
    with tr.span("sources.sinks.merge_latest", jobs=True):
        rt.store.merge_latest(df, ["sec", "event_id"])
    with tr.span("sources.snapshots.commit_merge_on_read", jobs=True):
        rt.table.commit_merge_on_read(
            keep_latest(df, ["user_id"], "sec", "event_id"), key="user_id",
            stats_cols=["user_id"],
        )
    if cycle % COMPACT_EVERY == 0:
        ctx.attempted += 1
        with tr.span("sources.snapshots.maybe_compact", jobs=True):
            rt.table.maybe_compact(spark, threshold=COMPACT_THRESHOLD, stats_cols=["user_id"])
    state = {}
    if tr.enabled:
        # the table state the read sees
        state = {"dv_fraction": rt.table.dv_fraction(), "live_files": len(rt.table.files())}
    ctx.attempted += 1
    t0 = time.perf_counter()
    with tr.span("dashboard_read", jobs=True, **state):
        with tr.span("sources.snapshots.read"):
            frame = rt.table.read(spark)
        rows = frame.groupBy("channel_id").count().collect()
    read_s = time.perf_counter() - t0
    _apply_truth(rt.truth, batch)
    return {r["channel_id"]: r["count"] for r in rows} == _channel_counts(rt.truth), read_s


def _check_final(ctx: Ctx, rt: Realtime, events: list[pa.Table]) -> None:
    """Table and store against a DuckDB newest-wins over every event."""
    con = duckdb.connect()
    con.register("ev", pa.concat_tables(events))
    cols = ["user_id", "channel_id", "device_id", "sec", "event_id"]
    want = con.sql(
        f"SELECT {', '.join(cols)} FROM (SELECT *, row_number() OVER ("
        "PARTITION BY user_id ORDER BY sec DESC, event_id DESC) AS rn FROM ev) "
        "WHERE rn = 1"
    ).fetchall()
    con.close()
    digest = table_digest(cols, want)
    for what, df in (("table", rt.table.read(ctx.spark)), ("store", rt.store.read(ctx.spark))):
        ctx.attempted += 1
        got = [tuple(r) for r in df.select(*cols).collect()]
        if len(got) != len(want) or table_digest(cols, got) != digest:
            ctx.fail(f"realtime final {what} differs from newest-wins truth")


def _parquet_bytes(t: pa.Table) -> int:
    sink = pa.BufferOutputStream()
    pq.write_table(t, sink, compression="zstd")
    return sink.getvalue().size


def realtime_ingest(ctx: Ctx, setup: dict) -> dict:
    spark = ctx.spark
    base = inputs.base_state(ctx.seed, RT_USERS, RT_CHANNELS)
    tracing, ctx.tracer.enabled = ctx.tracer.enabled, False  # set-up is not traced
    t0 = time.perf_counter()
    rt = _open_tables(os.path.join(ctx.tmp_dir, "rt"), spark, base)
    # unbilled warm-up: cycles of events that precede the measured ones
    warm = inputs.play_events(
        ctx.seed, RATE_PER_S, RT_WARM_CYCLES * TRIGGER_S, RT_USERS, RT_CHANNELS,
        first_id=10**9, base_sec=inputs.PLAY_BASE_SEC - 60,
    ).table
    step = warm.num_rows // RT_WARM_CYCLES
    for c in range(1, RT_WARM_CYCLES + 1):
        ok, _ = ingest_cycle(ctx, rt, warm.slice((c - 1) * step, step), c)
        if not ok:
            ctx.fail(f"warm-up cycle {c}: dashboard differs from truth")
    rt.table_files.new_bytes()
    rt.store_files.new_bytes()
    setup["warmup_s"] = time.perf_counter() - t0
    plan = inputs.play_events(ctx.seed, RATE_PER_S, ctx.seconds, RT_USERS, RT_CHANNELS)
    pq.write_table(plan.table, os.path.join(ctx.input_dir, "play_events.parquet"))

    lo = ctx.counters.next_job_id()
    n = plan.table.num_rows
    taken, cycle = 0, 0
    fresh: list[float] = []
    cycles: list[float] = []
    kinds: dict[tuple[bool, bool], list[float]] = {}  # (compacts, traced) -> times
    reads: list[float] = []
    table_bytes: list[int] = []
    store_bytes: list[int] = []
    start = time.perf_counter()
    while taken < n:
        cycle += 1
        wait = start + cycle * TRIGGER_S - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        # a traced run traces cycles in runs of COMPACT_EVERY that start
        # one cycle into a compaction period, so that compacting and plain
        # cycles are both traced and untraced
        ctx.tracer.enabled = tracing and (cycle // COMPACT_EVERY) % 2 == 1
        c0 = time.perf_counter()
        upto = min(n, int((c0 - start) * RATE_PER_S) + 1)
        batch = plan.table.slice(taken, upto - taken)
        arrivals = plan.arrival_s[taken:upto]
        taken = upto
        try:
            with ctx.tracer.span("cycle", jobs=True):
                ok, read_s = ingest_cycle(ctx, rt, batch, cycle)
        except Exception:
            ctx.fail(f"cycle {cycle} raised\n{traceback.format_exc()}")
            continue
        end = time.perf_counter()
        if not ok:
            ctx.fail(f"cycle {cycle}: dashboard differs from truth")
        cycles.append(end - c0)
        if cycle > 1:  # the first cycle runs the least warmed-up code
            kind = (cycle % COMPACT_EVERY == 0, ctx.tracer.enabled)
            kinds.setdefault(kind, []).append(end - c0)
        reads.append(read_s)
        fresh.extend(((end - start) - arrivals).tolist())
        table_bytes.append(rt.table_files.new_bytes())
        store_bytes.append(rt.store_files.new_bytes())
    ctx.tracer.enabled = tracing
    hi = ctx.counters.next_job_id()
    work = ctx.counters.totals(lo, hi)
    _check_final(ctx, rt, [base, warm, plan.table])
    live = _parquet_bytes(
        pa.table(
            {
                "user_id": list(rt.truth),
                **{
                    k: [v[i] for v in rt.truth.values()]
                    for i, k in enumerate(("sec", "event_id", "channel_id", "device_id"))
                },
            }
        )
    )
    written = sum(table_bytes) + sum(store_bytes)
    result = {
        # mean, not median: every run has the same mix of compacting and
        # plain cycles, and a median of the two kinds flips between them
        "run_s": statistics.mean(cycles),
        "freshness_p50_s": quantile(fresh, 0.5),
        "freshness_p99_s": quantile(fresh, 0.99),
        "dashboard_read_p50_s": median(reads),
        "write_amp": (written + work["shuffle_write_bytes"] + work["spill_bytes"])
        / _parquet_bytes(plan.table),
        # the table and the store each hold one copy of the live state
        "space_amp": (rt.table_files.disk_bytes() + rt.store_files.disk_bytes()) / (2 * live),
        "cycle_walls": cycles,
        "events": n,
        "rate_per_s": RATE_PER_S,
    }
    if tracing:
        layers = realtime_layers(ctx, work, cycles)
        layers["dashboard.read_p50_s"] = result["dashboard_read_p50_s"]
        layers["sources.snapshots.bytes_written"] = median(table_bytes)
        layers["sources.sinks.bytes_rewritten"] = median(store_bytes)
        # traced minus untraced cycle time, compacting and plain cycles apart
        diffs = [
            median(kinds[(c, True)]) - median(kinds[(c, False)])
            for c in (False, True)
            if (c, True) in kinds and (c, False) in kinds
        ]
        if diffs:
            layers["trace.overhead_s"] = sum(diffs) / len(diffs)
        result["layers"] = layers
    return result


# -- traced-run layers -----------------------------------------------------------


def _p50(spans: list[Span]) -> float:
    return median([s.end - s.start for s in spans])


def _session_layers(work: dict, wall: float, cores: int, per: float) -> dict[str, float]:
    out = {
        f"session.{k}": work[k] / per
        for k in (
            "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "task_run_s", "task_cpu_s", "gc_s",
        )
    }
    out["session.busy_ratio"] = work["task_run_s"] / (wall * cores) if wall else 0.0
    return out


def _streaming_layers(ctx: Ctx, per: float) -> dict[str, float]:
    prog = [p for p in (ctx.listener.progress if ctx.listener else []) if "op" in p]
    dur = lambda p, k: p["duration_ms"].get(k, 0) / 1e3  # noqa: E731
    return {
        "streaming.triggers": len(prog) / per,
        "streaming.trigger_p50_s": median([dur(p, "triggerExecution") for p in prog]),
        "streaming.add_batch_s": sum(dur(p, "addBatch") for p in prog) / per,
        "streaming.query_planning_s": sum(dur(p, "queryPlanning") for p in prog) / per,
        "streaming.wal_commit_s": sum(dur(p, "walCommit") for p in prog) / per,
        "streaming.latest_offset_s": sum(dur(p, "latestOffset") for p in prog) / per,
        "streaming.state_commit_s": sum(p["state_commit_ms"] for p in prog) / 1e3 / per,
        "streaming.state_rows": max([p["state_rows"] for p in prog], default=0),
        "streaming.state_memory_bytes": max([p["state_memory_bytes"] for p in prog], default=0),
        "streaming.input_rows": sum(p["input_rows"] for p in prog) / per,
    }


def _attach_triggers(ctx: Ctx) -> None:
    """Rebuild each streaming trigger from listener progress as a child
    span of the op it ran in."""
    if not ctx.listener:
        return
    ops = {}
    for s in ctx.tracer.named("op."):
        ops.setdefault(s.name[3:], []).append(s)
    for p in ctx.listener.progress:
        if "op" not in p:
            continue
        end = p["end"]
        start = end - p["duration_ms"].get("triggerExecution", 0) / 1e3
        for s in ops.get(p["op"], []):
            if s.start <= end <= s.end:
                ctx.tracer.add_child(s, "streaming.trigger", max(start, s.start), end,
                                     batch_id=p["batch_id"])
                break


def closed_loop_layers(ctx: Ctx, passes: list[dict]) -> dict:
    tr = ctx.tracer
    traced = [p for p in passes if p["traced"]]
    per = float(len(traced))
    _attach_triggers(ctx)
    work: dict[str, float] = {}
    for s in tr.named("pass"):
        for k, v in ctx.counters.totals(s.attrs["job_lo"], s.attrs["job_hi"]).items():
            work[k] = work.get(k, 0.0) + v
    out = _session_layers(work, sum(p["wall"] for p in traced), ctx.cores, per)
    out["sources.tables.input_bytes"] = work["input_bytes"] / per
    phase_sum = lambda k, only=None: sum(  # noqa: E731
        ph[k] for p in traced for name, ph in p["phases"] if only is None or name in only
    ) / per
    out.update(
        {
            "plans.build_s": phase_sum("build"),
            "plans.plan_s": phase_sum("plan"),
            "plans.exec_s": phase_sum("exec"),
            "reports.build_s": phase_sum("build", REPORT_OPS),
            "reports.exec_s": phase_sum("exec", REPORT_OPS),
            "trace.overhead_s": median([p["wall"] for p in traced])
            - median([p["wall"] for p in passes if not p["traced"]]),
        }
    )
    out.update(_streaming_layers(ctx, per))
    return out


def realtime_layers(ctx: Ctx, work: dict, cycles: list[float]) -> dict:
    tr = ctx.tracer
    commits = tr.named("sources.snapshots.commit_merge_on_read")
    merges = tr.named("sources.sinks.merge_latest")
    reads = tr.named("dashboard_read")
    out = _session_layers(work, sum(cycles), ctx.cores, float(len(cycles)))
    out.update(
        {
            "sources.snapshots.commit_merge_on_read_s": _p50(commits),
            "sources.snapshots.jobs_per_commit": median([s.attrs["jobs"] for s in commits]),
            "sources.snapshots.maybe_compact_s": _p50(tr.named("sources.snapshots.maybe_compact")),
            "sources.snapshots.read_s": _p50(tr.named("sources.snapshots.read")),
            # mean, not median: a read right after a compaction sees none
            "sources.snapshots.dv_fraction": statistics.mean(s.attrs["dv_fraction"] for s in reads),
            "sources.snapshots.live_files": statistics.mean(s.attrs["live_files"] for s in reads),
            "sources.sinks.merge_latest_s": _p50(merges),
            "sources.sinks.jobs_per_merge": median([s.attrs["jobs"] for s in merges]),
        }
    )
    return out


# -- probes ------------------------------------------------------------------------


def _force(ctx: Ctx, df: DataFrame) -> None:
    checksum_frame(df).collect()


def probe_events(ctx: Ctx) -> DataFrame:
    """(user_id, event_id, ts_sec, channel_id) from the workload's own input:
    the realtime play events, else the catalog's events table."""
    from bigdata_homed_spark.sources.tables import load_table

    rt = os.path.join(ctx.input_dir, "play_events.parquet")
    if os.path.exists(rt):
        return ctx.spark.read.parquet(rt).select(
            "user_id", "event_id", F.col("sec").alias("ts_sec"), "channel_id"
        )
    return load_table(ctx.spark, ctx.input_dir, "events").select(
        "user_id",
        "event_id",
        "ts_sec",
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("channel_id"),
    )


def run_probes(ctx: Ctx, ops) -> dict[str, float]:
    """Time each operator/function probe, forced through the all-column
    checksum, on the workload's own input.  A workload that runs no
    streaming op also replays ``STREAM_OPS`` once, traced, so the
    ``streaming.*`` layer is measured on every workload."""
    from bigdata_homed_spark.functions.hashing import minhash_signature, shingle_hashes
    from bigdata_homed_spark.functions.text import word_shingles
    from bigdata_homed_spark.operators.aggregate import keep_latest
    from bigdata_homed_spark.operators.enrich import interval_join
    from bigdata_homed_spark.operators.graph import label_propagation
    from bigdata_homed_spark.operators.sessionize import sessionize_by_gap
    from bigdata_homed_spark.operators.timegrid import explode_time_grid
    from bigdata_homed_spark.sources.tables import load_table

    spark = ctx.spark
    ev = probe_events(ctx)
    docs = load_table(spark, ctx.input_dir, "documents").limit(PROBE_DOCS)
    spans = ev.groupBy("user_id", (F.col("ts_sec") / 86400).cast("long").alias("day")).agg(
        F.min("ts_sec").alias("s"), F.max("ts_sec").alias("e")
    )
    lo_hi = ev.agg(F.min("ts_sec"), F.max("ts_sec")).first()
    epg = (
        spark.range(10)
        .select(F.col("id").alias("ch"))
        .crossJoin(
            spark.range(lo_hi[0] // 1800 * 1800, lo_hi[1] + 1800, 1800).select(
                F.col("id").alias("p_start")
            )
        )
        .withColumn("p_end", F.col("p_start") + 1799)
    )
    by_source = Window.partitionBy("source").orderBy("doc_id")
    d = docs.select("doc_id", "source")
    edges1 = (
        d.withColumn("nxt", F.lead("doc_id").over(by_source))
        .where(F.col("nxt").isNotNull())
        .select(F.col("doc_id").alias("src"), F.col("nxt").alias("dst"), F.lit(1).alias("w"))
    )
    edges = edges1.unionByName(
        edges1.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    seeds = (
        d.withColumn("rn", F.row_number().over(by_source))
        .where("rn = 1")
        .select(F.col("doc_id").alias("node"), F.col("doc_id").alias("label"))
    )
    probes = {
        "operators.sessionize_by_gap_s": lambda: sessionize_by_gap(
            ev, ["user_id"], "ts_sec", 1800, "event_id"
        ),
        "operators.explode_time_grid_s": lambda: explode_time_grid(spans, "s", "e", 1800),
        "operators.interval_join_s": lambda: interval_join(
            ev, epg, [("channel_id", "ch")], "ts_sec", "p_start", "p_end"
        ),
        "operators.keep_latest_s": lambda: keep_latest(ev, ["user_id"], "ts_sec", "event_id"),
        "operators.label_propagation_s": lambda: label_propagation(edges, seeds, rounds=3),
        "functions.word_shingles_s": lambda: docs.select(
            "doc_id", word_shingles("text", 3).alias("sh")
        ),
        "functions.minhash_signature_s": lambda: docs.select(
            "doc_id", minhash_signature(shingle_hashes(word_shingles("text", 3)), 64).alias("sig")
        ),
    }
    out = {}
    for name, build in probes.items():
        _force(ctx, build())  # warm: the probe's first run compiles its plan
        lo = ctx.counters.next_job_id()
        with ctx.tracer.span(f"probe.{name}"):
            t0 = time.perf_counter()
            _force(ctx, build())
            out[name] = time.perf_counter() - t0
        if name == "operators.label_propagation_s":
            out["operators.label_propagation.jobs"] = float(ctx.counters.next_job_id() - lo)
    if not set(ops) & set(STREAM_OPS):
        from bigdata_homed_spark.plans import QUERIES

        ctx.tracer.enabled = False  # warm run, its progress is not counted
        for name in STREAM_OPS:
            _force(ctx, QUERIES[name](spark, ctx.input_dir))
        ctx.tracer.enabled = True
        for name in STREAM_OPS:
            run_op(ctx, name, QUERIES[name])
        _attach_triggers(ctx)
        out.update(_streaming_layers(ctx, 1.0))
    return out
