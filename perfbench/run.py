"""Benchmark of the bigdata_homed_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload homed_reports --seed 1 --seconds 20 --trace 0

Workloads: homed_reports, stream_replay, dedup_corpus (closed loops, one
client) and realtime_ingest (open loop); BENCHMARK.json names the ones the
benchmark gates on.  See perfbench/README.md for what
each metric means.  The run generates its inputs from ``--seed`` under
``.perfbench_work/`` in the repository root, checks every output, and
prints as its last stdout line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  A traced run also
writes its spans to ``.perfbench_out/``.

``--scale`` sets the generated catalog's row counts to those of a fixture
scale factor (default sf0.01; README.md says why not sf0.1).

Environment: ``SPARK_GRAFT_CPUS`` (default: all cores; refused above
``nproc``) and ``SPARK_GRAFT_DRIVER_MEM`` (default 3g; refused at or above
host memory).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("homed_reports", "dedup_corpus", "realtime_ingest", "stream_replay")
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "freshness_p50_s": "s",
    "freshness_p99_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "success_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.shuffle_read_bytes": "bytes",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.task_run_s": "s",
    "session.task_cpu_s": "s",
    "session.gc_s": "s",
    "session.busy_ratio": "ratio",
    "session.peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    "reports.build_s": "s",
    "reports.exec_s": "s",
    "operators.sessionize_by_gap_s": "s",
    "operators.explode_time_grid_s": "s",
    "operators.interval_join_s": "s",
    "operators.keep_latest_s": "s",
    "operators.label_propagation_s": "s",
    "operators.label_propagation.jobs": "count",
    "functions.word_shingles_s": "s",
    "functions.minhash_signature_s": "s",
    "sources.tables.load_table_s": "s",
    "sources.tables.input_bytes": "bytes",
    "sources.snapshots.commit_merge_on_read_s": "s",
    "sources.snapshots.jobs_per_commit": "count",
    "sources.snapshots.maybe_compact_s": "s",
    "sources.snapshots.read_s": "s",
    "dashboard.read_p50_s": "s",
    "sources.snapshots.dv_fraction": "ratio",
    "sources.snapshots.bytes_written": "bytes",
    "sources.snapshots.live_files": "count",
    "sources.sinks.merge_latest_s": "s",
    "sources.sinks.jobs_per_merge": "count",
    "sources.sinks.bytes_rewritten": "bytes",
    "streaming.triggers": "count",
    "streaming.trigger_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.input_rows": "count",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    "trace.min_self_s": "s",
}
# per-layer metrics of layers a workload does not call: printed as 0
NOT_APPLICABLE = {
    "realtime_ingest": ("plans.", "reports.", "sources.tables."),
    "homed_reports": ("sources.snapshots.", "sources.sinks.", "dashboard."),
    "dedup_corpus": ("reports.", "sources.snapshots.", "sources.sinks.", "dashboard."),
    "stream_replay": ("reports.", "sources.snapshots.", "sources.sinks.", "dashboard."),
}
SETUP_REPEATS = 3
DEFAULT_SCALE = "sf0.01"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        choices=("sf0.001", "sf0.01", "sf0.1"),
        default=DEFAULT_SCALE,
        help=f"row counts of the generated catalog (default {DEFAULT_SCALE})",
    )
    return ap.parse_args(argv)


def host_env() -> dict:
    """CPU and memory settings; raises ValueError on a setting the host
    cannot honour."""
    nproc = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", nproc))
    if not 1 <= cpus <= nproc:
        raise ValueError(f"SPARK_GRAFT_CPUS={cpus} is outside 1..nproc ({nproc})")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g")
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    mem_bytes = int(mem[:-1]) * units[mem[-1].lower()] if mem[-1].isalpha() else int(mem)
    host_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    if mem_bytes >= host_bytes:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={mem} is not below host memory "
            f"({host_bytes / 2**30:.1f} GiB)"
        )
    return {"nproc": nproc, "cpus": cpus, "driver_mem": mem, "host_mem_bytes": host_bytes}


def start_spark(env: dict, work: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(env["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = env["driver_mem"]
    from bigdata_homed_spark.session import get_spark

    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    # shuffle and spill files, and every temp file of the JVMs the launch
    # starts (launcher and Spark driver), stay inside the work directory; no
    # perf-data file goes to /tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={work}"
    )
    spark = get_spark(
        "perfbench",
        master=f"local[{env['cpus']}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the status store must keep every job of a run for the
            # job-id window counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def run(args, env: dict, work: str) -> tuple[dict, dict]:
    from perfbench import inputs, workloads as wl
    from perfbench.measure import ProgressListener, SparkCounters, Tracer, vm_hwm_mb

    t0 = time.perf_counter()
    spark = start_spark(env, work)
    start_s = time.perf_counter() - t0
    try:
        pid = jvm_pid()
        counters = SparkCounters(spark)
        tracer = Tracer(bool(args.trace), counters)
        listener = None
        if args.trace:
            listener = ProgressListener()
            spark.streams.addListener(listener)
        input_dir = os.path.join(work, "input")
        ops = wl.CLOSED_LOOPS.get(args.workload, ((), ()))[0]
        scale = inputs.SCALES[args.scale]
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            shutil.rmtree(input_dir, ignore_errors=True)
            rows = inputs.write_catalog(input_dir, args.seed, scale)
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        oracle = wl.oracle_digests(input_dir, ops)
        oracle_s = time.perf_counter() - t0
        ctx = wl.Ctx(
            spark=spark,
            input_dir=input_dir,
            tmp_dir=os.path.join(work, "tmp"),
            seed=args.seed,
            seconds=args.seconds,
            cores=env["cpus"],
            tracer=tracer,
            counters=counters,
            listener=listener,
        )
        setup = {"oracle": oracle}
        if args.workload == "realtime_ingest":
            res = wl.realtime_ingest(ctx, setup)
        else:
            res = wl.closed_loop(ctx, args.workload, setup)
        metrics = {
            "setup_s": start_s + statistics.median(gen_s) + oracle_s + setup["warmup_s"],
            "success_ratio": (ctx.attempted - ctx.failed) / max(1, ctx.attempted),
            **{k: res[k] for k in END_TO_END if k in res},
        }
        layers = {}
        if args.trace:
            layers = res["layers"]
            layers.update(wl.run_probes(ctx, ops))
            selfs = tracer.self_times()
            layers["session.start_s"] = start_s
            layers["session.warmup_s"] = setup["warmup_s"]
            layers["session.peak_rss_mb"] = vm_hwm_mb("self") + (vm_hwm_mb(pid) if pid else 0.0)
            layers["trace.spans"] = float(len(tracer.spans))
            layers["trace.min_self_s"] = min(selfs) if selfs else 0.0
        detail = {
            "env": {
                **env,
                "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                "spark_version": spark.version,
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "scale": args.scale,
                "input_rows": rows,
                "ingest_rate_per_s": wl.RATE_PER_S if args.workload == "realtime_ingest" else None,
            },
            "run": {k: v for k, v in res.items() if k != "layers"},
            "setup": {
                "start_s": start_s,
                "generate_s": gen_s,
                "oracle_s": oracle_s,
                "warmup_s": setup["warmup_s"],
                "load_table_s": setup.get("load_table_s"),
            },
            "errors": ctx.errors,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
        }
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump({**detail, "layers": layers, "spans": tracer.to_json()}, f)
            if listener is not None:
                spark.streams.removeListener(listener)
        return detail, (layers if args.trace else metrics)
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bigdata_homed_spark")):
        print("perfbench: the bigdata_homed_spark package is missing", file=sys.stderr)
        return 2
    try:
        env = host_env()
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the engine stages fixtures with tempfile: keep them inside the work dir
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    try:
        detail, values = run(args, env, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    names = PER_LAYER if args.trace else END_TO_END
    skip = NOT_APPLICABLE[args.workload] if args.trace else ()
    missing = [k for k in names if k not in values and not k.startswith(skip)]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()}
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": detail["failed"] == 0,
                "attempted": detail["attempted"],
                "failed": detail["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
