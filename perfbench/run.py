"""Lakehouse benchmark: one single-client, closed-loop workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload medallion_refresh --seed 1 --seconds 15 --trace 0

Workloads:
  medallion_refresh  one pass is the ``scripts/run_pipeline.py --streaming``
                     refresh into a fresh warehouse: 8 batch datasets written
                     (``fact_sales`` partitioned by ``order_date``), then the
                     2 stream-static flows run with AvailableNow.
  silver_query_mix   one pass runs 5 registered query callables and 2 silver
                     reads over a warehouse refreshed once during set-up, each
                     to a ``noop`` sink, in an order shuffled by the seed.

The seed generates the input tables (``perfbench/datagen.py``) and orders the
mix. Each run does untimed set-up and a warm-up pass, then timed passes for
``--seconds`` (at least two), then checks outputs against DuckDB. All files go
under ``.bench_work/`` in the repository root and are removed at exit.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process start to
the first timed pass, less the time the silver mix's warm-up spends checking
its results) and ``wall_norm_s`` (the median pass time), both rescaled by a
fixed Spark sentinel job timed between operations (see
``workloads.Sentinel``), and ``peak_rss_mb`` (the median over untraced
timed passes of the driver JVM's peak resident set size in the pass); the
raw set-up time, median pass time, sentinel time and the warm-up's check
time are printed on the line before the result.
``--trace 1`` turns on the Spark event log, job groups per call, Catalyst
phase timing and streaming progress, alternates untraced and traced passes,
and prints the per-layer metrics. The last line of standard output is one
JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("medallion_refresh", "silver_query_mix")
# fits a 15 GB, 4-core machine shared with other jobs; the package's own
# default (32g) assumes a dedicated large host
DRIVER_MEMORY = "2g"
# with --corrupt, the silver-mix operations whose checked results lose a row
CORRUPT_OPS = ("q1_pricing_summary", "silver_sales_by_segment_category")

sys.path.insert(0, ROOT)
# the package and the oracle harness are the program under test: in a
# directory without them these imports fail and no result is printed
import __spark_entry__ as entry  # noqa: E402
from adventureworkslakehousepoc_spark.session import get_spark  # noqa: E402

from perfbench import datagen, eventlog  # noqa: E402
from perfbench import workloads as wl  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the default (the self-test uses 0.2)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: damage one output before it is checked")
    return ap.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _reset_hwm(pid: int) -> None:
    """Resets ``VmHWM`` of ``pid`` to its current resident set size."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def _count_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def _children() -> list[int]:
    """Ids of this process's children, running or not yet waited for."""
    me, out = str(os.getpid()), []
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[1] == me:
                    out.append(int(d))
        except OSError:
            continue
    return out


def adopt_orphans() -> None:
    """Makes every process started below this one, the JVM's Python workers
    too, become this process's child when its own parent ends, so that
    ``stop_jvm`` can wait for it."""
    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0):
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_jvm() -> None:
    """Stops Spark and its JVM, then waits for every process started below
    this one. Safe to call more than once."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if gateway is not None:
            gateway.proc.stdin.close()  # the gateway server exits its JVM on EOF
            _wait_children()


def _wait_children(grace_s: float = 30.0) -> None:
    """Waits until this process has no children left, killing those still
    running after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # none left
        if pid == 0 and time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if pid == 0:
            time.sleep(0.05)


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    """Returns the result line and the raw (not rescaled) untraced medians."""
    cores = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "events", "data", "passes")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    tempfile.tempdir = None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["events"],
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", cpus=cores,
        driver_memory=DRIVER_MEMORY, extra_conf=conf,
    )
    session_start_s = time.perf_counter() - t0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    t0 = time.perf_counter()
    queries, oracles = entry.queries(), entry.oracle_sql()
    queries_import_s = time.perf_counter() - t0

    sf_dir = datagen.write(dirs["data"], args.seed, args.scale)
    rng = random.Random(args.seed)
    sentinel = wl.Sentinel(spark)
    mix = args.workload == "silver_query_mix"
    attempted, failures = 0, []

    def pass_dirs(tag: str) -> str:
        base = wl.fresh_dir(os.path.join(dirs["passes"], tag))
        os.environ["AWLH_STREAM_TMP"] = os.path.join(base, "stream")
        return os.path.join(base, "wh")

    def one_pass(tag: str, tracer, oracles_for_check=None, corrupt=()):
        nonlocal attempted
        wh = pass_dirs(tag)
        if mix:
            res = wl.mix_pass(spark, sf_dir, setup_wh, queries, tag, tracer, sentinel,
                              wl.shuffled(wl.mix_ops(), rng), oracles_for_check, corrupt)
        else:
            res = wl.refresh_pass(spark, sf_dir, wh, tag, tracer, sentinel)
        attempted += len(res.ops) + len(res.failed)
        failures.extend((tag, *f) for f in res.failed)
        return res, wh

    setup_wh = None
    if mix:
        setup_wh = os.path.join(work, "silver")
        res = wl.refresh_pass(spark, sf_dir, setup_wh, "setup", wl.Tracer(spark), sentinel,
                              names=wl.SILVER_TABLES, streaming=False)
        attempted += len(res.ops) + len(res.failed)
        failures.extend(("setup", *f) for f in res.failed)

    # warm-up: untimed; for the mix it is also the checked pass
    warm, _ = one_pass("warmup", wl.Tracer(spark), oracles if mix else None,
                       CORRUPT_OPS if mix and args.corrupt else ())
    shutil.rmtree(os.path.join(dirs["passes"], "warmup"))
    # the output check is the benchmark's work, not the program's set-up
    setup_s = time.perf_counter() - T_START - warm.check_s

    timed = []  # (tag, traced, PassResult, Tracer)
    t_loop = time.perf_counter()
    last_wh = None
    # At least two passes (three when traced: untraced, traced, untraced, so
    # the untraced median brackets the traced pass); another only when it is
    # expected to end within --seconds.
    min_passes = 3 if args.trace else 2
    while len(timed) < min_passes or (
        (time.perf_counter() - t_loop) * (len(timed) + 1) / len(timed) <= args.seconds
    ):
        i = len(timed)
        traced = bool(args.trace) and i % 2 == 1
        tag = f"p{i}"
        tracer = wl.Tracer(spark, on=traced)
        _reset_hwm(jvm_pid)
        res, wh = one_pass(tag, tracer)
        res.peak_rss_mb = _vm_hwm_mb(jvm_pid)
        timed.append((tag, traced, res, tracer))
        if last_wh is not None:
            shutil.rmtree(os.path.dirname(last_wh))
        last_wh = wh

    # output check, once, outside the timed window
    checked_wh, checked = (setup_wh, wl.SILVER_TABLES) if mix else (last_wh, wl.refresh_outputs())
    if args.corrupt:
        _corrupt(spark, checked_wh)
    bad = wl.check_warehouse(checked_wh, sf_dir, oracles, checked)
    failures.extend(("check", *b) for b in bad)
    files = {} if mix else {d: _count_files(os.path.join(last_wh, d)) for d in wl.BATCH_DATASETS}

    untraced = [r for _, tr, r, _ in timed if not tr]
    raw = {
        "wall_raw_s": _median([r.wall_s for r in untraced]),
        "sentinel_s": _median([x for r in untraced for x in r.sentinel_s]),
        "setup_s": setup_s,
        "setup_check_s": warm.check_s,
    }
    metrics: dict[str, tuple[float, str]] = {}
    if not args.trace:
        metrics = {
            "setup_s": (wl.normalized(setup_s, untraced), "s"),
            "wall_norm_s": (wl.normalized(_median([r.wall_s for r in untraced]), untraced), "s"),
            "peak_rss_mb": (_median([r.peak_rss_mb for r in untraced]), "MB"),
        }
    spark.stop()
    if args.trace:
        metrics = _layers(
            [(tag, r, tr) for tag, traced, r, tr in timed if traced], untraced,
            eventlog.read(dirs["events"]), files, cores, mix,
            session_start_s, queries_import_s,
        )
    for f in failures:
        print("FAILED", *f, file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, raw


def _corrupt(spark, warehouse: str) -> None:
    """Drop one row from ``fact_sales`` in place, as a wrong refresh would."""
    path = os.path.join(warehouse, "fact_sales")
    df = spark.read.parquet(path)
    keep = df.limit(df.count() - 1).cache()
    keep.count()
    keep.write.mode("overwrite").partitionBy("order_date").parquet(path + ".bad")
    shutil.rmtree(path)
    os.rename(path + ".bad", path)


def _layers(traced, untraced, groups, files, cores, mix, session_s, import_s):
    """Per-layer metrics from the traced passes: medians over passes for
    timings, per-pass means for event-log totals. Layers the workload does
    not run report 0."""
    n = max(1, len(traced))
    tags = {tag for tag, _, _ in traced}
    run_ids = {rid for _, _, tr in traced for (_, _, rid, _) in tr.streams}

    def total(pred, key):
        return sum(v.get(key, 0) for g, v in groups.items() if pred(g)) / n

    def in_pass(g):
        return g.split("|", 1)[0] in tags or g in run_ids

    def phase(*names):
        return lambda g: g.count("|") == 2 and g.split("|")[0] in tags and g.split("|")[1] in names

    def median_of(fn):
        return _median([fn(r) for _, r, _ in traced])

    wall = [r.wall_s for _, r, _ in traced]
    task_run = total(in_pass, "task_run_s")
    values = {
        "session.start_s": session_s,
        "queries.import_s": import_s,
        "plans.build_s": median_of(
            lambda r: sum(v for k, v in r.build_s.items() if not k.endswith("_streaming"))
        ),
        "plans.build_jobs": total(phase("build", "stream_build"), "jobs"),
        "plans.catalyst_ms": sum(ms for _, _, tr in traced for _, ms in tr.catalyst_ms) / n,
        "read.open_s": sum(s for _, _, tr in traced for s in tr.read_open_s) / n,
        "exec.jobs": total(in_pass, "jobs"),
        "exec.stages": total(in_pass, "stages"),
        "exec.tasks": total(in_pass, "tasks"),
        "exec.task_run_s": task_run,
        "exec.task_cpu_s": total(in_pass, "task_cpu_s"),
        "exec.core_busy_ratio": task_run / (_median(wall) * cores) if wall else 0.0,
        "exec.input_bytes": total(in_pass, "input_bytes"),
        "exec.shuffle_write_bytes": total(in_pass, "shuffle_write_bytes"),
        "exec.shuffle_read_bytes": total(in_pass, "shuffle_read_bytes"),
        "exec.spill_bytes": total(in_pass, "spill_bytes"),
        "exec.gc_s": total(in_pass, "gc_s"),
        "host.sentinel_s": _median([x for _, r, _ in traced for x in r.sentinel_s]),
        "trace.wall_s": _median(wall),
        "trace.overhead_s": _median(wall) - _median([r.wall_s for r in untraced]),
    }
    if mix:
        for q in wl.mix_ops():
            values[f"query.{q}.wall_s"] = _median([r.ops[q] for _, r, _ in traced if q in r.ops])
    else:
        def fs_group(g):
            return phase("run")(g) and g.endswith("|fact_sales")

        fs_run = median_of(lambda r: r.run_s.get("fact_sales", 0.0))
        progress = [p for _, _, tr in traced for (*_, prog) in tr.streams for p in prog]
        values.update({
            "plans.run.bytes_written": total(phase("run"), "output_bytes"),
            "plans.run.tasks.fact_sales": total(fs_group, "output_stage_tasks"),
            "plans.run.rows_per_file.fact_sales": (
                total(fs_group, "output_rows") / files["fact_sales"] if files["fact_sales"] else 0.0
            ),
            "plans.run.core_busy_ratio.fact_sales": (
                total(fs_group, "task_run_s") / (fs_run * cores) if fs_run else 0.0
            ),
            "streaming.build_s": median_of(
                lambda r: sum(v for k, v in r.build_s.items() if k.endswith("_streaming"))
            ),
            "streaming.batches": len(progress) / n,
            "streaming.add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in progress) / n,
            "streaming.wal_commit_ms": sum(p["durationMs"].get("walCommit", 0) for p in progress) / n,
        })
        for d in wl.BATCH_DATASETS:
            values[f"plans.run_s.{d}"] = median_of(lambda r: r.run_s.get(d, 0.0))
            values[f"plans.run.files.{d}"] = files[d]
        for f in wl.STREAMING_DATASETS:
            values[f"streaming.run_s.{f}"] = median_of(lambda r: r.run_s.get(f"{f}_streaming", 0.0))
    return {
        name: (float(values.get(name, 0.0)), unit) for name, unit, _ in wl.per_layer_metrics()
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # a SIGTERM unwinds through the finally below, so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    try:
        result, raw = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "seed": args.seed, "workload": args.workload, "trace": args.trace,
        "env": {
            "master": f"local[{len(os.sched_getaffinity(0))}]",
            "driver_memory": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": ".bench_work/<run>/local",
            "AWLH_STREAM_TMP": ".bench_work/<run>/passes/<pass>/stream",
            "scale": args.scale,
        },
        "untraced_raw": raw,
    }))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
