"""The benchmark's workloads: what one pass runs, and how its output is checked.

Every timing is taken from outside the package, around calls into its public
functions. An operation is one timed call; a pass is the workload's list of
operations, and its wall time is the sum of the operations' timed windows, so
the garbage collection run between operations is never timed.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import DataFrame, SparkSession

from adventureworkslakehousepoc_spark.pipelines.medallion import (
    medallion_context,
    medallion_streaming_context,
)
from adventureworkslakehousepoc_spark.streaming.runner import run_available_now
from scripts.run_pipeline import BATCH_DATASETS, STREAMING_DATASETS
from tests.oracle_compare import canonical_rows, compare_query, duckdb_connection

# mirrors scripts/run_pipeline.py:54, where the daily refresh sets it inline
PARTITION_BY = {"fact_sales": ["order_date"], "fact_weather": ["date"]}

# registered query callables of the silver mix (``__spark_entry__.queries()``)
MIX_QUERIES = [
    "flagship_revenue_by_month_segment",
    "q1_pricing_summary",
    "q21_sole_late_supplier",
    "dim_customer",
    "fact_sales",
]
# tables the silver reads need, refreshed once during set-up
SILVER_TABLES = ["dim_customer", "dim_product", "fact_sales"]

# Silver reads over the refreshed warehouse. Sums go through exact decimals
# so Spark and DuckDB agree to the last digit whatever the summation order.
SILVER_READS = {
    "silver_month_by_status": """
        SELECT status, COUNT(*) AS n_lines,
               CAST(SUM(CAST(line_total AS DECIMAL(20,4))) AS DOUBLE) AS revenue
        FROM wh_fact_sales
        WHERE order_date >= DATE '1998-06-01' AND order_date < DATE '1998-07-01'
        GROUP BY status""",
    "silver_sales_by_segment_category": """
        SELECT c.person_type, p.category_name, COUNT(*) AS n_lines,
               CAST(SUM(CAST(s.line_total AS DECIMAL(20,4))) AS DOUBLE) AS revenue
        FROM wh_fact_sales s
        JOIN wh_dim_customer c ON s.customer_id = c.customer_id
        JOIN wh_dim_product p ON s.product_id = p.product_id
        GROUP BY c.person_type, p.category_name""",
}
_READ_TABLES = {
    "silver_month_by_status": ["fact_sales"],
    "silver_sales_by_segment_category": ["fact_sales", "dim_customer", "dim_product"],
}


# The host's speed swings by up to 1.7x within seconds and for minutes at a
# time, so a pass time alone is not reproducible. A fixed Spark job that runs
# no package code is timed between operations; pass times are rescaled to a
# host on which it takes SENTINEL_REF_S.
SENTINEL_ROWS = 4_000_000
SENTINEL_REF_S = 0.1
# SQL settings of the sentinel's own session, pinned here so that a change to
# the package's session defaults does not move the divisor
SENTINEL_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.codegen.fallback": "true",
}


@dataclass
class Tracer:
    """Per-call instrumentation for traced passes: a Spark job group around
    each call, Catalyst phase times, and streaming progress. Off, it only
    hands out the calls' names, so untraced passes pay nothing."""

    spark: SparkSession
    on: bool = False
    catalyst_ms: list = field(default_factory=list)
    read_open_s: list = field(default_factory=list)
    streams: list = field(default_factory=list)  # (pass tag, flow, runId, progress)

    def group(self, name: str) -> None:
        if self.on:
            self.spark.sparkContext.setJobGroup(name, name)

    def clear(self) -> None:
        if self.on:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def plan(self, group: str, df: DataFrame) -> None:
        """Plan ``df`` now and record its analysis/optimization/planning ms."""
        if not self.on or df.isStreaming:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        ms = sum(
            phases.apply(p).durationMs()
            for p in ("analysis", "optimization", "planning")
            if phases.contains(p)
        )
        self.catalyst_ms.append((group, ms))


class Sentinel:
    """A fixed Spark job that runs no package code, in a session of its own
    with pinned SQL settings: a sample of how fast this host runs Spark at
    the moment. Both heaps are collected before each sample, so garbage the
    program leaves does not move it."""

    def __init__(self, spark: SparkSession):
        self.spark = spark.newSession()
        for k, v in SENTINEL_CONF.items():
            self.spark.conf.set(k, v)

    def sample(self) -> float:
        collect_garbage(self.spark)
        t0 = time.perf_counter()
        self.spark.range(0, SENTINEL_ROWS, 1, 4).selectExpr("sum(hash(id))").collect()
        return time.perf_counter() - t0


def normalized(seconds: float, passes: list) -> float:
    """``seconds`` rescaled by the median sentinel time of ``passes``."""
    samples = [x for r in passes for x in r.sentinel_s]
    return seconds * SENTINEL_REF_S / statistics.median(samples)


def collect_garbage(spark: SparkSession) -> None:
    """Drop cached frames and collect both heaps, so no operation (and no
    sentinel sample) times a cache hit or a collection left by the one
    before it."""
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.java.lang.System.gc()


# ---------------------------------------------------------------------------
# medallion_refresh
# ---------------------------------------------------------------------------


@dataclass
class PassResult:
    ops: dict  # operation -> timed seconds; absent when it raised
    failed: list
    sentinel_s: list = field(default_factory=list)  # Sentinel samples between operations
    build_s: dict = field(default_factory=dict)
    run_s: dict = field(default_factory=dict)
    check_s: float = 0.0  # time spent checking results inside the pass
    peak_rss_mb: float = 0.0  # the driver JVM's peak resident set size in the pass

    @property
    def wall_s(self) -> float:
        return sum(self.ops.values())


def refresh_pass(
    spark: SparkSession, sf_dir: str, warehouse: str, tag: str, tracer: Tracer,
    sentinel: Sentinel, names: list[str] = BATCH_DATASETS, streaming: bool = True,
) -> PassResult:
    """One ``scripts/run_pipeline.py --streaming`` refresh into ``warehouse``:
    the batch DAG written dataset by dataset, then the stream-static flows run
    to completion with AvailableNow and written beside it. (The script's
    closing row counts are left out: they report, they do not refresh.)"""
    res = PassResult({}, [])
    ctx = medallion_context(spark, sf_dir)
    for name in names:
        res.sentinel_s.append(sentinel.sample())
        try:
            t0 = time.perf_counter()
            tracer.group(f"{tag}|build|{name}")
            df = ctx.dataframe(name)
            t1 = time.perf_counter()
            tracer.plan(f"{tag}|build|{name}", df)
            t2 = time.perf_counter()
            tracer.group(f"{tag}|run|{name}")
            ctx.run(warehouse, names=[name], partition_by=PARTITION_BY)
            t3 = time.perf_counter()
        except Exception as e:  # a failed dataset counts; the refresh goes on
            res.failed.append((name, repr(e)[:300]))
            continue
        finally:
            tracer.clear()
        res.build_s[name], res.run_s[name] = t1 - t0, t3 - t2
        res.ops[name] = (t1 - t0) + (t3 - t2)
    if not streaming:
        return res
    s_ctx = medallion_streaming_context(spark, sf_dir)
    for name in STREAMING_DATASETS:
        flow = f"{name}_streaming"
        res.sentinel_s.append(sentinel.sample())
        try:
            t0 = time.perf_counter()
            tracer.group(f"{tag}|stream_build|{name}")
            df = s_ctx.dataframe(name)
            t1 = time.perf_counter()
            started = []
            result = run_available_now(
                df, f"pipeline-{name}", on_start=started.append if tracer.on else None
            )
            tracer.group(f"{tag}|stream_sink|{name}")
            result.write.mode("overwrite").parquet(os.path.join(warehouse, flow))
            t2 = time.perf_counter()
        except Exception as e:
            res.failed.append((flow, repr(e)[:300]))
            continue
        finally:
            tracer.clear()
        for q in started:
            tracer.streams.append((tag, name, q.runId, q.recentProgress))
        res.build_s[flow], res.run_s[flow] = t1 - t0, t2 - t1
        res.ops[flow] = t2 - t0
    return res


def _warehouse_sql(warehouse: str, name: str) -> str:
    """DuckDB relation over a Spark-written table; the hive default
    partition directory reads back as NULL."""
    if name in PARTITION_BY:
        col = PARTITION_BY[name][0]
        return (
            f"(SELECT * REPLACE (TRY_CAST({col} AS DATE) AS {col}) FROM read_parquet("
            f"'{warehouse}/{name}/*/*.parquet', hive_partitioning = true,"
            f" hive_types = {{'{col}': VARCHAR}}))"
        )
    return f"read_parquet('{warehouse}/{name}/*.parquet')"


def check_warehouse(
    warehouse: str, sf_dir: str, oracles: dict[str, str], names: list[str]
) -> list[tuple[str, str]]:
    """Compare each refreshed table, read back by DuckDB from the files
    Spark wrote, with its DuckDB oracle over the same inputs: same columns,
    and the same multiset of rows (``EXCEPT ALL`` both ways, which treats
    NULLs as equal). Returns ``(table, reason)`` for every mismatch."""
    con = duckdb_connection(sf_dir)
    con.execute("SET TimeZone = 'UTC'")
    bad = []
    for name in names:
        oracle = oracles[name.removesuffix("_streaming")]
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM {_warehouse_sql(warehouse, name)}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {oracle}")
            cols = sorted(c[0] for c in con.execute("DESCRIBE got").fetchall())
            want_cols = sorted(c[0] for c in con.execute("DESCRIBE want").fetchall())
            if cols != want_cols:
                bad.append((name, f"columns {cols} != {want_cols}"))
                continue
            sel = ", ".join(f'"{c}"' for c in cols)
            (extra,) = con.execute(
                f"SELECT COUNT(*) FROM (SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want)"
            ).fetchone()
            (missing,) = con.execute(
                f"SELECT COUNT(*) FROM (SELECT {sel} FROM want EXCEPT ALL SELECT {sel} FROM got)"
            ).fetchone()
        except duckdb.Error as e:
            bad.append((name, repr(e)[:300]))
            continue
        if extra or missing:
            bad.append((name, f"{extra} rows not in the oracle, {missing} oracle rows missing"))
    con.close()
    return bad


def refresh_outputs() -> list[str]:
    return BATCH_DATASETS + [f"{n}_streaming" for n in STREAMING_DATASETS]


# ---------------------------------------------------------------------------
# silver_query_mix
# ---------------------------------------------------------------------------


def silver_read(spark: SparkSession, warehouse: str, name: str, tracer: Tracer) -> DataFrame:
    """Open the warehouse tables a silver read needs and build its query."""
    t0 = time.perf_counter()
    for table in _READ_TABLES[name]:
        spark.read.parquet(os.path.join(warehouse, table)).createOrReplaceTempView(f"wh_{table}")
    tracer.read_open_s.append(time.perf_counter() - t0)
    return spark.sql(SILVER_READS[name])


def check_silver_read(df: DataFrame, warehouse: str, name: str) -> tuple[bool, str]:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for table in _READ_TABLES[name]:
        # a table, not a view: DuckDB 1.0 fails a filter pushed into the
        # hive default (NULL) partition of a file scan
        con.execute(f"CREATE TABLE wh_{table} AS SELECT * FROM {_warehouse_sql(warehouse, table)}")
    want = con.execute(SILVER_READS[name]).df()
    con.close()
    got = df.toPandas()
    if canonical_rows(got) != canonical_rows(want):
        return False, f"{len(got)} rows differ from DuckDB's {len(want)}"
    return True, "ok"


def mix_ops() -> list[str]:
    return MIX_QUERIES + list(SILVER_READS)


def mix_pass(
    spark: SparkSession, sf_dir: str, warehouse: str, queries: dict, tag: str,
    tracer: Tracer, sentinel: Sentinel, order: list[str],
    oracles: dict[str, str] | None = None, corrupt: tuple[str, ...] = (),
) -> PassResult:
    """Run every operation of the mix once, in ``order``, each to a ``noop``
    sink. With ``oracles`` the pass is the checked warm-up: after its noop
    run each result is also collected and compared, outside its timed
    window (DuckDB oracle for registered queries, DuckDB over the same
    warehouse files for silver reads). The results of the operations named
    in ``corrupt`` lose one row before they are compared (self-test only)."""
    res = PassResult({}, [])
    for name in order:
        res.sentinel_s.append(sentinel.sample())
        try:
            t0 = time.perf_counter()
            tracer.group(f"{tag}|build|{name}")
            if name in SILVER_READS:
                df = silver_read(spark, warehouse, name, tracer)
            else:
                df = queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            tracer.plan(f"{tag}|build|{name}", df)
            t2 = time.perf_counter()
            tracer.group(f"{tag}|run|{name}")
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            ok, why = True, ""
            t_check = time.perf_counter()
            if oracles is not None and name in corrupt:
                df = df.limit(df.count() - 1)
            if oracles is not None and name in SILVER_READS:
                ok, why = check_silver_read(df, warehouse, name)
            elif oracles is not None:
                ok, why = compare_query(df, oracles[name], sf_dir)
            res.check_s += time.perf_counter() - t_check
        except Exception as e:  # a raising operation counts as failed
            ok, why = False, repr(e)[:300]
        finally:
            tracer.clear()
        if not ok:
            res.failed.append((name, why))
            continue
        res.build_s[name], res.run_s[name] = t1 - t0, t3 - t2
        res.ops[name] = (t1 - t0) + (t3 - t2)
    return res


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """Every per-layer metric as ``(name, unit, better)``, in print order.
    A layer a workload does not run reports 0."""
    m = [
        ("session.start_s", "s", "lower"),
        ("queries.import_s", "s", "lower"),
        ("plans.build_s", "s", "lower"),
        ("plans.build_jobs", "count", "lower"),
        ("plans.catalyst_ms", "ms", "lower"),
    ]
    m += [(f"plans.run_s.{d}", "s", "lower") for d in BATCH_DATASETS]
    m += [(f"plans.run.files.{d}", "count", "lower") for d in BATCH_DATASETS]
    m += [
        ("plans.run.bytes_written", "bytes", "lower"),
        ("plans.run.tasks.fact_sales", "count", "lower"),
        ("plans.run.rows_per_file.fact_sales", "rows/file", "higher"),
        ("plans.run.core_busy_ratio.fact_sales", "ratio", "higher"),
        ("streaming.build_s", "s", "lower"),
    ]
    m += [(f"streaming.run_s.{f}", "s", "lower") for f in STREAMING_DATASETS]
    m += [
        ("streaming.batches", "count", "lower"),
        ("streaming.add_batch_ms", "ms", "lower"),
        ("streaming.wal_commit_ms", "ms", "lower"),
        ("read.open_s", "s", "lower"),
    ]
    m += [(f"query.{q}.wall_s", "s", "lower") for q in mix_ops()]
    m += [
        ("exec.jobs", "count", "lower"),
        ("exec.stages", "count", "lower"),
        ("exec.tasks", "count", "lower"),
        ("exec.task_run_s", "s", "lower"),
        ("exec.task_cpu_s", "s", "lower"),
        ("exec.core_busy_ratio", "ratio", "higher"),
        ("exec.input_bytes", "bytes", "lower"),
        ("exec.shuffle_write_bytes", "bytes", "lower"),
        ("exec.shuffle_read_bytes", "bytes", "lower"),
        ("exec.spill_bytes", "bytes", "lower"),
        ("exec.gc_s", "s", "lower"),
        ("host.sentinel_s", "s", "lower"),
        ("trace.wall_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return m


def shuffled(names: list[str], rng: random.Random) -> list[str]:
    out = list(names)
    rng.shuffle(out)
    return out


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
