#!/usr/bin/env python3
"""The repo benchmark: closed-loop workloads over the library's public
entry points, with every output checked.

    python3 perfbench/run.py --workload catalog_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):

- ``catalog_sf0.1``: the 20 headline catalog keys, each a fresh build +
  execute + ``toPandas`` fetch, over seeded TPC-H-shaped tables with 600k
  lineitem rows;
- ``etl_writes``: one write cycle per pass — the wine ETL/ELT DAG, its
  marker-gated downstream DAG, K ``TxnTable.merge`` batches, K
  ``insert_ignore_by_name`` batches and one availableNow streaming
  catch-up.

One client issues the next op only after the previous one returned, on
``local[<cpus>]`` in this one process, with the prepared-plan cache off
(``SPARK_GRAFT_PLAN_CACHE=0``). Inputs come from ``--seed``; all scratch
files live under ``.perfbench_work/`` in the repository root and are
removed on exit.

Output: one provenance line ``{"detail": ...}`` and then, as the last line,
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (measured from outside:
job groups + status store, a py4j call counter, wrapped ``Step.fn``).
``--smoke`` shrinks every input to a few seconds of work; ``--corrupt KEY``
deliberately damages that op kind's output before it is checked, so the
checks can be shown to fire.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import json
import math
import multiprocessing
import os
import random
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor
from functools import partial

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The 20 headline keys, frozen here so the benchmark measures the same ops
# across commits, each mapped to the operator module of its principal
# operator (the grouping of the operators.<module>_s layer metrics).
KEY_MODULE = {
    "tpch_q1": "aggregates",
    "tpch_q3": "joins",
    "tpch_q5_local_revenue": "joins",
    "tpch_q6": "aggregates",
    "tpch_q10": "relational",
    "grouped_stats": "aggregates",
    "revenue_by_priority": "joins",
    "revenue_by_segment": "joins",
    "window_topk": "windows",
    "window_ranks": "windows",
    "events_hourly": "timeseries",
    "sessionize": "timeseries",
    "dedup_exact": "dedup",
    "dedup_minhash": "dedup",
    "knn_cosine": "similarity",
    "token_count": "text",
    "lang_id": "text",
    "rolling_fingerprint": "text",
    "repetition_score": "text",
    "decontaminate": "dedup",
}
MODULES = sorted(set(KEY_MODULE.values()))

# dedup_minhash's DuckDB twin replicates the 64-lane sketch in HUGEINT
# arithmetic and takes ~11 s on the full sf 0.1 table, so it is checked on a
# slice: a candidate pair depends only on its two documents, so the oracle
# run over the first 1/SLICE of the doc ids must equal the Spark pairs whose
# two ids both fall in that range.
SLICED_ORACLE = {"dedup_minhash": ("documents", "doc_id", ("id_a", "id_b"), 5)}

ETL_STEPS = {
    "wine": [
        "extract_wine_data", "transform_wine_data", "load_wine_data_into_duckdb",
        "load_wine_data_into_postgresql", "branch_task",
        "transform_wine_data_from_postgresql", "ml_task_group",
        "print_loaded_wine", "chart_kde",
    ],
    "downstream": ["branch_task", "extract_wine_data_duckdb", "chart_kde"],
}
ETL_OPS = ["etl_run", "downstream_run", "merge_batch", "insert_batch", "catchup"]
# A Wednesday: the weekday branch takes the ML leg, the downstream DAG the
# DuckDB-shaped source.
PINNED_NOW = (2026, 8, 12)
SMOKE_SF = 0.001
FULL_ETL = {"wine_rows": 100_000, "batches": 5, "batch_rows": 20_000}
SMOKE_ETL = {"wine_rows": 2_000, "batches": 2, "batch_rows": 500}

SPARK_LAYERS = ["jobs", "stages", "tasks", "exec_s", "shuffle_bytes", "spill_bytes"]


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order. A workload reports
    0 for a layer it never calls into."""
    names = ["trace.pass_s", "peak_rss_mb", "spark.floor_s"]
    names += [f"spark.{x}" for x in SPARK_LAYERS]
    names += ["queries.build_s", "queries.py4j_calls", "queries.build_jobs",
              "spark.plan_s", "spark.fetch_s", "spark.result_rows",
              "sources.layout.prepare_s"]
    names += [f"operators.{m}_s" for m in MODULES]
    names += [f"key.{k}_s" for k in KEY_MODULE]
    names += [f"step.{p}.{s}_s" for p, steps in ETL_STEPS.items() for s in steps]
    names += ["plans.pipeline.overhead_s", "ml.regression.train_s",
              "sources.txn.merge_s", "sources.txn.bytes_rewritten",
              "sources.sinks.insert_ignore_s", "streaming.catchup_s",
              "files_written", "write_amp"]
    return names


UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB", "write_amp": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# ---------------------------------------------------------------- process

def log_phase(name: str) -> None:
    """One stderr line per run phase, with the process age at its end."""
    print(f"perfbench: {name} done at {process_age_s():.1f}s", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Make this process the reaper of all its descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a process whose parent dies, such as a
    PySpark Python worker whose JVM exited first, is re-parented to this
    process rather than to init, so ``reap_descendants`` can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # 36 = PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    """The live and exited-but-unreaped children of this process."""
    me, out = os.getpid(), []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(stat.split("/")[2]))
    return out


def reap_descendants(grace_s: float = 15.0) -> None:
    """Wait until this process has no children left, reaping each one.
    Orphaned grandchildren are re-parented here (see ``become_subreaper``)
    and reaped too. A child still running after ``grace_s`` gets SIGTERM,
    and SIGKILL ``grace_s`` later."""
    import signal

    from multiprocessing import resource_tracker

    # the tracker started for the input pool ends only when its pipe closes
    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_pid", None) is not None:
        tracker._stop()
    t0 = time.monotonic()
    while True:
        pids = child_pids()
        if not pids:
            return
        waited = time.monotonic() - t0
        for pid in pids:
            with contextlib.suppress(ChildProcessError):
                if os.waitpid(pid, os.WNOHANG)[0]:
                    continue
            if waited > grace_s:
                sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.05)


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21])
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0) * page
        todo.extend(children.get(pid, []))
    return total / 2**20


class RssSampler:
    """Peak process-tree RSS from start to stop, sampled every 0.25 s."""

    def __init__(self) -> None:
        self.peak = tree_rss_mb(os.getpid())
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def retained_mb(spark) -> tuple[float, float]:
    """Memory the process keeps, as (JVM heap still in use after a full GC,
    RSS of this Python process) in MB. Steadier than peak RSS, which follows the
    collector's heap sizing rather than what the program holds."""
    gc.collect()  # collected py4j proxies release their JVM objects
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    # a full GC lets Spark's ContextCleaner drop broadcasts and shuffles of
    # unreachable plans, and the next GC collects what it released: repeat
    # until a GC frees less than 1 MB more (at most 10 rounds)
    heap = float("inf")
    for _ in range(10):
        jvm.System.gc()
        time.sleep(0.5)
        used = rt.totalMemory() - rt.freeMemory()
        settled = used > heap - 2**20
        heap = min(heap, used)
        if settled:
            break
    with open("/proc/self/statm") as fh:
        rss = int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    return heap / 2**20, rss / 2**20


def dir_stats(path: str) -> tuple[int, int]:
    """(file count, total bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------- session

def confine_to(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVMs (the
    launcher's too) into ``work``, and pin the library's benchmark env."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
        ),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_PLAN_CACHE": "0",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    })
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def floor_sample(spark) -> float:
    t0 = time.perf_counter()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


# ---------------------------------------------------------------- catalog

class Catalog:
    """The headline catalog keys over seeded tables."""

    def __init__(self, ctx, sf: float) -> None:
        self.ctx = ctx
        self.sf = sf
        self.keys = list(KEY_MODULE)
        self.data = os.path.join(ctx.work, "data")
        self.warm = os.path.join(ctx.work, "warm-data")

    def inputs(self) -> list:
        """The input writer: one call that writes the tables and the warm-up
        tables and runs the oracles."""
        from airflow_etl_elt_spark.queries import ORACLE_SQL

        return [partial(catalog_inputs, self.data, self.warm, self.ctx.seed, self.sf,
                        {key: ORACLE_SQL[key] for key in self.keys})]

    def setup(self, spark, generated: list) -> dict:
        from airflow_etl_elt_spark import TABLES
        from airflow_etl_elt_spark.queries import QUERIES
        from airflow_etl_elt_spark.sources import layout
        from airflow_etl_elt_spark.sources.readers import read_table

        [(counts, self.slice_n, self.want)] = generated
        t0 = time.perf_counter()
        rewritten = layout.prepare_at_rest_layout(spark, self.data)
        self.layout_s = time.perf_counter() - t0
        self.layout = sorted(rewritten) or "source files (all tables under the rewrite floor)"
        # one untimed pass over the smoke-sized tables, keys run concurrently:
        # this takes the cold start (class loading, first codegen, Python
        # workers) cheaply, but not the JIT warm-up of full-size passes (see
        # README); then, as bench.py does, every bench table is read once
        parallel_warm(spark, [
            lambda k=key: QUERIES[k](spark, self.warm).toPandas() for key in self.keys
        ])
        log_phase("warm-up")
        for t in TABLES:
            read_table(spark, self.data, t).count()
        log_phase("table reads")
        return {"table_rows": counts, "at_rest_layout": self.layout}

    def one_pass(self, spark, rng: random.Random, tracer) -> list[dict]:
        from airflow_etl_elt_spark.queries import QUERIES

        order = self.keys[:]
        rng.shuffle(order)
        ops = []
        for key in order:
            rec = {"kind": key}
            try:
                if tracer.enabled:
                    self._traced_op(spark, tracer, key, rec)
                else:
                    t0 = time.perf_counter()
                    df = QUERIES[key](spark, self.data)
                    pdf = df.toPandas()
                    rec["latency_s"] = time.perf_counter() - t0
                    rec["result"], rec["types"] = pdf, _types(df)
            except Exception as exc:  # counted in error_rate, never fatal
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            ops.append(rec)
        for rec in ops:
            if "result" in rec:
                self._digest(rec)
        return ops

    def _digest(self, rec: dict) -> None:
        """Replace a fetched result by the record its check compares (rows,
        columns, value hash), so no result outlives its pass. Untimed."""
        import oracle

        pdf = rec.pop("result")
        rec["rows"] = len(pdf)
        key = rec["kind"]
        if key in self.slice_n:
            (a, b), n = SLICED_ORACLE[key][2], self.slice_n[key]
            pdf = pdf[(pdf[a] < n) & (pdf[b] < n)]
        if self.ctx.corrupt == key:
            pdf = pdf.iloc[1:]
        rec["got"] = oracle.describe(pdf, rec.pop("types"))

    def _traced_op(self, spark, tracer, key, rec) -> None:
        from airflow_etl_elt_spark.queries import QUERIES

        with tracer.span(key):
            t0 = time.perf_counter()
            with tracer.job_group("build") as build, tracer.py4j.count() as calls:
                tb = time.perf_counter()
                df = QUERIES[key](spark, self.data)
                rec["build_s"] = time.perf_counter() - tb
            tp = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            rec["plan_s"] = time.perf_counter() - tp
            with tracer.job_group("run") as run:
                pdf = df.toPandas()
            rec["latency_s"] = time.perf_counter() - t0
            fetch_wall = time.perf_counter() - tp - rec["plan_s"]
        tracer.settle()
        rec["py4j_calls"] = calls[0]
        rec["build_jobs"] = build.get("jobs", 0)
        rec["spark"] = {x: build.get(x, 0) + run.get(x, 0) for x in SPARK_LAYERS}
        rec["result"], rec["types"] = pdf, _types(df)
        # fetch share: toPandas wall minus executing a second fresh build
        # into the noop sink (same plan, no transfer to Python)
        df2 = QUERIES[key](spark, self.data)
        tn = time.perf_counter()
        df2.write.format("noop").mode("overwrite").save()
        rec["fetch_s"] = fetch_wall - (time.perf_counter() - tn)

    def check(self, spark, passes: list[list[dict]]) -> dict:
        """Compare every fetched result's record with its DuckDB oracle's."""
        import oracle
        from airflow_etl_elt_spark.queries import ORACLE_SQL, SELF_CHECKS

        methods = {}
        for key in self.keys:
            want = self.want[key]
            methods[key] = "oracle: columns, type classes, rows, value hash"
            if key in SLICED_ORACLE:
                col, n = SLICED_ORACLE[key][1], self.slice_n[key]
                methods[key] = (f"oracle over {col} < {n} only (pairs with both ids "
                                "in it); columns and type classes of the full result")
            for op in passes_of(passes, key):
                if "error" in op:
                    continue
                bad = want.get("error") or oracle.mismatch(op.pop("got"), want)
                if bad:
                    op["error"] = f"wrong output: {bad}"
        rows_only = sorted(k for k in self.keys if k in SELF_CHECKS or k not in ORACLE_SQL)
        return {"check_method": methods, "rows_only_keys": rows_only}

    def layer_metrics(self, passes) -> dict:
        def per_pass(field, sub=None):
            return median([sum((op.get(sub, {}) if sub else op).get(field, 0) for op in ops)
                           for ops in passes])

        key_med = {k: median(latencies(passes, k)) for k in self.keys}
        out = {f"spark.{x}": per_pass(x, "spark") for x in SPARK_LAYERS}
        out["queries.build_s"] = per_pass("build_s")
        out["queries.py4j_calls"] = per_pass("py4j_calls")
        out["queries.build_jobs"] = per_pass("build_jobs")
        out["spark.plan_s"] = per_pass("plan_s")
        out["spark.fetch_s"] = per_pass("fetch_s")
        out["spark.result_rows"] = per_pass("rows")
        out["sources.layout.prepare_s"] = self.layout_s
        for mod in MODULES:
            out[f"operators.{mod}_s"] = sum(
                key_med[k] for k in self.keys if KEY_MODULE[k] == mod
            )
        for k in self.keys:
            out[f"key.{k}_s"] = key_med[k]
        return out


def passes_of(passes, kind: str) -> list[dict]:
    return [op for ops in passes for op in ops if op["kind"] == kind]


def latencies(passes, kind: str) -> list[float]:
    return [op["latency_s"] for op in passes_of(passes, kind) if "latency_s" in op]


def _types(df) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


# ---------------------------------------------------------------- etl

class EtlWrites:
    """One write cycle per pass, each in fresh directories. A cycle is four
    legs: the two DAG runs, the TxnTable merges, the keyed inserts and the
    streaming catch-up."""

    def __init__(self, ctx, wine_rows: int, batches: int, batch_rows: int) -> None:
        self.ctx = ctx
        self.wine_rows = wine_rows
        self.n_batches = batches
        self.batch_rows = batch_rows
        self.keys = ETL_OPS
        self.cycle_no = 0

    def inputs(self) -> list:
        """The input writers: the cycle's inputs and the smoke-sized warm-up
        cycle's."""
        import gen

        work, seed = self.ctx.work, self.ctx.seed
        return [partial(gen.write_etl_inputs, os.path.join(work, "inputs"), seed,
                        self.wine_rows, self.n_batches, self.batch_rows),
                partial(gen.write_etl_inputs, os.path.join(work, "warm-inputs"), seed,
                        **SMOKE_ETL)]

    def setup(self, spark, generated: list) -> dict:
        from tracing import Tracer

        self.inp, warm_inp = generated
        # one untimed cycle over the smoke-sized inputs, its legs run
        # concurrently: JIT, codegen and the Python workers warm up
        warm = os.path.join(self.ctx.work, "warm")
        parallel_warm(spark, self._legs(
            spark, warm, warm_inp, list(range(len(warm_inp.batch_files))),
            Tracer(spark, enabled=False), [], {},
        ))
        shutil.rmtree(warm, ignore_errors=True)
        return self.inp.info

    def one_pass(self, spark, rng, tracer) -> list[dict]:
        self.cycle_no += 1
        cyc = os.path.join(self.ctx.work, f"cycle-{self.cycle_no}")
        order = list(range(self.n_batches))
        rng.shuffle(order)  # the seed drives the batch order
        ops: list[dict] = []
        cycle: dict = {"kind": "_cycle"}
        for leg in self._legs(spark, cyc, self.inp, order, tracer, ops, cycle):
            leg()
        files, written = dir_stats(cyc)
        cycle["files_written"] = files - cycle.pop("staged_files")
        cycle["write_amp"] = (written - cycle.pop("staged_bytes")) / self.inp.input_bytes
        ops.append(cycle)
        shutil.rmtree(cyc, ignore_errors=True)
        return ops

    def _legs(self, spark, cyc, inp, order, tracer, ops, cycle) -> list:
        """The cycle's four legs over inputs ``inp``, as callables writing
        under directory ``cyc``; each records its ops into ``ops`` and its
        layer totals into ``cycle``."""
        import datetime as dt

        from airflow_etl_elt_spark.plans.wine import (
            build_wine_downstream_pipeline,
            build_wine_etl_pipeline,
        )
        from airflow_etl_elt_spark.sources import sinks
        from airflow_etl_elt_spark.sources.txn import TxnTable
        from airflow_etl_elt_spark.streaming import windowed

        def op(kind, fn, check_fn):
            rec = {"kind": kind}
            try:
                with tracer.span(kind), tracer.job_group(kind) as stats:
                    t0 = time.perf_counter()
                    value = fn()
                    rec["latency_s"] = time.perf_counter() - t0
                tracer.settle()
                rec["spark"] = dict(stats)
                bad = check_fn(value)
                if self.ctx.corrupt == kind:
                    bad = bad or "output deliberately corrupted"
                if bad:
                    rec["error"] = f"wrong output: {bad}"
            except Exception as exc:  # counted in error_rate, never fatal
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            ops.append(rec)
            return rec

        def pipelines():
            wh = os.path.join(cyc, "warehouse")
            now = lambda: dt.datetime(*PINNED_NOW)  # noqa: E731
            # the pipeline's own fixed model-choice rng (Random(42)) is kept,
            # so every cycle and every seed trains the same models
            etl = build_wine_etl_pipeline(spark, inp.csv, wh, now=now)
            down = build_wine_downstream_pipeline(spark, wh, now=now)
            step_s = tracer.wrap_steps({"wine": etl, "downstream": down})

            run_s = []  # Pipeline.run walls, without the consumer's fetches

            def etl_run():
                t0 = time.perf_counter()
                res = etl.run()
                run_s.append(time.perf_counter() - t0)
                # a consumer reads the report and the chart data
                for name in ("print_loaded_wine", "chart_kde"):
                    if res[name].status == "success":
                        res[name].value = res[name].value.toPandas()
                return res

            def down_run():
                t0 = time.perf_counter()
                res = down.run(
                    wait_for=("duckdb_dataset", "postgresql_dataset"),
                    marker_dir=os.path.join(wh, "_markers"),
                )
                run_s.append(time.perf_counter() - t0)
                if res["chart_kde"].status == "success":
                    kde = res["chart_kde"].value
                    kde["kde"] = kde["kde"].toPandas()
                return res

            op("etl_run", etl_run, lambda res: self._check_etl(res, inp.expect))
            op("downstream_run", down_run, lambda res: self._check_down(res, inp.expect))
            cycle["step_s"] = step_s
            cycle["pipeline_overhead_s"] = sum(run_s) - sum(step_s.values())

        def batches(kind, write, read):
            """Write every batch in seeded order; the last op is checked
            for holding each key of every batch exactly once."""
            for n, i in enumerate(order):
                batch = spark.read.parquet(inp.batch_files[i])
                last = n == len(order) - 1
                rec = op(kind, lambda b=batch: write(b),
                         lambda _: self._count_bad(read(), inp.expect["keys"]) if last else None)
            return rec

        def merges():
            table = TxnTable(os.path.join(cyc, "txn"))
            table.create(spark.read.parquet(inp.batch_files[0]).limit(0))
            batches("merge_batch", lambda b: table.merge(spark, b, key="event_id"),
                    lambda: table.snapshot(spark))
            cycle["txn_bytes"] = dir_stats(table.data_dir)[1]

        def inserts():
            sink = os.path.join(cyc, "sink")
            rec = batches("insert_batch",
                          lambda b: sinks.insert_ignore_by_name(spark, b, sink, key="event_id"),
                          lambda: spark.read.parquet(sink))
            # replaying a batch must append nothing (idempotent sink; untimed)
            replay = sinks.insert_ignore_by_name(
                spark, spark.read.parquet(inp.batch_files[order[-1]]), sink, key="event_id"
            )
            if replay != 0:
                rec["error"] = f"wrong output: replayed batch appended {replay} rows"

        def catchup():
            drops = os.path.join(cyc, "drops")
            os.makedirs(drops)
            for p in inp.batch_files:  # stage the stream's event drops (untimed)
                shutil.copy(p, drops)
            cycle["staged_files"], cycle["staged_bytes"] = dir_stats(drops)
            out = os.path.join(cyc, "stream-out")
            op("catchup",
               lambda: windowed.stream_insert_ignore(
                   windowed.read_events_stream(spark, drops), out, "event_id",
                   os.path.join(cyc, "checkpoint")),
               lambda _: self._count_bad(spark.read.parquet(out), inp.expect["keys"]))

        return [pipelines, merges, inserts, catchup]

    def check(self, spark, passes) -> dict:
        """Every op was checked right after it ran; this names the checks."""
        return {"check_method": {
            "etl_run": "no failed step, ML branch taken, raw/filtered/ELT row "
                       "counts and mean alcohol per quality vs the generated CSV",
            "downstream_run": "chart_kde ran on the filtered row count",
            "merge_batch": "after the last batch: rows == distinct keys == "
                           "distinct keys of all batches",
            "insert_batch": "after the last batch: rows == distinct keys == "
                            "distinct keys of all batches; a replayed batch appends 0 rows",
            "catchup": "rows == distinct keys == keys in the staged drops",
        }}

    @staticmethod
    def _check_etl(res, exp):
        failed = {k: v.error for k, v in res.items() if v.status == "failed"}
        if failed:
            return f"failed steps {failed}"
        if res["ml_task_group"].status != "success":
            return "ML branch not taken"
        if res["load_wine_data_into_postgresql"].value["row_count"] != exp["raw"]:
            return "raw row count"
        if res["load_wine_data_into_duckdb"].value["row_count"] != exp["loaded"]:
            return "filtered row count"
        if res["transform_wine_data_from_postgresql"].value.count() != exp["elt"]:
            return "ELT row count"
        stats = res["print_loaded_wine"].value
        got = dict(zip(stats["quality"], stats["mean_val"]))
        if set(got) != set(exp["means"]) or any(
            abs(got[q] - v) > 1e-9 * max(1.0, abs(v)) for q, v in exp["means"].items()
        ):
            return "mean alcohol by quality"
        if not all(math.isfinite(r["r2_test"]) for r in res["ml_task_group"].value):
            return "model scores"
        return None

    @staticmethod
    def _check_down(res, exp):
        if res["chart_kde"].status != "success":
            return f"chart_kde {res['chart_kde'].status}"
        if res["chart_kde"].value["row_count"] != exp["loaded"]:
            return "downstream row count"
        return None

    @staticmethod
    def _count_bad(df, want: int):
        row = df.selectExpr("count(*) AS n", "count(DISTINCT event_id) AS k").first()
        if row["n"] != want or row["k"] != want:
            return f"{row['n']} rows / {row['k']} keys, expected {want}"
        return None

    def layer_metrics(self, passes) -> dict:
        cyc = passes_of(passes, "_cycle")

        def per_pass(kind):
            return median([sum(op.get("latency_s", 0.0) for op in ops if op["kind"] == kind)
                           for ops in passes])

        out = {f"spark.{x}": median([sum(op.get("spark", {}).get(x, 0) for op in ops)
                                     for ops in passes]) for x in SPARK_LAYERS}
        for p, steps in ETL_STEPS.items():
            for s in steps:
                out[f"step.{p}.{s}_s"] = median([c["step_s"].get(f"{p}.{s}", 0.0) for c in cyc])
        out["plans.pipeline.overhead_s"] = median([c["pipeline_overhead_s"] for c in cyc])
        out["ml.regression.train_s"] = out["step.wine.ml_task_group_s"]
        out["sources.txn.merge_s"] = per_pass("merge_batch")
        out["sources.txn.bytes_rewritten"] = median([c["txn_bytes"] for c in cyc])
        out["sources.sinks.insert_ignore_s"] = per_pass("insert_batch")
        out["streaming.catchup_s"] = per_pass("catchup")
        out["files_written"] = median([c["files_written"] for c in cyc])
        out["write_amp"] = median([c["write_amp"] for c in cyc])
        return out


def catalog_inputs(data: str, warm: str, seed: int, sf: float, sqls: dict) -> tuple:
    """Write the catalog tables and the smoke-sized warm-up tables, then run
    each key's DuckDB oracle over the written files. Returns (row counts,
    slice bounds, expected records). Runs in the input child process, while
    the session starts."""
    import gen
    import oracle

    counts = gen.write_catalog_tables(data, seed, sf)
    gen.write_catalog_tables(warm, seed, SMOKE_SF)
    # the first 1/mod of the ids, from the generator's dense 0..n-1 ids
    slice_n = {key: counts[table] // mod for key, (table, _, _, mod) in SLICED_ORACLE.items()}
    paths = {t: os.path.join(data, f"{t}.parquet") for t in counts}
    where = {key: {table: f"{col} < {slice_n[key]}"}
             for key, (table, col, _, _) in SLICED_ORACLE.items()}
    return counts, slice_n, oracle.expected_records(paths, sqls, where)


def parallel_warm(spark, tasks) -> None:
    """Run untimed warm-up callables concurrently, one thread per core, so
    the cold JVM/codegen/worker start costs overlap. Any SQL conf a task
    changed is set back afterwards; a failing task is left for the timed
    passes to count."""
    def run_one(fn):
        try:
            fn()
        except Exception as exc:
            print(f"perfbench: warm-up task failed: {exc}", file=sys.stderr)

    before = dict(spark.conf.getAll)
    with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
        list(pool.map(run_one, tasks))
    for k, v in before.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


# ---------------------------------------------------------------- entry point

class Ctx:
    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.work = work
        self.corrupt = args.corrupt


def make_workload(name: str, ctx: Ctx, smoke: bool):
    if name == "catalog_sf0.1":
        return Catalog(ctx, sf=SMOKE_SF if smoke else 0.1)
    if name == "etl_writes":
        return EtlWrites(ctx, **(SMOKE_ETL if smoke else FULL_ETL))
    raise SystemExit(f"unknown workload {name!r} (catalog_sf0.1, etl_writes)")


def run(args, work: str) -> tuple[dict, dict]:
    import pyspark

    import duckdb
    from tracing import Tracer

    from airflow_etl_elt_spark.session import get_session

    ctx = Ctx(args, work)
    workload = make_workload(args.workload, ctx, args.smoke)
    # a child process writes the inputs (and runs the catalog's oracles)
    # while the session starts, so the memory that takes is never this
    # process's (see retained_mb)
    spawn = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(1, mp_context=spawn) as pool:
        pending = [pool.submit(write) for write in workload.inputs()]
        spark = get_session(app_name="perfbench")
        log_phase("session")
        generated = [f.result() for f in pending]
    log_phase("input generation")
    sampler = tracer = None
    try:
        setup_info = workload.setup(spark, generated)
        tracer = Tracer(spark, enabled=bool(args.trace))
        setup_s = process_age_s()

        rng = random.Random(args.seed)
        passes, floors = [], []
        sampler = RssSampler()
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < args.seconds:
            with tracer.span(f"pass-{len(passes)}"):
                floors.append(floor_sample(spark))
                passes.append(workload.one_pass(spark, rng, tracer))
        measured_s = time.perf_counter() - t0
        sampler.stop()
        peak = sampler.peak
        log_phase("timed passes")
        heap_mb, py_rss_mb = retained_mb(spark)
        retained = heap_mb + py_rss_mb
        log_phase("retained memory")

        check_info = workload.check(spark, passes)
        log_phase("checks")
        ops = [op for ops in passes for op in ops if not op["kind"].startswith("_")]
        failed = sum(1 for op in ops if "error" in op)
        key_median = {k: median(latencies(passes, k)) for k in workload.keys}
        pass_s = median([sum(op.get("latency_s", 0.0) for op in ops) for ops in passes])
        cycles = passes_of(passes, "_cycle")
        write_amp = median([c["write_amp"] for c in cycles]) if cycles else None
        if args.trace:
            m = workload.layer_metrics(passes)
            m.update({"trace.pass_s": pass_s, "peak_rss_mb": peak,
                      "spark.floor_s": median(floors)})
            metrics = {n: m.get(n, 0) for n in per_layer_names()}
        else:
            metrics = {"setup_s": setup_s, "pass_s": pass_s,
                       "key_geomean_s": geomean(list(key_median.values())),
                       "retained_mb": retained}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": bool(args.trace),
            "smoke": args.smoke,
            "cpus": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master,
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "env": {k: os.environ[k] for k in (
                "SPARK_GRAFT_PLAN_CACHE", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
            "setup": setup_info,
            "passes": len(passes),
            "ops_per_pass": len(ops) // len(passes),
            "samples_per_key": {k: len(latencies(passes, k)) for k in workload.keys},
            "median_s_per_key": key_median,
            "measured_s": measured_s,
            "error_rate": failed / len(ops),
            "write_amp": write_amp,
            "peak_rss_mb": peak,
            "retained_mb": {"jvm_heap": heap_mb, "python_rss": py_rss_mb},
            "errors": sorted({f"{op['kind']}: {op['error']}" for op in ops if "error" in op})[:10],
            **check_info,
        }
        if tracer.enabled:
            detail["spans"] = len(tracer.spans)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            spans_path = os.path.join(ROOT, ".perfbench_out",
                                      f"spans-{args.workload}-{args.seed}.json")
            with open(spans_path, "w") as fh:
                json.dump(tracer.spans, fh)
            detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        result = {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {n: {"value": v, "unit": unit_of(n)}
                        for n, v in metrics.items()},
        }
        return detail, result
    finally:
        if sampler is not None:
            sampler.stop()
        if tracer is not None:
            tracer.close()
        stop_session(spark)
        log_phase("teardown")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (sf0.001-sized), for the benchmark's own tests")
    p.add_argument("--corrupt", default=None,
                   help="damage this op kind's output before it is checked")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "airflow_etl_elt_spark", "__init__.py")):
        print(f"perfbench: the library is not in {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import airflow_etl_elt_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(airflow_etl_elt_spark.__file__))) != ROOT:
        print("perfbench: imported the library from outside the checkout", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    become_subreaper()
    confine_to(work)
    try:
        detail, result = run(args, work)
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
