"""Tests of the benchmark itself, on ``--smoke`` inputs (sf 0.001 sized).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    """Run the benchmark in a session of its own; once it has exited, no
    process of that session (not even an unreaped one) may be left."""
    with subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--seconds", "1", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        start_new_session=True,
    ) as proc:
        out, _ = proc.communicate(timeout=600)
    assert _session_members(proc.pid) == []
    return subprocess.CompletedProcess(proc.args, proc.returncode, out)


def _session_members(sid: int) -> list[str]:
    found = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                text = fh.read()
        except OSError:
            continue
        if int(text.rsplit(")", 1)[1].split()[3]) == sid:
            found.append(text[:120])
    return found


def _lines(proc) -> tuple[dict, dict]:
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def test_spec_matches_runner():
    spec = _spec()
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
    assert {w["name"] for w in spec["workloads"]} == {"catalog_sf0.1", "etl_writes"}
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}


def test_value_hash_ignores_row_order_and_last_bits():
    a = pd.DataFrame({"x": [1, 2, None], "y": ["a", None, "c"]})
    b = pd.DataFrame({"y": ["c", "a", None], "x": [None, 1.0, 2.0000000000001]})
    assert oracle.value_hash(a) == oracle.value_hash(b)
    assert oracle.value_hash(a) != oracle.value_hash(a.iloc[1:])
    assert oracle.value_hash(a) != oracle.value_hash(a.assign(x=[1, 3, None]))


def test_generation_is_seeded():
    one, again, other = (gen.catalog_frames(s, 0.001) for s in (7, 7, 8))
    for name in one:
        pd.testing.assert_frame_equal(one[name], again[name])
    assert not one["lineitem"].equals(other["lineitem"])
    pd.testing.assert_frame_equal(gen.wine_frame(3, 100), gen.wine_frame(3, 100))


def test_catalog_traced_smoke_flags_a_corrupted_key():
    proc = _bench(ROOT, "--workload", "catalog_sf0.1", "--seed", "3", "--trace", "1",
                  "--smoke", "--corrupt", "tpch_q6")
    assert proc.returncode == 0
    detail, res = _lines(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == set(run.per_layer_names())
    # only the corrupted key fails; every other key matched its oracle
    assert res["correct"] is False
    assert res["failed"] == detail["passes"]
    assert detail["error_rate"] > 0
    assert all(e.startswith("tpch_q6: wrong output") for e in detail["errors"])
    assert res["metrics"]["queries.py4j_calls"]["value"] > 0
    assert res["metrics"]["spark.jobs"]["value"] > 0


def test_etl_smoke_reports_end_to_end_metrics_and_flags_corruption():
    proc = _bench(ROOT, "--workload", "etl_writes", "--seed", "3", "--smoke",
                  "--corrupt", "catchup")
    assert proc.returncode == 0
    detail, res = _lines(proc)
    assert set(res["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert res["failed"] == detail["passes"]
    assert all(e.startswith("catchup: wrong output") for e in detail["errors"])
    assert detail["write_amp"] > 0


def test_stage_totals_are_complete_right_after_the_op(tmp_path):
    # the status store is fed by Spark's asynchronous listener bus; settle()
    # must drain it, so two runs of the same multi-stage op count the same
    import tracing
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.shuffle.partitions", "3")
             .config("spark.local.dir", str(tmp_path))
             .getOrCreate())
    try:
        tracer = tracing.Tracer(spark, enabled=True)
        runs = []
        for _ in range(2):
            with tracer.job_group("op") as stats:
                (spark.range(200_000, numPartitions=4).selectExpr("id % 97 AS k", "id")
                 .groupBy("k").count().orderBy("count").toPandas())
            tracer.settle()
            runs.append(stats)
        tracer.close()
    finally:
        spark.stop()
    assert runs[0]["stages"] >= 2 and runs[0]["tasks"] > runs[0]["stages"]
    assert runs[0]["shuffle_bytes"] > 0
    for x in ("jobs", "stages", "tasks"):
        assert runs[0][x] == runs[1][x], x


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _bench(str(tmp_path), "--workload", "catalog_sf0.1", "--seed", "1")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_only_the_defined_workloads_exist():
    ctx = type("Ctx", (), {"seed": 1, "work": "unused", "corrupt": None})()
    for name in ("catalog_sf0.1", "etl_writes"):
        assert run.make_workload(name, ctx, smoke=True).keys
    with pytest.raises(SystemExit):
        run.make_workload("catalog_10x", ctx, smoke=True)
