"""Smoke test of the benchmark itself.

Run from the root of a checkout::

    python3 -m pytest -q valbench/test_smoke.py

The attribution tests use tiny probe actions whose job counts are known.
The command tests run the real benchmark: every workload once for one
second per mode (names and units of every metric in ``BENCHMARK.json``)
and once for the full ``run_seconds`` untraced (enough ops for a tail).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from statusstore import StatusStore  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


@pytest.fixture(scope="module")
def spark():
    inputs.import_package()
    s = inputs.start_session("valbench-smoke")
    s.sparkContext.setJobGroup(run.GROUP, "smoke")
    yield s
    inputs.stop_session(s)


def test_attribution_counts_exactly_the_probe_jobs(spark):
    ss = StatusStore(spark, run.GROUP)
    rdd = spark.sparkContext.parallelize(range(100), 2)

    def two_counts():
        return rdd.count() + rdd.count()

    out, m = ss.call(two_counts)
    assert out == 200
    assert (m["jobs"], m["stages"], m["tasks"]) == (2, 2, 4)
    assert m["jobs_in_group_frac"] == 1.0
    assert m["write_jobs"] == 0


def test_attribution_marks_the_write_job(spark, tmp_path):
    ss = StatusStore(spark, run.GROUP)
    df = spark.range(10)
    _, m = ss.call(lambda: df.write.parquet(str(tmp_path / "out")))
    assert m["jobs"] == 1 and m["write_jobs"] == 1
    assert 0 < m["write_s"] <= m["job_busy_s"]


def test_gap_plus_busy_is_the_wall_time(spark):
    ss = StatusStore(spark, run.GROUP)
    df = spark.range(50_000).selectExpr("id % 7 AS k").groupBy("k").count()
    for fn in (df.collect, lambda: None, lambda: spark.range(5).count()):
        _, m = ss.call(fn)
        assert m["driver_gap_s"] >= 0.0
        assert m["job_busy_s"] + m["driver_gap_s"] == pytest.approx(
            m["wall_s"], abs=1e-9)


def test_tail_has_ten_samples_beyond_it():
    walls = [float(i) for i in range(30)]
    value, beyond = run._tail(walls)
    assert beyond == run.TAIL_BEYOND
    assert sum(w > value for w in walls) == run.TAIL_BEYOND
    assert value > statistics.median(walls)


def _bench(workload: str, seconds: float, trace: int) -> dict:
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "7",
                              "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    return {"result": res, "stdout": lines}


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    res = _bench(workload, 1, trace)["result"]
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_run_has_a_tail_above_the_median(workload):
    out = _bench(workload, BENCH["run_seconds"], 0)
    m = out["result"]["metrics"]
    n = out["result"]["attempted"]
    assert f"valbench: {n} ops;" in out["stdout"][-2]
    assert m["op_s_tail"]["value"] > m["op_s_p50"]["value"]
    assert m["ok_frac"]["value"] == 1.0
    beyond = int(out["stdout"][-2].split(" with ")[1].split()[0])
    if beyond < run.TAIL_BEYOND:
        # 48 runs must fit in 3,420 s, which leaves about 15-22 ops of
        # 1.0-1.5 s per window on a four-core machine
        pytest.xfail(f"{n} ops: {beyond} beyond the tail, not {run.TAIL_BEYOND}")
