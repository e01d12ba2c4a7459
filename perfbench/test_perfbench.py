"""The benchmark's own tests, at smoke size.

Run from the repository root::

    python -m pytest perfbench -q -p no:cacheprovider

One SparkSession serves the in-process tests; three more start
``run.py`` from the command line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, "work", "tests")
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_same_log():
    d = os.path.join(WORK, "seed")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    a, b, c = (os.path.join(d, n) for n in ("a.log", "b.log", "c.log"))
    oa = gen.write_backlog(a, 7, 300, 100)
    ob = gen.write_backlog(b, 7, 300, 100)
    gen.write_backlog(c, 8, 300, 100)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)
    assert oa.state == ob.state and [t.end_pos for t in oa.txs] == [t.end_pos for t in ob.txs]
    logs = []
    for name in ("t1.log", "t2.log"):
        t = gen.Trickle(os.path.join(d, name), 7, 10_000.0, 40, 50)
        t.write_warm(5)
        t.start()
        t.join(30)
        assert t.error is None
        logs.append(_bytes(os.path.join(d, name)))
    assert logs[0] == logs[1]


@pytest.fixture(scope="module")
def bench_env():
    from perfbench import run

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    nproc = run.prepare_env(ROOT, WORK)
    from pypgcdc_spark.api import PgCdcEngine
    from pypgcdc_spark.session import get_spark

    spark = get_spark("perfbench-tests", cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, PgCdcEngine(spark)
    run.stop_spark(spark)


def _bench(bench_env, workload: str, seed: int, corrupt: bool = False, traced: bool = False):
    from perfbench import workloads as wl
    from perfbench.trace import Tracer

    spark, engine = bench_env
    work = os.path.join(WORK, f"{workload}-{seed}-{int(corrupt)}-{int(traced)}")
    backlog = wl.write_backlog(work, workload, seed, wl.SMOKE)
    b = wl.Bench(spark, engine, work, Tracer("test", traced), seed, 2.0, wl.SMOKE, backlog,
                 corrupt=corrupt)
    b.warm_up(workload)
    out = b.live() if workload in wl.LIVE else b.backlog(workload)
    return b, out


@pytest.mark.parametrize("workload", ["land_backlog", "apply_backlog", "live_land", "live_trickle"])
def test_workload_matches_oracle(bench_env, workload):
    _, out = _bench(bench_env, workload, 3)
    assert out.attempted > 0
    assert out.failed == 0
    assert all(f != float("inf") for f in out.freshness_ms)


@pytest.mark.parametrize("workload", ["land_backlog", "apply_backlog", "live_land", "live_trickle"])
def test_corrupt_expectation_fails_every_transaction(bench_env, workload):
    _, out = _bench(bench_env, workload, 4, corrupt=True)
    assert out.attempted > 0
    assert out.failed == out.attempted


def test_traced_run_has_every_layer_metric(bench_env):
    b, out = _bench(bench_env, "land_backlog", 5, traced=True)
    m = b.layer_metrics(out)
    assert set(m) == {x["name"] for x in SPEC["per_layer"]}
    for name in ("apply.merge.ms_p50", "ivm.apply_batch.ms_p50", "transform.feed.events_per_s"):
        assert m[name] > 0


def _run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def test_cli_prints_every_end_to_end_metric():
    p = _run(["--workload", "live_land", "--seed", "1", "--seconds", "2", "--trace", "0", "--smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] > 0
    want = {(x["name"], x["unit"]) for x in SPEC["end_to_end"]}
    assert {(k, v["unit"]) for k, v in last["metrics"].items()} == want
    assert all(v["value"] > 0 for v in last["metrics"].values())


def test_cli_counts_a_corrupt_expectation_as_failed():
    p = _run(["--workload", "land_backlog", "--seed", "1", "--seconds", "1", "--trace", "0",
              "--smoke", "--corrupt-oracle"])
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert last["correct"] is False
    assert last["failed"] == last["attempted"] > 0


def test_cli_fails_without_the_engine():
    d = os.path.join(WORK, "bare")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("work", "results", "__pycache__", "test_*"))
    p = _run(["--workload", "land_backlog", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=d)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
