"""The benchmark's own tests, at tiny scale.

    python -m pytest perfbench/tests -q      (from the repository root)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import run as bench_run  # noqa: E402
from tracer import Tracer  # noqa: E402
from tables import make_tables  # noqa: E402
from workloads import Ops, QuerySuite, WebPipeline  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        kind: {m["name"]: m["unit"] for m in spec[kind]}
        for kind in ("end_to_end", "per_layer")
    }


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from rad_ecg_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH, os.environ.get("PYTHONPATH")) if p
    )
    s = get_spark(
        app_name="perfbench_tests", master="local[2]", shuffle_partitions=2,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(tmp_path_factory.mktemp("spark-local")),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_declared_per_layer_metrics_match_the_code():
    assert _declared()["per_layer"] == bench_run.per_layer_units()
    assert _declared()["end_to_end"] == bench_run.END_TO_END_UNITS


@pytest.mark.parametrize(
    "workload,trace",
    [("query_suite", 0), ("query_suite", 1), ("web_pipeline", 0), ("web_pipeline", 1)],
)
def test_every_named_metric_is_printed_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = _declared()["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    values = [v["value"] for v in result["metrics"].values()]
    assert all(isinstance(x, (int, float)) and not isinstance(x, bool) for x in values)
    if not trace:
        assert all(x > 0 for x in values)


def test_a_wrong_digest_is_reported_as_a_failure(spark, tmp_path):
    wl = QuerySuite(1, str(tmp_path), size="tiny", names=["stat_bundle"])
    wl.make_input(spark)
    wl.prepare(spark)
    ops = Ops(Tracer(enabled=False), 0)
    wl.run_pass(spark, ops)
    assert (ops.attempted, ops.failed) == (1, 0), ops.errors
    rows, xor, lo = wl.expected["stat_bundle"]
    wl.expected["stat_bundle"] = (rows, xor ^ 1, lo)
    ops = Ops(Tracer(enabled=False), 1)
    wl.run_pass(spark, ops)
    assert (ops.attempted, ops.failed) == (1, 1)
    assert "oracle" in ops.errors[0]


def test_a_wrong_pipeline_output_is_reported_as_a_failure(spark, tmp_path):
    wl = WebPipeline(1, str(tmp_path), size="tiny")
    wl.make_input(spark)
    wl.prepare(spark)
    ops = Ops(Tracer(enabled=False), 0)
    wl.run_pass(spark, ops)
    assert (ops.attempted, ops.failed) == (1, 0), ops.errors
    assert 0 < wl.after_pass(spark, 0)["skew.hub_src_frac"] <= 1
    rows, xor, lo = wl.ref_digests["labels"]
    wl.ref_digests["labels"] = (rows, xor ^ 1, lo)
    ops = Ops(Tracer(enabled=False), 1)
    wl.run_pass(spark, ops)
    wl.after_pass(spark, 1)
    assert (ops.attempted, ops.failed) == (1, 1)
    assert "labels digest" in ops.errors[0]


def test_an_operation_that_raises_is_counted_not_fatal(spark):
    ops = Ops(Tracer(enabled=False), 0)

    def boom():
        raise RuntimeError("engine error")

    assert ops.call("bad", boom, lambda r: None) is None
    assert ops.call("good", lambda: spark.range(3).count(), lambda n: None) == 3
    assert (ops.attempted, ops.failed) == (2, 1)
    assert "RuntimeError" in ops.errors[0] and "good" in ops.walls


def test_a_check_that_raises_is_a_failure(spark):
    ops = Ops(Tracer(enabled=False), 0)
    ops.call("x", lambda: 1, lambda r: 1 / 0)
    assert (ops.attempted, ops.failed) == (1, 1)


def test_seed_changes_the_query_suite_input():
    def snapshot(seed):
        return {n: df.to_csv() for n, df in make_tables(seed, 0.001).items()}

    assert snapshot(1) == snapshot(1)
    one, two = snapshot(1), snapshot(2)
    # every table but the fixed dimension tables changes with the seed
    assert {n for n in one if one[n] != two[n]} == set(one) - {"region", "nation"}
