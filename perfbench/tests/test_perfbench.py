"""Fast checks of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/tests -q

The Spark-backed checks run each workload once untraced, once traced and
once with a damaged output: config_pipeline at 1% of its input size,
query_mix for one pass over its fixed tables. The rest need no Spark.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402


WORKLOADS = ("config_pipeline", "query_mix")


def bench(workload, *extra, cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "1",
           "--scale", "0.01", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)


def last_json(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module", params=WORKLOADS)
def workload(request):
    return request.param


@pytest.fixture(scope="module")
def untraced(workload):
    return last_json(bench(workload, "--trace", "0"))


@pytest.fixture(scope="module")
def traced(workload):
    proc = bench(workload, "--trace", "1")
    return last_json(proc), json.loads(proc.stderr.strip().splitlines()[-1])


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_untraced_prints_every_end_to_end_metric_with_unit(untraced):
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    got = {k: v["unit"] for k, v in untraced["metrics"].items()}
    assert got == want
    assert untraced["correct"] and untraced["failed"] == 0
    assert all(v["value"] > 0 for v in untraced["metrics"].values())


def test_traced_prints_every_per_layer_metric_with_unit(traced):
    res, _ = traced
    want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert res["metrics"]["failed_ratio"]["value"] == 0


def test_traced_and_untraced_runs_attempt_the_same_operations(untraced,
                                                               traced):
    res, _ = traced
    assert res["attempted"] == untraced["attempted"] >= 3
    assert res["failed"] == untraced["failed"] == 0


def test_self_times_and_unattributed_sum_to_the_wall(traced):
    m = {k: v["value"] for k, v in traced[0]["metrics"].items()}
    selfs = sum(v for k, v in m.items() if k.startswith("self."))
    assert selfs + m["unattributed_s"] == pytest.approx(m["run.wall_s"],
                                                        rel=1e-6)
    assert m["unattributed_s"] >= 0


def test_traced_run_reports_its_spans(traced, workload):
    spans = traced[1]["spans"]
    names = {s["name"] for s in spans}
    layer = {"config_pipeline": "plans.build",
             "query_mix": "queries.build"}[workload]
    assert {"setup.session", "op", "verify", layer} <= names
    assert all(s["end"] >= s["start"] for s in spans)


def test_corrupted_output_raises_failed_ratio(workload):
    res = last_json(bench(workload, "--trace", "1", "--corrupt"))
    assert not res["correct"]
    assert res["failed"] >= 1
    assert res["metrics"]["failed_ratio"]["value"] > 0


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__",
                                                  ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = bench("config_pipeline", cwd=tmp_path,
                 script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_spec_names_match_the_harness():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_generation_is_a_function_of_the_seed(tmp_path):
    a = gen.pipeline_corpus(str(tmp_path / "a"), 300, 9)
    b = gen.pipeline_corpus(str(tmp_path / "b"), 300, 9)
    c = gen.pipeline_corpus(str(tmp_path / "c"), 300, 10)
    assert a.expected == b.expected != c.expected
    for name in os.listdir(a.input_dir):
        with open(os.path.join(a.input_dir, name), "rb") as fa, \
                open(os.path.join(b.input_dir, name), "rb") as fb:
            assert fa.read() == fb.read()


def test_digest_ignores_order_but_not_multiplicity():
    lines = ["a", "b", "c"]
    assert gen.digest(lines) == gen.digest(reversed(lines))
    assert gen.digest(["a", "a", "b"])[1] != gen.digest(["a", "b", "b"])[1]


def test_self_times_subtract_children():
    t = Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    selfs = t.self_times()
    assert selfs["inner"] == pytest.approx(inner.dur)
    assert selfs["outer"] == pytest.approx(outer.dur - inner.dur)
    assert inner.parent == 0 and outer.parent is None
