"""Self-test of the benchmark: a quick smoke at sf0.001.

    python3 -m pytest perfbench -q

Runs each workload once through the benchmark's own command line and
checks that every metric BENCHMARK.json names is emitted with its unit,
that outputs are correct, and that the counts of two traced runs of one
seed repeat exactly and the amplification ratios to 1e-4.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
EXACT = ("py4j.calls", "spark.jobs", "spark.tasks", "table.read_calls", "log.state_at_calls", "fs.calls")
# file sizes vary by a few bytes: names are random UUIDs, and the log
# and delete files hold names and wall-clock times
CLOSE = ("write_amp", "space_amp")


def bench(workload: str, trace: int, seed: int = 7) -> dict:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                             "--trace", str(trace), "--sf", "0.001"]
    cmd[0] = sys.executable
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


def units(metrics: dict) -> dict:
    return {name: m["unit"] for name, m in metrics.items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_emitted_with_units(workload):
    got = bench(workload, trace=0)["metrics"]
    assert units(got) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in got.values())


def test_traced_counts_repeat_exactly():
    first, second = (bench("lakehouse_rw", trace=1)["metrics"] for _ in range(2))
    assert units(first) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for name in EXACT + CLOSE:
        assert first[name]["value"] > 0, name
    for name in EXACT:
        assert first[name]["value"] == second[name]["value"], name
    for name in CLOSE:
        assert first[name]["value"] == pytest.approx(second[name]["value"], rel=1e-4), name


def test_tracer_records_only_inside_op_windows():
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from spans import Tracer

    class Layer:
        def call(self):
            return 1

    tracer = Tracer(spark=None)
    tracer.wrap(Layer, "call", "layer.call")
    try:
        Layer().call()  # the benchmark preparing or checking an op
        with tracer.window():
            Layer().call()
        Layer().call()
    finally:
        tracer.restore()
    assert tracer.calls()["layer.call"] == 1
    (op,) = [s for s in tracer.spans if s["name"] == "op"]
    (call,) = [s for s in tracer.spans if s["name"] == "layer.call"]
    assert call["parent"] == op["id"]
    assert "call" in vars(Layer) and Layer().call() == 1


def test_refuses_to_run_outside_the_repository(tmp_path):
    os.mkdir(tmp_path / "perfbench")
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", name)) as src:
                (tmp_path / "perfbench" / name).write_text(src.read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "lakehouse_rw",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0 and p.stdout == ""
