"""Tests of the benchmark itself (not of the package under test).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark and take about a minute per workload.
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
from contextlib import redirect_stdout

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_every_workload_has_a_class():
    for name in run.WORKLOADS:
        assert run.workload_class(name).name == name


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))


def test_generator_is_deterministic(tmp_path):
    from gen import SIZES, make_inputs

    for w in SIZES:
        a = make_inputs(w, 7, "tiny", str(tmp_path / "a"))
        b = make_inputs(w, 7, "tiny", str(tmp_path / "b"))
        c = make_inputs(w, 8, "tiny", str(tmp_path / "a"))
        assert a["digest"] == b["digest"] != c["digest"]


def test_tree_cpu_counts_reaped_children():
    from common import tree_cpu_s

    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert tree_cpu_s() - before >= 0.1


def test_layer_self_time_subtracts_children():
    from tracing import Layers, Span

    root = Span("bench.iteration", "root", 1, None, 0, 1, 0.0, 1.0)
    a = Span("a", "busy", 2, 1, 0, 2, 0.1, 0.5)
    b = Span("b", "busy", 3, 2, 0, 3, 0.2, 0.3)
    lay = Layers([root, a, b])
    assert lay.self_ms(root) == pytest.approx(600.0)
    assert lay.self_ms(a) == pytest.approx(300.0)
    assert [r[0] for r in lay.table()] == ["bench.iteration", "a", "b"]


def _last_json(text: str) -> dict:
    return json.loads(text.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_smoke(workload):
    """Each workload runs end to end on tiny inputs, verifies, and prints
    exactly the metric names BENCHMARK.json declares."""
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        proc = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-2000:]
        out = _last_json(proc.stdout)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        assert set(out["metrics"]) == {m["name"] for m in SPEC[section]}


def test_corrupted_output_counts_as_failed(monkeypatch):
    """Deleting part of the loaded output before verification marks the
    affected objects failed; the run still completes and reports them."""
    import etl_objects

    real = etl_objects.EtlObjects.verify

    def corrupt_then_verify(self, manifest, objects, pkeys, pipe, model, data_dir):
        load_dir = os.path.join(data_dir, "load", model.filename())
        part = sorted(f for f in os.listdir(load_dir) if f.endswith(".parquet"))[0]
        os.remove(os.path.join(load_dir, part))
        return real(self, manifest, objects, pkeys, pipe, model, data_dir)

    monkeypatch.setattr(etl_objects.EtlObjects, "verify", corrupt_then_verify)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run.main(["--workload", "etl_objects", "--seed", "4", "--seconds", "1",
                       "--size", "tiny"])
    out = _last_json(buf.getvalue())
    assert rc == 0
    assert not out["correct"]
    assert 1 <= out["failed"] <= out["attempted"]


def test_missing_package_exits_nonzero(tmp_path):
    """In a directory holding only the benchmark, the run refuses."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "results", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_objects", "--seed", "1",
         "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
        timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
