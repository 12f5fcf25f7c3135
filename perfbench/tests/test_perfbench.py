"""The benchmark's own tests: one tiny traced run per workload, one tiny
untraced run, the BENCHMARK.json contract, and the missing-program exit.

    python3 -m pytest perfbench/tests -q

Every op of a traced run, traced or not, is checked against the workload's
oracle, and a failed check exits 1; a zero exit shows that forcing frames
inside spans changes no output.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402
from spans import coverage, per_op_layers  # noqa: E402
from workloads import HEADLINERS, WORKLOADS  # noqa: E402


def _bench(*args: str, cwd: str = ROOT, timeout: int = 600) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_runner_prints():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


COVERAGE_FLOOR = {"build_oneshot": 0.85, "entry_headliners": 0.9, "query_serve": 0.9}


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_smoke(workload):
    rc, out = _bench("--workload", workload, "--seed", "5", "--seconds", "1",
                     "--trace", "1", "--scale", "tiny")
    assert rc == 0, out
    res = json.loads(out[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(run.per_layer_units())
    m = {k: v["value"] for k, v in res["metrics"].items()}
    # named layers' self times explain the traced op wall within ~10%
    assert COVERAGE_FLOOR[workload] <= m["trace.span_coverage"] <= 1.0 + 1e-9
    assert m["op.peak_rss_mb"] > 0
    if workload == "build_oneshot":
        assert m["components.jobs"] > 0 and m["components.rounds"] >= 1
        assert m["extraction.rows_out"] > 0 and m["extraction.kernel_us_per_page"] > 0
    elif workload == "entry_headliners":
        assert all(m[f"entry.{q}.wall_ms"] > 0 for q in HEADLINERS)
    else:
        for q in ("lookup", "one_hop", "two_hop", "topk"):
            assert m[f"query.{q}.jobs"] > 0 and m[f"query.{q}.bytes_read"] > 0
        assert m["catalog.stage_write.files_written"] > 0
        assert m["catalog.stage_write.bytes_written"] > 0


def test_untraced_smoke_prints_end_to_end_metrics():
    rc, out = _bench("--workload", "build_oneshot", "--seed", "6", "--seconds", "1",
                     "--trace", "0", "--scale", "tiny")
    assert rc == 0, out
    res = json.loads(out[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = _bench("--workload", "build_oneshot", "--seed", "1", "--seconds", "1",
                     "--trace", "0", cwd=str(tmp_path), timeout=120)
    assert rc != 0 and out == []


def test_self_time_subtracts_children():
    spans = [
        {"id": 1, "name": "op", "parent": None, "group": "g1", "counts": {}, "start": 0.0, "end": 1.0},
        {"id": 2, "name": "pipeline", "parent": 1, "group": "g2", "counts": {}, "start": 0.1, "end": 0.9},
        {"id": 3, "name": "components", "parent": 2, "group": "g3", "counts": {"rows_out": 7},
         "start": 0.2, "end": 0.5},
    ]
    groups = {"g3": {"jobs": 2, "task_ms": 40, "shuffle_bytes": 9, "bytes_read": 5,
                     "records_read": 3, "stage_task_ms": [[10, 10, 20]]}}
    (op,) = per_op_layers(spans, groups)
    assert op["_op_ms"] == pytest.approx(1000.0)
    assert op["pipeline"]["wall_ms"] == pytest.approx(500.0)
    assert op["components"]["wall_ms"] == pytest.approx(300.0)
    assert op["components"]["jobs"] == 2 and op["components"]["rows_out"] == 7
    assert op["components"]["skew"] == pytest.approx(2.0)


def test_coverage_leaves_out_pipeline_self_time():
    spans = [
        {"id": 1, "name": "op", "parent": None, "start": 0.0, "end": 1.0},
        {"id": 2, "name": "pipeline", "parent": 1, "start": 0.0, "end": 1.0},
        {"id": 3, "name": "linking", "parent": 2, "start": 0.0, "end": 0.3},
        {"id": 4, "name": "components", "parent": 2, "start": 0.3, "end": 0.5},
    ]
    for s in spans:
        s.update(group=f"g{s['id']}", counts={})
    (op,) = per_op_layers(spans, {})
    assert coverage(op) == pytest.approx(0.5)
