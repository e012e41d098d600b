"""Self-test of the benchmark at a small table scale.

    python3 -m pytest perfbench -q

Runs every workload once for one second at scale 0.001 (a store of a
few thousand triples) and checks the output format, the determinism
of the op streams, and that a wrong answer is counted as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _bench(*args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, *SPEC["command"][1:]), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(*args) -> dict:
    out = _bench("--seconds", "1", "--scale", "0.001", *args)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_end_to_end_metric(workload):
    res = _result("--workload", workload, "--seed", "7")
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_emits_every_per_layer_metric():
    res = _result("--workload", "sparql_lookup", "--seed", "7", "--trace", "1")
    assert res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["compile.py4j_per_query"]["value"] > 0


def test_injected_wrong_answer_counts_as_failed():
    res = _result("--workload", "sparql_lookup", "--seed", "7", "--inject-wrong", "0")
    assert res["correct"] is False
    assert res["failed"] == 1


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_one_seed_gives_one_op_sequence(workload):
    ctx = workloads.Context(None, None, "", 0.001, 2000, None)

    def first(seed, n=60):
        stream = workloads.WORKLOADS[workload](ctx).ops(seed)
        return [next(stream) for _ in range(n)]

    assert first(3) == first(3)
    assert first(3) != first(4)


def test_graph_models_agree_with_edge_derivation():
    edges = workloads.Graph.edge_lists(2000)
    assert len(edges["doubling"]) == 8000
    assert len(edges["ring"]) == 2000
    assert all(u % 2 == v % 2 for u, v in edges["parity"])


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench("--workload", "sparql_lookup", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""
