"""Tests of the benchmark itself: seeded inputs are reproducible, the
printed result carries every declared metric with its unit, and a
checkout without the engine exits non-zero without a result.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

#: every input generator: one per workload, plus the curation corpus
#: that the traced runs probe the curate stages on
GENERATORS = {
    "extract_text": gen.text_corpus,
    "extract_scanned": gen.scanned_pages,
    "curate_corpus": gen.curate_corpus,
}


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_workloads_are_the_runnable_ones():
    from perfbench.workloads import WORKLOADS

    declared = sorted(w["name"] for w in _declared()["workloads"])
    assert declared == sorted(WORKLOADS)
    assert set(declared) <= set(GENERATORS)


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_inputs(name):
    make = GENERATORS[name]
    assert make(7) == make(7)


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_different_seeds_different_inputs(name):
    make = GENERATORS[name]
    assert make(7) != make(8)


def test_text_corpus_shape_is_fixed_across_seeds():
    for seed in (1, 2):
        d = gen.text_corpus(seed)
        assert sum(len(p) for p in d["tokens"].values()) == 900
        assert len(d["corrupt"]) == 4 and len(d["real"]) == 2


def test_curate_expectations_follow_the_split_hash():
    d = gen.curate_corpus(3)
    assert len(d["kept"]) == 600 * 72 // 100
    assert d["train"] == sum(gen.split_is_train(i) for i in d["kept"])


def test_tracer_self_time_excludes_children():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    selfs = tr.self_times()
    total = outer["end"] - outer["start"]
    assert inner["parent"] == outer["id"]
    assert selfs[outer["id"]] == pytest.approx(total - (inner["end"] - inner["start"]))


def _run(cwd: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_scanned",
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_result_carries_every_declared_metric(trace, key):
    proc = _run(ROOT, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in _declared()[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == declared
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_exits_without_result_when_engine_is_absent(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
