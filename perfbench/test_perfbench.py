"""Self-tests of the benchmark at tiny scale (sf0.001 tables, a few
thousand loan rows, a handful of timed requests).

    python3 -m pytest perfbench -q

Each workload run starts its own Spark JVM, so the module takes a few
minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# files and directories a run must never rewrite
GUARDED = ["BENCH_DETAIL.json", ".indexes", ".fixtures"]


def _run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "3", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _git_status() -> str | None:
    try:
        out = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                             text=True, timeout=60)
    except OSError:
        return None
    return out.stdout if out.returncode == 0 else None


def _mtimes() -> dict[str, float]:
    out = {}
    for name in GUARDED:
        path = os.path.join(ROOT, name)
        if os.path.isfile(path):
            out[name] = os.path.getmtime(path)
        for base, _, files in os.walk(path):
            for f in files:
                p = os.path.join(base, f)
                out[os.path.relpath(p, ROOT)] = os.path.getmtime(p)
    return out


@pytest.fixture(scope="module")
def runs():
    """Every run the module makes, with the tree's state around them."""
    before = (_git_status(), _mtimes())
    results = {(w, t): _run(w, t) for w in WORKLOADS for t in (0, 1)}
    results.update({(w, "wrong"): _run(w, 0, "--inject-wrong") for w in WORKLOADS})
    return results, before, (_git_status(), _mtimes())


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted_with_its_unit(runs, workload, trace, kind):
    out = runs[0][(workload, trace)]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if kind == "end_to_end":
            assert m["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_injected_wrong_result_is_counted_as_failed(runs, workload):
    out = runs[0][(workload, "wrong")]
    assert out["correct"] is False
    assert out["failed"] >= 1


def test_run_leaves_the_tree_clean(runs):
    _, (status0, mtimes0), (status1, mtimes1) = runs
    assert mtimes1 == mtimes0
    if status0 is not None:
        assert status1 == status0


def test_same_seed_gives_identical_inputs(tmp_path):
    import datagen

    for d in ("a", "b"):
        out = tmp_path / d
        datagen.write_loan_batch_inputs(11, 500, 0.05, str(out / "loan"))
        datagen.write_star_tables(11, str(out / "star"), sf=0.001)
        datagen.write_corpus_tables(11, str(out / "star"), sf=0.001)
    cmp = filecmp.dircmp(tmp_path / "a", tmp_path / "b")

    def same(c) -> bool:
        _, mismatch, errors = filecmp.cmpfiles(c.left, c.right, c.common_files, shallow=False)
        return (not c.left_only and not c.right_only and not mismatch and not errors
                and all(same(s) for s in c.subdirs.values()))

    assert same(cmp)
    assert datagen.serve_requests(11, 50) == datagen.serve_requests(11, 50)
    assert datagen.serve_requests(11, 50) != datagen.serve_requests(12, 50)
