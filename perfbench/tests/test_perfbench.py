"""Smoke tests of the benchmark on tiny inputs (``--smoke``).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
SCORED = [w["name"] for w in SPEC["workloads"]]


def _run(workload, trace=0, seed=3, prelude=""):
    args = ["--workload", workload, "--seed", str(seed), "--seconds", "2",
            "--trace", str(trace), "--smoke"]
    code = (
        f"import sys; sys.path[:0] = [{HERE!r}, {ROOT!r}]\n{prelude}\n"
        "import run; sys.exit(run.main(sys.argv[1:]))"
    )
    p = subprocess.run(
        [sys.executable, "-c", code, *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


@pytest.mark.parametrize("workload", SCORED)
@pytest.mark.parametrize("trace", [0, 1])
def test_prints_every_metric_with_its_unit(workload, trace):
    report, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert any(line.strip().startswith("fingerprint:") for line in report)


def test_same_seed_same_fingerprint():
    for w in ("serve_ivf", "batch_analytics", "ingest_serve"):
        a = gen.fingerprint(gen.generate(w, 5, gen.SMOKE))
        assert a == gen.fingerprint(gen.generate(w, 5, gen.SMOKE))
        assert a != gen.fingerprint(gen.generate(w, 6, gen.SMOKE))


def test_injected_wrong_answer_raises_error_rate():
    prelude = (
        "from ydb_vector_search_simple_api_spark import api\n"
        "_search = api.VectorSearchEngine.search\n"
        "def search(self, *a, **kw):\n"
        "    rows, t = _search(self, *a, **kw)\n"
        "    rows[0]['score'] += 0.5\n"
        "    return rows, t\n"
        "api.VectorSearchEngine.search = search\n"
    )
    report, result = _run("serve_ivf", prelude=prelude)
    assert not result["correct"]
    assert result["failed"] == result["attempted"] > 0
    assert any("failures.wrong_score" in line for line in report)


def test_check_ranked_flags_wrong_answers():
    inp = gen.generate("serve_ivf", 1, gen.SMOKE)
    oracle = check.Oracle(inp.corpus)
    live = np.arange(gen.SMOKE.n_corpus)
    q = inp.pool[0]
    ids, scores = oracle.topk(q, live, 10)
    ids, scores = ids.tolist(), scores.tolist()
    assert check.check_exact(oracle, q, ids, scores, live, 10) is None
    assert check.check_ranked(oracle, q, ids[::-1], scores[::-1], 10) == "wrong_order"
    assert check.check_ranked(oracle, q, ids[:9], scores[:9], 10) == "wrong_count"
    bumped = [scores[0] + 1e-3, *scores[1:]]
    assert check.check_ranked(oracle, q, ids, bumped, 10) == "wrong_score"


def test_ingest_race_workload_runs_and_counts():
    report, result = _run("ingest_serve")
    assert result["attempted"] >= 1
    assert any("writer_ops" in line for line in report)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_ivf", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
