"""Self-tests of the benchmark: its checks are not vacuous, both workloads
run end to end with checks on, and a traced run's exact counts repeat.

    python -m pytest enginebench/ -q

The two end-to-end tests start Spark in subprocesses at the tiny scale
(about seven minutes on a 4-core host together).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import layers  # noqa: E402
from dlkp_spark.oracle import build_oracle_index  # noqa: E402

DOCS = [
    (0, "inverted index compression for block max wand"),
    (1, "block max wand over an inverted index"),
    (2, "neural keyphrase extraction with a conditional random field"),
    (3, "index index index compression"),
    (4, "distributed query engine for the inverted index"),
]


def _bench_names(section: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


def _run(workload: str, trace: int, seed: int = 3) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return {"result": json.loads(lines[-1]), "report": json.loads(lines[-2])["report"]}


def test_swapped_doc_ids_fail_every_check():
    """A result with two doc ids swapped is counted as failed by the exact,
    tolerance and liveness checks alike."""
    idx = build_oracle_index(DOCS)
    scores = checks.all_scores(idx, ["index", "compression"])
    want = checks.topk_of(scores, 10)
    assert len(want) >= 2 and checks.check_exact(want, want) == []
    bad = [(want[0][0], want[1][1], want[0][2]),
           (want[1][0], want[0][1], want[1][2])] + want[2:]
    assert checks.check_exact(bad, want)
    assert checks.check_close(want, scores, 10) == []
    assert checks.check_close(bad, scores, 10)
    assert checks.check_live(want, {d for _, d, _ in want} - {want[0][1]},
                             {want[0][1]})

    class Spark:
        class catalog:
            @staticmethod
            def clearCache():
                pass

    import workloads

    ctx = workloads.Ctx(Spark(), None, 0, ROOT, "tiny", 1)
    ctx.call("query.plain", lambda: bad, lambda hits: checks.check_exact(hits, want))
    ctx.call("query.plain", lambda: want, lambda hits: checks.check_exact(hits, want))
    assert (ctx.attempted, ctx.failed) == (2, 1)


def test_shape_check_catches_order_and_k():
    hits = [(1, 4, 2.0), (2, 3, 2.0), (3, 9, 1.0)]
    assert checks.check_shape(hits, 10)          # tie broken by doc_id desc
    assert checks.check_shape(hits[1:], 1)       # more than k rows
    assert checks.check_shape([(1, 3, 2.0), (2, 4, 2.0)], 10) == []


@pytest.mark.parametrize("workload", ["serve", "churn"])
def test_smoke_run_with_checks(workload):
    r = _run(workload, trace=0)
    res = r["result"]
    assert res["correct"] is True and res["failed"] == 0, r["report"]["errors"]
    assert res["attempted"] > 0
    assert set(res["metrics"]) == _bench_names("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", ["serve", "churn"])
def test_traced_exact_counts_repeat(workload):
    a, b = _run(workload, trace=1), _run(workload, trace=1)
    for r in (a, b):
        assert r["result"]["correct"] is True, r["report"]["errors"]
        assert set(r["result"]["metrics"]) == _bench_names("per_layer")
    ra, rb = a["report"]["metrics"], b["report"]["metrics"]
    exact = [k for k in layers.EXACT if k in ra]
    assert exact
    assert {k: ra[k]["value"] for k in exact} == {k: rb[k]["value"] for k in exact}
