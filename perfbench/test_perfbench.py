"""Tests of the benchmark itself: the seeded generator and a tiny-size
smoke run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def test_same_seed_same_inputs():
    a, b = gen.corpus(7, 600), gen.corpus(7, 600)
    assert a == b
    qa = gen.QueryDrawer(7, a).distinct(2)
    qb = gen.QueryDrawer(7, b).distinct(2)
    assert qa == qb and len(qa) > 24
    assert gen.serve_log(7, 50, 60, 1.1, 8) == gen.serve_log(7, 50, 60, 1.1, 8)


def test_serve_log_alternates_fresh_and_lagged_repeats():
    lag = 8
    log = gen.serve_log(7, 100, 2 * (100 - lag), 1.1, lag)
    seen_at = {q: -lag for q in range(lag)}  # answered before the log
    for k, q in enumerate(log):
        if k % 2 == 0:
            assert q not in seen_at  # first-seen: a cache miss
            seen_at[q] = k
        else:
            assert seen_at[q] <= k - lag  # a repeat of a settled query


def test_partitioning_does_not_change_docs():
    whole = gen.corpus_rows(7, 0, 600)
    parts = [gen.corpus_rows(7, lo, min(600, lo + 97)) for lo in range(0, 600, 97)]
    for col, values in whole.items():
        assert values == [v for p in parts for v in p[col]]
    assert gen.corpus(7, 600, block=64) == gen.corpus(7, 600, block=4096)


def test_other_seed_other_docs():
    a, b = gen.corpus(7, 200), gen.corpus(8, 200)
    assert a["content"] != b["content"] and a["commit"] != b["commit"]


def test_upsert_keeps_key_changes_commit_and_content():
    v0 = gen.corpus_rows(7, 100, 110)
    v1 = gen.corpus_rows(7, 100, 110, version=1, marker="wave0mark")
    assert (v0["repo"], v0["path"]) == (v1["repo"], v1["path"])
    assert all(a != b for a, b in zip(v0["commit"], v1["commit"]))
    assert all(c.endswith(" wave0mark") for c in v1["content"])


def test_strata_follow_the_idf_threshold():
    n = 1000
    assert gen.stratum_of(500, n) == "head"  # idf < 1.5: pruned
    assert gen.stratum_of(20, n) == "mid"
    assert gen.stratum_of(3, n) == "tail"


# tiny sizes for the smoke run; the defaults take a minute per run
_TINY = (
    "import sys, workloads as w; "
    "w.N_DOCS, w.CHUNK_DOCS, w.BATCH_PER_CELL, w.SERVE_PER_CELL = 1024, 64, 1, 1; "
    "import run; sys.exit(run.main(sys.argv[1:]))"
)


@pytest.mark.parametrize("workload", ["query", "serve"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_declared_metrics(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    key = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in spec[key]}
    out = subprocess.run(
        [sys.executable, "-c", _TINY, "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace)],
        cwd=HERE, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == declared
    assert "detail" in json.loads(lines[-2])
