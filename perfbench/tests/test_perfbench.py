"""Tests of the benchmark itself: ``python3 -m pytest perfbench/tests -q``
from the repository root. The end-to-end test starts Spark once per
workload and trace mode (about half a minute each)."""

from __future__ import annotations

import copy
import filecmp
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, generate, run  # noqa: E402

WORKLOADS = run.WORKLOADS


def _files(d: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    generate.generate(workload, 3, 1, a)
    generate.generate(workload, 3, 1, b)
    generate.generate(workload, 4, 1, c)
    names = _files(a)
    assert names == _files(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []
    data = [n for n in names if n.endswith(".parquet")]
    _, differ, _ = filecmp.cmpfiles(a, c, data, shallow=False)
    assert differ, "another seed should give other inputs"


def test_benchmark_json_lists_the_metrics_the_runner_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_appears_with_its_unit(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def _event_files(tmp_path) -> list[str]:
    inputs = generate.write_events(str(tmp_path), generate.EVENT_SPECS["sink_small"], 5, 1)
    return [str(tmp_path / p) for p in inputs["files"]["events"][:2]]


def test_sink_checker_accepts_the_group_by_and_catches_one_lost_sadd(tmp_path):
    expected = checks.expected_sink_state(_event_files(tmp_path))
    state = copy.deepcopy(expected)
    state["kv"] = {"bench:batch:0": b"1", "bench:batch:1": b"1"}
    assert checks.check_sink_state(state, expected, "bench", [0, 1]) == []

    lost = copy.deepcopy(state)
    key = sorted(lost["sets"])[0]
    lost["sets"][key].pop()
    problems = checks.check_sink_state(lost, expected, "bench", [0, 1])
    assert len(problems) == 1 and "uniq sets" in problems[0]

    staged = copy.deepcopy(state)
    staged["hashes"]["bench:stage:1"] = {b"SADD|uniq:view:2024:01:01|1": b"1"}
    assert checks.check_sink_state(staged, expected, "bench", [0, 1])
    assert checks.check_sink_state(state, expected, "bench", [0, 1, 2])


def test_dedup_checker_catches_a_sub_threshold_pair():
    texts = {
        0: "a b c d e f g h",
        1: "a b c d e f g x",  # 5 of 7 shingles shared: jaccard 5/7
        2: "p q r s t u v w",
        3: "a b c q r s t u",  # 1 shingle shared with doc 0
    }
    j01 = round(checks.jaccard(checks.shingles(texts[0]), checks.shingles(texts[1])), 6)
    planted = [(0, 1, j01)]
    good = {
        "exact": [(0,), (1,), (2,), (3,)],
        "near": [(0, 1, j01)],
        "ngram_jaccard": [(0, 1, j01)],
        "ngram_containment": [
            (a, b, round(checks.containment(checks.shingles(texts[a]), checks.shingles(texts[b])), 6))
            for a, b in ((0, 1), (1, 0))
        ],
    }
    assert all(p == [] for p in checks.check_dedup(good, texts, planted).values())

    bad = copy.deepcopy(good)
    j03 = round(checks.jaccard(checks.shingles(texts[0]), checks.shingles(texts[3])), 6)
    bad["ngram_jaccard"].append((0, 3, j03))
    problems = checks.check_dedup(bad, texts, planted)
    assert problems["ngram_jaccard"] and "(0, 3)" in problems["ngram_jaccard"][0]

    missed = copy.deepcopy(good)
    missed["ngram_jaccard"] = []
    problems = checks.check_dedup(missed, texts, planted)
    assert problems["ngram_jaccard"] and problems["near"]
