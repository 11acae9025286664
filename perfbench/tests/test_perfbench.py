"""Self-test of the benchmark.

    python -m pytest perfbench/tests -q

Runs every workload at a tiny size in its own process (~5 min on 4 cores):
each run must emit every metric BENCHMARK.json declares, with its unit;
the same seed must give the same answer digest; and a wrong answer must
count as a failed operation."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import Row

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks  # noqa: E402
from perfbench import workloads as wl  # noqa: E402
from perfbench.observe import Tracer  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY_ROWS = 3000


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--rows", str(TINY_ROWS)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, record, result = proc.stdout.strip().splitlines()
    assert record.startswith("run_record ")
    return json.loads(record[len("run_record "):]), json.loads(result)


def _declared(kind: str) -> dict:
    return {m["name"]: m["unit"] for m in BENCH[kind]}


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_tiny_run_emits_every_end_to_end_metric(workload):
    record, result = _run(workload, seed=3, trace=0)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} \
        == _declared("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert record["ops_failed_frac"] == 0.0
    assert record["nproc"] >= 1 and record["seed"] == 3


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_tiny_traced_run_emits_every_per_layer_metric(workload):
    record, result = _run(workload, seed=3, trace=1)
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} \
        == _declared("per_layer")
    assert "trace_overhead_s" in record["detail"]
    assert record["detail"]["loop_ops"], "no loop operation attributed"


def test_same_seed_same_answer_digest():
    first, _ = _run("batch_langs", seed=5, trace=0)
    again, _ = _run("batch_langs", seed=5, trace=0)
    other, _ = _run("batch_langs", seed=6, trace=0)
    assert first["answer_digest"] == again["answer_digest"]
    assert first["answer_digest"] != other["answer_digest"]


# -- injected wrong answers (no Spark needed) ---------------------------------

KEYS = ["lang"]
VALUES = [float(v) for v in range(1, 1001)]
EXACT = {("en",): {"n": 1000, "distinct": 900, "values": VALUES,
                   "avg": 500.5, "sd": 288.8194360957494}}
ITEMS = {(("en",), "u1"): 7}


def _good(op: str) -> Row:
    return {
        "hll_distinct": Row(lang="en", approx_distinct=905, rows_seen=1000),
        "kll_quantiles": Row(lang="en", q0_5=500.0, q0_9=900.0, n=1000),
        "welford_stats": Row(lang="en", n=1000, avg=500.5,
                             sd=288.8194360957494),
        "cms_heavy_hitters": Row(lang="en", item="u1", est_count=8,
                                 total_count=1000),
    }[op]


WRONG = {
    "hll_distinct": {"approx_distinct": 1800},
    "kll_quantiles": {"q0_5": 900.0},
    "welford_stats": {"avg": 500.6},
    "cms_heavy_hitters": {"est_count": 6},  # an undercount
}


@pytest.mark.parametrize("op", wl.BATCH_OPS)
def test_injected_wrong_answer_is_a_failed_operation(tmp_path, op):
    assert checks.check_batch(op, [_good(op)], KEYS, EXACT, ITEMS,
                              wl.CMS_EPS) == []
    wrong = Row(**{**_good(op).asDict(), **WRONG[op]})
    run = wl.Run(None, tmp_path, 1, 1, Tracer("t", enabled=False))
    run.record(checks.check_batch(op, [wrong], KEYS, EXACT, ITEMS,
                                  wl.CMS_EPS))
    assert (run.attempted, run.failed) == (1, 1)


def test_missing_key_and_one_shot_mismatch_fail():
    assert checks.check_batch("hll_distinct", [], KEYS, EXACT, ITEMS,
                              wl.CMS_EPS)
    one_shot = {(3, "en"): 905}
    rows = [Row(lang="en", approx_distinct=906, rows_seen=1000)]
    assert checks.check_one_shot(rows, one_shot, 3)
    assert checks.check_one_shot(rows, one_shot, 2) == []


def test_a_few_bound_misses_among_many_answers_pass():
    """Probabilistic bounds: one 3-sigma HLL miss in 400 answers is
    expected, 20 are not."""
    exact = {(f"k{i}",): {"n": 1000, "distinct": 10000} for i in range(400)}
    est = 10000 + int(3.5 * checks.HLL_RSE * 10000)  # a 3.5-sigma miss

    def rows(n_miss):
        return [Row(lang=f"k{i}", rows_seen=1000,
                    approx_distinct=est if i < n_miss else 10000)
                for i in range(400)]

    assert checks.check_batch("hll_distinct", rows(1), KEYS, exact, {},
                              wl.CMS_EPS) == []
    assert checks.check_batch("hll_distinct", rows(20), KEYS, exact, {},
                              wl.CMS_EPS)
