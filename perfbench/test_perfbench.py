"""Tests of the benchmark itself.  Run from the repository root:

    python3 -m pytest perfbench -q

The smoke tests start Spark (about half a minute each).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

from perfbench import inputs
from perfbench.trace import Job, Span, covered, span_metrics

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (8, 12)]) == 6
    assert covered(2, 4, [(0, 10)]) == 2


def test_span_self_and_driver_time_on_a_synthetic_tree():
    # root [0, 10] has children a [1, 4] and b [5, 9]; a has child c [2, 3]
    spans = [
        Span("root", 1, None, "t", 0.0, 10.0),
        Span("a", 2, 1, "t", 1.0, 4.0),
        Span("b", 3, 1, "t", 5.0, 9.0),
        Span("c", 4, 2, "t", 2.0, 3.0),
    ]
    jobs = [
        Job(0, "t-2", 1.5, 2.5, (0,)),  # a's own job
        Job(1, "t-4", 2.0, 3.0, (1, 0)),  # c's job reuses a's stage 0
        Job(2, "t-3", 6.0, 8.0, (2,)),  # b's job
        Job(3, None, 0.0, 10.0, (3,)),  # outside every span
    ]
    stages = {
        0: {"executor_cpu_s": 1.0, "tasks": 4},
        1: {"executor_cpu_s": 0.5, "tasks": 2},
        2: {"executor_cpu_s": 2.0, "tasks": 8},
        3: {"executor_cpu_s": 9.0, "tasks": 9},
    }
    m = span_metrics(spans, jobs, stages)
    assert m[1]["wall_s"] == 10
    assert m[1]["self_s"] == 10 - 3 - 4
    assert m[2]["self_s"] == 3 - 1
    assert m[4]["self_s"] == 1
    # a's jobs run over [1.5, 3.0]; b's over [6, 8]
    assert m[2]["driver_s"] == pytest.approx(3 - 1.5)
    assert m[3]["driver_s"] == pytest.approx(4 - 2)
    assert m[1]["driver_s"] == pytest.approx(10 - 1.5 - 2)
    assert m[1]["jobs"] == 3 and m[2]["jobs"] == 2 and m[4]["jobs"] == 1
    # stage 0 counts once, toward job 0 (the first that lists it)
    assert m[2]["executor_cpu_s"] == 1.5 and m[4]["executor_cpu_s"] == 0.5
    assert m[1]["executor_cpu_s"] == 3.5 and m[1]["tasks"] == 14


def _build(seed: int, d: Path) -> str:
    origin = inputs.orders_table(seed, 2_000)
    target, _ = inputs.divergent_target(seed, origin, 10)
    inputs.write_parquet(origin, str(d / "origin"), files=2)
    inputs.write_parquet(target, str(d / "target"), files=2)
    inputs.write_parquet(inputs.mutation_file(seed, 3, 50), str(d / "mutations"))
    inputs.write_parquet(inputs.documents_table(seed, 40), str(d / "documents"))
    inputs.write_parquet(inputs.embeddings_table(seed, 20), str(d / "embeddings"))
    return inputs.tree_hash([str(d)])


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _build(7, tmp_path / "a")
    assert _build(7, tmp_path / "b") == a
    assert _build(8, tmp_path / "c") != a


def test_planted_divergence_and_expected_counts():
    origin = inputs.orders_table(5, 5_000)
    target, div = inputs.divergent_target(5, origin, 25)
    o = dict(zip(origin["o_orderkey"].to_pylist(), origin["o_totalprice"].to_pylist()))
    t = dict(zip(target["o_orderkey"].to_pylist(), target["o_totalprice"].to_pylist()))
    assert len(o.keys() - t.keys()) == div.missing == 25
    assert len(t.keys() - o.keys()) == div.extra == 25
    assert sum(o[k] != t[k] for k in o.keys() & t.keys()) == div.mismatched == 25
    kept = inputs.expected_migrated_rows(origin)
    assert 0 < kept < origin.num_rows


def test_mutation_digest_ignores_row_order():
    t = pa.concat_tables([inputs.mutation_file(1, s, 30) for s in range(3)])
    shuffled = t.take(pa.array(list(range(89, -1, -1))))
    assert inputs.mutation_digest(shuffled) == inputs.mutation_digest(t)
    assert inputs.mutation_digest(t.slice(1)) != inputs.mutation_digest(t)


def test_near_dup_clusters_on_a_known_corpus():
    docs = pa.table({"text": [
        "a b c d e f", "a b c d e g", "x y z w", "a b c d e f", "p q r s",
    ]})
    # shingles of doc 0 and 1 share 3 of 5: J = 0.6 >= 0.5
    assert inputs.near_dup_cluster_sizes(docs) == [1, 1, 3]


def _run(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [(w["name"], 0) for w in SPEC["workloads"]] + [("bulk_migrate", 1)],
)
def test_tiny_run_is_correct_and_prints_the_declared_metrics(workload, trace):
    p = _run(
        ["--workload", workload, "--seed", "1", "--seconds", "0",
         "--trace", str(trace), "--scale", "tiny"],
        ROOT,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_without_the_program_it_fails_and_prints_no_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(
        ROOT / "perfbench", tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("work", "out", "__pycache__"),
    )
    p = _run(["--workload", "bulk_migrate", "--seed", "1", "--seconds", "1",
              "--trace", "0"], tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
