"""Self-test of the benchmark: its checks catch planted wrong outputs,
and at toy sizes every workload runs and prints every metric with its
unit. Run from the repository root: ``python3 -m pytest perfbench -q``
(the toy runs start Spark; a few minutes in all)."""

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402
from win64_local_ocr_tool_spark.golden import golden_row  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _extracted_dir(tmp_path, n: int, corrupt: bool) -> str:
    """An extraction output in run_extraction's layout, built with the
    golden extractor; ``corrupt`` changes one row's text."""
    rows = [golden_row(i, seed=5) for i in range(n)]
    if corrupt:
        rows[3]["extracted_text"] += "x"
    out = tmp_path / ("bad" if corrupt else "good") / "partition_key=0"
    out.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows), out / "part-0.parquet")
    return str(out.parent)


def test_extraction_check_catches_a_changed_row(tmp_path):
    pages = str(tmp_path / "pages.parquet")
    n, golden = inputs._crawl_part(pages, 0, 30, seed=5)
    assert checks.extracted_checksum(_extracted_dir(tmp_path, n, False)) == (n, golden)
    assert checks.extracted_checksum(_extracted_dir(tmp_path, n, True)) != (n, golden)


def test_planted_structure_check_catches_wrong_curation():
    n = 2000
    docs, evals, plan = inputs.make_documents(n, seed=5, tag="t")
    assert len(plan["clusters"]) == n // 20 and len(plan["contaminated"]) == 2
    assert len(evals) == 2 and len(docs) == n
    dropped = {d for c in plan["clusters"] for d in c[1:]} | set(plan["contaminated"])
    kept = {r["doc_id"]: r["text"] for r in docs if r["doc_id"] not in dropped}
    assert len(kept) == n - 3 * n // 20 - 2
    assert checks.planted_violations(kept, n, plan) == []
    # a few documents lost to approximate dedup are tolerated
    cluster = plan["clusters"][0]
    few_lost = {d: t for d, t in kept.items() if d not in (cluster[0], 5)}
    assert checks.planted_violations(few_lost, n, plan) == []
    wrong = {
        "kept duplicate": {**kept, cluster[1]: ""},
        "kept quote": {**kept, plan["contaminated"][0]: ""},
        "unknown doc kept": {**kept, n: ""},
        "over-pruned": {d: t for d, t in kept.items() if d >= 100},
        "empty corpus": {},
    }
    for what, corpus in wrong.items():
        assert checks.planted_violations(corpus, n, plan), what


def test_inputs_are_a_function_of_the_seed():
    a = inputs.make_documents(200, seed=9, tag="t")
    assert a == inputs.make_documents(200, seed=9, tag="t")
    assert a != inputs.make_documents(200, seed=10, tag="t")


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [*SPEC["command"], "--workload", "crawl_extract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_toy_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace:
        assert result["metrics"]["kernels.coverage"]["value"] >= 0.9
