"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Negative controls: each output check must reject a corrupted output. The
smoke runs start Spark on tiny inputs (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import catalog, oracles  # noqa: E402
from perfbench.inputs import POISON_URLS, ensure_inputs  # noqa: E402
from perfbench.workloads import SMOKE_WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def tiny_inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("data")
    return {name: ensure_inputs(root, name, w.spec, seed=3)
            for name, w in SMOKE_WORKLOADS.items()}


def test_benchmark_json_lists_every_metric():
    on_disk = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert on_disk == catalog.benchmark_json()


def test_items_check_rejects_one_dropped_item(tiny_inputs):
    oracle = pq.read_table(tiny_inputs["convert"] / "oracle_items.parquet")
    assert oracle.num_rows > 100
    assert oracles.check_items(oracle, oracle) == []
    dropped = oracle.slice(1)
    assert oracles.check_items(dropped, oracle)


def test_items_check_rejects_one_changed_field(tiny_inputs):
    oracle = pq.read_table(tiny_inputs["convert"] / "oracle_items.parquet")
    rec_seq = oracle.column("rec_seq").to_pylist()
    rec_seq[0] += 1
    changed = oracle.set_column(oracle.schema.get_field_index("rec_seq"), "rec_seq",
                                pa.array(rec_seq, oracle.schema.field("rec_seq").type))
    assert oracles.check_items(changed, oracle)


def test_fails_check_counts_only_unexpected_fails():
    planted = pa.table({"url": list(POISON_URLS)})
    assert oracles.check_fails(planted, POISON_URLS) == []
    assert oracles.check_fails(planted.slice(1), POISON_URLS)
    extra = pa.table({"url": list(POISON_URLS) + ["https://site1.example/a"]})
    assert oracles.check_fails(extra, POISON_URLS)


def test_schedule_check_rejects_reordered_and_dropped_rows(tiny_inputs):
    want = oracles.schedule_waves(
        pq.read_table(tiny_inputs["crawl"] / "oracle_schedule.parquet"))
    assert len(want) == 2 and all(len(rows) > 2 for rows in want.values())
    assert oracles.check_schedule(want, want) == []
    reordered = {w: list(rows) for w, rows in want.items()}
    reordered[1][0], reordered[1][1] = reordered[1][1], reordered[1][0]
    problems = oracles.check_schedule(reordered, want)
    assert problems and "order differs" in problems[0]
    dropped = {w: rows[:-1] if w == 0 else rows for w, rows in want.items()}
    assert oracles.check_schedule(dropped, want)


def test_no_program_exits_nonzero_without_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "convert", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


def test_worker_import_failure_fails_fast(tmp_path):
    """Workers started without the checkout on their path cannot import the
    program; the warm-up must raise at once instead of hanging."""
    script = (
        "import sys, time; sys.path.insert(0, sys.argv[1])\n"
        "from perfbench import run\n"
        "from warc2zim_spark.session import get_spark\n"
        "spark = get_spark('perfbench-test', master='local[2]')\n"
        "t = time.perf_counter()\n"
        "try:\n"
        "    run.warm_up(spark)\n"
        "except run.SetupError:\n"
        "    print('setup-error', time.perf_counter() - t)\n"
        "run.stop_session(spark)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, TMPDIR=str(tmp_path),
               SPARK_LOCAL_DIRS=str(tmp_path),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_path}")
    p = subprocess.run([sys.executable, "-c", script, str(ROOT)], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=170)
    assert p.stdout.startswith("setup-error"), p.stderr[-2000:]
    assert float(p.stdout.split()[1]) < 60


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SMOKE_WORKLOADS))
def test_smoke_run_prints_every_metric(workload, trace):
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    context = json.loads(lines[-2])["context"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = catalog.per_layer() if trace else catalog.END_TO_END
    assert {n: u for n, u, *_ in names} == {
        n: m["unit"] for n, m in result["metrics"].items()}
    assert {"nproc", "loadavg_before", "loadavg_after", "calibration_s",
            "spark_error_lines"} <= set(context)
    if trace:
        assert context["replay_guard"] == []
        assert result["metrics"]["trace.valid"]["value"] == 1.0
        layers = SMOKE_WORKLOADS[workload].layers
        assert all(result["metrics"][f"{layer}.self_s"]["value"] > 0 for layer in layers)
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert time.perf_counter() - t < 180
