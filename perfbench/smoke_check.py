"""Tests of the benchmark itself: every workload traced at smoke size
(which runs every output check), the comparison against the oracle, the
metric parsing, and the refusal to run without the engine sources.

    python3 -m pytest perfbench/smoke_check.py -q

The file name keeps it out of a default ``pytest`` collection from the
repository root, so the repository's own test run does not start these
Spark subprocesses.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import run  # noqa: E402
from spans import parse_metric  # noqa: E402


def _bench(*args: str, cwd: Path = HERE.parent) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_smoke_run(workload):
    proc = _bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1", "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3
    assert set(result["metrics"]) == {name for name, _ in run.PER_LAYER}
    if workload == "pipeline_fanout":
        assert result["metrics"]["sink.bytes"]["value"] > 0
        assert "run_pipeline median = parse.s" in proc.stdout
    else:
        assert result["metrics"]["sink.bytes"]["value"] == 0
    sent = result["metrics"]["python.bytes_sent"]["value"]
    assert (sent > 0) == (workload == "query_mix")


def test_untraced_smoke_run_prints_end_to_end_metrics():
    proc = _bench("--workload", "query_mix", "--seed", "4", "--seconds", "1", "--trace", "0", "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result["metrics"]) == {"setup_s", "pass_s", "step_s_geomean"}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_to_run_without_the_engine():
    # a checkout holding only the benchmark, kept inside this checkout
    bare = run.WORK / "bare-checkout"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = _bench("--workload", "query_mix", "--seed", "1", "--seconds", "1", cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert proc.returncode != 0 and proc.stdout == ""


def test_frames_differ_catches_value_and_type_family_changes():
    spark = pd.DataFrame({"k": ["a", "b"], "n": np.array([1, 2], dtype=np.int64)})
    assert run.frames_differ(spark, spark.iloc[::-1].reset_index(drop=True)) is None
    assert "values" in run.frames_differ(spark, spark.assign(n=[1, 3]))
    # DuckDB's HUGEINT sum arrives as float64: 2.0 is not the long 2
    assert "values" in run.frames_differ(spark, spark.assign(n=[1.0, 2.0]))
    assert "rowcount" in run.frames_differ(spark, spark.iloc[:1])
    assert "schema" in run.frames_differ(spark, spark.rename(columns={"n": "m"}))


def test_parse_metric_units():
    assert parse_metric("2,500") == 2500
    assert parse_metric("808.4 KiB") == pytest.approx(808.4 * 1024)
    assert parse_metric("1.2 s") == pytest.approx(1200)
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.0 s (24 ms, 218 ms, 232 ms (stage 11.0: task 28))") == pytest.approx(1000)


def test_tail_has_ten_samples_beyond():
    assert run.tail(list(range(10))) is None
    p, value = run.tail([float(v) for v in range(40)])
    assert p == 75 and sum(v > value for v in range(40)) >= 10


def test_near_duplicates_copy_only_originals():
    from tables import gen_documents

    texts = gen_documents(np.random.default_rng(5), 2000).column("text").to_pylist()
    originals = {t for t in texts if not t.endswith(" dup")}
    copies = [t for t in texts if t.endswith(" dup")]
    assert copies and all(t.removesuffix(" dup") in originals for t in copies)
