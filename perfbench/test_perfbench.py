"""Tests of the benchmark itself; the repository's suite under tests/ does
not collect them. Run from the repository root (a few minutes: the
count test starts four Spark applications):

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

#: Work counts that must repeat exactly for a fixed seed.
COUNTS = {
    "taxi_refresh": (
        "sources.ingest.rows",
        "pipeline.spark_jobs",
        "pipeline.spark_tasks",
        "pipeline.files_written",
        "quality.spark_jobs",
        "quality.checks_failed",
    ),
    "adhoc_sql": ("spark.jobs_per_query", "spark.tasks_per_query"),
}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(COUNTS))
def test_counts_repeat_for_a_seed(workload):
    args = ("--workload", workload, "--seed", "5", "--seconds", "1")
    assert _run(ROOT, *args, "--trace", "0").returncode == 0
    runs = []
    for _ in range(2):
        out = _run(ROOT, *args, "--trace", "1")
        assert out.returncode == 0, out.stdout[-2000:]
        runs.append(json.loads(out.stdout.splitlines()[-1]))
    for name in COUNTS[workload]:
        first, second = (r["metrics"][name]["value"] for r in runs)
        assert first == second, name
    if workload == "taxi_refresh":
        # Staging and marts files carry the wall clock (loaded_at,
        # created_at from current_timestamp()), and its compressed encoding
        # moves a file's size by a byte or so from run to run.
        first, second = (r["metrics"]["pipeline.bytes_written"]["value"] for r in runs)
        files = runs[0]["metrics"]["pipeline.files_written"]["value"]
        assert abs(first - second) <= 16 * files
    assert runs[0]["metrics"]["failed_op_ratio"]["value"] == 0
    # both traced runs are compared with the untraced run of the same seed
    assert all(r["metrics"]["trace.overhead_ratio"]["value"] > 0 for r in runs)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "--workload", "taxi_refresh", "--seed", "1", "--seconds", "1")
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def test_generators_repeat_for_a_seed():
    def taxi(seed):
        rng = np.random.default_rng(seed)
        return [gen.taxi_month(rng, k, 2023, 2, 200) for k in gen.TAXI_KINDS]

    for a, b in zip(taxi(3), taxi(3)):
        pd.testing.assert_frame_equal(a, b)
    assert not taxi(3)[0].equals(taxi(4)[0])
    one, two = (gen.corpus(np.random.default_rng(3), 200) for _ in range(2))
    pd.testing.assert_frame_equal(one["docs"], two["docs"])
    assert one["survivors"] == two["survivors"]


def test_taxi_months_cover_every_row_class():
    pdf = gen.taxi_month(np.random.default_rng(0), "green", 2023, 2, 400)
    pickup, dropoff = pdf["lpep_pickup_datetime"], pdf["lpep_dropoff_datetime"]
    inside = pickup.dropna()
    assert ((inside >= "2023-02-01") & (inside < "2023-03-01")).all()
    assert pickup.isna().any() and dropoff.isna().any()  # staging rejects
    assert (pickup >= dropoff).any()
    assert (pdf["trip_distance"] < 0).any() and (pdf["total_amount"] < 0).any()
    assert (pdf["total_amount"] > 500).any() and pdf["DOLocationID"].isna().any()
    assert ((pdf["fare_amount"] <= 0).mean()) < 0.05
    key = ["lpep_pickup_datetime", "PULocationID", "DOLocationID"]
    assert pdf.dropna(subset=key).duplicated(subset=key).any()  # key collision


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1.0, None, -0.0], "s": ["a", None, "c"]})
    b = a.iloc[::-1][["s", "x"]].reset_index(drop=True)
    assert checks.frame_digest(a) == checks.frame_digest(b)
    c = a.copy()
    c.loc[0, "x"] = 1.0000000000000002
    assert checks.frame_digest(a) != checks.frame_digest(c)
