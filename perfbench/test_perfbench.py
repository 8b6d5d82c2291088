"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The generator and helper tests take seconds; the smoke and failure runs
start one Spark session each at sf0.001 (about 40 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]

import datagen  # noqa: E402
from run import tail  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _latest_state(frame: pd.DataFrame) -> pd.DataFrame:
    latest = frame.sort_values(["user_id", "ts", "event_id"]).groupby("user_id").tail(1)
    return latest.sort_values("user_id").reset_index(drop=True)


@pytest.fixture(scope="module")
def events():
    return datagen.make_tables(0.001)["events"]


def test_chunks_are_seeded(events, tmp_path):
    a = datagen.write_event_chunks(events, str(tmp_path / "a"), seed=5)
    b = datagen.write_event_chunks(events, str(tmp_path / "b"), seed=5)
    c = datagen.write_event_chunks(events, str(tmp_path / "c"), seed=6)
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    for pa_, pb in zip(a, b):
        with open(pa_, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()
    assert [os.path.getmtime(p) for p in a] == sorted(os.path.getmtime(p) for p in a)
    plan5 = datagen.chunk_plan(events.num_rows, 5)
    plan6 = datagen.chunk_plan(events.num_rows, 6)
    assert (plan5 != plan6).any()
    assert [pq.read_table(p).num_rows for p in a] != [pq.read_table(p).num_rows for p in c]


def test_chunks_hold_late_rows_and_keep_the_final_state(events, tmp_path):
    paths = datagen.write_event_chunks(events, str(tmp_path / "a"), seed=5)
    other = datagen.write_event_chunks(events, str(tmp_path / "b"), seed=6)
    arrived = pd.concat([pq.read_table(p).to_pandas() for p in paths], ignore_index=True)
    assert len(arrived) == events.num_rows
    assert arrived["event_id"].is_unique
    # some rows arrive after a newer event: late, out of order
    assert (arrived["ts"].diff().dt.total_seconds() < 0).sum() > 0
    want = _latest_state(events.to_pandas())
    got = _latest_state(arrived)
    got_other = _latest_state(
        pd.concat([pq.read_table(p).to_pandas() for p in other], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want)
    pd.testing.assert_frame_equal(got_other, want)


def test_tables_are_deterministic():
    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    assert all(a[name].equals(b[name]) for name in a)
    rows = datagen.table_rows(0.1)
    assert (rows["lineitem"], rows["events"], rows["users"]) == (600_000, 100_000, 1_500)


def test_declared_workloads_exist():
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)


def test_tail_keeps_ten_samples_beyond():
    pct, value = tail([float(i) for i in range(1, 101)], 100)
    assert (pct, value) == (90.0, 90.0)
    assert sum(v > value for v in range(1, 101)) == 10
    # the fewest samples a run takes fix the percentile; more samples
    # sharpen the value at that percentile
    pct, value = tail([float(i) for i in range(1, 34)], 33)
    assert sum(v > value for v in range(1, 34)) == 10
    assert tail([float(i) for i in range(1, 67)], 33) == (pct, 46.0)
    assert tail([3.0, 1.0, 2.0], 3) == (100.0, 3.0)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap-sf0.01",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_prints_every_declared_metric(workload, trace, tmp_path):
    """Every workload, declared in BENCHMARK.json or not, from a working
    directory outside the checkout (Python workers must still import the
    engine)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout[-3000:]
    assert result["attempted"] >= 1
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in declared)
    detail = json.loads(p.stdout.strip().splitlines()[-2])["detail"]
    for key in ("cores", "driver_memory", "spark_version", "sf"):
        assert detail[key]


@pytest.mark.parametrize(
    "workload, broken, trace",
    [("cdc-stream-sf0.1", "drain", 0), ("olap-sf0.01", "run_query", 1)],
)
def test_failed_operations_are_counted(workload, broken, trace, tmp_path):
    """When every timed operation raises, the run still prints its result
    line: the failures counted, ``correct`` false, and only the metrics
    that have samples."""
    script = tmp_path / "broken_run.py"
    script.write_text(
        "import sys\n"
        f"sys.path[:0] = [{ROOT!r}, {HERE!r}]\n"
        "import run, workloads\n"
        "def fail(*args, **kwargs):\n"
        "    raise RuntimeError('injected failure')\n"
        f"workloads.{broken} = fail\n"
        "sys.exit(run.main(sys.argv[1:]))\n"
    )
    p = subprocess.run(
        [sys.executable, str(script), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert 1 <= result["failed"] <= result["attempted"]
    want = {"host.probe_s"} if trace else {"setup_s", "peak_rss_mb"}
    assert set(result["metrics"]) == want
    detail = json.loads(p.stdout.strip().splitlines()[-2])["detail"]
    assert "injected failure" in detail["errors"][0]
