"""The benchmark's record contract, checked on tiny workloads.

    python3 -m pytest perfbench/test_record.py -q

Each case runs the benchmark command at a small input scale and parses
the last line of standard output against BENCHMARK.json; the cases
cover the listed workloads and ``tick_ingest``, which is runnable by
hand but not listed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)

with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    # scale 0.3 keeps every 10-minute window chunk above the 49 rows
    # chunked_moving requires (it refuses smaller ones)
    cmd = [
        *SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.3",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize(
    "workload,trace",
    [(w["name"], 0) for w in SPEC["workloads"]]
    + [("tick_ingest", 0), ("tick_ingest", 1), ("folio_gather", 1)],
)
def test_last_line_is_the_record(workload, trace):
    proc = _run(REPO_ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    record = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(record) == {"correct", "attempted", "failed", "metrics"}
    assert record["correct"] is True, proc.stderr[-3000:]
    assert isinstance(record["attempted"], int) and record["attempted"] >= 1
    assert isinstance(record["failed"], int) and 0 <= record["failed"] < record["attempted"]
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(record["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = record["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    # nothing but the record reaches standard output
    assert len(proc.stdout.strip().splitlines()) == 1
    if trace:
        path = os.path.join(BENCH_DIR, "out", f"trace-{workload}-3.json")
        with open(path) as f:
            assert json.load(f)["spans"]


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO_ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = _run(str(tmp_path), "tick_ingest", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
