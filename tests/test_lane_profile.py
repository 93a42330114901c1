"""tools/lane_profile.py end to end: the tool runs as a subprocess on tiny
inputs, from a working directory outside the checkout."""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "lane_profile.py")

LAYER_FIELDS = (
    "wall_s", "stage_s", "driver_s", "jobs", "untagged_jobs", "python_worker_s", "python_tasks",
    "arrow_bytes_sent", "arrow_bytes_returned", "shuffle_bytes", "gc_s", "spill_bytes",
)


def _run(tmp_path, *args):
    out = tmp_path / "lanes.json"
    proc = subprocess.run([sys.executable, TOOL, *args, "--out", str(out)], cwd=tmp_path,
                          capture_output=True, text=True, timeout=900)
    return proc, out


def test_query_lane_row_has_every_layer(tmp_path, sf_dir):
    proc, out = _run(tmp_path, "tpch_q1_pricing", "--sf-dir", sf_dir, "--trials", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    doc = json.loads(out.read_text())
    assert {"nproc", "cores", "physical_ram_bytes"} <= set(doc["env"])
    (row,) = doc["lanes"]
    assert row["lane"] == "tpch_q1_pricing"
    assert set(LAYER_FIELDS) <= set(row)
    assert row["stage_s"] > 0 and row["driver_s"] >= 0
    assert row["stage_s"] + row["driver_s"] <= row["wall_s"] + 2e-3  # each rounded to 1 ms
    assert row["jobs"] > 0 and row["untagged_jobs"] == 0
    assert len(row["cold_s"]) == 1 and row["check"]["rows"] > 0
    assert json.loads(proc.stdout.splitlines()[-1]) == row


def test_cores_levels_give_equal_fingerprints(tmp_path):
    proc, out = _run(tmp_path, "extract", "--cores", "1,2", "--n", "200", "--trials", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    doc = json.loads(out.read_text())
    fps = {r["cores"]: (r["check"]["docs"], r["check"]["fingerprint"]) for r in doc["lanes"]}
    assert set(fps) == {1, 2}
    assert fps[1] == fps[2] and fps[1][0] == 200
    assert all(r["python_tasks"] > 0 for r in doc["lanes"])
    (scaling,) = doc["scaling"]
    assert scaling["check_identical"] and scaling["cores"] == [1, 2]
    assert scaling["efficiency"][0] == 1.0 and scaling["efficiency"][1] > 0


def test_cores_above_nproc_fails_before_spark_starts(tmp_path):
    nproc = len(os.sched_getaffinity(0))
    proc, out = _run(tmp_path, "extract", "--cores", f"1,{nproc + 1}", "--n", "200")
    assert proc.returncode != 0
    assert f"--cores {nproc + 1} is outside 1..{nproc}" in proc.stderr
    assert "log level" not in proc.stderr  # Spark never printed its start-up line
    assert not out.exists()
