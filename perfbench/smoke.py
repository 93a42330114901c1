"""Smoke test of the benchmark at a tiny input size.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json untraced and traced, and asserts that
each run is correct, emits exactly the metrics BENCHMARK.json names for
that mode, each with its unit, and leaves no process running. Then checks
that the benchmark fails, and prints no result, in a directory holding only
BENCHMARK.json and the benchmark's own files. Takes about five minutes on
4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> tuple[int, list[str]]:
    """Run the benchmark; assert that it left no process behind."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )
    left = [pid for pid in tracing.proc_tree(os.getpid()) if pid != os.getpid()]
    assert not left, ("processes left running", args, left)
    return p.returncode, p.stdout.strip().splitlines()


def main() -> None:
    tracing.become_subreaper()  # anything the benchmark leaves is re-parented here
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            args = ("--workload", w["name"], "--seed", "1", "--seconds", "1",
                    "--trace", str(trace), "--scale", "0.1")
            code, lines = run(ROOT, *args)
            assert code == 0 and lines, (w["name"], trace, code, lines[-5:])
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, (w["name"], trace, set(got) ^ set(want))
            for name, v in result["metrics"].items():
                assert isinstance(v["value"], (int, float)), name
                assert f"metric {name} " in "\n".join(lines), name
            if trace == 0:
                assert all(v["value"] > 0 for v in result["metrics"].values()), result
            print(f"ok {w['name']} trace={trace}")

    bare = os.path.join(HERE, ".cache", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines = run(bare, "--workload", bench["workloads"][0]["name"], "--seed", "1",
                      "--seconds", "1", "--trace", "0")
    shutil.rmtree(bare)
    assert code != 0 and not any(line.startswith("{") for line in lines), (code, lines)
    print("ok fails without the program")


if __name__ == "__main__":
    main()
