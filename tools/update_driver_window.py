"""Regenerate pdf_parser_benchmark_spark/driver_window.py's LAST_GREEN table
from the CORRECTNESS_r*.json files the driver writes each round.

Usage: python tools/update_driver_window.py

A query counts as driver-green in round N if its value hash matched, or —
for rows-only-by-design queries (err == 'no_oracle') — if the driver saw a
non-empty Spark row count.  Queries with no green row in any round get 0,
which sorts them to the front of the next window (see
driver_window.window_order and tools/DRIVER_WINDOW.md).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def compute_last_green() -> dict[str, int]:
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        data = json.load(open(path))
        for name, row in data.items():
            green = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle" and row.get("spark_rows")
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
            else:
                last.setdefault(name, 0)
    return last


def main() -> int:
    from pdf_parser_benchmark_spark import driver_window as dw

    last = compute_last_green()
    # Preserve entries for queries the driver has never seen at all (added
    # this round): they simply stay absent -> window_order defaults them to 0.
    lines = []
    for name in sorted(last, key=lambda n: (-last[n], n)):
        lines.append(f'    "{name}": {last[name]},')
    src = open(dw.__file__).read()
    new_table = "LAST_GREEN = {\n" + "\n".join(lines) + "\n}\n"
    out = re.sub(r"LAST_GREEN = \{.*?\n\}\n", new_table, src, flags=re.S)
    open(dw.__file__, "w").write(out)
    n_stale = sum(1 for v in last.values() if v == 0)
    print(f"LAST_GREEN: {len(last)} queries, {n_stale} never-green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
