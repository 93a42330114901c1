"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle on DuckDB, compare row count, column names,
and order-insensitive values.

Usage: python tools/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(rows, cols):
    import numpy as np

    def norm(v):
        if isinstance(v, np.ndarray):
            v = v.tolist()
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if isinstance(v, np.generic):
            v = v.item()
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        return v  # EXACT values — floats must match bitwise

    out = []
    for r in rows:
        out.append(tuple((c, norm(r[c])) for c in sorted(cols)))
    return sorted(out, key=repr)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pdf_parser_benchmark_spark.session import get_spark
    from pdf_parser_benchmark_spark.queries import QUERIES, ORACLES

    spark = get_spark(
        cpus=8, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"[SPARK-ERR] {name}: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        if name not in ORACLES:
            print(f"[rows-only] {name}: {len(spdf)} rows, cols={sorted(spdf.columns)}")
            if len(spdf) == 0:
                print(f"  WARNING: zero rows")
            continue
        try:
            rel = con.sql(ORACLES[name])
            # Type-lint (VERDICT r2 item 2): DuckDB HUGEINT / uncast DECIMAL
            # columns serialize differently than Spark BIGINT/DOUBLE in the
            # driver's value hasher even when every value is identical —
            # the local Python-value compare below structurally cannot see
            # that class of failure, so reject the oracle typing itself.
            bad_types = [
                (c, t)
                for c, t in zip(rel.columns, map(str, rel.types))
                if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL")
            ]
            if bad_types:
                print(
                    f"[TYPE-LINT] {name}: oracle emits non-Spark-representable "
                    f"column types {bad_types} — add an explicit CAST in the SQL"
                )
                failures.append(name)
                continue
            odf = rel.df()
        except Exception as e:
            print(f"[ORACLE-ERR] {name}: {str(e)[:300]}")
            failures.append(name)
            continue
        scols, ocols = sorted(spdf.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"[COLS] {name}: spark={scols} oracle={ocols}")
            failures.append(name)
            continue
        if len(spdf) != len(odf):
            print(f"[COUNT] {name}: spark={len(spdf)} oracle={len(odf)}")
            failures.append(name)
            continue
        sn = normalize(spdf.to_dict("records"), scols)
        on = normalize(odf.to_dict("records"), ocols)
        if sn != on:
            ndiff = sum(1 for a, b in zip(sn, on) if a != b)
            print(f"[VALUES] {name}: {ndiff}/{len(sn)} rows differ")
            for a, b in zip(sn, on):
                if a != b:
                    print(f"  spark : {a}")
                    print(f"  oracle: {b}")
                    break
            failures.append(name)
        else:
            print(f"[OK] {name}: {len(spdf)} rows")
    print()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("ALL PARITY CHECKS PASSED")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
