"""Generate pinned expected-output oracles for queries whose semantics are
not ANSI-SQL-expressible (difflib SequenceMatcher, the HLL sketch, iterative
k-means, the extraction pipeline digest).

For each query and each SF the driver may use (sf0.001 smoke, sf0.01 gate),
run the Spark query, capture its rows, and emit ONE DuckDB oracle string of
the form

    WITH pin(k, <cols>) AS (VALUES ...),
         key AS (SELECT <content-derived discriminator> AS k)
    SELECT <cols> FROM pin JOIN key USING (k)

The discriminator is computed from the INPUT table's content (DuckDB-side
only), so the same SQL string returns the right pinned rows at any
supported SF — the testdata tables have equal row counts across SFs but
different content, which is why a count() selector is not enough.

These pins are expected-output fixtures in the same spirit as the golden
extraction fixtures: they change ONLY on an intentional semantic change,
in which case re-run  python tools/gen_pinned.py  and commit the diff.

A pin holds only if its query is a function of its input alone. So a
pinned query must never round, threshold or argmin a value that came out
of a BLAS or LAPACK call (numpy `@`, `np.dot`, `np.linalg.*`): numpy's
OpenBLAS picks its kernel by CPU, and the kernels differ in the last bit.
Use `fixed_order.fixed_order_matmul` for such products;
tests/test_blas_kernel_sweep.py runs the JPEG codec and the OPQ fit under
every OpenBLAS core type the CPU supports and requires identical bytes.
Running this script under two `OPENBLAS_CORETYPE` values must write the
same file.

Output: pdf_parser_benchmark_spark/pinned_oracles.py (generated, committed).
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")

# query name -> input table whose content discriminates the SF
PINNED_QUERIES: dict[str, str] = {
    "fuzzy_title_join": "documents",
    "approx_distinct_users": "events",
    "ann_ivf_kmeans_topk": "embeddings",
    "extract_digest": "documents",
    "pq_topk": "embeddings",
    "pq_topk_lut": "embeddings",
    "jpeg_decode": "documents",
    "pdf_images": "documents",
    "opq_topk": "embeddings",
    "ivfpq_topk": "embeddings",
    "ccitt_decode": "documents",
    "jbig2_decode": "documents",
    "minhash_neardup_xx": "documents",
}

DISCRIMINATORS: dict[str, str] = {
    "documents": "(SELECT md5(string_agg(md5(text), '' ORDER BY doc_id)) FROM documents)",
    "events": "(SELECT md5(count(*)::VARCHAR || ':' || min(event_id)::VARCHAR || ':' || max(event_id)::VARCHAR) FROM events)",
    "embeddings": "(SELECT md5(string_agg(vec_id::VARCHAR || ':' || label::VARCHAR, ',' ORDER BY vec_id)) FROM embeddings)",
}


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('nan' AS DOUBLE)"
        # Explicit DOUBLE cast: a bare literal like 0.475 types as DECIMAL
        # in DuckDB VALUES, which the driver's value hasher serializes
        # differently than Spark's DOUBLE even when values are identical.
        return f"CAST({repr(float(v))} AS DOUBLE)"  # shortest round-trip
    if isinstance(v, int):
        return str(int(v))
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _discriminator_value(table: str, sf_dir: str) -> str:
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    )
    return con.sql(f"SELECT {DISCRIMINATORS[table]}").fetchone()[0]


def main() -> int:
    from pdf_parser_benchmark_spark.session import get_spark
    from pdf_parser_benchmark_spark.queries import QUERIES

    spark = get_spark(cpus=8, extra_conf={"spark.ui.showConsoleProgress": "false"})

    pinned: dict[str, str] = {}
    for name, table in PINNED_QUERIES.items():
        cols: list[str] | None = None
        value_rows: list[str] = []
        for sf_dir in SF_DIRS:
            key = _discriminator_value(table, sf_dir)
            pdf = QUERIES[name](spark, sf_dir).toPandas()
            if cols is None:
                cols = list(pdf.columns)
            assert list(pdf.columns) == cols, (name, sf_dir, cols, list(pdf.columns))
            assert len(pdf) > 0, f"{name} returned zero rows at {sf_dir}"
            for rec in pdf.to_dict("records"):
                vals = ", ".join(_sql_literal(rec[c]) for c in cols)
                value_rows.append(f"('{key}', {vals})")
            print(f"  {name} @ {sf_dir}: {len(pdf)} rows, key={key[:10]}")
        col_list = ", ".join(cols)
        values = ",\n    ".join(value_rows)
        pinned[name] = (
            f"WITH pin(k, {col_list}) AS (VALUES\n    {values}),\n"
            f"key AS (SELECT {DISCRIMINATORS[table]} AS k)\n"
            f"SELECT {col_list} FROM pin JOIN key USING (k)"
        )

    out_path = os.path.join(ROOT, "pdf_parser_benchmark_spark", "pinned_oracles.py")
    with open(out_path, "w") as f:
        f.write(
            '"""GENERATED by tools/gen_pinned.py - DO NOT EDIT BY HAND.\n\n'
            "Pinned expected-output oracles (deterministic Spark results captured\n"
            "at each driver SF, keyed by a content hash of the input table) for\n"
            "queries with no ANSI-SQL twin. Regenerate on intentional semantic\n"
            'change of the underlying query."""\n\n'
            "PINNED: dict[str, str] = {\n"
        )
        for name, sql in pinned.items():
            f.write(f"    {name!r}: {sql!r},\n")
        f.write("}\n")
    print(f"wrote {out_path} ({len(pinned)} oracles)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
