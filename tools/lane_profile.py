"""Time named lanes and split each lane's wall clock into layers read from
Spark's event log.

    python tools/lane_profile.py [LANE ...] [--sf-dir DIR] [--n N]
                                 [--trials T] [--cores A,B,...] [--out PATH]

Lanes (default: ``extract`` and the ``bench.HEADLINE`` queries):

* ``extract``: bench.py's flagship lane over its generated pages corpus
  (``--n`` pages, default bench.py's size for the sf); the check output is
  the order-free fold ``bit_xor(xxhash64(md5(canonical)))`` of every doc;
* any ``queries.QUERIES`` name: ``count()`` of the query over ``--sf-dir``;
* ``ann``, ``dedup``, ``curation``: the scale lanes over generated corpora
  of ``--n`` rows (default 1,000,000) with planted structure. ``ann``
  checks IVF, PQ and IVF×PQ recall@10 against planted neighbours; ``dedup``
  checks the MinHash candidate and verified pairs and the recall of the
  planted near-duplicate pairs; ``curation`` checks the funnel's stage and
  tier counts;
* ``extract_nospark``: the ``extract`` lane's documents through the same
  per-document code in one process per core, with no Spark and no JVM. It
  is the control that tells "Spark scales badly" from "the machine stops
  scaling".

Generated corpora are written once to the temp directory and reused.

Method (bench.py's): one warm-up run, ``--trials`` cold runs with every
cached intermediate released first, then one warm run with them still live.
The timed runs run under the job description ``lane:<name>``, with the
event log on. Each lane gives one JSON row:

* ``wall_s``: the timed runs' wall time, summed;
* ``stage_s``: the union of the stage intervals of the jobs described
  ``lane:<name>``;
* ``driver_s``: the runs' wall time outside every Spark job (planning, file
  listing, py4j, the gaps between jobs);
* ``python_worker_s``, ``arrow_bytes_sent``, ``arrow_bytes_returned``,
  ``shuffle_bytes``, ``gc_s`` and ``spill_bytes`` of those jobs' stages;
* ``python_tasks``: the tasks of those stages that ran a Python-worker node,
  so ``python_worker_s / python_tasks`` is the Python time per task.

``wall_s - stage_s - driver_s`` is job time outside any stage, plus the time
of jobs that ran without the lane's description (``untagged_jobs``).

``--cores A,B`` runs the lanes once per level, each in a fresh process
pinned with ``taskset`` to cores ``0..level-1``. It fails if a lane's check
output differs between levels, and reports the scaling efficiency of each
level against the first, (wall_A / wall_B) / (B / A), from the best cold
runs.

Rows print one per line; ``--out`` also writes them, with the environment
(nproc, cores used, physical RAM), as one JSON document.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import multiprocessing as mp
import operator
import os
import platform
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench.tracing import PY_RETURNED, PY_SENT, PY_TIME, EventLog, _union  # noqa: E402

SCALE_N = 1_000_000
SCALE_LANES = ("ann", "dedup", "curation")


# ---------------------------------------------------------------------------
# lanes: each builder takes (ctx, n), does the untimed set-up and yields the
# timed operation, which returns (check output, step seconds)
# ---------------------------------------------------------------------------


@contextmanager
def _step(steps: dict, name: str):
    t0 = time.time()
    yield
    steps[name] = round(time.time() - t0, 3)


def _mix(x):
    """splitmix64 finalizer over a numpy uint64 array."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _words(ids, n_words: int, vocab: int):
    import numpy as np

    keys = ids[:, None] * np.uint64(n_words) + np.arange(n_words, dtype=np.uint64)[None, :]
    return _mix(keys) % np.uint64(vocab)


def _ensure_corpus(spark, name: str, n: int, gen, schema: str) -> str:
    """Generate a corpus once into the temp dir; later runs reuse it."""
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{name}_{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark.range(n, numPartitions=256).mapInPandas(gen, schema).write.mode(
            "overwrite").parquet(path)
    return path


@contextmanager
def lane_extract(ctx, n: int):
    from pyspark.sql import functions as F

    from pdf_parser_benchmark_spark.plans.pipeline import extract_pages

    pages = ctx.spark.read.parquet(
        bench.ensure_pages_corpus(ctx.spark, bench._sf_of(ctx.sf_dir), n))

    def op():
        row = extract_pages(pages, n_splits=64, n_tasks=ctx.cores).agg(
            F.count("*").alias("docs"),
            F.sum(F.col("error").isNotNull().cast("int")).alias("errors"),
            F.bit_xor(F.xxhash64(F.md5("canonical"))).alias("fingerprint"),
        ).collect()[0]
        return row.asDict(), {}

    yield op


def _extract_chunk(rows: list[tuple[str, bytes]]) -> tuple[int, int, int]:
    """(docs, errors, xor of the md5 prefixes of the canonical JSON)."""
    from pdf_parser_benchmark_spark.extract.assemble import extract_document_json

    errors = fold = 0
    for url, payload in rows:
        try:
            canonical = extract_document_json(url, payload)
        except Exception:
            errors += 1
            continue
        fold ^= int.from_bytes(hashlib.md5(canonical.encode()).digest()[:8], "big")
    return len(rows), errors, fold


def _gen_chunk(ids: range) -> list[tuple[str, bytes]]:
    from pdf_parser_benchmark_spark.synth.pages import gen_row

    return [(r["url"], r["html"]) for r in map(gen_row, ids)]


@contextmanager
def lane_extract_nospark(ctx, n: int):
    with mp.get_context("spawn").Pool(ctx.cores) as pool:
        chunks = pool.map(_gen_chunk, [range(i, n, ctx.cores) for i in range(ctx.cores)])

        def op():
            docs, errors, folds = zip(*pool.map(_extract_chunk, chunks))
            return {"docs": sum(docs), "errors": sum(errors),
                    "fingerprint": functools.reduce(operator.xor, folds)}, {}

        yield op


@contextmanager
def lane_ann(ctx, n: int):
    from pdf_parser_benchmark_spark.operators.knn import (
        ivf_topk_kmeans, ivfpq_fit, ivfpq_topk, pq_fit, pq_topk_lut,
    )
    from pdf_parser_benchmark_spark.synth.vectors import ensure_vector_corpus, planted_queries_df

    dim, lists, k, n_queries, per_query = 64, 64, 10, 20, 10
    spark = ctx.spark
    path = ensure_vector_corpus(spark, n, dim=dim, n_clusters=lists, planted_queries=n_queries)
    queries = planted_queries_df(spark, n_queries, dim=dim, n_clusters=lists)

    def recall(df) -> float:
        # query qi's true top-10 are the planted rows n + qi*10 .. n + qi*10 + 9
        hits = sum(n + r["qid"] * per_query <= r["vec_id"] < n + (r["qid"] + 1) * per_query
                   for r in df.select("qid", "vec_id").collect())
        return round(hits / (n_queries * k), 3)

    def op():
        corpus, steps = spark.read.parquet(path), {}
        with _step(steps, "ivf"):
            r_ivf = recall(ivf_topk_kmeans(queries, corpus, k=k, nprobe=4, n_lists=lists,
                                           iterations=4))
        with _step(steps, "pq_train"):
            cb, enc = pq_fit(corpus, m=8, dim=dim, k=16, iterations=3)
            cb, enc = cb.persist(), enc.persist()
            enc.count(), cb.count()
        with _step(steps, "pq_search"):
            r_pq = recall(pq_topk_lut(queries, corpus, k=k, m=8, dim=dim, codes=16, rerank=100,
                                      codebooks=cb, encoded=enc))
        with _step(steps, "ivfpq_train"):
            coarse, icb, ienc = ivfpq_fit(corpus, n_lists=lists, m=8, dim=dim, codes=16,
                                          coarse_iterations=4, pq_iterations=3)
            icb, ienc = icb.persist(), ienc.persist()
            ienc.count(), icb.count()
        with _step(steps, "ivfpq_search"):
            r_ivfpq = recall(ivfpq_topk(queries, corpus, k=k, nprobe=4, m=8, dim=dim, codes=16,
                                        rerank=100, index=(coarse, icb, ienc)))
        return {"ivf_recall_at_10": r_ivf, "pq_recall_at_10": r_pq,
                "ivfpq_recall_at_10": r_ivfpq}, steps

    yield op


DEDUP_WORDS, DEDUP_VOCAB = 80, 1 << 22


def _dedup_docs(batches):
    """80 words a doc from a 2^22 vocabulary; every doc 10j+1 copies doc 10j
    and replaces two hash-chosen words (Jaccard ~0.86 over 3-shingles)."""
    import numpy as np
    import pandas as pd

    words, vocab = DEDUP_WORDS, np.uint64(DEDUP_VOCAB)
    for b in batches:
        ids = b["id"].to_numpy(dtype=np.uint64)
        w = _words(np.where(ids % 10 == 1, ids - 1, ids), words, DEDUP_VOCAB)
        di = np.nonzero(ids % 10 == 1)[0]
        p1 = (_mix(ids[di]) % np.uint64(words)).astype(np.int64)
        p2 = (_mix(ids[di] + np.uint64(1)) % np.uint64(words)).astype(np.int64)
        w[di, p1] = vocab + _mix(ids[di]) % vocab
        w[di, p2] = np.uint64(2) * vocab + _mix(ids[di] + np.uint64(2)) % vocab
        texts = [" ".join(f"w{int(x):07d}" for x in row) for row in w]
        yield pd.DataFrame({"doc_id": ids.astype(np.int64), "text": texts})


@contextmanager
def lane_dedup(ctx, n: int):
    from pyspark.sql import functions as F

    from pdf_parser_benchmark_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_dedup_pairs, minhash_signature,
    )

    docs = ctx.spark.read.parquet(
        _ensure_corpus(ctx.spark, "dedup_v1", n, _dedup_docs, "doc_id long, text string"))
    planted = docs.count() // 10

    def op():
        steps = {}
        with _step(steps, "dedup"):
            pairs = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.7,
                                        hash_fn="xxhash64").persist()
            verified = pairs.count()
        hits = pairs.filter((F.col("id_a") % 10 == 0)
                            & (F.col("id_b") == F.col("id_a") + 1)).count()
        pairs.unpersist()
        with _step(steps, "candidates"):
            candidates = lsh_candidate_pairs(
                minhash_signature(docs, "doc_id", "text", hash_fn="xxhash64")).count()
        return {"lsh_candidate_pairs": candidates, "verified_pairs": verified,
                "planted_pairs": planted, "planted_recall": round(hits / planted, 4),
                "non_planted_pairs": verified - hits}, steps

    yield op


CURATION_WORDS, CURATION_VOCAB = 60, 1 << 16


def _curation_docs(batches):
    """60 words a doc from a 2^16 vocabulary, so every funnel stage has a
    live class: lang by id%5 (en on 2 of 5), 'the' for id%3 != 0 (Gopher's
    stop-word rule), C4's trigger phrases keyed off doc_id inside c4_lines,
    and docs id%1000 == 10 copy the 3-word prefix of doc id-10 (the
    prefix-dedup stage)."""
    import numpy as np
    import pandas as pd

    langs = ["en", "de", "en", "fr", "es"]
    for b in batches:
        ids = b["id"].to_numpy(dtype=np.uint64)
        w = _words(ids, CURATION_WORDS, CURATION_VOCAB)
        di = np.nonzero(ids % 1000 == 10)[0]
        w[di, :3] = _words(ids[di] - np.uint64(10), CURATION_WORDS, CURATION_VOCAB)[:, :3]
        texts = []
        for row_id, row in zip(ids, w):
            toks = [f"w{int(x):05d}" for x in row]
            if row_id % 3 != 0:
                toks[5] = "the"
            texts.append(" ".join(toks))
        yield pd.DataFrame({"doc_id": ids.astype(np.int64), "text": texts,
                            "lang": [langs[int(i) % 5] for i in ids]})


@contextmanager
def lane_curation(ctx, n: int):
    from pyspark.sql import functions as F

    from pdf_parser_benchmark_spark.operators.curation import curation_funnel

    docs = ctx.spark.read.parquet(_ensure_corpus(
        ctx.spark, "curation_v2", n, _curation_docs, "doc_id long, text string, lang string"))

    def op():
        out = curation_funnel(docs).persist()
        stages = {r["stage"]: r["cnt"]
                  for r in out.groupBy("stage").agg(F.count("*").alias("cnt")).collect()}
        tiers = {r["tier"]: r["cnt"]
                 for r in out.filter(F.col("tier").isNotNull())
                 .groupBy("tier").agg(F.count("*").alias("cnt")).collect()}
        out.unpersist()
        return {"stages": dict(sorted(stages.items())), "tiers": dict(sorted(tiers.items()))}, {}

    yield op


def _query_lane(name: str):
    @contextmanager
    def build(ctx, n):
        from pdf_parser_benchmark_spark.queries import QUERIES

        fn = QUERIES[name]
        yield lambda: ({"rows": fn(ctx.spark, ctx.sf_dir).count()}, {})

    return build


GENERATED = {
    "extract": lane_extract,
    "extract_nospark": lane_extract_nospark,
    "ann": lane_ann,
    "dedup": lane_dedup,
    "curation": lane_curation,
}


# ---------------------------------------------------------------------------
# harness
# ---------------------------------------------------------------------------


def profile(ctx, name: str, n: int | None, trials: int) -> dict:
    """Warm-up, ``trials`` cold runs, one warm run; the row without layers."""
    from pdf_parser_benchmark_spark.operators.dedup import release_intermediates

    spark = ctx.spark

    def describe(desc):
        if spark is not None:
            spark.sparkContext.setJobDescription(desc)

    def reset():
        if spark is not None:
            release_intermediates()
            spark.catalog.clearCache()

    def timed(op, cold: bool):
        if cold:
            reset()
        t0 = time.time()
        check, steps = op()
        return t0, time.time(), check, steps

    build = GENERATED.get(name) or _query_lane(name)
    describe(f"setup:{name}")
    with build(ctx, n) as op:
        describe(f"warmup:{name}")
        op()
        describe(f"lane:{name}")
        runs = [timed(op, cold=True) for _ in range(trials)] + [timed(op, cold=False)]
    describe(None)
    reset()
    if any(r[2] != runs[0][2] for r in runs):
        raise SystemExit(f"lane {name}: check output differs between runs: {[r[2] for r in runs]}")
    walls = [round(end - start, 3) for start, end, _, _ in runs]
    best = min(runs[:-1], key=lambda r: r[1] - r[0])
    return {
        "lane": name, "cores": ctx.cores, "n": n,
        "cold_s": walls[:-1], "cold_min_s": min(walls[:-1]), "warm_s": walls[-1],
        "check": best[2], "steps": best[3],
        "_windows": [(start, end) for start, end, _, _ in runs],
    }


def layers(log: EventLog, name: str, windows: list[tuple[float, float]]) -> dict:
    """The layer breakdown of one lane's timed runs from the event log."""
    desc = f"lane:{name}"
    jobs = [j for j in log.jobs.values() if j["desc"] == desc]
    stages = log.stages_of(jobs)
    tasks = [t for st in stages for t in st["tasks"]]
    python_stages = [st for st in stages
                     if any(m == PY_TIME for m, _ in st.get("accums", {}).values())]
    in_jobs, untagged = 0.0, set()
    for start, end in windows:
        during = [(jid, j) for jid, j in log.jobs.items()
                  if j["end"] is not None and j["start"] < end and j["end"] > start]
        in_jobs += _union([(max(j["start"], start), min(j["end"], end)) for _, j in during])
        untagged.update(jid for jid, j in during if j["desc"] != desc)
    wall = sum(end - start for start, end in windows)
    return {
        "wall_s": round(wall, 3),
        "stage_s": round(_union([(st["submit"], st["complete"]) for st in stages]), 3),
        "driver_s": round(wall - in_jobs, 3),
        "jobs": len(jobs),
        "untagged_jobs": len(untagged),
        "python_worker_s": round(sum(log.node_metric(st, PY_TIME) for st in stages) / 1e3, 3),
        "python_tasks": sum(len(st["tasks"]) for st in python_stages),
        "arrow_bytes_sent": int(sum(log.node_metric(st, PY_SENT) for st in stages)),
        "arrow_bytes_returned": int(sum(log.node_metric(st, PY_RETURNED) for st in stages)),
        "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
        "gc_s": round(sum(t["gc"] for t in tasks), 3),
        "spill_bytes": sum(t["spill"] for t in tasks),
    }


def environment(args, cores) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(), "cores": cores,
        "physical_ram_bytes": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
        "sf_dir": args.sf_dir, "trials": args.trials,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
    }


def run_lanes(args) -> dict:
    from pdf_parser_benchmark_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    default_n = bench.PAGES_PER_SF.get(bench._sf_of(args.sf_dir), 2000)
    rows = []
    with tempfile.TemporaryDirectory(prefix="lane_profile_eventlog_") as log_dir:
        spark = None
        if any(name != "extract_nospark" for name in args.lanes):
            spark = get_spark(app_name="lane_profile", cpus=cores, extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        ctx = SimpleNamespace(spark=spark, cores=cores, sf_dir=args.sf_dir)
        try:
            for name in args.lanes:
                n = None
                if name in GENERATED:
                    n = args.n or (SCALE_N if name in SCALE_LANES else default_n)
                rows.append(profile(ctx, name, n, args.trials))
        finally:
            if spark is not None:
                spark.stop()  # flushes the event log
        log = EventLog(log_dir)
    for row in rows:
        row.update(layers(log, row["lane"], row.pop("_windows")))
    return {"env": environment(args, cores), "lanes": rows}


def run_levels(args, levels: list[int]) -> dict:
    """Each level in a fresh process pinned to cores 0..level-1."""
    rows = []
    with tempfile.TemporaryDirectory(prefix="lane_profile_") as tmp:
        for cores in levels:
            out = os.path.join(tmp, f"cores{cores}.json")
            cmd = ["taskset", "-c", f"0-{cores - 1}", sys.executable, os.path.abspath(__file__),
                   *args.lanes, "--sf-dir", args.sf_dir, "--trials", str(args.trials),
                   "--out", out]
            if args.n:
                cmd += ["--n", str(args.n)]
            if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
                raise SystemExit(f"level {cores} cores failed")
            with open(out) as f:
                rows += json.load(f)["lanes"]
    scaling = []
    for name in args.lanes:
        mine = [r for r in rows if r["lane"] == name]
        first = mine[0]
        scaling.append({
            "lane": name, "cores": levels,
            "cold_min_s": [r["cold_min_s"] for r in mine],
            "check_identical": all(r["check"] == first["check"] for r in mine),
            "efficiency": [round(first["cold_min_s"] / r["cold_min_s"]
                                 / (r["cores"] / first["cores"]), 3) for r in mine],
        })
    return {"env": environment(args, levels), "lanes": rows, "scaling": scaling}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("lanes", nargs="*", help="default: extract and the bench.py headline queries")
    ap.add_argument("--sf-dir", default=bench.SF_DIR)
    ap.add_argument("--n", type=int, default=None,
                    help="corpus rows of the generated-corpus lanes")
    ap.add_argument("--trials", type=int, default=3, help="cold runs per lane")
    ap.add_argument("--cores", default=None, type=lambda v: [int(c) for c in v.split(",")],
                    help="comma list of core counts, one pinned process each")
    ap.add_argument("--out", default=None, help="also write the rows here as one JSON document")
    args = ap.parse_args(argv)
    args.lanes = args.lanes or ["extract", *bench.HEADLINE]
    # Spark's Python workers and the pinned levels import the package too,
    # from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from pdf_parser_benchmark_spark.queries import QUERIES

    unknown = [name for name in args.lanes if name not in GENERATED and name not in QUERIES]
    if unknown:
        ap.error(f"unknown lanes: {', '.join(unknown)}")
    if args.trials < 1:
        ap.error("--trials must be at least 1")
    if args.cores:
        nproc = len(os.sched_getaffinity(0))
        bad = [c for c in args.cores if not 1 <= c <= nproc]
        if bad:
            ap.error(f"--cores {bad[0]} is outside 1..{nproc}, the cores this process may use")
        doc = run_levels(args, args.cores)
    else:
        doc = run_lanes(args)
    for row in doc["lanes"] + doc.get("scaling", []):
        print(json.dumps(row))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")
    bad = [s["lane"] for s in doc.get("scaling", []) if not s["check_identical"]]
    if bad:
        raise SystemExit(f"check output differs between core levels: {', '.join(bad)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
