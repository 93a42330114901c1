"""Benchmark of the extraction job and the retrieval path.

    python3 perfbench/run.py --workload crawl_warc --seed 1 --seconds 10 --trace 0

One process runs one workload: it builds the seeded inputs, starts Spark on
``local[nproc]``, times the set-up several times, warms up, then runs the
timed operation in a closed loop (one at a time) for ``--seconds``,
checking every output. With ``--trace 1`` Spark runs with its event log on;
after the warm-up come one untraced reference operation and one traced
operation for the per-layer metrics (on ``crawl_warc`` also a crash after
3 of 4 commit batches and its resume).

Every metric is printed as ``metric <name> <value> <unit>``, the
environment as one ``env`` line, and the last line of standard output is
the JSON result. The exit code is 0 only if every output was correct.
See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

# (name, unit) — the order BENCHMARK.json lists them in
END_TO_END = (
    ("wall_s", "s"),
    ("items_per_s", "1/s"),
    ("mb_per_s", "MB/s"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
)

PER_LAYER = (
    ("sources.warc.parse_s", "s"),
    ("sources.warc.read_amp", "ratio"),
    ("extract.html_extractor.ms_per_doc", "ms"),
    ("extract.pdf_parser.ms_per_doc.pdf-plain", "ms"),
    ("extract.pdf_parser.ms_per_doc.pdf-objstm", "ms"),
    ("extract.pdf_parser.ms_per_doc.pdf-rc4", "ms"),
    ("extract.pdf_parser.ms_per_doc.pdf-aes", "ms"),
    ("extract.pdf_parser.ms_per_doc.pdf-r6", "ms"),
    ("extract.assemble.ms_per_doc.html", "ms"),
    ("extract.assemble.ms_per_doc.pdf", "ms"),
    ("canonical.ms_per_doc", "ms"),
    ("canonical.bytes_per_doc", "bytes"),
    ("plans.pipeline.python_worker_s", "s"),
    ("plans.pipeline.arrow_bytes_sent", "bytes"),
    ("plans.pipeline.arrow_bytes_returned", "bytes"),
    ("plans.pipeline.task_skew", "ratio"),
    ("plans.pipeline.cpu_util", "ratio"),
    ("plans.pipeline.driver_s", "s"),
    ("plans.pipeline.stages", "count"),
    ("sources.sink.write_s", "s"),
    ("sources.sink.files_written", "count"),
    ("sources.sink.bytes_written", "bytes"),
    ("sources.sink.shuffle_bytes", "bytes"),
    ("sources.checkpoint.filter_s", "s"),
    ("sources.checkpoint.mark_s", "s"),
    ("sources.checkpoint.manifest_files", "count"),
    ("sources.checkpoint.redo_frac", "ratio"),
    ("sources.lineage.s", "s"),
    ("operators.knn.brute_s", "s"),
    ("operators.knn.ivf_s", "s"),
    ("operators.knn.scorer_rows_out", "count"),
    ("operators.knn.shuffle_bytes", "bytes"),
    ("operators.knn.ivf_recall_at_10", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.unexplained_s", "s"),
) + tuple((f"self_s.{layer}", "s") for layer in tracing.SELF_LAYERS)


def physical_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def driver_memory(ram: int) -> str:
    """2 GiB, or a quarter of physical RAM if that is less (at least 1 GiB)."""
    return f"{max(1, min(2, ram // 4 // 2**30))}g"


def start_spark(run_dir: str, cores: int, event_log: str | None = None):
    from pdf_parser_benchmark_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a heap committed and touched at start-up keeps the JVM's share of
        # peak RSS from depending on when GC grew the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            f" -Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM that pyspark launched and wait for it; ``spark.stop()``
    alone leaves it running until this process exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.close()
    except Exception:
        pass
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def dir_files(path: str, since: float = 0.0) -> tuple[int, int]:
    """(files, bytes) of data files under ``path`` modified at or after ``since``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            if os.path.getmtime(p) >= since:
                n += 1
                size += os.path.getsize(p)
    return n, size


class Run:
    """Counts operations and the outcome of their checks."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.fp_mismatch = self.errors = self.docs = 0
        self.resume_mismatch = 0  # rows where resumed and uninterrupted output differ
        self.recall_exact: list[float] = []
        self.recall_ivf: list[float] = []

    def record(self, check) -> None:
        self.attempted += 1
        self.failed += not check.ok
        self.fp_mismatch += check.fp_mismatch
        self.errors += check.errors
        self.docs += check.docs
        self.recall_exact.append(check.recall_exact)
        self.recall_ivf.append(check.recall_ivf)


def timed_loop(wl, spark, sampler, seconds: float, run: Run) -> tuple[list[float], list[int]]:
    """Closed loop: reset (untimed), op (timed), check (untimed), until
    ``seconds`` have passed; at least one operation."""
    walls, peaks = [], []
    deadline = time.monotonic() + seconds
    while True:
        wl.reset()
        sampler.reset()
        t0 = time.perf_counter()
        result = wl.op(spark)
        walls.append(time.perf_counter() - t0)
        peaks.append(sampler.peak())
        run.record(wl.check(spark, result))
        if time.monotonic() >= deadline:
            return walls, peaks


def resume_pass(wl, spark) -> tuple[dict, int]:
    """Crash a fresh run after 3 of its 4 commit batches, then resume it
    under the timing wrappers. Returns the reader-side checkpoint metrics
    and the number of rows in which the resumed output differs from the
    uninterrupted output in ``out``."""
    wl.op(spark, "resume-out", "resume-manifest", fail_after_batches=3)
    crashed_docs = spark.read.parquet(wl.path("resume-out")).count()
    tracer = tracing.Tracer()
    saved = tracing.install_wrappers(tracer, spark)
    try:
        summary = wl.op(spark, "resume-out", "resume-manifest")
    finally:
        tracing.remove_wrappers(saved)
    spark.sparkContext.setJobDescription(None)
    # the anti-join against the manifest runs in the split-listing job
    filter_s = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] in (
        "sources.checkpoint.filter", "plans.pipeline.split_listing"))
    metrics = {
        "sources.checkpoint.filter_s": filter_s,
        # docs extracted ÷ docs in the splits the crash left uncommitted
        "sources.checkpoint.redo_frac": summary["docs"] / (len(wl.corpus.rows) - crashed_docs),
    }
    return metrics, wl.output_diff(spark, "out", "resume-out")


def traced_run(wl, spark, log_dir: str, cores: int, untraced_wall: float, run: Run, seed: int) -> dict:
    """Run one operation under spans and timing wrappers on a Spark context
    whose event log is on, then fold spans, event log and the
    single-process pass into layer metrics. Stops ``spark``."""
    tracer = tracing.Tracer()
    saved = tracing.install_wrappers(tracer, spark)
    op_start = time.time()
    cpu_start = tracing.tree_cpu_seconds()
    try:
        wl.reset()
        root = tracer.enter("bench.op")
        if wl.name == "retrieval_topk":
            result = wl.op(spark, on_step=lambda name, fn: tracing.traced_call(tracer, spark, name, fn))
        else:
            result = tracing.traced_call(tracer, spark, "plans.pipeline", lambda: wl.op(spark))
        tracer.leave(root)
    finally:
        tracing.remove_wrappers(saved)
    cpu = tracing.tree_cpu_seconds() - cpu_start
    check = wl.check(spark, result)
    run.record(check)
    span = tracer.spans[root]
    # CPU of driver, JVM and Python workers over the op ÷ (wall × cores)
    metrics = {"plans.pipeline.cpu_util": cpu / ((span["end"] - span["start"]) * cores)}
    resumed = {}
    if wl.name == "crawl_warc":
        files, size = dir_files(wl.path("out"), since=op_start - 1)
        metrics["sources.sink.files_written"] = float(files)
        metrics["sources.sink.bytes_written"] = float(size)
        metrics["sources.checkpoint.manifest_files"] = float(dir_files(wl.path("manifest"))[0])
        from pdf_parser_benchmark_spark.sources.warc import read_warc_pages

        parse = tracer.open("sources.warc.parse")
        spark.sparkContext.setJobDescription("sources.warc.parse")
        read_warc_pages(spark, wl.warc_dir).write.format("noop").mode("overwrite").save()
        tracer.close(parse)
        spark.sparkContext.setJobDescription(None)
        s = tracer.spans[parse]
        metrics["sources.warc.parse_s"] = s["end"] - s["start"]
        resumed, run.resume_mismatch = resume_pass(wl, spark)
    spark.stop()  # flushes the event log

    log = tracing.EventLog(log_dir)
    folded = tracing.fold_layers(tracer, [root], log, cores)
    input_bytes = folded.pop("_input_bytes")
    metrics.update(folded)
    metrics.update(resumed)
    if wl.name == "crawl_warc":
        metrics["sources.warc.read_amp"] = input_bytes / wl.warc_bytes
    if wl.name == "retrieval_topk":
        metrics["operators.knn.ivf_recall_at_10"] = check.recall_ivf
    self_by_layer, unexplained, wall = tracing.self_times(tracer, [root], log)
    for layer, v in self_by_layer.items():
        metrics[f"self_s.{layer}"] = v
    metrics["trace.wall_s"] = wall
    metrics["trace.overhead_s"] = wall - untraced_wall
    metrics["trace.unexplained_s"] = unexplained
    sample = wl.layer_sample()
    if sample:
        layer_metrics, mismatches = tracing.extractor_pass(sample, seed)
        metrics.update(layer_metrics)
        run.fp_mismatch += mismatches
    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
    tracer.write(os.path.join(CACHE, "traces", f"{wl.name}-s{seed}-{tracer.run_id}.jsonl"))
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; below 1 only for the smoke test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import pdf_parser_benchmark_spark  # fail fast without the program

    if not os.path.abspath(pdf_parser_benchmark_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"program imported from outside the checkout: {pdf_parser_benchmark_spark.__file__}")
    import pyspark
    from pdf_parser_benchmark_spark.synth.pages import CORPUS_VERSION
    from pdf_parser_benchmark_spark.synth.vectors import VECTORS_VERSION

    from workloads import SETUP_REPS, WORKLOADS

    # every child, and every process a child leaves behind, is stopped and
    # waited for before this process exits (see the ``finally`` below)
    tracing.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cores = os.cpu_count() or 1
    ram = physical_ram_bytes()
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = driver_memory(ram)

    wl = WORKLOADS[args.workload](
        args.seed, run_dir, os.path.join(CACHE, "inputs"), cores, args.scale
    )
    phases = {}  # wall seconds of each phase of this run, for the env line
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    run = Run()
    sampler = None
    log_dir = os.path.join(run_dir, "eventlog")
    spark = None
    try:
        wl.prepare()
        phase("prepare")
        sampler = tracing.RssSampler()
        # the traced run keeps Spark's event log on from the start, so that
        # its untraced reference operation and the traced one share a warm
        # context; the end-to-end run never has it on
        spark = start_spark(run_dir, cores, event_log=log_dir if args.trace else None)
        phase("spark_start")
        setup = []
        for rep in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(spark, wl.path(f"input-{rep}"))
            setup.append(time.perf_counter() - t0)
        phase("setup")
        wl.warm(spark)
        phase("warmup")
        if args.trace:
            walls, _peaks = timed_loop(wl, spark, sampler, 0, run)  # one reference op
            layer = traced_run(wl, spark, log_dir, cores, walls[0], run, args.seed)
            spark = None  # stopped by traced_run
            units = dict(PER_LAYER)
            metrics = {name: float(layer.get(name, 0.0)) for name in units}
        else:
            walls, peaks = timed_loop(wl, spark, sampler, args.seconds, run)
            # the lower median: a burst of load from outside slows one
            # operation of two, never speeds one up
            wall = statistics.median_low(walls)
            units = dict(END_TO_END)
            metrics = {
                "wall_s": wall,
                "items_per_s": wl.items() / wall,
                "mb_per_s": wl.input_bytes() / 1e6 / wall,
                "peak_rss_mb": statistics.median_low(peaks) / 1e6,
                "setup_s": statistics.median(setup),
            }
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        if spark is not None:
            try:
                spark.stop()
            except Exception as e:  # a call cut off by SIGTERM breaks the gateway
                print(f"spark.stop failed: {e!r}", file=sys.stderr)
        if sampler is not None:
            sampler.stop()
        stop_jvm()
        tracing.stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
        phase("measure_and_stop")

    golden_bad = getattr(getattr(wl, "corpus", None), "golden_mismatch", 0)
    fp_mismatch = run.fp_mismatch + golden_bad
    error_frac = (run.errors + run.failed) / max(1, run.docs)
    correct = (
        fp_mismatch == 0 and run.resume_mismatch == 0 and run.errors == 0
        and run.failed == 0 and all(r == 1.0 for r in run.recall_exact)
    )
    env = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale,
        "nproc": os.cpu_count(), "cores_used": cores, "master": f"local[{cores}]",
        "physical_ram_bytes": ram, "driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "corpus_version": CORPUS_VERSION, "vectors_version": VECTORS_VERSION,
        "corpus": wl.corpus_info(), "ops_checked": run.attempted,
        "op_walls_s": [round(w, 4) for w in walls],
        "setup_walls_s": [round(w, 4) for w in setup],
        "phase_s": phases,
    }
    print("env " + json.dumps(env, sort_keys=True))
    print(f"check fp_mismatch {fp_mismatch} count")
    print(f"check resume_mismatch {run.resume_mismatch} count")
    print(f"check error_frac {error_frac:.6g} ratio")
    print(f"check exact_recall_min {min(run.recall_exact):.6g} ratio")
    for name, value in metrics.items():
        print(f"metric {name} {value!r} {units[name]}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0 if correct else 3


if __name__ == "__main__":
    sys.exit(main())
