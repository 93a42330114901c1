"""Tracing for the benchmark's traced run.

Three sources, all outside the program:

* spans kept in memory (name, start, end, parent, run id), opened by
  driver-side timing wrappers around the ``sources.*`` functions that
  ``run_pipeline`` calls; each wrapper runs under ``setJobDescription`` of
  its layer;
* Spark's event log (uncompressed), folded per job description into stage
  intervals, executor run/CPU/GC time, input/shuffle/spill bytes and the SQL
  metrics of the Python-worker nodes;
* a single-process pass, with no Spark, over the ``extract.*`` and
  ``canonical`` public functions on a seeded sample of the workload's docs.

Also here: the peak-RSS sampler, which reads ``/proc`` for the whole process
tree (benchmark driver, JVM and Python workers).
"""

from __future__ import annotations

import glob
import json
import os
import random
import statistics
import threading
import time
import uuid

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans; written out once, when the run ends."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.phase: int | None = None

    def open(self, name: str, parent: int | None = None) -> int:
        if parent is None and self.stack:
            parent = self.stack[-1]
        self.spans.append({
            "id": len(self.spans), "name": name, "start": time.time(),
            "end": None, "parent": parent, "run_id": self.run_id,
        })
        return len(self.spans) - 1

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()

    def enter(self, name: str) -> int:
        self.end_phase()
        sid = self.open(name)
        self.stack.append(sid)
        return sid

    def leave(self, sid: int) -> None:
        self.stack.pop()
        self.close(sid)

    def start_phase(self, name: str) -> None:
        """A phase is the stretch after a lazy call returns, while the
        caller runs the Spark jobs that call planned."""
        self.end_phase()
        self.phase = self.open(name)

    def end_phase(self) -> None:
        if self.phase is not None:
            self.close(self.phase)
            self.phase = None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# (module, attribute, layer, job description / phase after the call returns).
# filter_resumable, read_extracted and lineage_counters return lazy plans:
# the jobs they plan run after they return, so the description after them
# names the phase those jobs belong to.
PIPELINE_HOOKS = (
    ("sources.checkpoint", "filter_resumable", "sources.checkpoint.filter",
     "plans.pipeline.split_listing"),
    ("plans.pipeline", "write_extracted", "sources.sink.write", "plans.pipeline"),
    ("sources.checkpoint", "mark_splits_complete", "sources.checkpoint.mark",
     "plans.pipeline"),
    ("plans.pipeline", "read_extracted", "sources.sink.read", "sources.lineage"),
    ("plans.pipeline", "lineage_counters", "sources.lineage", "sources.lineage"),
)


def install_wrappers(tracer: Tracer, spark) -> list:
    """Wrap the pipeline's source calls; returns the originals to restore."""
    import importlib

    sc = spark.sparkContext
    saved = []
    for mod_name, attr, layer, after in PIPELINE_HOOKS:
        mod = importlib.import_module(f"pdf_parser_benchmark_spark.{mod_name}")
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))

        def wrapped(*a, _orig=orig, _layer=layer, _after=after, **kw):
            sc.setJobDescription(_layer)
            sid = tracer.enter(_layer)
            try:
                return _orig(*a, **kw)
            finally:
                tracer.leave(sid)
                sc.setJobDescription(_after)
                if _after != "plans.pipeline":
                    tracer.start_phase(_after)

        setattr(mod, attr, wrapped)
    return saved


def remove_wrappers(saved: list) -> None:
    for mod, attr, orig in saved:
        setattr(mod, attr, orig)


def traced_call(tracer: Tracer, spark, name: str, fn):
    """Run ``fn`` as one layer span under job description ``name``."""
    sc = spark.sparkContext
    sc.setJobDescription(name)
    sid = tracer.enter(name)
    try:
        return fn()
    finally:
        tracer.end_phase()
        tracer.leave(sid)
        sc.setJobDescription(None)


# ---------------------------------------------------------------------------
# peak RSS of the process tree
# ---------------------------------------------------------------------------


def proc_tree(root: int) -> dict[int, list[str]]:
    """pid → fields of /proc/<pid>/stat after the command name, for
    ``root`` and all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return tree


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(f[21]) * page for f in proc_tree(root).values())


def tree_cpu_seconds(root: int | None = None) -> float:
    """User + system CPU of the process tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    tree = proc_tree(root or os.getpid())
    return sum(sum(int(x) for x in f[11:15]) for f in tree.values()) / tick


def become_subreaper() -> None:
    """Have descendants whose parent ends re-parented to this process
    (Linux), so that ``stop_descendants`` still sees and reaps them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap() -> None:
    """Reap every child of this process that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 30.0, term: float = 10.0) -> None:
    """Wait until every descendant of this process has ended and been
    reaped: ``grace`` seconds on their own, then ``term`` seconds after
    SIGTERM, then SIGKILL."""
    import signal
    import sys

    tracker = sys.modules.get("multiprocessing.resource_tracker")
    if tracker is not None and getattr(tracker._resource_tracker, "_pid", None):
        tracker._resource_tracker._stop()  # it ignores SIGTERM; ends on EOF
    me = os.getpid()
    start = time.monotonic()
    sent = None
    while True:
        _reap()
        tree = proc_tree(me)
        tree.pop(me, None)
        if not tree:  # ended and reaped, zombies included
            return
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > grace + term
               else signal.SIGTERM if waited > grace else None)
        if sig is not None and sig != sent:
            sent = sig
            for pid, fields in tree.items():
                if fields[0] != "Z":
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


class RssSampler:
    """Samples the RSS of this process and all its descendants every 100 ms;
    ``peak()`` returns the maximum since the last ``reset()``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        rss = _tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
        self._sample()

    def peak(self) -> int:
        self._sample()
        with self._lock:
            return self._peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), info.get("simpleString", ""), m["name"])
    for ch in info.get("children", []):
        _walk_plan(ch, out)


class EventLog:
    """Jobs, stages and tasks of one Spark application's event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.plan_metrics: dict[int, tuple[str, str, str]] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1e3, "end": None,
                "desc": props.get("spark.job.description"),
                "stages": e["Stage IDs"],
            }
        elif ev == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            st = self.stages.setdefault(e["Stage ID"], {"tasks": []})
            st["tasks"].append({
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                "gc": m.get("JVM GC Time", 0) / 1e3,
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            })
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self.stages.setdefault(si["Stage ID"], {"tasks": []})
            st["submit"] = si.get("Submission Time", 0) / 1e3
            st["complete"] = si.get("Completion Time", 0) / 1e3
            st["accums"] = {a["ID"]: (a["Name"], _num(a.get("Value"))) for a in si.get("Accumulables", [])}
        elif ev in (_SQL_START, _SQL_AQE):
            _walk_plan(e.get("sparkPlanInfo") or {}, self.plan_metrics)

    def jobs_between(self, start: float, end: float) -> list[dict]:
        return [j for j in self.jobs.values()
                if j["end"] is not None and j["start"] >= start - 0.01 and j["end"] <= end + 0.01]

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        seen, out = set(), []
        for j in jobs:
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if sid not in seen and st and "submit" in st:
                    seen.add(sid)
                    out.append(st)
        return out

    def node_metric(self, stage: dict, metric: str, node_pred=None) -> float:
        """Sum of a SQL metric over the stage, optionally only for plan
        nodes whose (nodeName, simpleString) pass ``node_pred``."""
        total = 0.0
        for aid, (name, value) in stage.get("accums", {}).items():
            if name != metric:
                continue
            node = self.plan_metrics.get(aid)
            if node_pred is None or (node and node_pred(node[0], node[1])):
                total += value
        return total


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _is_extractor(node_name: str, simple: str) -> bool:
    return node_name == "MapInPandas" and "_extract_batches" in simple


# ---------------------------------------------------------------------------
# fold: spans + event log → per-layer metrics
# ---------------------------------------------------------------------------

# self-time layers, always reported (0 where a layer does not run)
SELF_LAYERS = (
    "plans.pipeline",
    "plans.pipeline.split_listing",
    "extract",
    "sources.sink.write",
    "sources.sink.read",
    "sources.checkpoint.filter",
    "sources.checkpoint.mark",
    "sources.lineage",
    "operators.knn.brute_force_topk",
    "operators.knn.ivf_topk_kmeans",
)


def self_times(tracer: Tracer, roots: list[int], log: EventLog) -> tuple[dict, float, float]:
    """Self time per layer over the given root spans.

    Extraction runs lazily inside the sink's write job, so stages that ran
    the extractor's MapInPandas node become ``extract`` child spans of the
    span they ran under. Returns (self time by layer, unexplained, wall):
    unexplained is root time that no layer span covers."""
    spans = [dict(s) for s in tracer.spans]
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    for root in roots:
        r = spans[root]
        for st in log.stages_of(log.jobs_between(r["start"], r["end"])):
            if not log.node_metric(st, PY_SENT, _is_extractor):
                continue
            inner = _innermost(spans, kids, root, st["submit"])
            sid = len(spans)
            spans.append({"id": sid, "name": "extract", "start": st["submit"],
                          "end": st["complete"], "parent": inner})
            kids.setdefault(inner, []).append(sid)

    by_layer = {name: 0.0 for name in SELF_LAYERS}
    unexplained = wall = 0.0

    def visit(sid: int, is_root: bool) -> None:
        nonlocal unexplained
        s = spans[sid]
        child = [(max(spans[c]["start"], s["start"]), min(spans[c]["end"], s["end"]))
                 for c in kids.get(sid, ())]
        own = (s["end"] - s["start"]) - _union([iv for iv in child if iv[1] > iv[0]])
        if is_root:
            unexplained += own
        else:
            by_layer[s["name"]] = by_layer.get(s["name"], 0.0) + own
        for c in kids.get(sid, ()):
            visit(c, False)

    for root in roots:
        wall += spans[root]["end"] - spans[root]["start"]
        visit(root, True)
    return by_layer, unexplained, wall


def _innermost(spans: list[dict], kids: dict, root: int, t: float) -> int:
    cur = root
    while True:
        nxt = [c for c in kids.get(cur, ())
               if spans[c]["end"] is not None and spans[c]["start"] <= t <= spans[c]["end"]
               and spans[c]["name"] != "extract"]
        if not nxt:
            return cur
        cur = nxt[0]


def fold_layers(tracer: Tracer, roots: list[int], log: EventLog, cores: int) -> dict:
    """Event-log and span metrics of the traced operation(s)."""
    spans = tracer.spans
    wall = sum(spans[r]["end"] - spans[r]["start"] for r in roots)
    jobs = [j for r in roots for j in log.jobs_between(spans[r]["start"], spans[r]["end"])]
    stages = log.stages_of(jobs)
    tasks = [t for st in stages for t in st["tasks"]]

    def jobs_with(*descs: str) -> list[dict]:
        return [j for j in jobs if j["desc"] in descs]

    def span_total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name and any(_under(spans, s["id"], r) for r in roots))

    extract_stages = [st for st in stages if log.node_metric(st, PY_SENT, _is_extractor)]
    skew = 0.0
    if extract_stages:
        big = max(extract_stages, key=lambda st: sum(t["dur"] for t in st["tasks"]))
        durs = [t["dur"] for t in big["tasks"]]
        med = statistics.median(durs) if durs else 0.0
        skew = max(durs) / med if med else 0.0
    stage_iv = [(st["submit"], st["complete"]) for st in stages]

    write_stages = log.stages_of(jobs_with("sources.sink.write"))
    extract_in_write = _union([(st["submit"], st["complete"]) for st in write_stages
                               if log.node_metric(st, PY_SENT, _is_extractor)])
    knn_jobs = jobs_with("operators.knn.brute_force_topk", "operators.knn.ivf_topk_kmeans")
    brute_stages = log.stages_of(jobs_with("operators.knn.brute_force_topk"))
    out = {
        "plans.pipeline.python_worker_s": sum(log.node_metric(st, PY_TIME) for st in stages) / 1e3,
        "plans.pipeline.arrow_bytes_sent": sum(log.node_metric(st, PY_SENT) for st in stages),
        "plans.pipeline.arrow_bytes_returned": sum(log.node_metric(st, PY_RETURNED) for st in stages),
        "plans.pipeline.task_skew": skew,
        "plans.pipeline.driver_s": wall - _union(stage_iv),
        "plans.pipeline.stages": float(len(stages)),
        "sources.sink.write_s": span_total("sources.sink.write") - extract_in_write,
        "sources.sink.shuffle_bytes": float(sum(t["shuffle_write"] for st in write_stages for t in st["tasks"])),
        "sources.checkpoint.filter_s": span_total("sources.checkpoint.filter"),
        "sources.checkpoint.mark_s": span_total("sources.checkpoint.mark"),
        "sources.lineage.s": span_total("sources.lineage") + span_total("sources.sink.read"),
        "operators.knn.brute_s": span_total("operators.knn.brute_force_topk"),
        "operators.knn.ivf_s": span_total("operators.knn.ivf_topk_kmeans"),
        "operators.knn.scorer_rows_out": sum(
            log.node_metric(st, "number of output rows", lambda n, s: n == "MapInPandas")
            for st in brute_stages),
        "operators.knn.shuffle_bytes": float(sum(
            t["shuffle_write"] for st in log.stages_of(knn_jobs) for t in st["tasks"])),
        "spark.gc_s": sum(t["gc"] for t in tasks),
        "spark.spill_bytes": float(sum(t["spill"] for t in tasks)),
    }
    input_jobs = jobs_with("plans.pipeline.split_listing", "sources.sink.write")
    out["_input_bytes"] = float(sum(t["input"] for st in log.stages_of(input_jobs) for t in st["tasks"]))
    return out


def _under(spans: list[dict], sid: int, root: int) -> bool:
    while sid is not None:
        if sid == root:
            return True
        sid = spans[sid]["parent"]
    return False


# ---------------------------------------------------------------------------
# single-process pass over the extractor layers
# ---------------------------------------------------------------------------

PDF_CLASSES = ("pdf-plain", "pdf-objstm", "pdf-rc4", "pdf-aes", "pdf-r6")


def extractor_pass(rows: list[dict], seed: int, html_cap: int = 200, pdf_cap: int = 30) -> tuple[dict, int]:
    """Times each extractor layer per doc on a seeded sample of ``rows``.

    Returns (metrics, mismatches): the layers' output is re-encoded and
    its md5 compared with the row's expected fingerprint."""
    from pdf_parser_benchmark_spark.canonical import encode_doc
    from pdf_parser_benchmark_spark.extract.assemble import (
        assemble,
        decode_html_payload,
        html_to_chunks,
        pdf_pages_to_chunks,
    )
    from pdf_parser_benchmark_spark.extract.pdf_parser import is_pdf, parse_pdf

    from workloads import md5_hex

    by_class: dict[str, list[dict]] = {}
    for r in rows:
        by_class.setdefault(r["doc_class"], []).append(r)
    rng = random.Random(seed)
    sample = []
    for cls, members in sorted(by_class.items()):
        cap = html_cap if cls == "html" else pdf_cap
        sample.extend(rng.sample(members, min(cap, len(members))))

    acc: dict[str, list[float]] = {}

    def add(key: str, dt: float) -> None:
        acc.setdefault(key, []).append(dt * 1e3)

    clock = time.perf_counter
    mismatches = 0
    canon_bytes = []
    for r in sample:
        url, payload = r["url"], r["html"]
        if is_pdf(payload):
            t0 = clock()
            pages = parse_pdf(payload)
            t1 = clock()
            rec = assemble(url, pdf_pages_to_chunks(pages), parser="pdf")
            t2 = clock()
            add(f"extract.pdf_parser.ms_per_doc.{r['doc_class']}", t1 - t0)
            add("extract.assemble.ms_per_doc.pdf", t2 - t1)
        else:
            t0 = clock()
            chunks = html_to_chunks(decode_html_payload(payload))
            t1 = clock()
            rec = assemble(url, chunks, parser="html")
            t2 = clock()
            add("extract.html_extractor.ms_per_doc", t1 - t0)
            add("extract.assemble.ms_per_doc.html", t2 - t1)
        t0 = clock()
        canon = encode_doc(rec["url"], rec["text"], rec["spans"], rec["meta"])
        add("canonical.ms_per_doc", clock() - t0)
        canon_bytes.append(len(canon.encode("utf-8")))
        mismatches += md5_hex(canon) != r["fp"]

    keys = (["extract.html_extractor.ms_per_doc"]
            + [f"extract.pdf_parser.ms_per_doc.{c}" for c in PDF_CLASSES]
            + ["extract.assemble.ms_per_doc.html", "extract.assemble.ms_per_doc.pdf",
               "canonical.ms_per_doc"])
    out = {k: (statistics.fmean(acc[k]) if acc.get(k) else 0.0) for k in keys}
    out["canonical.bytes_per_doc"] = statistics.fmean(canon_bytes) if canon_bytes else 0.0
    return out, mismatches
