"""session.py's Python worker daemon and driver-memory default.

On a local master, tasks run in workers forked from ``worker_daemon``, which
keeps pyspark's per-task ``importlib.invalidate_caches()`` from re-reading
Spark's own zip archives; other masters keep the stock daemon."""

from __future__ import annotations

import os
import subprocess
import sys

from pdf_parser_benchmark_spark.session import spark_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tasks_start_without_spark_archive_importers(spark):
    def spark_importers(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        n = sum(isinstance(f, zipimport.zipimporter) and os.path.basename(f.archive).startswith(
                    ("pyspark.zip", "py4j-", "spark-core_"))
                for f in list(sys.path_importer_cache.values()))
        for b in batches:
            yield pd.DataFrame({"n": [n] * len(b)})

    df = spark.range(8, numPartitions=8).mapInPandas(spark_importers, "n long")
    df.collect()  # a worker's first task may import modules, and so rebuild importers, afresh
    assert [r.n for r in df.collect()] == [0] * 8


def test_local_session_from_outside_the_checkout(tmp_path):
    script = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from pdf_parser_benchmark_spark.session import get_spark\n"
        "spark = get_spark(cpus=2)\n"
        "df = spark.range(4, numPartitions=2).mapInPandas(lambda bs: (b * 2 for b in bs), 'id long')\n"
        "assert sorted(r.id for r in df.collect()) == [0, 2, 4, 6]\n"
        "assert spark.conf.get('spark.python.daemon.module') == "
        "'pdf_parser_benchmark_spark.worker_daemon'\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_only_local_masters_get_the_daemon():
    local = spark_conf("local[4]", 4, extra_conf={"spark.executorEnv.PYTHONPATH": "/x"})
    assert local["spark.python.daemon.module"] == "pdf_parser_benchmark_spark.worker_daemon"
    assert local["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([REPO, "/x"])
    for master in ("spark://h:7077", "yarn", "k8s://https://h:443"):
        conf = spark_conf(master, 4)
        assert "spark.python.daemon.module" not in conf
        assert "spark.executorEnv.PYTHONPATH" not in conf


def test_stock_daemon_hook_exists():
    # worker_daemon wraps this name; a pyspark that renames it must fail here
    import pyspark.daemon

    assert callable(pyspark.daemon.worker_main)


def test_driver_memory_default_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        mem_total = next(int(line.split()[1]) * 1024 for line in f
                         if line.startswith("MemTotal:"))
    mem = spark_conf("local[4]", 4)["spark.driver.memory"]
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) <= 48 and int(mem[:-1]) * 2**30 <= mem_total
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert spark_conf("local[4]", 4)["spark.driver.memory"] == "3g"
