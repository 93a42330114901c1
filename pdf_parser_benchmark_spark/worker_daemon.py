"""Python worker daemon for local masters (``spark.python.daemon.module``).

pyspark's daemon with one change: before each task, every ``zipimporter``
cached for an archive that was on ``sys.path`` when the daemon started
(``pyspark.zip``, the py4j zip, the spark-core jar) is dropped from
``sys.path_importer_cache``. Each task's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, which on CPython 3.11 makes every cached
``zipimporter`` re-read its archive's central directory: ~0.25 s a task.
Those archives cannot change while the application runs; an importer that a
task needs again is rebuilt from ``zipimport``'s directory cache without
reading the archive. Zips shipped with ``--py-files`` or ``addPyFile`` are
not on the start-up path and keep the stock behaviour.
"""

from __future__ import annotations

import os
import sys
import zipimport


def main() -> None:
    # not at module level: session.py imports this module on the driver, and
    # pyspark.daemon imports the whole worker
    from pyspark import daemon

    archives = frozenset(p for p in sys.path if os.path.isfile(p))
    stock_worker_main = daemon.worker_main

    def worker_main(infile, outfile):
        cache = sys.path_importer_cache
        for key, finder in list(cache.items()):
            if isinstance(finder, zipimport.zipimporter) and finder.archive in archives:
                del cache[key]
        stock_worker_main(infile, outfile)

    daemon.worker_main = worker_main
    daemon.manager()


if __name__ == "__main__":
    main()
