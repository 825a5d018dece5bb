"""Start-up hook for the Python processes Spark launches: task workers,
the data-source planner and the stream reader.

Python imports a module named ``sitecustomize`` at start-up when one is
on its search path, and ``session.get_spark`` puts this directory on
``spark.executorEnv.PYTHONPATH``. Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` and ``py4j-*-src.zip`` ahead of
that entry. The zips hold no bytecode, so each such process compiles
pyspark from source, and every ``importlib.invalidate_caches()`` (one
per task, in ``pyspark.worker_util.setup_spark_files``) re-reads the
index of each zip importer. When this process's own ``sys.path``
already holds the directory the driver imported ``pyspark`` from
(``KHCS_DRIVER_PYSPARK_DIR``) and that directory holds the package, the
zips are dropped and the process imports the driver's bytecode-cached
package instead. Otherwise (another interpreter, an executor host
without that directory) the path stays as Spark set it.

Runs before anything else in the process, so it uses the standard
library alone. In those processes it takes the place of any other
``sitecustomize`` on the path, as Spark's own coverage hook does.
"""

from __future__ import annotations

import os
import sys

DRIVER_DIR_ENV = "KHCS_DRIVER_PYSPARK_DIR"


def _is_package(parent: str, name: str) -> bool:
    return os.path.isfile(os.path.join(parent, name, "__init__.py"))


def zips_to_drop(path: list[str], driver_dir: str | None) -> list[str]:
    """The entries of ``path`` that are Spark's pyspark and py4j zips and
    that ``driver_dir`` stands in for. Empty unless ``driver_dir`` is on
    ``path`` and holds ``pyspark``; the py4j zip goes only when
    ``driver_dir`` also holds ``py4j``."""
    if not driver_dir or driver_dir not in path or not _is_package(driver_dir, "pyspark"):
        return []
    has_py4j = _is_package(driver_dir, "py4j")
    drop = []
    for entry in path:
        name = os.path.basename(entry)
        if name == "pyspark.zip" or (
            has_py4j and name.startswith("py4j-") and name.endswith("-src.zip")
        ):
            drop.append(entry)
    return drop


def _main() -> None:
    # Spark sets this for task workers only; without it the planner and
    # stream-reader processes start one busy-waiting OpenBLAS thread per
    # vCPU when pyspark imports numpy.
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    for entry in zips_to_drop(sys.path, os.environ.get(DRIVER_DIR_ENV)):
        sys.path.remove(entry)
        # The import that found this module cached an importer per path
        # entry; invalidate_caches() would still re-read a cached zip's index.
        sys.path_importer_cache.pop(entry, None)


if __name__ == "sitecustomize":
    _main()
