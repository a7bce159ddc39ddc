"""Package shipping for executors — the ``spark-submit --py-files``
contract (BASELINE.json north_rule) as a library call.

On a cluster the package reaches executors via ``spark-submit
--py-files rdf_spark.zip``. When the engine is driven from a plain
SparkSession instead (notebooks, tests, the driver harness),
``ship_package(spark)`` builds the same zip once and registers it with
``SparkContext.addPyFile`` so every executor's Python worker can import
``rdf_spark`` regardless of its working directory.

Per-task start-up cost: a reused Python worker calls
``importlib.invalidate_caches()`` at the start of every task. Before
CPython 3.13, each ``zipimport.zipimporter`` then re-parses its whole
archive directory in pure Python. A worker holds about 16 of them
(``pyspark.zip``, ``py4j``, the Spark core jar, the shipped
``rdf_spark.zip``), which costs 0.15-0.30 s per task before the first
row is read. :func:`guard_zip_rereads`, installed when ``rdf_spark`` is
imported, skips the re-read of an archive whose file has not changed
since that importer last read it. A worker imports ``rdf_spark`` while
unpickling its first task's function, after that task's re-read; the
second task's call is each importer's first guarded one and re-reads
too. From the third task on, an unchanged archive costs one ``stat``.
"""

from __future__ import annotations

import functools
import os
import tempfile
import zipfile
import zipimport

_SHIPPED: set[str] = set()


def build_zip(dest_dir: str | None = None) -> str:
    """Zip the installed rdf_spark package (deterministic layout);
    returns the zip path. Suitable for ``spark-submit --py-files``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    dest_dir = dest_dir or tempfile.gettempdir()
    out = os.path.join(dest_dir, "rdf_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "rdf_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return out


def ship_package(spark) -> None:
    """Idempotently make ``rdf_spark`` importable on all executors of
    this SparkContext (no-op on repeat calls for the same context)."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    sc.addPyFile(build_zip())
    _SHIPPED.add(key)


def guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_ino, st_size, st_mtime_ns)`` differs from the stamp
    taken at that importer's last re-read. The first call per importer
    and any call whose ``stat`` fails re-read, as before; a changed
    archive is re-read exactly as without the guard. A no-op on CPython
    3.13+, whose zipimporter re-reads lazily (``_get_files``), and on
    repeat calls."""
    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files") or hasattr(zi.invalidate_caches,
                                            "__wrapped__"):
        return
    reread = zi.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
        self._read_stamp = stamp

    zi.invalidate_caches = invalidate_caches
