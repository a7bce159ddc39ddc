"""Per-task start-up cost of a reused Python worker: once rdf_spark is
imported, ``importlib.invalidate_caches()`` at a task's start re-reads
no unchanged zip archive (rdf_spark.submit.guard_zip_rereads)."""

import pandas as pd

from rdf_spark.submit import ship_package


def test_worker_does_not_reread_unchanged_archives(spark):
    ship_package(spark)

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import rdf_spark  # noqa: F401 — installs the guard in this worker

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"zipimporters": [zips], "rereads": [len(reads)]})

    rows = (spark.range(1, numPartitions=1)
            .mapInPandas(probe, "zipimporters long, rereads long").collect())
    [row] = rows
    assert row.zipimporters >= 1
    assert row.rereads == 0
