"""The zip re-read guard (rdf_spark.submit.guard_zip_rereads): an
unchanged archive is not re-parsed by ``importlib.invalidate_caches``,
and a changed one is re-read as before."""

import importlib
import sys
import zipfile
import zipimport

import rdf_spark  # noqa: F401 — importing the package installs the guard


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path,
                                                           monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zg_first", "zg_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zg_first").X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    importlib.invalidate_caches()
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    # Archives other tests put on sys.path may be gone from disk, and a
    # failed stat always re-reads, so only this archive is counted.
    assert archive not in reads

    _write_zip(archive, {"zg_first": "X = 1\n", "zg_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zg_second").Y == 2
