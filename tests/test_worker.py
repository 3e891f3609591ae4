"""The per-task zip-finder reset every Spark-facing function calls first
(brdrq_spark/worker.py): it must leave nothing for the next task's
``importlib.invalidate_caches()`` to re-read, and must not break later
imports from the same archive."""

import importlib
import sys
import zipfile
import zipimport

from brdrq_spark.worker import drop_zip_finders


def _zip_finders():
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path, monkeypatch):
    archive = tmp_path / "probe_mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("brdrq_zip_probe_a.py", "VALUE = 'a'\n")
        z.writestr("brdrq_zip_probe_b.py", "VALUE = 'b'\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("brdrq_zip_probe_a", "brdrq_zip_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    a = importlib.import_module("brdrq_zip_probe_a")
    assert a.VALUE == "a"
    assert str(archive) in _zip_finders()

    drop_zip_finders()
    assert _zip_finders() == []

    # what PySpark's worker runs at the next task start; with no zip
    # finder cached it has no archive directory to re-read
    importlib.invalidate_caches()
    b = importlib.import_module("brdrq_zip_probe_b")
    assert b.VALUE == "b"
    assert b.__loader__.archive == str(archive)
