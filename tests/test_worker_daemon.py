"""The library worker daemon (``spark.python.daemon.module``): an
unchanged zip archive is not re-read when a task starts, a rewritten
one is, and the library session's Python stages run under it."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from pdf2ontology_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_mod_a": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    for name in ("wd_mod_a", "wd_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_mod_a").X == 1
    importlib.invalidate_caches()  # first sight of the archive: read, stat kept
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()  # what every task start does
    assert reads.count(archive) == 0

    _write_zip(archive, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("wd_mod_b").Y == 2


def test_daemon_module_imports_no_array_packages():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys, pdf2ontology_spark.worker_daemon; "
        "print(sorted({'numpy', 'pandas', 'pyarrow'} & set(sys.modules)))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"


def test_session_python_stages_run_under_library_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "pdf2ontology_spark.worker_daemon"

    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame({"wrapper": [code.co_filename]})

    rows = spark.range(8).repartition(2).mapInPandas(probe, "wrapper string").collect()
    assert len(rows) == 2
    wrapper = os.path.join("pdf2ontology_spark", "worker_daemon.py")
    assert all(r.wrapper.endswith(wrapper) for r in rows)
