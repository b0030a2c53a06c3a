"""The Python-worker daemon's zip-cache check.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task, and on CPython before 3.13 each zipimporter then re-reads its
archive's whole directory. ``kpipe_spark.worker_daemon`` re-reads only
when the archive's (mtime, size) stamp changed or ``stat`` fails. These
tests pin the three cases on a temporary zip, and that a session from
``get_spark`` runs its Python tasks with the patch installed.
"""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pytest

from kpipe_spark import worker_daemon


@pytest.fixture
def reads(monkeypatch):
    """The archives the original re-read reached, in call order."""
    seen = []
    real = worker_daemon._reread

    def counting(importer):
        seen.append(importer.archive)
        real(importer)

    monkeypatch.setattr(worker_daemon, "_reread", counting)
    return seen


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _load(importer, name: str):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_unchanged_archive_is_not_reread(reads, tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    zi = zipimport.zipimporter(path)
    worker_daemon.invalidate_caches(zi)  # first call stamps the importer
    worker_daemon.invalidate_caches(zi)
    worker_daemon.invalidate_caches(zi)
    assert reads == [path]
    assert _load(zi, "mod_a").X == 1


def test_rewritten_archive_is_reread_and_new_module_imports(reads, tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    zi = zipimport.zipimporter(path)
    worker_daemon.invalidate_caches(zi)
    assert _load(zi, "mod_b") is None
    _write_zip(path, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    worker_daemon.invalidate_caches(zi)
    assert reads == [path, path]
    assert _load(zi, "mod_b").Y == 2
    # same size, later mtime: still a re-read
    size = os.stat(path).st_size
    _write_zip(path, {"mod_a": "X = 5\n", "mod_b": "Y = 2\n"})
    assert os.stat(path).st_size == size
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000))
    worker_daemon.invalidate_caches(zi)
    assert reads == [path, path, path]
    assert _load(zi, "mod_a").X == 5


def test_stat_failure_falls_back_to_the_original(reads, tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    zi = zipimport.zipimporter(path)
    worker_daemon.invalidate_caches(zi)
    os.remove(path)
    worker_daemon.invalidate_caches(zi)
    # the original re-read found no archive and emptied the directory
    assert reads == [path, path]
    assert zi.find_spec("mod_a") is None
    # a later archive at the same path is read again, whatever its stamp
    _write_zip(path, {"mod_a": "X = 3\n"})
    worker_daemon.invalidate_caches(zi)
    assert reads == [path, path, path]
    assert _load(zi, "mod_a").X == 3


def test_session_workers_run_the_patched_method(spark):
    """A mapInPandas task reports the source file of the method its
    worker's importlib.invalidate_caches() reaches."""

    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            code = zipimport.zipimporter.invalidate_caches.__code__
            yield pd.DataFrame({"src": [code.co_filename]})

    rows = spark.range(1, numPartitions=1).mapInPandas(report, "src string").collect()
    assert len(rows) == 1
    assert rows[0]["src"].endswith(os.path.join("kpipe_spark", "worker_daemon.py"))
