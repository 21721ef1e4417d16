"""The worker daemon's zip-import guard (bun_csv_spark/_daemon.py).

PySpark calls ``importlib.invalidate_caches()`` on every Python task, and
CPython 3.11's ``zipimporter`` answers by re-reading its archive's whole
central directory. The guard re-reads an archive only when its
``(st_mtime_ns, st_size)`` stamp changed, so an unchanged ``pyspark.zip``
is read once per worker, while a rewritten archive still shows its new
modules.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from bun_csv_spark import _daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def restore_zipimport(monkeypatch):
    """The teardown puts back the unguarded ``invalidate_caches``."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch, restore_zipimport):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"bcs_guard_old": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("bcs_guard_old", "bcs_guard_new"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("bcs_guard_old").X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # unguarded: every call re-reads
    assert reads.count(archive) == 1

    _daemon.install()  # stamps the live importer, as the daemon does before forking
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1  # unchanged archive: not re-read

    _write_zip(archive, {"bcs_guard_old": "X = 1\n", "bcs_guard_new": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2  # rewritten archive: re-read once
    assert importlib.import_module("bcs_guard_new").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


def test_importing_the_module_changes_nothing():
    # the guard is installed only by ``python -m bun_csv_spark._daemon``
    # (or an explicit install()); this test process never ran either
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_session_workers_run_the_guard(spark):
    """get_spark starts the Python workers through the daemon module."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def owner(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    got = {r[0] for r in spark.range(0, 8, 1, 4).select(owner("id")).collect()}
    assert got == {"bun_csv_spark._daemon"}


def test_session_turns_off_call_site_capture(spark):
    # no per-call call-site capture (see get_spark's docstring)
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
