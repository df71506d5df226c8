"""Spark-free: importing naru_spark keeps ``importlib.invalidate_caches()``
from re-reading zip archives that did not change (pyspark's worker calls it
at the start of every task)."""

import importlib
import sys
import zipfile
import zipimport

import naru_spark  # noqa: F401 — installs the backport on Python < 3.12


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    names = ("naru_zip_probe_a", "naru_zip_probe_b")
    _write_zip(archive, {names[0]: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(names[0]).X == 1
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
        importlib.invalidate_caches()  # an importer's first call may re-read
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {names[0]: "X = 1\n", names[1]: "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module(names[1]).Y == 2
    finally:
        for name in names:
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
