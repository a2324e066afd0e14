"""The engine's Python worker daemon: the zip-directory stamp gate, and
Spark's contract for shipped Python files on a session that runs it."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

from data_wrangling_with_openstreetmap_and_mongodb_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_stamp_gate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "gate.zip")
    first, second = (f"_gate_{tag}_{uuid.uuid4().hex[:8]}" for tag in ("a", "b"))
    _write_zip(archive, {first: "VALUE = 1\n"})

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(first).VALUE == 1
        importlib.invalidate_caches()  # first sight of the archive: seeds its stamp
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        # Rewritten in place: a second module changes size (and mtime).
        _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module(second).VALUE == 2
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_shipped_py_files_import_on_engine_session(spark, tmp_path):
    """Zips shipped with addPyFile import in the next task, also one added
    after the session's workers have already run a task."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == worker_daemon.__name__

    def ship(value: int) -> str:
        name = f"_shipped_{value}_{uuid.uuid4().hex[:8]}"
        path = tmp_path / f"{name}.zip"
        _write_zip(path, {name: f"VALUE = {value}\n"})
        sc.addPyFile(str(path))
        return name

    def run_import(name: str) -> list[int]:
        return sc.parallelize([0], 1).map(lambda _: importlib.import_module(name).VALUE).collect()

    first = ship(1)
    assert run_import(first) == [1]
    second = ship(2)
    assert run_import(second) == [2]
    assert run_import(first) == [1]
