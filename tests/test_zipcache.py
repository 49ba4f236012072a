"""The zip-archive import-cache gate (kinesumer_spark/zipcache.py): a
reused Python worker's per-task ``importlib.invalidate_caches()`` must
not re-read an unchanged archive, and must still see a changed or
deleted one exactly as the stdlib does."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from kinesumer_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python >= 3.13 re-reads archives lazily; the gate is not installed",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one imported module; yields (path,
    its zipimporter, a counter of zipimport._read_directory calls)."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    import zc_mod_a

    assert zc_mod_a.X == 1
    importer = sys.path_importer_cache[path]
    assert isinstance(importer, zipimport.zipimporter)
    reads = []
    real = zipimport._read_directory

    def counting(p):
        reads.append(p)
        return real(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, importer, reads
    for m in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(m, None)
    zipcache._read_at.pop(path, None)


def test_gate_is_installed_by_package_import():
    assert zipimport.zipimporter.invalidate_caches is zipcache.gated_invalidate_caches


def test_unchanged_archive_is_not_reread(archive):
    path, importer, reads = archive
    importer.invalidate_caches()  # first gated call: reads, records the stat
    assert reads == [path]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [path]
    assert importer._files is zipimport._zip_directory_cache[path]


def test_rewritten_archive_is_reread_and_new_module_imports(archive):
    path, importer, reads = archive
    importer.invalidate_caches()
    reads.clear()
    _write_zip(path, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [path]
    import zc_mod_b

    assert zc_mod_b.Y == 2


def test_deleted_archive_behaves_as_stdlib(archive):
    path, importer, reads = archive
    importer.invalidate_caches()
    os.remove(path)
    importer.invalidate_caches()
    # the stdlib's eager re-read fails: entry dropped, no files
    assert path not in zipimport._zip_directory_cache
    assert importer._files == {}
    assert path not in zipcache._read_at
    with pytest.raises(ImportError):
        importlib.import_module("zc_mod_b")


def test_python_worker_keeps_the_gate_between_tasks(spark):
    """In a real Python worker: the function imports kinesumer_spark,
    so the worker's zipimporters are gated from then on. In every task
    a repeated invalidate re-reads no archive, and a task that runs in
    the same reused worker as the one before it finds that the worker's
    own per-task invalidate_caches() re-read no archive in between."""

    def probe(batches):
        import importlib as il
        import os as _os
        import zipimport as zi

        import pyarrow as pa

        from kinesumer_spark import zipcache as zc

        if not hasattr(zi, "_ks_reads"):
            zi._ks_reads = 0
            real = zi._read_directory

            def counting(p):
                zi._ks_reads += 1
                return real(p)

            zi._read_directory = counting
        at_start = zi._ks_reads
        il.invalidate_caches()
        before = zi._ks_reads
        il.invalidate_caches()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [_os.getpid()],
                "hooked": [zi.zipimporter.invalidate_caches is zc.gated_invalidate_caches],
                "gated_archives": [len(zc._read_at)],
                "rereads": [zi._ks_reads - before],
                "reads_at_start": [at_start],
                "reads_at_end": [zi._ks_reads],
            }
        )

    schema = (
        "pid long, hooked boolean, gated_archives long, rereads long, "
        "reads_at_start long, reads_at_end long"
    )
    df = spark.range(1, numPartitions=1)
    tasks = [df.mapInArrow(probe, schema).collect()[0] for _ in range(3)]
    assert all(t["hooked"] for t in tasks), tasks
    assert all(t["gated_archives"] >= 1 for t in tasks), tasks  # pyspark.zip
    assert all(t["rereads"] == 0 for t in tasks), tasks
    for prev, cur in zip(tasks, tasks[1:]):
        if cur["pid"] == prev["pid"]:
            assert cur["reads_at_start"] == prev["reads_at_end"], tasks
