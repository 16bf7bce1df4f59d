"""The zip-directory guard (mtslake.zipguard): an unchanged archive is
not re-read by ``importlib.invalidate_caches()``, a changed one is, and
a Python worker that has imported mtslake keeps its directories across
the per-task cache invalidation."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from mtslake.zipguard import guard_zip_rereads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    names = ("_zipguard_mod_a", "_zipguard_mod_b")
    _write_zip(archive, names[:1])
    saved_path = list(sys.path)
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in names:
            sys.modules.pop(name, None)


def test_guard_rereads_only_a_changed_archive(zip_on_path):
    archive = zip_on_path
    assert importlib.import_module("_zipguard_mod_a").NAME == "_zipguard_mod_a"
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    guard_zip_rereads()
    guard_zip_rereads()  # installing twice wraps once
    guarded = zipimport.zipimporter.invalidate_caches
    assert not getattr(guarded.__wrapped__, "guards_zip_rereads", False)

    importlib.invalidate_caches()  # the guard's first read of this importer
    entry = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is entry

    # the unguarded method does re-read, so the identity above is the
    # guard's doing
    guarded.__wrapped__(importer)
    assert zipimport._zip_directory_cache[archive] is not entry
    entry = zipimport._zip_directory_cache[archive]

    _write_zip(archive, ("_zipguard_mod_a", "_zipguard_mod_b"))
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not entry
    assert importlib.import_module("_zipguard_mod_b").NAME == "_zipguard_mod_b"


def test_worker_keeps_zip_directories_across_invalidation(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import mtslake  # noqa: F401  installs the guard in this worker

        for _ in batches:
            pass
        importers = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        ]
        # a worker whose first task imported mtslake holds importers the
        # guard has not read yet; one invalidation puts them on record
        importlib.invalidate_caches()
        before = {a: zipimport._zip_directory_cache.get(a)
                  for a in {imp.archive for imp in importers}}
        importlib.invalidate_caches()
        same = all(zipimport._zip_directory_cache.get(a) is d
                   for a, d in before.items())
        yield pa.RecordBatch.from_pydict(
            {"n_importers": [len(importers)], "unchanged": [same]}
        )

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInArrow(probe, "n_importers long, unchanged boolean")
        .collect()
    )
    if all(r.n_importers == 0 for r in rows):
        pytest.skip(
            "the Python workers hold no zipimporter: pyspark and py4j "
            "are imported from directories, so there is no zip to re-read"
        )
    assert all(r.n_importers > 0 for r in rows)
    assert all(r.unchanged for r in rows)
