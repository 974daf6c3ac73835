"""Worker-side behaviour of the mapInArrow kernel that needs no Spark
session: the kernel drops cached zip importers at task start, so the
next task's ``importlib.invalidate_caches()`` does not re-read the
archives on the worker path (kernel._drop_zip_importers)."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
# a Spark worker has imported pyspark before any task runs; without this
# the kernel's own pyspark import would walk sys.path and re-create the
# test archive's importer
import pyspark.taskcontext  # noqa: F401

from ocrflow import chartables as ct
from ocrflow import kernel, synth


class _Broadcast:
    """Stand-in for the pyspark.Broadcast the pipeline passes."""
    value = ct.default_weights()


def _zip_importer_paths():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_kernel_drops_zip_importers_and_zip_imports_still_work(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "zkpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zkpkg/__init__.py", "")
        z.writestr("zkpkg/first.py", "X = 1\n")
        z.writestr("zkpkg/second.py", "Y = 2\n")
    monkeypatch.syspath_prepend(archive)
    rows = synth.gen_rows(40, seed=5, monster_every=0)
    batch = pa.RecordBatch.from_pylist(
        [{k: r[k] for k in ("conv_id", "turn_idx", "role", "text")}
         for r in rows],
        schema=pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                          ("role", pa.string()), ("text", pa.string())]))
    try:
        assert importlib.import_module("zkpkg.first").X == 1
        assert any(p.startswith(archive) for p in _zip_importer_paths())

        out = list(kernel.make_kernel(_Broadcast())(iter([batch])))

        assert _zip_importer_paths() == []
        # the next task's invalidation re-reads no archive directory ...
        reads = []
        real_read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda path: reads.append(path) or real_read(path))
        importlib.invalidate_caches()
        # ... and a module not imported yet still loads from the zip,
        # its importer re-created from zipimport's directory cache
        assert importlib.import_module("zkpkg.second").Y == 2
        assert reads == []
        assert len(out) == 1
        assert out[0].equals(kernel.extract_batch(batch, _Broadcast.value))
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zkpkg"]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache
                     if p.startswith(archive)]:
            del sys.path_importer_cache[path]
        zipimport._zip_directory_cache.pop(archive, None)
