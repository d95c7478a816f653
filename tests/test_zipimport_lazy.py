"""The engine's lazy ``zipimporter.invalidate_caches``: an unchanged zip
on the path is not re-read when the import caches are invalidated (as
PySpark's worker does at every task), and a rewritten one is."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import egp_crn_spark  # noqa: F401  (importing the package installs the shim)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13's zipimporter invalidates lazily itself; nothing is installed")

PROBE = "lazyzip_probe"


def _write_zip(path, source: str) -> None:
    """Write a fresh archive next to ``path`` and move it into place (a
    new inode, as a redeployed zip gets)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{PROBE}.py", source)
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths ``zipimport._read_directory`` is called with."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_zip_not_reread_and_rewritten_zip_reread(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(PROBE).VALUE == 1
        importlib.invalidate_caches()
        reads.clear()

        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, "VALUE = 22222  # a longer file\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        del sys.modules[PROBE]
        assert importlib.import_module(PROBE).VALUE == 22222
    finally:
        sys.modules.pop(PROBE, None)
        sys.path_importer_cache.pop(archive, None)


def test_second_task_on_a_worker_rereads_no_zip(spark):
    """A worker that already ran a task importing the engine re-reads no
    zip during a later task's ``importlib.invalidate_caches()``. Jobs of
    one task each rotate over the idle (reused) workers; every job after
    the first on the same worker must report zero reads."""

    def probe(batches):
        import importlib as il
        import os as os_
        import zipimport as zi

        import pandas as pd_

        import egp_crn_spark  # noqa: F401

        for _ in batches:
            pass
        n = []
        real = zi._read_directory
        zi._read_directory = lambda a: (n.append(a), real(a))[1]
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        yield pd_.DataFrame({"pid": [os_.getpid()], "reads": [len(n)]})

    one_task = spark.range(1, numPartitions=1)
    seen: dict[int, list[int]] = {}
    for _ in range(24):
        r = one_task.mapInPandas(probe, "pid long, reads long").collect()[0]
        seen.setdefault(r.pid, []).append(r.reads)
        if len(seen[r.pid]) >= 3:
            break
    later = {pid: ns[1:] for pid, ns in seen.items() if len(ns) > 1}
    assert later, f"no worker ran two probe tasks: {seen}"
    assert all(n == 0 for ns in later.values() for n in ns), seen
