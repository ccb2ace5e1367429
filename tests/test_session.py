"""The worker daemon get_spark starts: a reused Python worker re-reads no
unchanged archive at task set-up, and a changed archive is still re-read."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from grenad_spark import worker_daemon


def test_reused_worker_rereads_no_archive(spark):
    """Every task starts with importlib.invalidate_caches(); on a reused
    worker with pyspark.zip unchanged it must not re-read the archive. Idle
    workers are handed out in turn, so run one-task jobs until one lands on
    a worker whose earlier task installed the counter."""

    def count_setup_reads(batches):
        # (pid, archive reads since this worker's previous task ended, pid
        # that installed the counter); -1 where no counter was installed yet
        import os
        import zipimport

        read = zipimport._read_directory
        if hasattr(read, "calls"):
            n, by = read.calls, read.pid
        else:

            def read(path, _real=read):
                read.calls += 1
                return _real(path)

            read.calls, read.pid = 0, os.getpid()
            zipimport._read_directory = read
            n, by = -1, -1
        for _ in batches:
            pass
        read.calls = 0
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [n], "by": [by]})

    one = spark.range(1, numPartitions=1)
    for _ in range(32):
        (row,) = one.mapInPandas(count_setup_reads, "pid long, reads long, by long").collect()
        if row.reads >= 0:
            break
    assert row.reads >= 0, "no worker was reused"
    assert row.pid == row.by
    assert row.reads == 0


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zmod_refresh.py", f"VALUE = {value!r}\n")


def test_refresh_rereads_changed_archive_only(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 1)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._refresh_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    try:
        mod = importlib.import_module("zmod_refresh")
        assert mod.VALUE == 1
        importlib.invalidate_caches()  # stamps the importer

        # rewritten in place: new value, new size -> re-read
        _write_zip(archive, "two")
        importlib.invalidate_caches()
        assert importlib.reload(mod).VALUE == "two"

        # unchanged -> no directory read
        reads = []
        real = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert reads == []

        # removed -> the stat fails and the stock refresh runs
        os.remove(archive)
        importlib.invalidate_caches()
        assert reads == [archive]
    finally:
        sys.modules.pop("zmod_refresh", None)
        sys.path_importer_cache.pop(archive, None)
