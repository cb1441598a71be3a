"""The engine's Python daemon: a zip on the worker path is re-read only
when it has changed, and a ``get_spark`` session's workers run with it."""

from __future__ import annotations

import os
import zipfile
import zipimport

from distributed_classification_system_spark import pydaemon


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_conditional_reread(tmp_path):
    """Calls the patched method directly: the test process stays unpatched."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["m_one"])
    imp = zipimport.zipimporter(path)

    pydaemon.invalidate_caches(imp)
    files = imp._files
    pydaemon.invalidate_caches(imp)
    assert imp._files is files  # unchanged archive: not re-read
    assert imp.find_spec("m_two") is None

    _write_zip(path, ["m_one", "m_two"])  # one more member: a new size
    pydaemon.invalidate_caches(imp)
    assert imp._files is not files
    assert imp.find_spec("m_two") is not None
    # a second importer on the same archive takes the fresh read
    other = zipimport.zipimporter(path)
    pydaemon.invalidate_caches(other)
    assert other._files is imp._files

    os.remove(path)  # gone: the original behaviour drops the directory
    pydaemon.invalidate_caches(imp)
    assert imp._files == {}
    assert path not in zipimport._zip_directory_cache
    assert path not in pydaemon._read_at


def test_session_workers_keep_zip_directories(spark):
    """Every Python task calls importlib.invalidate_caches(); in a worker
    of this session that re-reads no unchanged pyspark.zip, on the
    worker's first task or any later one."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        zips = [
            f
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter)
            and os.path.basename(f.archive) == "pyspark.zip"
        ]
        before = [f._files for f in zips]
        importlib.invalidate_caches()
        yield pd.DataFrame(
            {
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
                "n_zips": [len(zips)],
                "kept": [all(f._files is b for f, b in zip(zips, before))],
            }
        )

    for _ in range(2):
        rows = (
            spark.range(1, numPartitions=1)
            .mapInPandas(probe, "module string, n_zips int, kept boolean")
            .collect()
        )
        assert [(r.module, r.n_zips > 0, r.kept) for r in rows] == [
            ("distributed_classification_system_spark.pydaemon", True, True)
        ]
