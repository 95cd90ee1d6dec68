"""The stat-gated ``zipimporter.invalidate_caches`` installed in Spark's
Python workers (``codebased_spark._stat_gate_zip_invalidation``): an
unchanged archive keeps the directory its importer read, a changed one
is re-read as stock does, and the driver keeps the stock method."""

import importlib.util
import os
import zipfile
import zipimport

import codebased_spark


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _import_from(importer, name):
    spec = importer.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gate_skips_an_unchanged_archive_and_rereads_a_changed_one(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zg_first": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    # stock: every call re-reads the directory into a new object
    files = importer._files
    importer.invalidate_caches()
    assert importer._files is not files

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    codebased_spark._stat_gate_zip_invalidation()
    codebased_spark._stat_gate_zip_invalidation()  # installs once
    importer.invalidate_caches()  # the first gated call reads and stamps
    files = importer._files
    importer.invalidate_caches()
    assert importer._files is files

    # rewritten in place with new content and a new size: re-read
    _write_zip(path, {"zg_first": "X = 1\n", "zg_second": "Y = 2 * 21\n"})
    importer.invalidate_caches()
    assert importer._files is not files
    assert _import_from(importer, "zg_second").Y == 42
    files = importer._files
    importer.invalidate_caches()
    assert importer._files is files

    # removed: the stock outcome, an empty directory
    os.remove(path)
    importer.invalidate_caches()
    assert importer._files == {}


def _spark_jar_files(it):
    """One task: whether this worker's Spark jar importer still holds
    the directory object it held at the end of this worker's previous
    task (None on the worker's first task here)."""
    import importlib
    import sys
    import zipimport

    import pandas as pd

    import codebased_spark  # noqa: F401  (installs the gate in this worker)

    for _ in it:  # drain the input, so the worker is reused
        pass
    importlib.invalidate_caches()
    jars = [sys.path_importer_cache.get(p) for p in sys.path if p.endswith(".jar")]
    jar = next(imp for imp in jars if isinstance(imp, zipimport.zipimporter))
    prev = getattr(jar, "_test_prev_files", None)
    jar._test_prev_files = jar._files
    yield pd.DataFrame({"seen": [prev is not None], "same": [prev is jar._files]})


def test_a_reused_worker_keeps_the_spark_jar_directory(spark):
    """Two tasks on one worker, each after a setup_spark_files re-read:
    the second sees the first's directory object. Spark hands idle
    workers out oldest first, so 1-task jobs run until one lands on a
    worker a previous job used."""
    for _ in range(12):
        row = spark.range(0, 1, 1, 1).mapInPandas(
            _spark_jar_files, "seen boolean, same boolean").collect()[0]
        if row.seen:
            break
    assert row.seen, "no worker ran two of the jobs"
    assert row.same


def test_the_driver_keeps_the_stock_method(spark):
    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert not getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
