"""Python-worker start-up: the change-checked zipimport guard that
bioio_spark.worker_daemon installs, and workers importing the package
whatever directory launched the session."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from bioio_spark.worker_daemon import (install_zipimport_guard,
                                       zipimport_guard_installed)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ invalidates zipimport caches lazily")


@pytest.fixture
def guard(monkeypatch):
    """The guard installed for one test, the stock method restored after."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    assert install_zipimport_guard()
    assert zipimport_guard_installed()


def _write_zip(path, modules: dict):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_guard
def test_unchanged_archive_is_not_reread(guard, tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"guard_mod_a": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importer = zipimport.zipimporter(str(archive))
    reads.clear()
    importer.invalidate_caches()        # first call reads and stamps
    assert len(reads) == 1
    for _ in range(3):
        importer.invalidate_caches()
    assert len(reads) == 1


@needs_guard
def test_rewritten_archive_is_reread(guard, tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"guard_mod_b": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("guard_mod_b", "guard_mod_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("guard_mod_b").X == 1
    importlib.invalidate_caches()       # stamps the archive's importer
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("guard_mod_c")

    _write_zip(archive, {"guard_mod_b": "X = 1\n",
                         "guard_mod_c": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("guard_mod_c").Y == 2


@needs_guard
def test_workers_run_the_guarded_daemon(spark):
    def report(batches):
        import pandas as pd

        from bioio_spark.worker_daemon import zipimport_guard_installed

        for _ in batches:
            pass
        yield pd.DataFrame({"guarded": [zipimport_guard_installed()]})

    rows = (spark.range(1, numPartitions=1)
            .mapInPandas(report, "guarded boolean").collect())
    assert [r.guarded for r in rows] == [True]


_FROM_TEMP_CWD = textwrap.dedent("""
    import sys
    sys.path.insert(0, sys.argv[1])
    import numpy as np
    from bioio_spark import get_session
    from bioio_spark.formats.tiff import encode_ome_tiff
    from bioio_spark.sources.tiff_image import read_tiff_window

    block = np.arange(2 * 48 * 48, dtype=np.uint16).reshape(1, 2, 1, 48, 48)
    with open("tiled.ome.tiff", "wb") as f:
        f.write(encode_ome_tiff(block, tile=(16, 16), compression=8))
    spark = get_session("bioio_spark_temp_cwd")
    pdf = read_tiff_window(spark, "tiled.ome.tiff", c=1, y=(10, 30),
                           x=(5, 40)).toPandas()
    got = np.zeros((20, 35), np.uint16)
    got[pdf["y"] - 10, pdf["x"] - 5] = pdf["value"]
    assert len(pdf) == got.size
    assert (got == block[0, 1, 0, 10:30, 5:40]).all()
    spark.stop()
    print("ok")
""")


def test_workers_import_package_from_any_cwd(tmp_path):
    """A session started from a directory that does not hold the package,
    with no PYTHONPATH, still runs a mapInPandas reader: get_session puts
    the package on the workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _FROM_TEMP_CWD, REPO], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().endswith("ok")
