"""Session defaults sized from the machine, and the Python worker's
per-task import-cache invalidation."""

import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

import openie_with_entities_spark
from openie_with_entities_spark.session import driver_memory


def test_driver_memory_is_a_quarter_of_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(16 * 2**30) == "4096m"
    assert driver_memory(2**40) == "49152m"  # capped at 48g
    assert driver_memory(2**30) == "1024m"  # at least 1g
    assert 1024 <= int(driver_memory()[:-1]) <= 48 * 1024


def test_driver_memory_env_takes_precedence(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "7g")
    assert driver_memory(2**40) == "7g"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_reread_only_when_archive_changed(tmp_path, monkeypatch):
    """A rewritten archive is re-read on invalidation; an unchanged one is
    not (Python < 3.13 re-reads every zip on ``sys.path`` each time)."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["alpha"])
    importer = zipimport.zipimporter(str(archive))
    assert importer.find_spec("beta") is None
    _write_zip(archive, ["alpha", "beta"])
    importer.invalidate_caches()
    assert importer.find_spec("beta") is not None
    if sys.version_info >= (3, 13):
        pytest.skip("the stdlib re-reads lazily on Python >= 3.13")
    reads, real = [], zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    importer.invalidate_caches()
    assert reads == []
    assert importer.find_spec("beta") is not None
    installed = zipimport.zipimporter.invalidate_caches
    openie_with_entities_spark._reread_zips_only_when_changed()
    assert zipimport.zipimporter.invalidate_caches is installed  # no second wrap


def test_zip_invalidation_untouched_on_lazy_python():
    """On Python >= 3.13 importing the package leaves zipimport as it is."""
    exe = shutil.which("python3.13")
    if exe is None or subprocess.run([exe, "-c", "pass"], capture_output=True).returncode:
        pytest.skip("no python3.13 interpreter")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        f"import sys, zipimport; sys.path.insert(0, {repo!r}); "
        "stdlib = zipimport.zipimporter.invalidate_caches; "
        "import openie_with_entities_spark; "
        "assert zipimport.zipimporter.invalidate_caches is stdlib"
    )
    subprocess.run([exe, "-c", script], check=True)


def test_worker_task_start_rereads_no_unchanged_zip(spark):
    """Once a worker has imported the package, the ``invalidate_caches()`` a
    PySpark worker runs at every task start reads no zip directory."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        import openie_with_entities_spark  # noqa: F401

        reads, real = [], zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        yield len(reads), len(zips)

    [(reads, zips)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert reads == 0, f"{reads} directory reads over {zips} zipimporters"
