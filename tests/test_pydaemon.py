"""pydaemon.py — the Python worker daemon that skips the per-task re-read
of unchanged zip archives.

In-process tests pin the two semantics the zipimport patch must keep: an
unchanged archive's directory is not re-read on every
``importlib.invalidate_caches()``, and a rewritten archive still is. The
Spark tests check that a session from ``get_spark`` really runs its
workers under the package daemon, also when the driver runs from a
directory from which the package is not importable."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from nifi_extracttext_processor_spark import pydaemon


@pytest.fixture()
def patched(monkeypatch):
    """Install the patch for one test; monkeypatch restores zipimport."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    pydaemon.install()


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path; returns (path, write(members))."""
    path = str(tmp_path / "mods.zip")

    def write(members: dict) -> None:
        with zipfile.ZipFile(path, "w") as z:
            for name, src in members.items():
                z.writestr(name, src)

    write({"pydaemon_zmod_a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path, write
    for name in ("pydaemon_zmod_a", "pydaemon_zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch, path: str) -> list:
    reads = []
    inner = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_read_at_most_once(patched, zip_on_path,
                                            monkeypatch):
    path, _write = zip_on_path
    assert importlib.import_module("pydaemon_zmod_a").VALUE == 1
    reads = _count_reads(monkeypatch, path)
    for _ in range(10):
        importlib.invalidate_caches()
    assert len(reads) <= 1
    assert importlib.reload(sys.modules["pydaemon_zmod_a"]).VALUE == 1


def test_rewritten_zip_is_reread(patched, zip_on_path, monkeypatch):
    path, write = zip_on_path
    importlib.import_module("pydaemon_zmod_a")
    importlib.invalidate_caches()
    write({"pydaemon_zmod_a.py": "VALUE = 1\n",
           "pydaemon_zmod_b.py": "VALUE = 2\n"})
    reads = _count_reads(monkeypatch, path)
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module("pydaemon_zmod_b").VALUE == 2


def test_session_names_the_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == pydaemon.__name__


def _report(batches):
    import zipimport

    import pandas as pd

    from nifi_extracttext_processor_spark import pydaemon
    for _ in batches:
        yield pd.DataFrame({"patched": [
            zipimport.zipimporter.invalidate_caches
            is pydaemon._invalidate_caches]})


def test_workers_run_the_patch(spark):
    rows = spark.range(4, numPartitions=2) \
        .mapInPandas(_report, "patched boolean").collect()
    assert rows and all(r.patched for r in rows)


_OUTSIDE_DRIVER = """
import sys
sys.path.insert(0, sys.argv[1])
from nifi_extracttext_processor_spark.session import get_spark
spark = get_spark("pydaemon-outside")
try:
    print(spark.sparkContext.parallelize([1, 2], 2)
          .map(lambda x: x * 10).collect())
finally:
    spark.stop()
"""


def test_workers_start_from_another_directory(tmp_path):
    """A driver run from an unrelated directory, with the package only on
    its own sys.path and no PYTHONPATH, still starts the daemon."""
    root = os.path.dirname(os.path.dirname(pydaemon.__file__))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_DRIVER, root], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[10, 20]"
