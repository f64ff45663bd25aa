"""The Python worker daemon (``block_data_fetcher_spark.worker_daemon``):
workers start from it wherever the driver runs, and it re-reads a zip
archive's directory only when the archive changed."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import types
import zipfile
import zipimport

from block_data_fetcher_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """
import sys
sys.path.insert(0, {root!r})
from block_data_fetcher_spark.session import get_spark

def probe(batches):
    import zipimport
    import pyarrow as pa
    name = zipimport.zipimporter.invalidate_caches.__qualname__
    for b in batches:
        yield pa.RecordBatch.from_pydict({{"name": [name] * b.num_rows}})

spark = get_spark("worker-daemon-test")
print(sorted({{r.name for r in spark.range(8, numPartitions=2).mapInArrow(probe, "name string").collect()}}))
spark.stop()
"""


def test_python_task_runs_outside_the_checkout(tmp_path):
    """A driver started outside the checkout with PYTHONPATH unset
    still runs Python tasks: the workers find the daemon, and on
    CPython < 3.13 they run with its zipimport patch."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(root=ROOT)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    patched = sys.version_info < (3, 13)
    want = "install.<locals>.invalidate_caches" if patched else "zipimporter.invalidate_caches"
    assert proc.stdout.strip().splitlines()[-1] == repr([want])


def _write_module(archive, value: int, pad: int = 0) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("bdf_zip_probe.py", f"VALUE = {value}\n" + "#" * pad)


def test_changed_archive_is_read_again(tmp_path, monkeypatch):
    """With the patch installed, ``importlib.invalidate_caches()`` skips
    an unchanged archive and re-reads a rewritten one, whose new content
    then imports."""
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    assert worker_daemon.install() == (sys.version_info < (3, 13))
    reads = []
    installed = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or installed(a))

    archive = str(tmp_path / "mods.zip")
    _write_module(archive, 1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "bdf_zip_probe", raising=False)
    try:
        assert importlib.import_module("bdf_zip_probe").VALUE == 1
        reads.clear()
        importlib.invalidate_caches()
        if sys.version_info < (3, 13):
            assert archive not in reads

        _write_module(archive, 2, pad=64)
        importlib.invalidate_caches()
        assert archive in reads
        del sys.modules["bdf_zip_probe"]
        assert importlib.import_module("bdf_zip_probe").VALUE == 2
    finally:
        sys.modules.pop("bdf_zip_probe", None)
        sys.path_importer_cache.pop(archive, None)


def test_install_leaves_zipimport_alone_from_python_3_13(monkeypatch):
    """CPython 3.13 already invalidates lazily: there the daemon does
    not patch."""
    monkeypatch.setattr(worker_daemon, "sys", types.SimpleNamespace(version_info=(3, 13, 0)))
    before = (zipimport._read_directory, zipimport.zipimporter.invalidate_caches)
    assert worker_daemon.install() is False
    assert (zipimport._read_directory, zipimport.zipimporter.invalidate_caches) == before
