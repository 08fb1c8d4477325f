"""The Python worker daemon ``get_spark`` sessions start: PySpark's
daemon with zip archives on the import path re-read only when they
change (``worker_daemon``)."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

from sales_telegram_bot_data_pipeline_spark import worker_daemon

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__)))


def test_archive_is_reread_only_when_it_changes(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("first.py", "X = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()  # an importer's first call re-reads
    reads.clear()

    importer.invalidate_caches()
    assert importer.find_spec("first") is not None
    assert reads == []

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("first.py", "X = 1\n")
        z.writestr("second.py", "Y = 2\n")
    importer.invalidate_caches()
    assert importer.find_spec("second") is not None
    assert reads == [str(archive)]


def test_session_workers_run_under_the_daemon(spark):
    def wrapper_file(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(wrapper_file).collect()
    assert got == [worker_daemon.__file__]


def test_session_started_elsewhere_runs_python_workers(tmp_path):
    """A ``get_spark`` session started outside the package's directory,
    with no ``PYTHONPATH``, still starts its workers (and so its daemon)."""
    script = f"""
import sys
sys.path.insert(0, {_PACKAGE_PARENT!r})
from sales_telegram_bot_data_pipeline_spark.session import get_spark
spark = get_spark(cpus=1, shuffle_partitions=1)
print("RESULT", spark.sparkContext.parallelize([1, 2], 1).map(lambda x: x + 1).collect())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "RESULT [2, 3]" in proc.stdout, proc.stderr[-2000:]
