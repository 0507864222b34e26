"""The Python worker daemon (``pydaemon``): its stat check keeps zip
invalidation exact, and the workers of ``get_spark`` sessions run it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from conftest import REPO

from gjenbruksstasjoner_kotid_estimering_spark import pydaemon

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="Python >= 3.12 re-reads zip directories lazily"
)

# Run in a subprocess: the patch is process-wide and must not leak into
# the test process.
EXACTNESS = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport
    from gjenbruksstasjoner_kotid_estimering_spark import pydaemon

    archive = sys.argv[1]

    def write(body):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod.py", body)

    def reimport():
        importlib.invalidate_caches()
        sys.modules.pop("zmod", None)
        return importlib.import_module("zmod")

    assert pydaemon.install()
    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read(path)
    write("VALUE = 1\\n")
    sys.path.insert(0, archive)
    assert importlib.import_module("zmod").VALUE == 1
    assert reads == [archive], reads  # the importer's own first read
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive], reads  # unchanged archive: no re-read

    write("VALUE = 'rewritten'\\n")  # a different size
    assert reimport().VALUE == "rewritten"
    assert reads == [archive, archive], reads
    assert reimport().VALUE == "rewritten"
    assert len(reads) == 2, reads

    os.remove(archive)
    try:
        reimport()
    except ModuleNotFoundError:
        pass
    else:
        raise AssertionError("imported from a removed archive")
    print("ok")
    """
)


@needs_patch
def test_stat_check_keeps_invalidation_exact(tmp_path):
    """An unchanged archive is not re-read; a rewritten one is, and its new
    code imports; a removed one no longer imports."""
    out = subprocess.run(
        [sys.executable, "-c", EXACTNESS, str(tmp_path / "mods.zip")],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


@needs_patch
def test_lane_workers_run_the_patch(spark):
    """A Python task of a ``get_spark`` session runs in a worker forked from
    the daemon, so its zipimporter carries the stat check."""
    import pyarrow as pa

    def report(batches):
        import zipimport

        for _ in batches:
            name = zipimport.zipimporter.invalidate_caches.__module__
            yield pa.RecordBatch.from_pydict({"module": [name]})

    rows = spark.range(1, numPartitions=1).mapInArrow(report, "module string").collect()
    assert [r.module for r in rows] == [pydaemon.__name__]


OTHER_CWD = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from gjenbruksstasjoner_kotid_estimering_spark.session import get_spark

    spark = get_spark("pydaemon-cwd", master="local[1]", shuffle_partitions=1)
    try:
        rows = spark.range(3, numPartitions=1).mapInArrow(lambda it: it, "id long").collect()
        print(sorted(r.id for r in rows))
    finally:
        spark.stop()
    """
)


def test_workers_import_the_daemon_from_any_cwd(tmp_path):
    """The daemon module is the package's, so a driver that found the
    package through ``sys.path``, away from the repo root and with no
    ``PYTHONPATH``, still gets Python workers."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", OTHER_CWD, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 1, 2]"
