"""``session.get_spark``: the driver JVM's class-data archive (key,
fallbacks, rebuild of an archive the JVM did not map, the environment
around the launch) and the default warehouse directory."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile

import pytest

from gjenbruksstasjoner_kotid_estimering_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Builder:
    """Stands in for a SparkSession builder: records the two launch
    variables as the JVM would see them."""

    def __init__(self):
        self.seen = []

    def getOrCreate(self):
        self.seen.append(
            {k: os.environ.get(k) for k in ("SPARK_SUBMIT_OPTS", "SPARK_CONF_DIR")}
        )
        return "session"


@pytest.fixture()
def cache(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for var in session._CLASSPATH_ENV + ("SPARK_CONF_DIR",):
        monkeypatch.delenv(var, raising=False)
    return tmp_path


def _fake_install(root):
    java = root / "jdk"
    (java / "bin").mkdir(parents=True)
    (java / "release").write_text('JAVA_VERSION="17.0.20"\n')
    jars = root / "spark" / "jars"
    jars.mkdir(parents=True)
    (jars / "spark-core.jar").write_bytes(b"x" * 10)
    conf = root / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    return java, root / "spark", conf


def test_archive_key_tracks_jdk_jars_and_conf_dir(tmp_path):
    java, spark_home, conf = _fake_install(tmp_path)
    keys = [session._archive_key(str(java), str(spark_home), str(conf))]
    assert session._archive_key(str(java), str(spark_home), str(conf)) == keys[0]

    (java / "release").write_text('JAVA_VERSION="17.0.21"\n')
    keys.append(session._archive_key(str(java), str(spark_home), str(conf)))
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"y" * 11)
    keys.append(session._archive_key(str(java), str(spark_home), str(conf)))
    (spark_home / "jars" / "extra.jar").write_bytes(b"z")
    keys.append(session._archive_key(str(java), str(spark_home), str(conf)))
    (conf / "log4j2.properties.template").write_text("")
    keys.append(session._archive_key(str(java), str(spark_home), str(conf)))
    other = tmp_path / "conf2"
    other.mkdir()
    keys.append(session._archive_key(str(java), str(spark_home), str(other)))
    assert len(set(keys)) == len(keys)


def test_conf_file_beyond_templates_starts_normally(cache, monkeypatch):
    conf = cache / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session._archive_plan() is not None

    (conf / "spark-defaults.conf").write_text("spark.driver.cores 1\n")
    assert session._archive_plan() is None
    monkeypatch.setattr(session, "_build_archive", pytest.fail)
    opts = os.environ.get("SPARK_SUBMIT_OPTS")
    builder = _Builder()
    assert session._launch(builder) == "session"
    assert builder.seen == [{"SPARK_SUBMIT_OPTS": opts, "SPARK_CONF_DIR": str(conf)}]


def test_classpath_env_dir_starts_normally(cache, monkeypatch):
    monkeypatch.setenv("HADOOP_CONF_DIR", str(cache))
    assert session._archive_plan() is None


def test_unmapped_archive_is_deleted_then_rebuilt(cache, monkeypatch):
    """The JVM (here: this process, which maps no archive) did not map the
    archive, so it is deleted; the next start builds a new one."""
    archive, empty = session._archive_plan()
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    with open(archive, "wb") as f:
        f.write(b"not an archive")
    monkeypatch.setattr(session, "_driver_pid", os.getpid)
    builds = []

    def build(path, conf_dir):
        builds.append((path, conf_dir))
        with open(path, "wb") as f:
            f.write(b"rebuilt")

    monkeypatch.setattr(session, "_build_archive", build)
    builder = _Builder()
    session._launch(builder)
    assert f"-XX:SharedArchiveFile={archive}" in builder.seen[0]["SPARK_SUBMIT_OPTS"]
    assert builder.seen[0]["SPARK_CONF_DIR"] == empty
    assert not os.path.exists(archive)
    assert builds == []

    session._launch(builder)
    assert builds == [(archive, empty)]
    assert len(builder.seen) == 2


def test_launch_env_is_restored(monkeypatch):
    monkeypatch.setenv("SPARK_SUBMIT_OPTS", "-Dx=1")
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    with session._launch_env("-XX:SharedArchiveFile=/a.jsa", "/empty"):
        assert os.environ["SPARK_SUBMIT_OPTS"] == "-Dx=1 -XX:SharedArchiveFile=/a.jsa"
        assert os.environ["SPARK_CONF_DIR"] == "/empty"
    assert os.environ["SPARK_SUBMIT_OPTS"] == "-Dx=1"
    assert "SPARK_CONF_DIR" not in os.environ

    monkeypatch.delenv("SPARK_SUBMIT_OPTS")
    monkeypatch.setenv("SPARK_CONF_DIR", "/conf")
    with pytest.raises(RuntimeError):
        with session._launch_env("-XX:SharedArchiveFile=/a.jsa", "/empty"):
            assert os.environ["SPARK_SUBMIT_OPTS"] == "-XX:SharedArchiveFile=/a.jsa"
            raise RuntimeError("launch failed")
    assert "SPARK_SUBMIT_OPTS" not in os.environ
    assert os.environ["SPARK_CONF_DIR"] == "/conf"


_START = """
import ctypes, json, os, sys
sys.path.insert(0, sys.argv[1])
ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # orphans of the build reparent here
env = {k: os.environ.get(k) for k in ("SPARK_SUBMIT_OPTS", "SPARK_CONF_DIR")}
from pyspark import SparkContext
from gjenbruksstasjoner_kotid_estimering_spark import session
archive = session._archive_plan()[0]
existed = os.path.exists(archive)
spark = session.get_spark("archive-test", master="local[1]", shuffle_partitions=1)
jvm = SparkContext._gateway.proc.pid
children = sorted(
    int(p) for p in os.listdir("/proc") if p.isdigit()
    and open(f"/proc/{p}/stat").read().rsplit(")", 1)[1].split()[1] == str(os.getpid())
)
print(json.dumps({
    "existed": existed,
    "exists": os.path.exists(archive),
    "mapped": session._maps(jvm, archive),
    "jvm": jvm,
    "children": children,
    "env_restored": env == {k: os.environ.get(k) for k in env},
    "rows": spark.range(5).count(),
    "archive": archive,
}))
"""


def _start(tmp_path):
    env = dict(
        os.environ,
        XDG_CACHE_HOME=str(tmp_path / "xdg"),
        TMPDIR=str(tmp_path / "tmp"),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    for var in session._CLASSPATH_ENV + ("SPARK_CONF_DIR", "SPARK_GRAFT_WAREHOUSE"):
        env.pop(var, None)
    done = subprocess.run(
        [sys.executable, "-c", _START, REPO],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


def test_first_start_builds_archive_and_jvm_maps_it(tmp_path):
    """A fresh cache: the first ``get_spark`` writes the archive in a child
    and its own JVM maps it; only that JVM is left below the process, the
    launch variables are back as they were, and the default warehouse is
    gone once the process has exited. An archive overwritten with garbage
    is not mapped at the next start, and is deleted."""
    (tmp_path / "tmp").mkdir()
    first = _start(tmp_path)
    assert first["existed"] is False and first["exists"] is True
    assert first["mapped"] is True
    assert first["children"] == [first["jvm"]]
    assert first["env_restored"] is True and first["rows"] == 5
    assert glob.glob(str(tmp_path / "tmp" / "spark-warehouse-*")) == []

    archive = first["archive"]
    os.chmod(archive, 0o644)
    with open(archive, "wb") as f:
        f.write(os.urandom(1 << 16))
    corrupt = _start(tmp_path)
    assert corrupt["existed"] is True and corrupt["mapped"] is False
    assert corrupt["exists"] is False
    assert corrupt["rows"] == 5


def test_reused_session_adds_no_warehouse_dir(spark):
    pattern = os.path.join(tempfile.gettempdir(), "spark-warehouse-*")
    before = set(glob.glob(pattern))
    for _ in range(2):
        assert session.get_spark("pytest", master="local[4]", shuffle_partitions=4) is spark
    assert set(glob.glob(pattern)) == before
