"""SparkSession construction and runtime tuning.

The driver hands us an externally built session in ``entry()``/``queries()``,
so every scale-relevant knob that is runtime-settable is applied in
``tune()`` (safe to call on any session, repeatedly); ``get_spark()`` is for
tests/bench where we own the builder.

Scale posture (100 TB / 1000 executors): AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (pandas-UDF transport), session
timezone pinned UTC (reference parses Europe/Oslo wall-times into epoch —
estimate_queue.py:49-51 — we normalize at parse time and keep the engine in
UTC), shuffle partitions sized to the local core count for tests but left to
AQE coalescing at scale.

Python workers: sessions built by ``get_spark()`` fork their Python
workers from ``pydaemon`` (``spark.python.daemon.module``) instead of
``pyspark.daemon``. Workers import pyspark from ``pyspark.zip``, and on
Python < 3.12 every ``mapInArrow``/``mapInPandas`` task re-read that
archive's whole directory through ``importlib.invalidate_caches()``:
about 0.2 s per task, more than half of a trivial Python job. ``pydaemon``
re-reads an archive only when it has changed. The package's root goes on
the workers' ``PYTHONPATH``, so the daemon imports from any working
directory. The daemon module is a static conf, read when the context
starts, so the driver-provided session in ``__spark_entry__`` (and
``tune()``) cannot take it; it keeps the stock daemon.

Driver JVM start: a driver JVM that ``get_spark()`` launches maps a
dynamic class-data-sharing archive (JEP 350) of the classes a session
loads, so it parses and verifies few classes itself: session start fell
from ≈8 s to ≈4 s, and the first query from ≈4 s to ≈2 s (4 vCPU,
JDK 17). The archive (≈170 MB) sits in the per-user cache
(``scratch.user_cache_dir``) as ``spark-driver-<key>.jsa``, the key a
sha256 of the JDK (its home and ``release`` file), the ``$SPARK_HOME/jars``
listing (name, size, mtime) and the conf dir. When it is absent, the
first ``get_spark()`` writes it once, in a child Python that runs a
short session under ``-XX:ArchiveClassesAtExit`` (≈45 s), and publishes
it with ``os.replace`` under a non-blocking ``flock``; a process that
finds another one building starts without it. The option reaches the JVM
through ``SPARK_SUBMIT_OPTS``, which spark-submit's
``--driver-java-options`` does not override. CDS refuses a non-empty
directory on the classpath, so ``SPARK_CONF_DIR`` points at an empty dir
in the cache while the JVM starts; both variables are restored after
the launch. The JVM starts normally, without the archive, when the real
conf dir holds anything but ``*.template`` files or another directory is
put on the classpath (``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``,
``SPARK_DIST_CLASSPATH``). ``-Xshare:auto`` ignores a stale archive
without an error, so after the launch ``/proc/<jvm>/maps`` is checked
and an archive the JVM did not map is deleted; the next start rebuilds
it. The driver-provided session in ``__spark_entry__`` starts its own
JVM and is untouched.
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import time
import warnings
from contextlib import contextmanager

from pyspark.sql import SparkSession

from .scratch import user_cache_dir

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# env vars spark-class puts on the driver's classpath besides the conf dir
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")

# Runtime-settable confs applied to ANY session (including driver-provided).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs default to pickled row-at-a-time transport; Arrow
    # batches the exchange the same way pandas UDFs do (BENCH_r06: the
    # two UDTF rows were the #1/#5 slowest queries purely on transport).
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Dimension/calibration tables are tiny; make sure Catalyst broadcasts.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Testdata timestamp drift guard: round-1 testdata wrote events.ts as
    # parquet TIMESTAMP(NANOS), which Spark rejects by default — this conf
    # reads it as long nanos and io.load_table rebuilds the timestamp.
    # Round-2+ testdata writes TIMESTAMP(MICROS, isAdjustedToUTC=false)
    # (→ TIMESTAMP_NTZ, also normalized in load_table); the conf stays as a
    # no-op backstop in case a regeneration flips back to NANOS.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate adds size(e)>0 below every explode(e); when
    # e is a computed array (shingles, token arrays) predicate pushdown
    # drags that WHOLE expression below the upstream exchange and re-
    # evaluates it serially in the (often single-partition) map side —
    # measured 2-3s per query on the text lane. The filter is purely a
    # heuristic (explode of an empty array already emits no rows), so
    # exclude the rule; results are unchanged.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable at runtime on this build — skip
            pass
    return spark


def _builder(app_name: str, master: str | None, shuffle_partitions: int):
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
        # workers must import the daemon module whatever their cwd
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder


def _warehouse_dir() -> str:
    """``$SPARK_GRAFT_WAREHOUSE``, else a temp dir removed at exit."""
    path = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if path is None:
        path = tempfile.mkdtemp(prefix="spark-warehouse-")
        atexit.register(shutil.rmtree, path, True)
    return path


def get_spark(
    app_name: str = "gjenbruksstasjoner-kotid-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Build (or reuse) a session for tests/bench.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``
    (driver contract) or all cores. A new driver JVM starts from the
    class-data archive (module docstring).
    """
    from pyspark import SparkContext

    builder = _builder(app_name, master, shuffle_partitions)
    if SparkContext._active_spark_context is None:
        builder = builder.config("spark.sql.warehouse.dir", _warehouse_dir())
    if SparkContext._gateway is None:
        spark = _launch(builder)
    else:
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


# --- the driver JVM's class-data archive ---------------------------------


def _java_home() -> str | None:
    """The JDK spark-class runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _archive_key(java_home: str, spark_home: str, conf_dir: str) -> str:
    """sha256 of what the archive's classes come from: the JDK, the Spark
    jars (name, size, mtime) and the classpath's conf dir."""
    h = hashlib.sha256(os.path.realpath(java_home).encode())
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    h.update(f"\0{os.path.realpath(conf_dir)}\0".encode())
    h.update("\0".join(sorted(os.listdir(conf_dir))).encode())
    return h.hexdigest()


def _archive_plan() -> tuple[str, str] | None:
    """(archive path, empty conf dir) for a new driver JVM, or None to
    start it normally: no JDK found, a gateway given from outside, or a
    classpath directory that holds something, which CDS refuses."""
    from pyspark.find_spark_home import _find_spark_home

    java_home = _java_home()
    if java_home is None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = user_cache_dir()
    empty = os.path.join(cache, "spark-conf-empty")
    try:
        if not all(n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        key = _archive_key(java_home, spark_home, conf_dir)
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None
    except OSError:
        return None
    return os.path.join(cache, f"spark-driver-{key}.jsa"), empty


def _jvm_env(option: str, conf_dir: str) -> dict[str, str]:
    """The two variables a driver JVM with ``option`` starts under."""
    opts = os.environ.get("SPARK_SUBMIT_OPTS")
    return {
        "SPARK_SUBMIT_OPTS": f"{opts} {option}" if opts else option,
        "SPARK_CONF_DIR": conf_dir,
    }


@contextmanager
def _launch_env(option: str, conf_dir: str):
    """``_jvm_env`` in ``os.environ`` for the block, then restored."""
    saved = {k: os.environ.get(k) for k in ("SPARK_SUBMIT_OPTS", "SPARK_CONF_DIR")}
    os.environ.update(_jvm_env(option, conf_dir))
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _maps(pid: int, path: str) -> bool | None:
    """Whether process ``pid`` maps ``path``; None when unknown."""
    try:
        with open(f"/proc/{pid}/maps") as f:
            return any(line.rstrip("\n").endswith(" " + path) for line in f)
    except OSError:
        return None


def _launch(builder) -> SparkSession:
    """Start the driver JVM from the archive, building it first when absent.
    An archive the JVM did not map is deleted, so the next start rebuilds
    it instead of ignoring it forever (``-Xshare:auto`` falls back
    without an error)."""
    plan = _archive_plan()
    if plan is None:
        return builder.getOrCreate()
    archive, conf_dir = plan
    if not os.path.exists(archive):
        _build_archive(archive, conf_dir)
        if not os.path.exists(archive):
            return builder.getOrCreate()
    with _launch_env(f"-XX:SharedArchiveFile={archive}", conf_dir):
        spark = builder.getOrCreate()
    pid = _driver_pid()
    if pid is not None and _maps(pid, archive) is False:
        try:
            os.unlink(archive)
        except FileNotFoundError:
            pass
    return spark


def _driver_pid() -> int | None:
    """The pid of the driver JVM this process launched (spark-submit
    execs into it), if it launched one."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return None if proc is None else proc.pid


def _build_archive(archive: str, conf_dir: str) -> None:
    """Write ``archive`` from a child Python's session (``_write_archive``)
    and publish it with ``os.replace``. A process that finds another one
    building (the lock is taken) returns at once and starts without it."""
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    with open(archive + ".lock", "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return
        if os.path.exists(archive):
            return
        fd, tmp = tempfile.mkstemp(suffix=".jsa.tmp", dir=os.path.dirname(archive))
        os.close(fd)
        try:
            env = dict(
                os.environ,
                **_jvm_env(f"-XX:ArchiveClassesAtExit={tmp}", conf_dir),
                SPARK_GRAFT_DRIVER_MEM="1g",
            )
            done = subprocess.run(
                [sys.executable, "-c", _WRITE_ARCHIVE, _REPO_ROOT],
                env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                timeout=600,
            )
            if done.returncode == 0 and os.path.getsize(tmp) > 0:
                os.replace(tmp, archive)
            else:
                tail = done.stderr.decode(errors="replace")[-2000:]
                warnings.warn(f"driver class-data archive not written:\n{tail}")
        except subprocess.TimeoutExpired:
            warnings.warn("driver class-data archive not written: timed out")
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)


_WRITE_ARCHIVE = (
    "import sys; sys.path.insert(0, sys.argv[1]); "
    f"from {__package__}.session import _write_archive; _write_archive()"
)


def _write_archive() -> None:
    """The child of ``_build_archive``: run a short fixed exercise of the
    engine's common paths, then end the JVM through ``System.exit(0)``
    (EOF on the gateway's stdin), the exit at which it writes the archive.
    As a subreaper it also waits for the Python worker daemon that outlives
    the JVM, so no process of the build is left behind."""
    import ctypes

    from pyspark import SparkContext
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    with tempfile.TemporaryDirectory() as tmp:
        spark = (
            _builder("class-data-archive", "local[2]", 4)
            .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
            .getOrCreate()
        )
        df = spark.range(5000).select(
            (F.col("id") % 17).alias("k"), F.col("id").alias("v"),
            (F.col("id") / 3).alias("x"),
        )
        df.agg(F.sum("v"), F.max("x")).collect()
        df.write.parquet(os.path.join(tmp, "t"))
        back = spark.read.parquet(os.path.join(tmp, "t"))
        per_key = back.groupBy("k").agg(F.count("*").alias("n"), F.avg("x"))
        w = Window.partitionBy("k").orderBy("v")
        back.join(per_key, "k").withColumn("r", F.row_number().over(w)).where(
            "r <= 2"
        ).toPandas()
        back.mapInArrow(lambda batches: batches, back.schema).count()
        spark.stop()
        gateway = SparkContext._gateway
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                time.sleep(0.1)
        except ChildProcessError:
            return


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily set ``spark.sql.shuffle.partitions`` for a section
    whose per-round or per-micro-batch state is orders of magnitude
    smaller than the input scan (PageRank ranks, connected-components
    edge frontier, in-cluster candidate pairs, the state of a one-shot
    stream drain). Each shuffle at the session default is mostly per-task
    scheduling overhead on KB–MB frames, and iterative loops and
    micro-batches pay it rounds × shuffles times. Every round must
    MATERIALIZE inside the scope (the iterative ops here localCheckpoint
    each round, and a streaming query records the count in its fresh
    checkpoint at start); the previous value is restored on exit either
    way. At real cluster scale, size to state volume instead of scoping
    down."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
