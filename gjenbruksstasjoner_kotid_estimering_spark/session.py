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
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

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


def get_spark(
    app_name: str = "gjenbruksstasjoner-kotid-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Build (or reuse) a session for tests/bench.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``
    (driver contract) or all cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    import tempfile

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
        # workers must import the daemon module whatever their cwd
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                tempfile.mkdtemp(prefix="spark-warehouse-"),
            ),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


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
