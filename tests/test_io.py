"""Loader-normalization guards.

The driver regenerates /root/testdata between rounds and the parquet
timestamp annotation has drifted once already (round 1: TIMESTAMP(NANOS)
→ long nanos; round 2: TIMESTAMP(MICROS, isAdjustedToUTC=false) →
TIMESTAMP_NTZ under Spark 4). ``io.load_table`` must always hand
downstream code a plain TIMESTAMP ``ts`` — ``unix_micros``,
``withWatermark`` and ``window()`` all reject NTZ — so these tests pin
the loaded dtype and the epoch values themselves. If a future testdata
regeneration drifts the physical type again, this file fails first with
a clear message instead of 40 queries failing analysis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark.io import TABLES, load_table

SF0001 = "/root/testdata/sf0.001"


def test_events_ts_loads_as_plain_timestamp(spark):
    df = load_table(spark, SF0001, "events")
    dtypes = dict(df.dtypes)
    assert dtypes["ts"] == "timestamp", (
        f"events.ts loaded as {dtypes['ts']!r}; load_table must normalize "
        "to plain TIMESTAMP (testdata parquet annotation drifted again?)"
    )
    # And the normalization is usable by the strictest consumers:
    df.select(F.unix_micros("ts")).limit(1).collect()
    df.withWatermark("ts", "10 minutes")


def test_no_table_exposes_ntz_or_raw_nanos(spark):
    for name in TABLES:
        df = load_table(spark, SF0001, name)
        for col, dtype in df.dtypes:
            assert dtype != "timestamp_ntz", (
                f"{name}.{col} leaked TIMESTAMP_NTZ through load_table"
            )


def test_events_ts_epoch_matches_duckdb(spark):
    """Value-level guard: Spark's normalized epoch micros equal DuckDB's
    reading of the same file (both treat the NTZ wall-clock as UTC)."""
    import duckdb

    spark_min, spark_max = (
        load_table(spark, SF0001, "events")
        .agg(
            F.min(F.unix_micros("ts")).alias("lo"),
            F.max(F.unix_micros("ts")).alias("hi"),
        )
        .first()
    )
    duck_lo, duck_hi = duckdb.sql(
        f"""
        SELECT epoch_us(min(ts)), epoch_us(max(ts))
        FROM read_parquet('{SF0001}/events.parquet')
        """
    ).fetchone()
    assert (spark_min, spark_max) == (duck_lo, duck_hi)


def test_nanos_and_micros_layouts_load_alike_on_any_timezone(spark, tmp_path):
    """Both naive on-disk layouts hold a wall clock: on a Europe/Oslo
    session they load to the same ts, whose hour and wall-clock epoch
    are the file's."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    wall = dt.datetime(2024, 1, 1, 0, 9, 58, 123456)
    for unit in ("ns", "us"):
        (tmp_path / unit).mkdir()
        pq.write_table(
            pa.table({"ts": pa.array([wall], pa.timestamp(unit))}),
            str(tmp_path / unit / "events.parquet"),
            version="2.6",  # keeps the ns unit: TIMESTAMP(NANOS)
        )
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "Europe/Oslo")
    try:
        got = {
            unit: load_table(spark, str(tmp_path / unit), "events")
            .select(
                F.col("ts").cast("string").alias("s"),
                F.hour("ts").alias("h"),
                F.unix_timestamp(F.col("ts").cast("timestamp_ntz")).alias("epoch"),
            )
            .first()
            for unit in ("ns", "us")
        }
    finally:
        spark.conf.set(key, prev)
    assert got["ns"] == got["us"], got
    assert got["us"] == ("2024-01-01 00:09:58.123456", 0, 1704067798)
