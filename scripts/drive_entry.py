"""Driver simulation through the real boundary: a VANILLA SparkSession
(no repo configs — exactly what the external driver builds) drives
``__spark_entry__.entry`` and sweeps ``queries()`` vs ``oracle_sql()``.

This is the verify skill's canonical drive; scripts/compare.py is the
fast inner loop (shared tuned session), this is the faithful outer one.

Usage: python scripts/drive_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import SparkSession

    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        args = args[1:]

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    import __spark_entry__ as E

    n = len(E.entry(spark).collect())
    print(f"entry(): {n} rows")
    assert n > 0

    from scripts.compare import compare, duck_con

    con = duck_con(sf_dir)

    qs, oracles = E.queries(), E.oracle_sql()
    names = args or sorted(qs)
    failures = 0
    for name in names:
        sdf = qs[name](spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)}")
            continue
        ddf = con.execute(oracles[name]).fetchdf()
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: {problems}")
        else:
            print(f"ok    {name}: {len(sdf)} rows")
    print(f"{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
