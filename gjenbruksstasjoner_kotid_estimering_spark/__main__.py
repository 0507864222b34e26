"""CLI entry point (reference O23: ``python -m luigi --module
queue_time_predictions.tasks <Task> --prefix=...``, tasks.py:44-45 /
start.sh:3-4 — here: ``python -m gjenbruksstasjoner_kotid_estimering_spark``).

Runs one registered query (or the flagship) on a local session and prints
row count + a sample, or with ``--list`` the operator inventory. This is
the spark-submit-able job shell; the driver contract itself goes through
``__spark_entry__.py``.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="gjenbruksstasjoner_kotid_estimering_spark")
    parser.add_argument(
        "--query", default="queue_estimate", help="registry query name"
    )
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    parser.add_argument("--show", type=int, default=5, help="rows to print")
    parser.add_argument(
        "--explain", action="store_true", help="print the physical plan"
    )
    parser.add_argument("--list", action="store_true", help="list operators")
    parser.add_argument(
        "--images",
        help="run the image preprocess lane over this directory instead of a "
        "registry query (the reference's PreprocessImageTask invocation, "
        "tasks.py:44-45)",
    )
    parser.add_argument(
        "--path-prefix",
        default="",
        help="with --images: only frames whose basename starts with this "
        "prefix (the Luigi --prefix= parameter analog, tasks.py:14)",
    )
    parser.add_argument(
        "--out", help="with --images: write the feature parquet here"
    )
    args = parser.parse_args(argv)

    from . import registry

    specs = registry.all_specs()
    if args.list:
        for name in sorted(specs):
            kind = "oracle" if specs[name].oracle else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    if args.images:
        from .session import get_spark
        from .sources import images as im

        spark = get_spark("cli:images")
        glob = f"{args.path_prefix}*.jpg"
        feats = im.preprocess_images(
            im.read_images(spark, args.images, glob=glob),
            decoder=im.jpeg_decoder(),
        )
        if args.out:
            im.write_features(feats, args.out)
        rows = feats.limit(args.show).collect()
        total = feats.count()
        print(f"images[{glob}]: {total} frames; first {len(rows)}:")
        for r in rows:
            print(" ", r.path, r.station_id, r.epoch, f"{len(r.features)} floats")
        return 0

    if args.query not in specs:
        print(f"unknown query {args.query!r}; use --list", file=sys.stderr)
        return 2

    from .session import get_spark

    spark = get_spark(f"cli:{args.query}")
    df = specs[args.query].builder(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    rows = df.limit(args.show).collect()
    total = df.count()
    print(f"{args.query}: {total} rows; first {len(rows)}:")
    for r in rows:
        print(" ", r)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
