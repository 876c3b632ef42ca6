"""CLI entry point — the reference's job submission, Spark-style.

Reference UX (`/root/reference/README.txt:12-28`):

    yarn jar SlidingAggregation.jar SlidingAggregation \
        -D my.threshold=0.1 -D my.window=50 -D my.reducers=4 <in> <out>

Ours:

    python -m uw_mapreduce_spark <in> <out> --window 50 --partitions 4 \
        [--agg sum] [--scalable] [--format text|parquet|csv]

Reads the reference's tab-separated ``key\\tvalue`` text (or parquet with
key/value columns), runs rank + trailing-window aggregation, writes
``rank\\tkey\\tagg`` (text, matching the reference's output layout
contract) or parquet.  ``--threshold`` is accepted for CLI parity but
unused: the reference's sampling job only computes partition borders,
which the scalable path derives from a deterministic key histogram
(``operators/scale._deterministic_borders``) instead of a sample.
``--partitions`` sets ``spark.sql.shuffle.partitions``, which is also the
scalable path's range count.  ``--window`` or ``--partitions`` below 1 is
a usage error (exit 2) before any Spark session starts.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="uw_mapreduce_spark",
        description="Distributed sliding-window aggregation over a sorted key order.",
    )
    ap.add_argument("input", help="input path: tab-separated key\\tvalue text, or parquet")
    ap.add_argument("output", help="output path")
    ap.add_argument("--window", type=int, default=10, help="window length l (reference -D my.window)")
    ap.add_argument("--partitions", type=int, default=None, help="spark.sql.shuffle.partitions, also the scalable path's range count (reference -D my.reducers)")
    ap.add_argument("--threshold", type=float, default=None, help="accepted for reference parity; unused (borders come from a deterministic key histogram, not a sample)")
    ap.add_argument("--agg", default="sum", choices=["sum", "min", "max", "count", "avg"])
    ap.add_argument("--scalable", action="store_true", help="use the no-single-partition path")
    ap.add_argument("--format", default="text", choices=["text", "parquet", "csv"])
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if args.window < 1:
        ap.error("--window must be >= 1")
    if args.partitions is not None and args.partitions < 1:
        ap.error("--partitions must be >= 1")

    from .session import get_spark
    from .sources.text_kv import read_text_kv, write_text_kv
    from .operators.window import sliding_aggregate
    from .operators.scale import sliding_aggregate_scalable

    spark = get_spark(app_name="uw-mapreduce-spark-cli", master=args.master)
    if args.partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.partitions))

    if args.input.endswith(".parquet") or args.input.rstrip("/").endswith("parquet"):
        kv = spark.read.parquet(args.input)
    else:
        kv = read_text_kv(spark, args.input)

    if args.scalable:
        out = sliding_aggregate_scalable(kv, ["key", "value"], "value", args.window, agg=args.agg)
    else:
        out = sliding_aggregate(kv, ["key", "value"], "value", args.window, agg=args.agg)
    result = out.select("rank", "key", "agg")

    if args.format == "text":
        write_text_kv(result, args.output)
    elif args.format == "csv":
        result.write.mode("overwrite").option("header", True).csv(args.output)
    else:
        result.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output} (window={args.window}, agg={args.agg}, "
          f"path={'scalable' if args.scalable else 'window'})")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
