"""CLI: diff two parquet datasets.

    python -m dataframe_differ_spark LEFT.parquet RIGHT.parquet \
        --keys k1,k2 [--atol 0.001] [--rtol 1e-6] [--sample 10] \
        [--align-types] [--out diff.parquet]

Prints the human-readable report; with --out also writes the full
row-level diff as parquet (distributed write, never collected).
"""

from __future__ import annotations

import argparse
import sys

from dataframe_differ_spark import operators
from dataframe_differ_spark.operators import diff_core
from dataframe_differ_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dataframe_differ_spark",
                                 description="Diff two parquet datasets")
    ap.add_argument("left")
    ap.add_argument("right")
    ap.add_argument("--keys", required=True,
                    help="comma-separated key column names")
    ap.add_argument("--atol", type=float, default=0.0)
    ap.add_argument("--rtol", type=float, default=0.0)
    ap.add_argument("--sample", type=int, default=5)
    ap.add_argument("--align-types", action="store_true")
    ap.add_argument("--out", help="write the row-level diff here (parquet)")
    args = ap.parse_args(argv)

    spark = get_spark("dataframe_differ_spark-cli")
    left = spark.read.parquet(args.left)
    right = spark.read.parquet(args.right)
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]

    for side, df in (("left", left), ("right", right)):
        dup = diff_core.duplicate_keys(df, keys).limit(1).collect()
        if dup:
            print(f"warning: {side} side has duplicate keys"
                  f" (e.g. {tuple(dup[0])[:-1]}); diff output will fan out",
                  file=sys.stderr)

    kw = dict(atol=args.atol, rtol=args.rtol, align_types=args.align_types)
    print(diff_core.report(left, right, keys, sample_n=args.sample, **kw))
    if args.out:
        d = diff_core.diff(left, right, keys, **kw)
        d.write.mode("overwrite").parquet(args.out)
        print(f"\nrow-level diff written to {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
