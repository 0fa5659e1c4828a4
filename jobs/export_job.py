"""spark-submit entry point: EXPORT an encoded store to a sink format.

    spark-submit --py-files choetl_spark.zip jobs/export_job.py \
        --store /path/to/encoded --output /path/to/out \
        --format parquet|csv|tsv|json|avro \
        [--columns url,text] [--as-of 3] [--ref v1] \
        [--equals lang=en] [--range warc_ts=2024-01-01,2024-06-30]

The read side is `scan_encoded` — a `format("choetl")` read with
column-pruned decode, Bloom chunk skipping, kernel predicate pushdown
and an exact residual filter — so an export of one language or one
time slice ships only the matching rows, not the store. The write side reuses the
format writers (`choetl_spark.sources`): the decode→re-encode bridge a
user needs to hand curated data to a training stack that reads plain
parquet/JSONL/CSV.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_kv(items: list[str] | None) -> dict:
    out = {}
    for it in items or []:
        k, _, v = it.partition("=")
        if not _:
            raise SystemExit(f"expected col=value, got {it!r}")
        out[k.strip()] = v.strip()
    return out


def _coerce(value: str, dtype: str):
    """CLI strings → the store column's dtype, so the zone-map/Bloom
    pruning and decode-kernel pushdown actually engage (a string bound
    against a timestamp column would silently fall back to a
    full-store decode + residual filter)."""
    if dtype.startswith(("int", "uint")):
        return int(value)
    if dtype.startswith(("float", "double")):
        return float(value)
    if dtype.startswith("bool"):
        return value.lower() in ("1", "true", "t", "yes")
    if dtype.startswith(("timestamp", "date")):
        import datetime as dt

        return dt.datetime.fromisoformat(value)
    return value


def _coerce_preds(store: str, equals: dict, ranges: dict):
    from choetl_spark.ledger import read_manifest

    manifest = read_manifest(store) or {}

    def dt_of(col: str) -> str:
        return (manifest.get(col) or {}).get("dtype", "string")

    eq = {c: _coerce(v, dt_of(c)) for c, v in equals.items()}
    rg = {
        c: (_coerce(lo, dt_of(c)), _coerce(hi, dt_of(c)))
        for c, (lo, hi) in ranges.items()
    }
    return eq, rg


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--store", required=True)
    p.add_argument("--output", required=True)
    p.add_argument(
        "--format", default="parquet",
        choices=["parquet", "csv", "tsv", "json", "avro"],
    )
    p.add_argument("--columns", default=None, help="comma list; default all")
    p.add_argument("--as-of", type=int, default=None, dest="as_of")
    p.add_argument("--ref", default=None, help="named tag/branch to read")
    p.add_argument(
        "--equals", action="append", default=None, metavar="COL=VALUE",
        help="equality predicate (repeatable; Bloom + kernel pushdown)",
    )
    p.add_argument(
        "--range", action="append", default=None, metavar="COL=LO,HI",
        dest="ranges",
        help="range predicate (repeatable; zone-map + kernel pushdown)",
    )
    p.add_argument("--repartition", type=int, default=0,
                   help="output file count; 0 keeps the decode partitioning")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from choetl_spark.ledger import scan_encoded

    spark = SparkSession.builder.appName("choetl-export").getOrCreate()

    ranges = None
    if args.ranges:
        ranges = {}
        for it in args.ranges:
            k, _, v = it.partition("=")
            lo, _, hi = v.partition(",")
            if not lo or not hi:
                raise SystemExit(f"expected COL=LO,HI, got {it!r}")
            ranges[k.strip()] = (lo.strip(), hi.strip())
    cols = (
        [c.strip() for c in args.columns.split(",") if c.strip()]
        if args.columns else None
    )
    equals, ranges = _coerce_preds(
        args.store, _parse_kv(args.equals), ranges or {}
    )
    df = scan_encoded(
        spark, args.store, columns=cols,
        equals=equals or None, ranges=ranges or None,
        as_of=args.as_of, ref=args.ref,
    )
    if args.repartition:
        df = df.repartition(args.repartition)

    fmt = args.format
    if fmt == "parquet":
        df.write.mode("overwrite").parquet(args.output)
    elif fmt == "json":
        from choetl_spark.sources import write_json

        write_json(df, args.output)
    elif fmt == "avro":
        from choetl_spark.sources import write_avro

        write_avro(df, args.output)
    else:
        from choetl_spark.sources import write_csv

        write_csv(
            df, args.output,
            **({"sep": "\t"} if fmt == "tsv" else {}),
        )
    n = spark.read.parquet(args.output).count() if fmt == "parquet" else None
    print(json.dumps({
        "store": args.store, "output": args.output, "format": fmt,
        "rows_exported": n if n is not None else "see output",
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
