"""spark-submit entry point for the columnar encode job.

    spark-submit --py-files choetl_spark.zip jobs/encode_job.py \
        --input  /path/to/webpages.parquet  (or an Iceberg table name) \
        --output /path/to/encoded           (chunks + _ledger inside) \
        --partitions 4096 --profile balanced [--columns url,text,...]

Re-running the same command after a failure resumes from the ledger
(completed partitions are skipped — see choetl_spark.ledger). Cluster
sizing guidance: partitions ~ 2-4x total executor cores; chunk-bytes
well under executor memory / cores.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="parquet path or table name")
    p.add_argument("--output", required=True, help="output dir (chunks+ledger)")
    p.add_argument("--partitions", type=int, default=256)
    p.add_argument("--chunk-rows", type=int, default=65536)
    p.add_argument("--chunk-bytes", type=int, default=8 << 20)
    p.add_argument("--key-col", default="url")
    p.add_argument("--columns", default=None, help="comma list; default all")
    p.add_argument("--profile", default="speed",
                   choices=["ratio", "balanced", "speed"])
    p.add_argument("--no-host-partitioning", action="store_true")
    p.add_argument(
        "--shuffle", default="salted", choices=["salted", "none"],
        help="salted: hot-host salted repartition (skewed inputs, "
        "data-derived resume keys); none: scan-local encode, zero shuffle "
        "(default choice at large scale when the input is already "
        "file-partitioned)",
    )
    p.add_argument(
        "--direct", action="store_true",
        help="scan-direct mode (parquet inputs only): the driver plans "
        "row-group splits from the footers and each Python task reads "
        "its split natively with pyarrow — input bytes never cross the "
        "JVM->Python boundary and the plan has no shuffle. Ignores "
        "--shuffle/--partitions; split size set by --split-bytes",
    )
    p.add_argument(
        "--split-bytes", type=int, default=128 << 20,
        help="scan-direct split target (uncompressed row-group bytes)",
    )
    p.add_argument(
        "--bloom-columns", default=None,
        help="comma list of string columns to build per-chunk Bloom "
        "filters for (point-lookup pruning via "
        "prune_partitions_by_bloom; ~1-2 bytes/row of stats metadata)",
    )
    p.add_argument(
        "--input-format", default="auto",
        choices=["auto", "parquet", "table", "warc"],
        help="warc: --input is a dir of .warc(.gz) response records "
        "(optionally --wet for the extracted-text sidecar); the job "
        "ingests the raw crawl straight into the encoded store. WARC "
        "inputs should keep the default --shuffle salted: the "
        "data-derived (url-host) part ids stay resume-stable across "
        "the WET join's shuffle",
    )
    p.add_argument(
        "--wet", default=None,
        help="WET sidecar dir for --input-format warc (conversion "
        "records; joined to responses by url)",
    )
    p.add_argument("--run-id", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from choetl_spark.engine import EncodeConfig, compression_report
    from choetl_spark.ledger import encode_with_resume, read_encoded

    spark = SparkSession.builder.appName("choetl-encode").getOrCreate()
    fmt = args.input_format
    if fmt == "auto":
        fmt = (
            "parquet"
            if "/" in args.input or args.input.endswith(".parquet")
            else "table"
        )
    if args.direct and fmt != "parquet":
        p.error("--direct needs a parquet path input")
    if fmt == "warc":
        from choetl_spark.sources import read_warc, warc_webpages

        recs = read_warc(spark, args.input)
        if args.wet:
            recs = recs.unionAll(read_warc(spark, args.wet))
        df = warc_webpages(recs)
    elif fmt == "parquet":
        df = spark.read.parquet(args.input)
    else:
        df = spark.table(args.input)

    cfg = EncodeConfig(
        columns=args.columns.split(",") if args.columns else None,
        num_partitions=args.partitions,
        chunk_rows=args.chunk_rows,
        chunk_bytes=args.chunk_bytes,
        key_col=args.key_col,
        partition_by_host=not args.no_host_partitioning,
        shuffle=args.shuffle,
        optimize_for=args.profile,
        bloom_columns=tuple(
            c.strip() for c in args.bloom_columns.split(",") if c.strip()
        ) if args.bloom_columns else (),
    )
    if args.direct:
        from choetl_spark.direct import encode_direct_with_resume

        summary = encode_direct_with_resume(
            spark, args.input, args.output, cfg, run_id=args.run_id,
            target_split_bytes=args.split_bytes,
        )
    else:
        summary = encode_with_resume(
            spark, df, args.output, cfg, run_id=args.run_id
        )
    report = compression_report(read_encoded(spark, args.output)).collect()
    summary["columns"] = [r.asDict() for r in report]
    print(json.dumps(summary, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
