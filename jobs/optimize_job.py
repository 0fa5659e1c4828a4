"""spark-submit entry point for store maintenance — the scheduled
OPTIMIZE pass an Iceberg table service runs (rewrite_data_files +
rewrite_position_delete_files + expire_snapshots + remove_orphan_files),
chained with thresholds so a no-op store costs metadata only:

    spark-submit --py-files choetl_spark.zip jobs/optimize_job.py \
        --store /path/to/encoded \
        [--min-deleted-fraction 0.1]   # materialize tombstones >= this
        [--target-file-bytes 134217728]
        [--retain-last 10]             # keep this many newest epochs
        [--grace-sec 86400]            # protect in-flight runs
        [--cluster-by url]             # optional sort/z-order rewrite
        [--profile speed|balanced]     # codec profile for rewrites
        [--dry-run] [--report optimize.json]

Order matters and mirrors the Iceberg maintenance recipe:

  1. ``rewrite_partitions`` — materialize positional + equality
     deletes where the deleted fraction justifies a rewrite (merge-
     on-read tax ends for those partitions).
  2. ``compact_deletes`` — collapse the surviving tombstone files.
  3. optional ``rewrite_clustered`` — sort / z-order layout for
     zone-map-tight scans (only when ``--cluster-by`` is given; it
     rewrites the live snapshot, so it runs before expiry decides
     what history to keep).
  4. ``expire_snapshots`` — raise the time-travel floor to
     ``max_epoch - retain_last`` and reclaim retired chunks.
  5. ``compact_store`` — pack the chunk table into size-targeted,
     range-clustered files (also drops crashed-run orphans).
  6. ``vacuum`` — remove any remaining orphan chunk files.

Every step is the library action with its own crash contract (write
then single ledger append; readers see old or new, never a mix), so a
maintenance crash leaves a consistent store and the next run finishes
the job. ``--dry-run`` reports what each step WOULD do from metadata
without touching a byte. Scale: candidate selection everywhere is
metadata-only; data movement is O(rewritten partitions), never
O(store).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--store", required=True)
    p.add_argument(
        "--min-deleted-fraction", type=float, default=0.1,
        dest="min_deleted_fraction",
    )
    p.add_argument(
        "--target-file-bytes", type=int, default=128 << 20,
        dest="target_file_bytes",
    )
    p.add_argument("--retain-last", type=int, default=10, dest="retain_last")
    p.add_argument("--grace-sec", type=float, default=0.0, dest="grace_sec")
    p.add_argument("--cluster-by", default=None, dest="cluster_by")
    p.add_argument(
        "--profile", default="speed", choices=["speed", "balanced", "ratio"]
    )
    p.add_argument("--dry-run", action="store_true", dest="dry_run")
    p.add_argument("--report", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("choetl-optimize").getOrCreate()
    report = optimize_store(
        spark,
        args.store,
        min_deleted_fraction=args.min_deleted_fraction,
        target_file_bytes=args.target_file_bytes,
        retain_last=args.retain_last,
        grace_sec=args.grace_sec,
        cluster_by=args.cluster_by,
        profile=args.profile,
        dry_run=args.dry_run,
    )
    print(json.dumps(report, default=str))
    if args.report:
        with open(args.report, "w") as fh:
            json.dump(report, fh, indent=2, default=str)
    return 0


def _store_sketch_columns(spark, store: str) -> dict:
    """Which DISPLAY columns carry bloom / NDV / quantile sketches in
    the existing chunks — so maintenance rewrites keep building them
    (a rewrite that silently drops sketches breaks ANALYZE and Bloom
    pruning for the rewritten partitions). One metadata-scale pass
    over the chunk table's (column, stats) projection."""
    from pyspark.sql import functions as F

    from choetl_spark.ledger import (
        physical_name,
        read_encoded,
        read_manifest,
    )

    manifest = read_manifest(store) or {}
    display_of = {
        physical_name(m, c): c
        for c, m in manifest.items()
        if isinstance(m, dict)
    }
    rows = (
        read_encoded(spark, store)
        .select("column", "stats")
        .groupBy("column")
        .agg(
            F.max(F.col("stats").contains('"bloom"')).alias("b"),
            F.max(F.col("stats").contains('"hll"')).alias("h"),
            F.max(F.col("stats").contains('"qdigest"')).alias("q"),
        )
        .collect()
    )
    out = {"bloom": [], "ndv": [], "quantile": []}
    for r in rows:
        col = display_of.get(r["column"], r["column"])
        if r["b"]:
            out["bloom"].append(col)
        if r["h"]:
            out["ndv"].append(col)
        if r["q"]:
            out["quantile"].append(col)
    return {k: tuple(sorted(v)) for k, v in out.items()}


def optimize_store(
    spark,
    store: str,
    min_deleted_fraction: float = 0.1,
    target_file_bytes: int = 128 << 20,
    retain_last: int = 10,
    grace_sec: float = 0.0,
    cluster_by: str | None = None,
    profile: str = "speed",
    dry_run: bool = False,
    cfg=None,
) -> dict:
    """The maintenance chain as a callable (the job's testable core).
    Returns a per-step report; ``dry_run`` reports candidates from
    METADATA only (ledger + tombstone tables — never a data scan) and
    changes nothing. Pass the store's ``EncodeConfig`` as ``cfg`` to
    control rewrites exactly; otherwise the job infers the sketch
    columns (bloom/NDV/quantiles) from the existing chunks so
    maintenance never strips them."""
    from choetl_spark.deletes import compact_deletes, rewrite_partitions
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import (
        compact_store,
        expire_snapshots,
        ledger_state,
        min_time_travel_seq,
        vacuum,
    )

    report: dict = {"store": store, "dry_run": dry_run, "steps": {}}

    if not ledger_state(store)["max_seq"]:
        report["steps"]["skipped"] = "no ledger (store never committed)"
        return report

    def _expiry_target() -> tuple[int, int, int]:
        mx = ledger_state(store)["committed_seq"]
        fl = min_time_travel_seq(store)
        return mx, fl, max(mx - retain_last + 1, fl)

    if dry_run:
        # METADATA only, zero Spark jobs: positional tombstones come
        # from the pyarrow delete resolver; equality deletes are
        # reported as commit counts (counting their hits reads key
        # columns — a data scan a dry run must never pay)
        from choetl_spark.deletes import delete_positions

        max_epoch, floor, expire_to = _expiry_target()
        state = ledger_state(store)
        n_tomb = sum(
            len(a) for a in delete_positions(store, state).values()
        )
        eq_rows = len(state["eq_commits"])
        report["steps"]["rewrite_partitions"] = {
            "pending_delete_positions": n_tomb,
            "eq_delete_commits": eq_rows,
            "note": (
                "positional tombstones only; eq commits resolve "
                "lazily at rewrite time"
            ),
            "min_deleted_fraction": min_deleted_fraction,
        }
        report["steps"]["expire_snapshots"] = {
            "current_floor": floor,
            "would_raise_to": expire_to,
            "max_epoch": max_epoch,
        }
        return report

    if cfg is None:
        sk = _store_sketch_columns(spark, store)
        cfg = EncodeConfig(
            optimize_for=profile,
            bloom_columns=sk["bloom"],
            ndv_columns=sk["ndv"],
            quantile_columns=sk["quantile"],
        )
        report["inferred_sketch_columns"] = sk

    report["steps"]["rewrite_partitions"] = rewrite_partitions(
        spark, store, min_deleted_fraction=min_deleted_fraction, cfg=cfg
    )
    report["steps"]["compact_deletes"] = compact_deletes(spark, store)
    if cluster_by:
        from choetl_spark.clustering import rewrite_clustered

        report["steps"]["rewrite_clustered"] = rewrite_clustered(
            spark, store, [c.strip() for c in cluster_by.split(",")],
            cfg=cfg,
        )
    # expiry target is computed AFTER the rewrites: they commit new
    # epochs, and "retain the last N" means the N newest the user can
    # still see when maintenance finishes
    max_epoch, floor, expire_to = _expiry_target()
    if expire_to > floor:
        report["steps"]["expire_snapshots"] = expire_snapshots(
            spark, store, older_than_seq=expire_to,
            target_file_bytes=target_file_bytes, grace_sec=grace_sec,
        )
    else:
        report["steps"]["expire_snapshots"] = {
            "skipped": f"floor already {floor}, max epoch {max_epoch}"
        }
    report["steps"]["compact_store"] = compact_store(
        spark, store, target_file_bytes=target_file_bytes,
        grace_sec=grace_sec,
    )
    report["steps"]["vacuum"] = vacuum(spark, store, grace_sec=grace_sec)
    return report


if __name__ == "__main__":
    sys.exit(main())
