"""Sort / z-order clustering rewrite over the encoded store — the
Iceberg ``rewrite_data_files(strategy => 'sort' | 'zorder')`` action.

Why it matters at 10^12 rows: partition- and chunk-level zone maps
(``prune_partitions_by_stats``) are only as good as the data layout.
Straight out of ingest, partitions are host-hashed — every partition's
``[min, max]`` for a range-queried column spans nearly the whole
domain, so a range scan prunes nothing. One clustering rewrite makes
the zone maps DISJOINT: a range query then touches O(selectivity)
partitions instead of all of them, which is the difference between a
metadata-guided read and a full-store decode.

Layout only — logical content is untouched: the rewrite reads the
latest snapshot (tombstones applied, so it doubles as major
compaction), re-encodes under fresh partition ids range-clustered on
the requested key, and retires every old partition in the SAME replace
commit (``encode_with_resume(retire_part_ids=...)``). Time travel to
pre-rewrite epochs still reads the retired copies; a crash before the
commit leaves only invisible orphans (vacuum reclaims them).

Z-ORDER interleaves the bits of 2-4 order-preserving 16-bit column
buckets (Morton code — public technique, used by Iceberg/Delta for
multi-dimensional clustering), so range predicates on EVERY
participating column prune well, instead of only the leading sort key.
Bucket bounds come from the chunk-stat zone maps (a metadata-only
read); inexact bounds (truncated 64-char string prefixes) only soften
clustering quality, never correctness — the data itself is never
transformed.

Determinism note: range boundaries come from Spark's range
partitioner; a crashed rewrite re-runs from scratch (its orphan chunks
are invisible), so cross-attempt stability of the boundaries is not
required — unlike ingest part_ids, which stay data-derived.
"""

from __future__ import annotations

import dataclasses
import uuid
from functools import reduce

from pyspark.sql import Column, SparkSession, functions as F

_ZBITS = 16


def _str_prefix_int(col: Column, skip: int = 0) -> Column:
    """Order-preserving 7-char (ASCII) prefix -> bigint, after skipping
    ``skip`` leading chars. Skipping the zone-map bounds' COMMON prefix
    is what makes this discriminative — every value between min and max
    shares their common prefix (lexicographic order), and without the
    skip a corpus of ``https://...`` urls would bucket identically.
    7 chars at base 256 tops out near 1.8e16, safely inside int64;
    non-ASCII code points still map monotonically by their first UTF-8
    byte."""
    terms = [
        F.coalesce(F.ascii(F.substring(col, skip + i + 1, 1)), F.lit(0))
        * F.lit(256 ** (6 - i))
        for i in range(7)
    ]
    return reduce(lambda a, b: a + b, terms).cast("long")


def _bucket(col: Column, lo: int, hi: int, bits: int = _ZBITS) -> Column:
    """Order-preserving [lo, hi] -> [0, 2^bits); nulls sort first."""
    top = (1 << bits) - 1
    span = float(max(hi - lo, 1))
    scaled = ((col.cast("double") - float(lo)) / span * top).cast("long")
    return F.coalesce(
        F.least(F.lit(top), F.greatest(F.lit(0), scaled)), F.lit(0)
    )


def zorder_column(buckets: list[Column], bits: int = _ZBITS) -> Column:
    """Interleave k 16-bit buckets into one Morton key (bit i of bucket
    j lands at position i*k + (k-1-j)) — a pure Catalyst expression
    tree, whole-stage-codegen friendly, no Python in the hot path."""
    k = len(buckets)
    terms = []
    for j, b in enumerate(buckets):
        for i in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(b, i).bitwiseAND(F.lit(1)),
                    i * k + (k - 1 - j),
                )
            )
    return reduce(lambda a, c: a.bitwiseOR(c), terms)


def _stat_bounds(spark: SparkSession, out_dir: str, cols: list[str]) -> dict:
    """Per-column (lo, hi) ints from the chunk-stat zone maps — one
    metadata-only job, no payload read. Strings map through the 7-char
    prefix int; truncation is irrelevant here (bounds steer bucket
    granularity only)."""
    from choetl_spark.ledger import (
        _per_column_stats_frame,
        read_encoded,
        read_manifest,
    )

    manifest = read_manifest(out_dir) or {}
    rows = {
        r["column"]: r
        for r in _per_column_stats_frame(
            read_encoded(spark, out_dir).filter(F.col("column").isin(cols))
        ).collect()
    }

    def prefix_int(s: str, skip: int) -> int:
        b = s.encode("utf-8")[skip:skip + 7]
        return int.from_bytes(b + b"\x00" * (7 - len(b)), "big")

    out = {}
    for c in cols:
        r = rows.get(c)
        dtype = (manifest.get(c) or {}).get("dtype", "")
        if r is None:
            raise KeyError(f"column not in encoded store: {c}")
        if dtype.startswith(("string", "large_string")):
            lo_s, hi_s = r["min_str"] or "", r["max_str"] or ""
            # skip the bounds' common prefix — every value in [min, max]
            # shares it, so it carries zero discriminating bits
            skip = 0
            for a, b in zip(lo_s.encode(), hi_s.encode()):
                if a != b:
                    break
                skip += 1
            out[c] = (
                "str",
                prefix_int(lo_s, skip),
                prefix_int(hi_s, skip),
                skip,
            )
        elif r["min_val"] is not None:
            # stats store the int VIEW (micros for timestamps, days for
            # dates) — the kind drives the matching column expression
            kind = (
                "ts"
                if dtype.startswith("timestamp")
                else ("date" if dtype.startswith("date") else "int")
            )
            out[c] = (kind, int(r["min_val"]), int(r["max_val"]), 0)
        else:
            raise ValueError(
                f"z-order needs int-like or string columns with zone "
                f"maps; {c!r} ({dtype}) has neither"
            )
    return out


def rewrite_clustered(
    spark: SparkSession,
    out_dir: str,
    by: list[str],
    cfg=None,
    num_partitions: int | None = None,
    zorder: bool = False,
    run_id: str | None = None,
) -> dict:
    """Re-cluster the latest snapshot of the store on ``by`` (linear
    sort order, or Morton z-order across 2-4 columns with
    ``zorder=True``) — module docstring has the contract. Pass the
    store's ``EncodeConfig`` so re-encoded chunks keep their Bloom
    columns and codec profile."""
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import (
        encode_with_resume,
        ledger_state,
        scan_encoded,
    )

    cfg = cfg or EncodeConfig()
    if not by:
        raise ValueError("rewrite_clustered needs at least one column")
    if zorder and not 2 <= len(by) <= 4:
        raise ValueError("zorder takes 2-4 columns")
    state = ledger_state(out_dir)
    if not state["max_seq"]:
        raise ValueError(f"no committed store at {out_dir}")
    targets = sorted(state["live"])
    if not targets:
        return {"partitions_rewritten": 0, "partitions_after": 0}
    base = state["max_part"] + 1
    p = int(num_partitions or cfg.num_partitions)

    rows = scan_encoded(spark, out_dir)  # latest snapshot, tombstones out
    missing = [c for c in by if c not in rows.columns]
    if missing:
        raise KeyError(f"columns not in encoded store: {missing}")
    if zorder:
        bounds = _stat_bounds(spark, out_dir, by)
        # keep the interleaved key clear of int64's sign bit (a key in
        # bit 63 would wrap negative and fold the z-curve's ordering)
        bits = min(_ZBITS, 62 // len(by))
        buckets = []
        for c in by:
            fam, lo, hi, skip = bounds[c]
            if fam == "str":
                src = _str_prefix_int(F.col(c), skip)
            elif fam == "ts":
                src = F.unix_micros(F.col(c))  # matches the stats' view
            elif fam == "date":
                src = F.datediff(F.col(c), F.lit("1970-01-01"))
            else:
                src = F.col(c).cast("long")
            buckets.append(_bucket(src, lo, hi, bits))
        keyed = rows.withColumn("_zkey", zorder_column(buckets, bits))
        order = ["_zkey"]
    else:
        keyed = rows
        order = list(by)
    clustered = (
        keyed.repartitionByRange(p, *[F.col(c) for c in order])
        .sortWithinPartitions(*order)
        .withColumn(
            "part_id",
            (F.lit(int(base)) + F.spark_partition_id()).cast("long"),
        )
        .drop("_zkey")
    )
    cfg2 = dataclasses.replace(cfg, shuffle="none", num_partitions=p)
    rid = run_id or f"cluster-{uuid.uuid4().hex[:8]}"
    res = encode_with_resume(
        spark, clustered, out_dir, cfg2, run_id=rid,
        retire_part_ids=targets,
    )
    return {
        "partitions_rewritten": len(targets),
        "partitions_after": p,
        "cluster_by": list(by),
        "zorder": bool(zorder),
        **res,
    }
