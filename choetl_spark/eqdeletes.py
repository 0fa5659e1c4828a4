"""Equality deletes over the encoded store — the Iceberg v2
equality-delete contract, complementing the positional tombstones of
:mod:`choetl_spark.deletes`.

A positional delete (`delete_where`/`delete_matching`) pays a pruned
scan at WRITE time to pin exact row coordinates. An equality delete
(:func:`delete_by_key`) writes only the key VALUES:

    out_dir/_eq_deletes/<column>/<delete_id>.parquet   (value rows)

plus a ledger commit row (``status="eqdelete"``, appended on the driver
by :func:`choetl_spark.ledger.append_ledger_rows`) — O(keys) write
cost, no store scan at all. ``format("choetl")`` (and so ``scan_encoded`` and
``point_lookup``) loads the value sets and subtracts task-side; the
Spark-plan readers resolve them lazily (:func:`eq_delete_positions`):
decode just the key column of the partitions committed BEFORE the
delete (Iceberg's rule — an equality delete applies to rows whose data
sequence number is strictly lower than the delete's), Bloom-pruned,
and anti-join the matches like positional tombstones. A key
re-inserted AFTER the delete therefore survives, which is exactly what
makes streaming CDC upserts O(changed keys) instead of O(store).

Crash safety is the shared protocol: value files land BEFORE the
ledger row; readers semi-join on committed ``delete_id``s, so a crash
between the two leaves orphan value files that never delete anything.
Time travel composes (the commit is an epoch like any other);
``rewrite_partitions`` materializes equality deletes alongside
positional ones (rewritten survivors re-commit at a NEWER epoch than
the delete, so the delete correctly stops applying to them).

Scale shape at 10^12 docs: the read-time resolution decodes ONE narrow
column of the pre-delete partitions (zone-map/Bloom-pruned), exactly
the cost Iceberg readers pay to apply equality deletes, and it is paid
only while un-materialized equality deletes exist — `rewrite_partitions`
(or the next major compaction) retires it. The reference ChoETL has no
delete story at all (append/overwrite only, reference
src/ChoETL/File/ChoFileRecordConfiguration.cs:33).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

EQ_STATUS = "eqdelete"


def _eq_root(out_dir: str) -> str:
    return os.path.join(out_dir, "_eq_deletes")


def _eq_dir(out_dir: str, column: str) -> str:
    return os.path.join(_eq_root(out_dir), column)


def _write_eq_values(
    spark: SparkSession, out_dir: str, key: str, values
) -> tuple[str, int] | None:
    """Write the (value, delete_id) files for an equality delete —
    invisible orphans until a ledger ``eqdelete`` row commits the
    returned ``delete_id``. Returns None for an empty value set."""
    from choetl_spark.engine import normalize_predicate_value as _n

    if isinstance(values, DataFrame):
        vals_df = values.select(
            F.col(values.columns[0]).alias("value")
        ).distinct()
    else:
        norm = [_n(v) for v in values]
        if not norm:
            return None
        vals_df = spark.createDataFrame(
            [(v,) for v in norm]
        ).toDF("value").distinct()
    delete_id = uuid.uuid4().hex
    vals_df = vals_df.filter(F.col("value").isNotNull()).withColumn(
        "delete_id", F.lit(delete_id)
    )
    # value files BEFORE any ledger row (the shared commit protocol)
    vals_df.write.mode("append").parquet(_eq_dir(out_dir, key))
    n = spark.read.parquet(_eq_dir(out_dir, key)).filter(
        F.col("delete_id") == delete_id
    ).count()
    return delete_id, int(n)


def delete_by_key(
    spark: SparkSession,
    out_dir: str,
    key: str,
    values,
    run_id: str | None = None,
) -> dict:
    """Commit an equality delete: every CURRENT store row whose ``key``
    equals one of ``values`` becomes invisible from this commit's epoch
    onward; rows ingested later with the same key survive.

    ``values`` is a Python list of scalars or a single-column
    DataFrame (its first column is used — the distributed path for
    large CDC key sets). No store data is read or written — the cost is
    O(values), which is what makes this the right delete for
    high-churn keys; the read-time resolution cost is documented in
    the module docstring.

    Returns ``{"n_values", "run_seq", "delete_id"}``.
    """
    from choetl_spark.ledger import (
        append_ledger_rows,
        ledger_state,
        read_manifest,
    )

    manifest = read_manifest(out_dir)
    if manifest is not None and key not in manifest:
        raise ValueError(
            f"equality-delete column {key!r} is not a store column "
            f"(manifest has {sorted(manifest)})"
        )
    wrote = _write_eq_values(spark, out_dir, key, values)
    if wrote is None:
        return {"n_values": 0, "run_seq": None, "delete_id": None}
    delete_id, n = wrote
    next_seq = ledger_state(out_dir)["max_seq"] + 1
    # sentinel part_id -1 (readers resolve only "done" rows to chunks);
    # codec_map carries the delete column name
    append_ledger_rows(
        out_dir,
        [(-1, None, int(n), 0, 0, 0, key, run_id or delete_id,
          int(next_seq), EQ_STATUS, delete_id)],
    )
    return {"n_values": int(n), "run_seq": int(next_seq),
            "delete_id": delete_id}


def resolve_eq_key(
    manifest: dict | None, col: str, seq: int, current: dict | None = None
) -> str:
    """The name in ``current`` (default: the current schema) of an
    equality-delete key recorded as ``col`` at commit epoch ``seq``. A
    key renamed AFTER the delete resolves through the schema log's
    shared physical chunk key (so old deletes keep applying — the
    Iceberg field-id contract); a key DROPPED after the delete still
    refuses loudly (silently skipping it would resurrect rows)."""
    from choetl_spark.ledger import (
        manifest_as_of,
        manifest_data_items,
        physical_name,
    )

    if manifest is None:
        return col
    current = manifest if current is None else current
    entry = (manifest_as_of(manifest, seq) or {}).get(col)
    if col in current:
        # a live name alone is not proof: after "Z->A, delete on A,
        # A->B, C->A" the name 'A' now fronts C's chunks, and trusting
        # it would delete C's rows while resurrecting B's — require the
        # epoch entry's physical chunk key to match the current one
        if entry is None or physical_name(entry, col) == physical_name(
            current[col], col
        ):
            return col
    if entry is not None:
        phys = physical_name(entry, col)
        for c, m in manifest_data_items(current):
            if physical_name(m, c) == phys:
                return c
    raise KeyError(
        f"equality-delete key {col!r} (recorded at epoch {seq}) is no "
        "longer a store column and its physical key has no current "
        "name (dropped after the delete) — reading would resurrect "
        "deleted rows; rewrite the affected partitions first"
    )


def eq_delete_positions(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> DataFrame | None:
    """Resolve committed equality deletes visible at epoch ``as_of``
    to ``(part_id, row_pos)`` coordinates — the lazy half of the
    contract. Returns ``None`` when no equality deletes are committed
    (the common case: zero overhead).

    Only partitions committed STRICTLY BEFORE a delete's epoch are
    decoded (one narrow key column, ``with_pos``), Bloom-pruned by the
    value set when it is small enough to probe; matches anti-join out
    exactly like positional tombstones downstream."""
    from choetl_spark.engine import (
        bloom_probeable,
        decode_dataframe,
        prune_partitions_by_bloom,
    )
    from choetl_spark.ledger import (
        ledger_state,
        read_encoded,
        read_ledger,
        read_manifest,
    )

    # resolved on the driver with pyarrow: a store with no equality
    # deletes (the common case) answers with zero Spark jobs per scan
    state = ledger_state(out_dir, as_of)
    rows = state["eq_commits"]
    if not rows:
        return None
    if not os.path.isdir(_eq_root(out_dir)):
        raise RuntimeError(
            f"store at {out_dir} has committed equality-delete epochs "
            "but no readable _eq_deletes table — refusing to read (it "
            "would resurrect deleted rows)."
        )
    if not state["has_done"]:
        return None  # nothing ingested yet — no rows to delete
    ledger = read_ledger(spark, out_dir)
    done = ledger.filter(F.col("status") == "done")
    part_seq = done.groupBy("part_id").agg(
        F.min("run_seq").alias("_pseq")
    )
    manifest = read_manifest(out_dir)
    # keys recorded before a rename resolve to their CURRENT name via
    # the schema log (same physical chunk key); grouped by (current,
    # recorded) since the values table lives under the recorded name
    groups: dict[tuple[str, str], list] = {}
    for aid, seq, col in rows:
        groups.setdefault(
            (resolve_eq_key(manifest, col, int(seq)), col), []
        ).append((aid, seq))
    out: DataFrame | None = None
    for (cur, col), commits_c in groups.items():
        id_seq = spark.createDataFrame(
            commits_c, "delete_id string, _eq_seq long"
        )
        vals = (
            spark.read.parquet(_eq_dir(out_dir, col))
            .join(F.broadcast(id_seq), "delete_id")
            .select(F.col("value").alias("_eq_value"), "_eq_seq")
            .distinct()
        )
        max_seq = max(s for _, s in commits_c)
        # current_schema: positions are name-agnostic, so this internal
        # pass stays in the current schema even under as_of (the key
        # has already been resolved to its current name)
        enc = read_encoded(
            spark, out_dir, as_of=as_of, current_schema=True
        )
        # only partitions older than the newest delete can match
        eligible = part_seq.filter(F.col("_pseq") < max_seq).select(
            "part_id"
        )
        enc = enc.join(F.broadcast(eligible), "part_id", "semi")
        probe = [
            r["_eq_value"]
            for r in vals.select("_eq_value").limit(33).collect()
        ]
        if 0 < len(probe) <= 32 and bloom_probeable(probe):
            enc = prune_partitions_by_bloom(enc, cur, probe)
        decoded = decode_dataframe(
            enc, columns=[cur], manifest=manifest, with_pos=True
        )
        matched = (
            decoded.join(
                F.broadcast(
                    part_seq.select(
                        F.col("part_id").alias("_part_id"), "_pseq"
                    )
                ),
                "_part_id",
            )
            .join(
                F.broadcast(vals),
                (F.col(cur) == F.col("_eq_value"))
                & (F.col("_pseq") < F.col("_eq_seq")),
                "semi",
            )
            .select(
                F.col("_part_id").alias("part_id"),
                F.col("_row_pos").alias("row_pos"),
            )
        )
        out = matched if out is None else out.unionByName(matched)
    return out.distinct() if out is not None else None


def all_delete_positions(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> DataFrame | None:
    """Positional tombstones plus resolved equality deletes — the one
    position set every reader subtracts. Stores using neither pay
    nothing; stores using only positional deletes pay exactly what
    they did before equality deletes existed."""
    from choetl_spark.deletes import read_delete_positions

    pos = read_delete_positions(spark, out_dir, as_of=as_of)
    eq = eq_delete_positions(spark, out_dir, as_of=as_of)
    if pos is None:
        return eq
    if eq is None:
        return pos
    return pos.unionByName(eq).distinct()


def upsert_by_key(
    spark: SparkSession,
    out_dir: str,
    key: str,
    df: DataFrame,
    cfg=None,
    run_id: str | None = None,
    epoch: int | None = None,
) -> dict:
    """MERGE by key with O(changed keys) write cost — the equality-
    delete upsert. Where :func:`choetl_spark.deletes.upsert` scans the
    store's key column at write time to pin positional tombstones,
    this writes only the incoming keys as an equality delete and rides
    its ``eqdelete`` commit in the ingest's single ledger append:

      - both halves become visible at ONE epoch (atomic MERGE — no
        snapshot where a matched key has neither row);
      - the strict data-seq < delete-seq rule means the delete hides
        every PRE-upsert copy of the keys while this epoch's own
        inserts (same run_seq) survive;
      - write cost is O(incoming batch), independent of store size —
        the per-scan resolution cost it defers is the documented
        equality-delete trade (materialize via ``rewrite_partitions``
        on schedule).

    RETRY contract (same as the positional upsert): a crashed run must
    pass back the same ``run_id`` and ``epoch``. A retry whose first
    attempt already committed its ``eqdelete`` row skips writing a
    second one (re-deleting at a LATER epoch would hide the first
    attempt's own inserts), and the ledger resume skips committed
    partitions.

    Returns the encode summary plus ``upsert_epoch`` and ``n_values``.
    """
    from choetl_spark.deletes import next_free_epoch
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, ledger_state
    from choetl_spark.partitioning import plan_partitions

    cfg = cfg or EncodeConfig()
    fresh_epoch = epoch is None
    if fresh_epoch:
        epoch = next_free_epoch(spark, out_dir, cfg.num_partitions)
    rid = run_id or f"equpsert-{epoch}"
    eq_commits = None
    n_vals = 0
    prior = ledger_state(out_dir)["runs"].get(rid, {}).get(EQ_STATUS)
    if prior is not None:
        n_vals = int(prior)  # first attempt's delete stands
    else:
        wrote = _write_eq_values(spark, out_dir, key, df.select(key))
        if wrote is not None:
            delete_id, n_vals = wrote
            eq_commits = [(delete_id, n_vals, key)]
    planned = plan_partitions(
        df,
        cfg.num_partitions,
        key_col=cfg.key_col,
        by_host=cfg.partition_by_host,
        hot_factor=cfg.hot_factor,
        salt_buckets=cfg.salt_buckets,
    ).withColumn(
        "part_id",
        F.col("part_id") + F.lit(int(epoch)) * F.lit(cfg.num_partitions),
    )
    enc_res = encode_with_resume(
        spark, planned, out_dir, cfg, run_id=rid,
        eq_delete_commits=eq_commits,
    )
    if fresh_epoch and enc_res["partitions_already_done"]:
        raise RuntimeError(
            "upsert epoch collided with existing partition ids — some "
            "rows were resume-skipped; the store's ledger is "
            "inconsistent with its id layout (pass an explicit unused "
            "epoch)"
        )
    return {**enc_res, "n_values": n_vals, "upsert_epoch": int(epoch)}
