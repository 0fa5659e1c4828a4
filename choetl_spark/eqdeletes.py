"""Equality deletes over the encoded store — the Iceberg v2
equality-delete contract, complementing the positional tombstones of
:mod:`choetl_spark.deletes`.

A positional delete (`delete_where`/`delete_matching`) pays a pruned
scan at WRITE time to pin exact row coordinates. An equality delete
(:func:`delete_by_key`) writes only the key VALUES:

    out_dir/_eq_deletes/<column>/<delete_id>.parquet   (value rows)

plus a ledger commit row (``status="eqdelete"``), both published on the
driver with pyarrow (:func:`choetl_spark.ledger.publish_table`) — O(keys)
write cost, no store scan. :func:`eq_value_maps` loads the committed
value sets cast to the key column's type (so Spark-written INT96
timestamps match too), and the reader's ``_decode_split`` subtracts
them from rows of partitions committed BEFORE the delete (Iceberg's
rule: data-seq < delete-seq). A key re-inserted AFTER the delete
therefore survives, which is what makes streaming CDC upserts O(changed
keys) instead of O(store).

Crash safety is the shared protocol: value files land BEFORE the
ledger row; readers keep only committed ``delete_id``s, so a crash
between the two leaves orphan value files that never delete anything.
Time travel composes (the commit is an epoch like any other);
``rewrite_partitions`` materializes equality deletes alongside
positional ones (rewritten survivors re-commit at a NEWER epoch than
the delete, so the delete correctly stops applying to them).

Scale shape at 10^12 docs: reads of the pre-delete partitions decode
the key column too, exactly the cost Iceberg readers pay to apply
equality deletes, paid only until `rewrite_partitions` (or the next
major compaction) materializes them. The reference ChoETL has no
delete story at all (append/overwrite only, reference
src/ChoETL/File/ChoFileRecordConfiguration.cs:33).
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from choetl_spark.codecs.base import str_to_type

EQ_STATUS = "eqdelete"


def _eq_root(out_dir: str) -> str:
    return os.path.join(out_dir, "_eq_deletes")


def _eq_dir(out_dir: str, column: str) -> str:
    return os.path.join(_eq_root(out_dir), column)


def _key_type(entry: dict | None) -> pa.DataType | None:
    """The Arrow type a key column's manifest ``entry`` decodes to
    (``None``, values kept as written: no entry, or nested/decimal)."""
    if entry and not entry.get("logical"):
        return str_to_type(entry["dtype"])
    return None


def _write_eq_values(out_dir: str, key: str, values) -> tuple[str, int] | None:
    """Publish the distinct non-null ``values`` (a DataFrame's first
    column is collected) in the key column's type — a value that does
    not cast raises — as ``<delete_id>.parquet``: an invisible orphan
    until a ledger ``eqdelete`` row commits the returned ``delete_id``.
    Returns None for an empty value set."""
    from choetl_spark.engine import normalize_predicate_value as _n
    from choetl_spark.ledger import publish_table, read_manifest

    typ = _key_type((read_manifest(out_dir) or {}).get(key))
    if isinstance(values, DataFrame):
        vals = values.select(values.columns[0]).distinct().toArrow()[0]
    else:
        vals = pa.array([_n(v) for v in values])
    if typ is not None:
        vals = vals.cast(typ)
    vals = pc.unique(pc.drop_null(vals))
    if not len(vals):
        return None
    delete_id = uuid.uuid4().hex
    table = pa.table({"value": vals, "delete_id": [delete_id] * len(vals)})
    publish_table(_eq_dir(out_dir, key), table, f"{delete_id}.parquet")
    return delete_id, len(vals)


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
    wrote = _write_eq_values(out_dir, key, values)
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


def eq_value_maps(out_dir: str, state: dict, view: dict) -> dict[str, dict]:
    """Committed equality-delete value sets of the snapshot ``state``
    describes, per key column: ``{col: {value: newest delete epoch}}``
    — read on the driver with pyarrow (zero Spark jobs; the value
    tables are O(deleted keys), tiny by the eq-delete write contract).
    A row dies iff its partition's first-done epoch is STRICTLY BEFORE
    the newest delete epoch naming its key value; ``format("choetl")``
    splits carry the sets. Keys resolve into ``view``, the reader's
    schema, through :func:`resolve_eq_key`; values are cast to the
    key's type there, so they equal decoded values."""
    from choetl_spark.ledger import _read_parquet_dir, read_manifest

    if not state["eq_commits"]:
        return {}
    manifest = read_manifest(out_dir)
    # grouped by (reader-schema name, recorded name): the value table
    # lives under the recorded name on disk
    by_col: dict[tuple[str, str], list[tuple[str, int]]] = {}
    for did, seq, col in state["eq_commits"]:
        by_col.setdefault(
            (resolve_eq_key(manifest, col, int(seq), view), col), []
        ).append((did, seq))
    out: dict[str, dict] = {}
    for (cur, col), commits in by_col.items():
        typ = _key_type(view.get(cur))
        t = _read_parquet_dir(
            _eq_dir(out_dir, col), ["value", "delete_id"],
            None if typ is None else {"value": typ},
        )
        if t is None:
            raise RuntimeError(
                f"store at {out_dir} has committed equality-delete "
                f"epochs for column {col!r} but no readable value "
                "table — refusing to read (it would resurrect rows)"
            )
        seq_of = dict(commits)
        vmap = out.setdefault(cur, {})
        for did, val in zip(
            t.column("delete_id").to_pylist(),
            t.column("value").to_pylist(),
        ):
            s = seq_of.get(did)
            if s is not None and vmap.get(val, 0) < s:
                vmap[val] = s
    return out


def eq_hittable_parts(
    out_dir: str, state: dict, as_of: int | None = None, after_seq: int = 0
) -> tuple[list[str], set[int]]:
    """``(keys, parts)``: the key columns (names at ``as_of``) of the
    equality deletes ``state`` commits after ``after_seq``, and the
    partitions they can hit — committed before the delete's epoch,
    storing its physical key in their ledger ``codec_map`` (a legacy
    row without one counts as storing it) and, for a value set small
    enough to probe (at most 32 strings), holding a key chunk whose
    Bloom filter may contain one of the values. Metadata only (pyarrow,
    zero Spark jobs)."""
    from choetl_spark.engine import bloom_probeable
    from choetl_spark.ledger import (
        manifest_as_of,
        physical_name,
        read_manifest,
    )

    commits = [c for c in state["eq_commits"] if c[1] > after_seq]
    if not commits:
        return [], set()
    view = manifest_as_of(read_manifest(out_dir), as_of)
    vmaps = eq_value_maps(out_dir, {**state, "eq_commits": commits}, view)
    parts: set[int] = set()
    for cur, vmap in vmaps.items():
        phys = physical_name(view[cur], cur)
        newest = max(vmap.values(), default=0)
        cand = {
            p for p, cmap in state["codec_maps"].items()
            if state["part_seq"].get(p, 1) < newest
            and (not cmap or phys in {c["column"] for c in json.loads(cmap)})
        }
        vals = list(vmap)
        if cand and len(vals) <= 32 and bloom_probeable(vals):
            cand = _bloom_may_hold(
                out_dir, {p: state["live"][p] for p in cand}, phys, vals
            )
        parts |= cand
    return sorted(vmaps), parts


def _bloom_may_hold(
    out_dir: str, live: dict, phys: str, values: list
) -> set[int]:
    """The partitions of ``live`` (``{part_id: committed attempt ids}``)
    with a chunk of physical column ``phys`` whose Bloom filter may
    contain one of ``values`` (a chunk without a Bloom always may) —
    the reader's chunk-metadata planning read, never a payload. A
    partition without such a chunk holds no key value, so no equality
    delete hits it."""
    from choetl_spark.datasource import _bloom_kept, chunk_rows

    t = chunk_rows(out_dir, live, {phys}, stats=True)
    kept = _bloom_kept(t, [phys] * t.num_rows, {phys: values})
    return {p for p, k in zip(t.column("part_id").to_pylist(), kept) if k}


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
        wrote = _write_eq_values(out_dir, key, df.select(key))
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
