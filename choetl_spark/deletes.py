"""Row-level deletes over the encoded store: the Iceberg v2
positional-delete (merge-on-read) contract.

The chunk store is append-only — committed partitions are immutable,
which is what makes resume, time travel, and vacuum sound. Row-level
deletes therefore never rewrite data: :func:`delete_where` reads the
matching rows' hidden ``(_part_id, _row_pos)`` coordinates through
``format("choetl")`` (column-pruned, Bloom-skipped, kernel-masked),
publishes them on the driver as ONE file of TOMBSTONES

    (part_id, row_pos, del_seq, delete_id)

in ``out_dir/_deletes`` (:func:`choetl_spark.ledger.publish_table`), and
commits them with one ledger row of ``status="delete"`` at the next
``run_seq`` epoch (:func:`choetl_spark.ledger.append_ledger_rows`) —
pyarrow writes, no Spark job.

One delete-subtraction path: :func:`delete_positions` (with
:func:`choetl_spark.eqdeletes.eq_value_maps`) resolves a snapshot's
deletes on the driver with pyarrow, and ``format("choetl")`` tasks drop
those rows as they decode — the in-memory positional-delete-bitmap
shape Iceberg readers use per data file. Every library path reads rows
there; :func:`deleted_counts` answers paths that need only counts.

Crash safety mirrors the chunk commit protocol exactly: tombstone files
are written BEFORE the ledger row, and readers keep only tombstones
whose ``delete_id`` the ledger commits (the set
:func:`choetl_spark.ledger.ledger_state` resolves on the driver), so a
crash between the two leaves orphan tombstone files that never delete
anything (and a retry re-computes them under a fresh ``delete_id``).

Time travel composes: a delete commits at its own ledger epoch, so
``as_of`` an earlier epoch still sees the rows, ``as_of`` a later one
does not — deleting is a snapshot like any other. (Iceberg v2 calls
these "position delete files" attached to a snapshot; the reference
ChoETL has no delete story at all — files are append/overwrite only,
reference src/ChoETL/File/ChoFileRecordConfiguration.cs:33.)

Scale shape at 10^12 docs: the tombstone table is O(rows ever deleted),
read once per scan on the driver; data chunks are untouched, so a
delete of k rows costs O(key chunks decoded) + O(k) written —
independent of table size. A tombstone backlog that outgrows the driver
belongs in a partition rewrite (major compaction), the same escalation
Iceberg prescribes; :func:`compact_deletes` handles the small-file side
(many tiny delete commits -> one file) without changing visibility.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F


def _deletes_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_deletes")


def refuse_lost_tombstones(out_dir: str) -> None:
    """For a store with delete commits but no readable ``_deletes``
    table: raise (reading would resurrect every deleted row) unless the
    expiry sidecar exists — ``expire_snapshots`` legitimately drops the
    table, and writes its sidecar first."""
    from choetl_spark.ledger import _expiry_path

    if not os.path.exists(_expiry_path(out_dir)):
        raise RuntimeError(
            f"store at {out_dir} has committed delete epochs in "
            "its ledger but no readable _deletes tombstone table "
            "— refusing to read (it would resurrect deleted "
            "rows). Restore the _deletes directory or expire the "
            "delete snapshots explicitly."
        )


def delete_positions(out_dir: str, state: dict) -> dict[int, "object"]:
    """Committed positional tombstones per ``part_id`` (sorted unique
    numpy row positions) of the snapshot ``state`` describes
    (:func:`choetl_spark.ledger.ledger_state`) — the broadcast-bitmap
    shape, read on the driver with pyarrow (zero Spark jobs). Together
    with :func:`choetl_spark.eqdeletes.eq_value_maps` it is the one
    delete resolver: ``format("choetl")`` splits carry its answer, and
    counting callers read it directly.

    Orphan tombstone files (a crashed :func:`delete_where`) never
    count: only rows whose ``delete_id`` the snapshot commits are kept,
    and duplicate rows (the survivable crash state of
    :func:`replace_tombstone_files`) collapse. A store whose ledger
    carries delete commits but whose ``_deletes`` table cannot be read
    raises (:func:`refuse_lost_tombstones`)."""
    import numpy as np

    from choetl_spark.ledger import _read_parquet_dir

    if not state["delete_ids"]:
        return {}
    t = _read_parquet_dir(_deletes_dir(out_dir))
    if t is None:
        refuse_lost_tombstones(out_dir)
        return {}
    ids = t.column("delete_id").to_pylist()
    keep = [i for i, d in enumerate(ids) if d in state["delete_ids"]]
    if not keep:
        return {}
    t = t.take(keep)
    pid = t.column("part_id").to_numpy(zero_copy_only=False)
    pos = t.column("row_pos").to_numpy(zero_copy_only=False)
    out: dict[int, object] = {}
    order = np.argsort(pid, kind="stable")
    pid, pos = pid[order], pos[order]
    bounds = np.flatnonzero(np.r_[True, pid[1:] != pid[:-1], True])
    for i in range(len(bounds) - 1):
        s, e = bounds[i], bounds[i + 1]
        out[int(pid[s])] = np.unique(pos[s:e])
    return out


def deleted_counts(
    spark: SparkSession,
    out_dir: str,
    as_of: int | None = None,
    parts=None,
) -> dict[int, int]:
    """``{part_id: rows deleted}`` for the live partitions at ``as_of``
    that have deleted rows (``parts`` limits the answer). Positional
    counts come from :func:`delete_positions`. A partition an equality
    delete can hit is counted exactly as its ledger row count minus the
    rows ``format("choetl")`` returns for it (both kinds subtracted);
    only the partitions :func:`choetl_spark.eqdeletes.eq_hittable_parts`
    names are read, and of them only the key columns."""
    from choetl_spark.datasource import load_store
    from choetl_spark.eqdeletes import eq_hittable_parts
    from choetl_spark.ledger import ledger_state

    state = ledger_state(out_dir, as_of)
    live = {
        p: n for p, n in state["live_rows"].items()
        if parts is None or p in parts
    }
    counts = {
        p: len(a)
        for p, a in delete_positions(out_dir, state).items()
        if p in live
    }
    keys, hit = eq_hittable_parts(out_dir, state, as_of)
    hit = sorted(hit & set(live))
    if hit:
        kept = dict(
            load_store(spark, out_dir, [*keys, "_part_id"], as_of=as_of)
            .filter(F.col("_part_id").isin(hit))
            .groupBy("_part_id")
            .count()
            .collect()
        )
        for p in hit:
            counts[p] = live[p] - kept.get(p, 0)
    return {p: n for p, n in counts.items() if n}


def deletes_changed(
    spark: SparkSession,
    out_dir: str,
    from_seq: int,
    to_seq: int | None = None,
    parts=None,
) -> set[int]:
    """The partitions live at ``to_seq`` (default: latest; ``parts``
    limits them) whose deleted rows differ from those at ``from_seq``
    (``0``: before any delete) — the one answer ``rollback_to``,
    ``read_changes`` and ``agg_encoded`` share. A partition's deleted
    rows only grow, so changed tombstones (:func:`delete_positions`)
    settle it with no read; of the rest, those an equality delete
    committed in the range can hit are changed iff their
    :func:`deleted_counts` differ at the two epochs."""
    import numpy as np

    from choetl_spark.eqdeletes import eq_hittable_parts
    from choetl_spark.ledger import ledger_state

    state = ledger_state(out_dir, to_seq)
    live = set(state["live"])
    parts = live if parts is None else live & set(parts)
    old = (
        delete_positions(out_dir, ledger_state(out_dir, from_seq))
        if from_seq else {}
    )
    new = delete_positions(out_dir, state)
    none = np.empty(0, dtype=np.int64)
    dirty = {
        p for p in parts
        if not np.array_equal(old.get(p, none), new.get(p, none))
    }
    late = (eq_hittable_parts(out_dir, state, to_seq, from_seq)[1]
            & parts) - dirty
    if late:
        now_n = deleted_counts(spark, out_dir, to_seq, late)
        then_n = (
            deleted_counts(spark, out_dir, from_seq, late) if from_seq else {}
        )
        dirty |= {p for p in late if now_n.get(p) != then_n.get(p)}
    return dirty


def delete_where(
    spark: SparkSession,
    out_dir: str,
    equals: dict | None = None,
    ranges: dict | None = None,
    run_id: str | None = None,
) -> dict:
    """Delete the rows matching the predicates from the encoded store —
    merge-on-read: data chunks are untouched; matching row coordinates
    are committed as tombstones readers subtract. Predicates are the
    ``scan_encoded`` vocabulary: ``equals={col: value}`` and
    ``ranges={col: (lo, hi)}``, ANDed together.

    The rows come from ``scan_encoded`` of the hidden ``(_part_id,
    _row_pos)`` columns: only the PREDICATE columns decode (Bloom chunk
    skipping and kernel masks as in any filtered read), and rows a
    committed delete — positional or equality — already hides are not
    returned, so re-running the same delete is a no-op (returns
    ``rows_deleted=0``).

    Returns ``{"rows_deleted", "partitions_touched", "run_seq",
    "delete_id"}``. The commit is the ledger append — a crash before it
    leaves invisible orphan tombstone files.
    """
    from choetl_spark.ledger import scan_encoded

    if not equals and not ranges:
        raise ValueError("delete_where needs at least one predicate")
    rows = scan_encoded(
        spark, out_dir, ["_part_id", "_row_pos"], ranges=ranges,
        equals=equals,
    )
    return _commit_tombstones(out_dir, rows, run_id)


def delete_matching(
    spark: SparkSession,
    out_dir: str,
    key: str,
    keys_df: DataFrame,
    run_id: str | None = None,
    exclude_part_range: tuple | None = None,
    defer_commit: bool = False,
) -> dict:
    """Delete every store row whose ``key`` appears in ``keys_df`` —
    the frame-predicate shape of :func:`delete_where` and the delete
    half of :func:`upsert`. One ``format("choetl")`` read of the KEY
    column (never payloads) and its hidden coordinates, semi-joined
    against the broadcast key set; at 10^12 docs that is one
    narrow-column pass + O(matches) tombstones, the same cost an
    Iceberg MERGE pays for its match scan.

    ``exclude_part_range=(lo, hi)`` leaves partitions with
    ``lo <= part_id < hi`` untouched — :func:`upsert` passes its own
    epoch's partition range so a RETRY never tombstones the rows its
    first attempt already ingested."""
    from choetl_spark.datasource import load_store
    from choetl_spark.ledger import ledger_state

    rows = load_store(spark, out_dir, [key, "_part_id", "_row_pos"])
    if exclude_part_range is not None:
        # an IN list of the ids outside the range prunes the read's
        # splits, so the excluded partitions never decode
        lo, hi = exclude_part_range
        rows = rows.filter(F.col("_part_id").isin(sorted(
            p for p in ledger_state(out_dir)["live"] if not lo <= p < hi
        )))
    rows = rows.join(
        F.broadcast(keys_df.select(key).distinct()), key, "semi"
    )
    return _commit_tombstones(out_dir, rows, run_id, defer_commit=defer_commit)


def _commit_tombstones(
    out_dir: str,
    rows: DataFrame,
    run_id: str | None,
    defer_commit: bool = False,
) -> dict:
    """Shared delete commit: collect the ``(_part_id, _row_pos)`` of
    ``rows`` — reader rows, so no already-deleted row is among them —
    and publish them as one tombstone file (pyarrow, on the driver; the
    collect is the only Spark job), THEN append the ledger
    ``status="delete"`` row at the next epoch with
    :func:`choetl_spark.ledger.append_ledger_rows` — the crash window
    between the two leaves orphans readers never see.

    ``defer_commit=True`` writes the tombstone FILE but skips the
    ledger append (``run_seq`` comes back ``None``): the tombstones
    stay invisible orphans until the caller commits the returned
    ``delete_id`` itself — :func:`upsert` rides it in
    ``encode_with_resume``'s single ledger append so the delete half
    and the insert half become visible at the SAME epoch (an atomic
    MERGE snapshot; separate epochs would expose — and ``as_of`` time
    travel would permanently preserve — a state where matched keys
    have neither their old nor their new row)."""
    from choetl_spark.ledger import (
        append_ledger_rows,
        ledger_state,
        publish_table,
    )

    next_seq = ledger_state(out_dir)["max_seq"] + 1
    delete_id = uuid.uuid4().hex
    # del_seq in the FILES is informational (visibility is governed by
    # the ledger commit row's run_seq); a deferred commit doesn't know
    # its final epoch yet
    file_seq = -1 if defer_commit else next_seq
    tomb = rows.select(
        F.col("_part_id").alias("part_id"),
        F.col("_row_pos").alias("row_pos"),
        F.lit(file_seq).cast("long").alias("del_seq"),
        F.lit(delete_id).alias("delete_id"),
    ).toArrow()
    n, parts = tomb.num_rows, len(pc.unique(tomb["part_id"]))
    if n:
        publish_table(_deletes_dir(out_dir), tomb, f"{delete_id}.parquet")
    run_seq = None
    if n and not defer_commit:
        # part_id -1: a delete spans partitions; readers resolve only
        # status="done" rows to chunks, so the sentinel is inert
        append_ledger_rows(
            out_dir,
            [(-1, None, n, 0, 0, 0, None, run_id or delete_id,
              int(next_seq), "delete", delete_id)],
        )
        run_seq = int(next_seq)
    return {
        "rows_deleted": n,
        "partitions_touched": parts,
        "run_seq": run_seq,
        "delete_id": delete_id,
    }


def next_free_epoch(
    spark: SparkSession, out_dir: str, num_partitions: int
) -> int:
    """First epoch whose partition-id range
    ``[epoch*num_partitions, (epoch+1)*num_partitions)`` cannot collide
    with any existing partition id OR commit sequence. The epoch must
    clear BOTH: a scan-local ingest uses one id per input split, which
    can exceed ``num_partitions``, and a colliding id would be silently
    resume-skipped, dropping rows. Shared by :func:`upsert` and
    ``streaming.upsert_sink`` — the collision guard must not drift
    between the batch and streaming paths."""
    from choetl_spark.ledger import ledger_state

    state = ledger_state(out_dir)
    return max(
        state["max_seq"],
        (state["max_part"] + num_partitions) // num_partitions,
    ) + 1


def upsert(
    spark: SparkSession,
    out_dir: str,
    df: DataFrame,
    key: str,
    cfg=None,
    epoch: int | None = None,
    run_id: str | None = None,
) -> dict:
    """MERGE (upsert) into the encoded store: tombstone existing rows
    whose ``key`` appears in ``df`` (:func:`delete_matching`), then
    ingest ``df`` into a fresh epoch-namespaced partition range —
    merge-on-read end to end, no data rewrite (the Iceberg
    ``MERGE INTO ... WHEN MATCHED DELETE+INSERT`` shape).

    ATOMIC: both halves commit in ONE ledger append at one epoch — the
    tombstone files are written first as invisible orphans
    (``defer_commit``) and their ``status="delete"`` row rides in the
    ingest's append (``delete_commits``), exactly like Iceberg's
    single-snapshot MERGE. Concurrent readers and ``as_of`` time travel
    see either the full pre-upsert state or the full post-upsert state,
    never deleted-but-not-reinserted keys.

    ``epoch`` namespaces the new partition ids
    (``epoch * num_partitions + planned_id``, the streaming sink's
    scheme) so they can never collide with — and be silently skipped
    as "already done" by — any prior run's ids. Defaults to the next
    ledger ``run_seq``; a RETRY of a crashed upsert must pass the same
    ``epoch`` and ``run_id`` back so the ledger resume skips exactly
    the partitions that committed. The delete half excludes this
    epoch's own partition range, so a retry after a (partial) ingest
    commit re-tombstones only PRE-upsert copies — never the rows the
    first attempt already ingested.
    """
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume
    from choetl_spark.partitioning import plan_partitions

    cfg = cfg or EncodeConfig()
    fresh_epoch = epoch is None
    if fresh_epoch:
        epoch = next_free_epoch(spark, out_dir, cfg.num_partitions)
    del_res = delete_matching(
        spark, out_dir, key, df.select(key), run_id=run_id,
        # a retry must never tombstone the rows the first attempt's
        # ingest half already committed into this epoch's range
        exclude_part_range=(
            int(epoch) * cfg.num_partitions,
            (int(epoch) + 1) * cfg.num_partitions,
        ),
        # tombstone files only — the ledger "delete" row rides in the
        # ingest's single append below, so both MERGE halves become
        # visible at the SAME epoch (no window, and no as_of snapshot,
        # where matched keys have neither their old nor their new row)
        defer_commit=True,
    )
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
        spark, planned, out_dir, cfg, run_id=run_id or f"upsert-{epoch}",
        delete_commits=(
            [(del_res["delete_id"], del_res["rows_deleted"])]
            if del_res["rows_deleted"]
            else None
        ),
    )
    if fresh_epoch and enc_res["partitions_already_done"]:
        raise RuntimeError(
            "upsert epoch collided with existing partition ids — some "
            "rows were resume-skipped; the store's ledger is "
            "inconsistent with its id layout (pass an explicit unused "
            "epoch)"
        )
    return {**enc_res, "rows_deleted": del_res["rows_deleted"],
            "upsert_epoch": int(epoch)}


def _reencode(
    spark: SparkSession, out_dir: str, rows: DataFrame, targets: list[int],
    cfg, run_id: str, retire: list[int],
) -> dict:
    """Re-encode the reader ``rows`` (data columns plus ``_part_id``)
    of partitions ``targets`` under fresh ids above every id the ledger
    has seen, retiring ``retire`` in the same ledger append."""
    from choetl_spark.ledger import encode_with_resume, ledger_state

    base = ledger_state(out_dir)["max_part"] + 1
    id_map = F.create_map(
        *[
            x
            for old, new in zip(targets, range(base, base + len(targets)))
            for x in (F.lit(int(old)), F.lit(int(new)))
        ]
    )
    rows = rows.filter(F.col("_part_id").isin(targets)).withColumn(
        "part_id", id_map[F.col("_part_id")].cast("long")
    )
    return encode_with_resume(
        spark, rows.drop("_part_id"), out_dir, cfg, run_id=run_id,
        retire_part_ids=retire,
    )


def rewrite_partitions(
    spark: SparkSession,
    out_dir: str,
    min_deleted_fraction: float = 0.1,
    cfg=None,
    run_id: str | None = None,
) -> dict:
    """Materialize tombstones — major compaction, the copy-on-write
    escalation merge-on-read eventually needs (Iceberg's
    ``rewrite_data_files`` over partitions with position deletes).

    Partitions whose deleted fraction reaches ``min_deleted_fraction``
    are re-encoded WITHOUT their deleted rows under fresh partition
    ids, and the old copies are retired in the SAME ledger append
    (``encode_with_resume(retire_part_ids=...)``) — one commit swaps
    readers from old+tombstones to clean new chunks, so there is no
    duplicate/missing window, and a crash before the commit leaves only
    invisible orphan chunks. Time travel is intact: ``as_of`` before
    the rewrite epoch still reads the retired copies with their
    tombstones applied (snapshot EXPIRY, not rewrite, reclaims them).

    Candidates come from :func:`deleted_counts`, and the survivors are
    the targets' ``format("choetl")`` rows, so equality deletes
    materialize too (a survivor re-commits at a NEWER epoch than every
    delete, so an eq-deleted row left in would resurrect). Cost is
    O(rows of rewritten partitions). Pass the store's ``EncodeConfig``
    so re-encoded partitions keep their Bloom columns and codec
    profile."""
    from choetl_spark.datasource import load_store
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import (
        ledger_state,
        manifest_data_items,
        read_manifest,
    )

    live_rows = ledger_state(out_dir)["live_rows"]
    targets = sorted(
        p
        for p, n in deleted_counts(spark, out_dir).items()
        if n >= min_deleted_fraction * live_rows[p]
    )
    if not targets:
        return {"partitions_rewritten": 0, "rows_materialized": 0}
    names = [c for c, _ in manifest_data_items(read_manifest(out_dir))]
    rid = run_id or f"rewrite-{uuid.uuid4().hex[:8]}"
    res = _reencode(
        spark, out_dir, load_store(spark, out_dir, [*names, "_part_id"]),
        targets, cfg or EncodeConfig(), rid, targets,
    )
    n_rows = ledger_state(out_dir)["runs"].get(rid, {}).get("done", 0)
    return {
        "partitions_rewritten": len(targets),
        "rows_materialized": int(n_rows),
        **res,
    }


def rollback_to(
    spark: SparkSession,
    out_dir: str,
    to_seq: int,
    cfg=None,
    run_id: str | None = None,
) -> dict:
    """Roll the CURRENT table state back to snapshot ``to_seq`` — the
    Iceberg ``rollback_to_snapshot`` action, expressed as a
    COMPENSATING replace commit (git-revert, not history erasure): one
    new epoch whose net effect makes the latest state equal the
    ``as_of=to_seq`` state. History in between stays time-travel
    readable until ``expire_snapshots`` reclaims it, and the rollback
    itself is one ledger append — readers see either the pre- or the
    post-rollback table, never a partial undo.

    Three kinds of post-``to_seq`` churn are compensated:

    - partitions ADDED after ``to_seq`` → retired (metadata only);
    - partitions RETIRED after ``to_seq`` (a rewrite/compaction/
      clustering pass) → their ``as_of=to_seq`` content is re-encoded
      under fresh partition ids (their chunks still exist — snapshot
      expiry can only reclaim below the readable floor, and
      ``to_seq`` is validated against that floor);
    - partitions visible at both epochs but with rows DELETED after
      ``to_seq`` (positional or equality) → re-encoded from their
      ``as_of=to_seq`` rows and the stale copies retired, so the late
      deletes die with them.

    The restored rows are ``format("choetl")`` rows at ``to_seq`` under
    the CURRENT column names (:func:`choetl_spark.ledger.
    current_names_at`): rollback restores data, not schema, as in
    Iceberg. Cost is O(rows churned since ``to_seq``) — a pure-append
    history rolls back with a metadata-only commit. Pass the store's
    ``EncodeConfig`` so re-encoded partitions keep their Bloom/NDV
    columns and codec profile.
    """
    from choetl_spark.datasource import load_store
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import (
        append_ledger_rows,
        current_names_at,
        ledger_state,
        min_time_travel_seq,
        read_manifest,
    )

    to_seq = int(to_seq)
    state = ledger_state(out_dir)
    if not state["max_seq"]:
        raise ValueError(f"no ledger at {out_dir}; nothing to roll back")
    floor = min_time_travel_seq(out_dir)
    if to_seq < floor:
        raise ValueError(
            f"cannot roll back to expired snapshot {to_seq}; the oldest "
            f"readable epoch is {floor} (expire_snapshots reclaimed "
            "earlier history)"
        )
    latest = state["max_seq"]
    out = {
        "rolled_back_to": to_seq,
        "rollback_epoch": None,
        "partitions_retired": 0,
        "partitions_rewritten": 0,
    }
    if to_seq >= latest:
        return out  # already at (or past) that snapshot — no-op

    state_t = ledger_state(out_dir, to_seq)
    p_t = set(state_t["live"])
    p_now = set(state["live"])
    # all three sets are bounded by partitions CHURNED since to_seq
    retire_only = p_now - p_t
    resurrect = p_t - p_now
    # visible-at-both partitions with rows deleted AFTER to_seq
    dirty = deletes_changed(spark, out_dir, to_seq, parts=p_t & p_now)
    rewrite_targets = sorted(resurrect | dirty)
    retire_set = sorted(retire_only | dirty)
    if not rewrite_targets and not retire_set:
        return out  # nothing changed since to_seq that readers can see

    rid = run_id or f"rollback-{uuid.uuid4().hex[:8]}"
    out["partitions_retired"] = len(retire_set)
    out["partitions_rewritten"] = len(rewrite_targets)
    if not rewrite_targets:
        # pure-append history: the compensation is metadata only — one
        # retire-only ledger append at a fresh epoch
        attempt_id = uuid.uuid4().hex
        append_ledger_rows(
            out_dir,
            [
                (int(p), None, 0, 0, 0, 0, None, rid,
                 int(latest) + 1, "retired", attempt_id)
                for p in retire_set
            ],
        )
        out["rollback_epoch"] = int(latest) + 1
        return out

    # columns dropped since to_seq stay dropped; to_seq's deletes are
    # already subtracted by the reader
    names = current_names_at(read_manifest(out_dir), to_seq)
    rows = load_store(
        spark, out_dir, [*names.values(), "_part_id"], as_of=to_seq
    ).select(*(F.col(old).alias(cur) for cur, old in names.items()),
             "_part_id")
    res = _reencode(
        spark, out_dir, rows, rewrite_targets, cfg or EncodeConfig(), rid,
        retire_set,
    )
    out["rollback_epoch"] = int(latest) + 1
    return {**out, **res}


def compact_deletes(spark: SparkSession, out_dir: str) -> dict:
    """Rewrite the tombstone table into one file — the small-file half
    of Iceberg's ``rewrite_position_delete_files``. Every delete commit
    appends its own parquet file; after many point deletes the scan-time
    tombstone read pays per-file open costs. Keeps committed tombstones
    VERBATIM (delete_id/del_seq survive, so epoch visibility and time
    travel are unchanged) and drops every uncommitted one — a crashed
    delete's orphans, but also the deferred tombstones an in-flight
    ``upsert`` writes before its ledger append, which would then delete
    nothing. Run it on a quiesced store, as ``compact_store``. Reads and
    writes on the driver with pyarrow (zero Spark jobs)."""
    from choetl_spark.ledger import _read_parquet_dir, ledger_state

    d = _deletes_dir(out_dir)
    ids = ledger_state(out_dir)["delete_ids"]
    if not ids:
        return {"files_before": 0, "files_after": 0}
    tomb = _read_parquet_dir(d)
    if tomb is None:
        refuse_lost_tombstones(out_dir)
        return {"files_before": 0, "files_after": 0}

    def _n_files() -> int:
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    before = _n_files()
    committed = pc.is_in(tomb["delete_id"], pa.array(sorted(ids), pa.string()))
    replace_tombstone_files(out_dir, tomb.filter(committed))
    return {"files_before": before, "files_after": _n_files()}


def replace_tombstone_files(out_dir: str, keep: pa.Table) -> None:
    """Rewrite the ``_deletes`` table to ``keep``'s distinct rows (one
    ``delete_id`` tombstones a position at most once) with no window in
    which the directory is missing — absence reads as "no deletes" and
    would RESURRECT rows. The new file is published into the live
    directory first, THEN the old files and their Spark sidecars
    (``.<name>.crc``, ``_SUCCESS``) are unlinked: a crash in between
    leaves a harmless row SUPERSET, never a loss."""
    from choetl_spark.ledger import publish_table

    d = _deletes_dir(out_dir)
    old = [f for f in os.listdir(d) if f.endswith(".parquet")]
    publish_table(
        d,
        keep.group_by(keep.column_names, use_threads=False).aggregate([]),
        f"compact-{uuid.uuid4().hex}.parquet",
    )
    for name in [*old, *(f".{f}.crc" for f in old), "_SUCCESS",
                 "._SUCCESS.crc"]:
        try:
            os.remove(os.path.join(d, name))
        except OSError:
            pass
