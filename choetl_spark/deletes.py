"""Row-level deletes over the encoded store: the Iceberg v2
positional-delete (merge-on-read) contract.

The chunk store is append-only — committed partitions are immutable,
which is what makes resume, time travel, and vacuum sound. Row-level
deletes therefore never rewrite data: :func:`delete_where` locates the
matching rows with the store's own pruned machinery (zone maps, Blooms,
column-pruned positional decode), writes their coordinates as TOMBSTONES

    (part_id, row_pos, del_seq, delete_id)

to ``out_dir/_deletes`` (a Spark write), and commits them with one
ledger row of ``status="delete"`` at the next ``run_seq`` epoch, appended
on the driver by :func:`choetl_spark.ledger.append_ledger_rows` (no Spark
job). Readers subtract committed tombstones by ``(part_id, row_pos)`` —
``format("choetl")`` task-side, maintenance paths with a broadcast
anti-join — the in-memory positional-delete-bitmap shape Iceberg readers
use per data file.

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
read once per scan and broadcast; data chunks are untouched, so a
delete of k rows costs O(pruned key chunks decoded) + O(k) written —
independent of table size. A tombstone backlog that outgrows broadcast
belongs in a partition rewrite (major compaction), the same escalation
Iceberg prescribes; :func:`compact_deletes` handles the small-file side
(many tiny delete commits -> one file) without changing visibility.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

DELETES_SCHEMA_DDL = (
    "part_id long, row_pos long, del_seq long, delete_id string"
)


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
            "rows). Restore the _deletes directory (a crashed "
            "maintenance run may have left a _deletes_trash_* "
            "or _deletes_compact_* sibling) or expire the "
            "delete snapshots explicitly."
        )


def read_delete_positions(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> DataFrame | None:
    """Committed delete tombstones visible at ledger epoch ``as_of``
    (``None`` = latest), as ``(part_id, row_pos)``. Returns ``None``
    when the store has no tombstones at all — readers then skip the
    anti-join (and, upstream, the positional decode) entirely.

    Orphan tombstone files (a crashed :func:`delete_where`) are
    filtered out: only rows whose ``delete_id`` has a ledger
    ``status="delete"`` commit at ``as_of`` are kept — the same commit
    discipline as chunks. The output is DISTINCT positions, so
    exact-duplicate tombstone rows (the survivable crash state of
    :func:`replace_tombstone_files`) never skew anti-joins, changelog
    diffs, or ``n_deleted`` counts.

    A store whose ledger carries delete commits but whose ``_deletes``
    table cannot be read raises (:func:`refuse_lost_tombstones`)
    instead of returning ``None``."""
    tomb = _committed_tombstones(spark, out_dir, as_of)
    if tomb is None:
        return None
    return tomb.select("part_id", "row_pos").distinct()


def _committed_tombstones(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> DataFrame | None:
    """The tombstone rows, verbatim, of the delete commits visible at
    ``as_of`` — the ledger's committed ``delete_id`` set, resolved on
    the driver (:func:`choetl_spark.ledger.ledger_state`). ``None``
    without such commits: tombstone files on disk are then orphans of a
    crashed :func:`delete_where`, and readers skip the read entirely."""
    from pyspark.errors import AnalysisException

    from choetl_spark.ledger import ledger_state

    ids = ledger_state(out_dir, as_of)["delete_ids"]
    if not ids:
        return None
    try:
        tomb = spark.read.parquet(_deletes_dir(out_dir))
    except AnalysisException:  # no _deletes table (or no file in it)
        refuse_lost_tombstones(out_dir)
        return None
    return tomb.filter(F.col("delete_id").isin(sorted(ids)))


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
    ``scan_encoded`` vocabulary: ``equals={col: value}`` (Bloom-pruned)
    and ``ranges={col: (lo, hi)}`` (zone-map-pruned), ANDed together.

    Only the PREDICATE columns are decoded (positionally, via
    ``decode_dataframe(with_pos=True)``) and only in partitions the
    metadata pruning keeps — payload columns never move. Rows already
    tombstoned are excluded, so re-running the same delete is a no-op
    (idempotent; returns ``rows_deleted=0``).

    Returns ``{"rows_deleted", "partitions_touched", "run_seq",
    "delete_id"}``. The commit is the ledger append — a crash before it
    leaves invisible orphan tombstone files.
    """
    from choetl_spark.engine import (
        decode_dataframe,
        prune_partitions_by_bloom,
        prune_partitions_by_stats,
    )
    from choetl_spark.ledger import read_encoded, read_manifest

    from choetl_spark.engine import normalize_predicate_value as _n

    # naive datetime bounds -> the aware instants Spark's literals mean
    # (one interpretation for the pruner, kernel AND residual filter)
    equals = {
        c: (
            [_n(x) for x in v]
            if isinstance(v, (list, tuple, set))
            else _n(v)
        )
        for c, v in (equals or {}).items()
    }
    ranges = {
        c: (_n(lo), _n(hi)) for c, (lo, hi) in (ranges or {}).items()
    }
    if not equals and not ranges:
        raise ValueError("delete_where needs at least one predicate")
    enc = read_encoded(spark, out_dir)
    manifest = read_manifest(out_dir)
    for col, (lo, hi) in ranges.items():
        dtype = (manifest or {}).get(col, {}).get("dtype")
        enc = prune_partitions_by_stats(enc, col, lo, hi, dtype=dtype)
    for col, value in equals.items():
        enc = prune_partitions_by_bloom(enc, col, value)
    pred_cols = list(dict.fromkeys([*ranges, *equals]))
    # predicates ride into the decode kernel (superset masks): only
    # candidate rows' coordinates ship back; the exact filters below
    # keep the tombstone set precise
    pushdown = {
        **{c: ("range", lo, hi) for c, (lo, hi) in ranges.items()},
        **{
            c: ("in", list(v) if isinstance(v, (list, tuple, set)) else [v])
            for c, v in equals.items()
        },
    }
    pos = decode_dataframe(
        enc, columns=pred_cols, manifest=manifest, with_pos=True,
        pushdown=pushdown,
    )
    for col, (lo, hi) in ranges.items():
        pos = pos.filter((F.col(col) >= lo) & (F.col(col) <= hi))
    for col, value in equals.items():
        if isinstance(value, (list, tuple, set)):
            pos = pos.filter(F.col(col).isin(list(value)))
        else:
            pos = pos.filter(F.col(col) == value)
    tomb = pos.select(
        F.col("_part_id").alias("part_id"),
        F.col("_row_pos").alias("row_pos"),
    )
    return _commit_tombstones(spark, out_dir, tomb, run_id)


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
    half of :func:`upsert`. One positional decode of the KEY column
    (never payloads) semi-joined against the broadcast key set; at
    10^12 docs that is one narrow-column pass + O(matches) tombstones,
    the same cost an Iceberg MERGE pays for its match scan.

    ``exclude_part_range=(lo, hi)`` leaves partitions with
    ``lo <= part_id < hi`` untouched — :func:`upsert` passes its own
    epoch's partition range so a RETRY never tombstones the rows its
    first attempt already ingested."""
    from choetl_spark.engine import decode_dataframe
    from choetl_spark.ledger import read_encoded, read_manifest

    enc = read_encoded(spark, out_dir)
    if exclude_part_range is not None:
        lo, hi = exclude_part_range
        enc = enc.filter(
            (F.col("part_id") < int(lo)) | (F.col("part_id") >= int(hi))
        )
    manifest = read_manifest(out_dir)
    keyed = decode_dataframe(
        enc, columns=[key], manifest=manifest, with_pos=True
    )
    tomb = keyed.join(
        F.broadcast(keys_df.select(key).distinct()), key, "semi"
    ).select(
        F.col("_part_id").alias("part_id"),
        F.col("_row_pos").alias("row_pos"),
    )
    return _commit_tombstones(
        spark, out_dir, tomb, run_id, defer_commit=defer_commit
    )


def _commit_tombstones(
    spark: SparkSession,
    out_dir: str,
    tomb: DataFrame,
    run_id: str | None,
    defer_commit: bool = False,
) -> dict:
    """Shared delete commit: drop already-tombstoned coordinates
    (idempotence), write tombstone files (a Spark write), THEN append
    the ledger ``status="delete"`` row at the next epoch with
    :func:`choetl_spark.ledger.append_ledger_rows` — the crash window
    between the two leaves orphans readers never see.

    ``defer_commit=True`` writes the tombstone FILES but skips the
    ledger append (``run_seq`` comes back ``None``): the tombstones
    stay invisible orphans until the caller commits the returned
    ``delete_id`` itself — :func:`upsert` rides it in
    ``encode_with_resume``'s single ledger append so the delete half
    and the insert half become visible at the SAME epoch (an atomic
    MERGE snapshot; separate epochs would expose — and ``as_of`` time
    travel would permanently preserve — a state where matched keys
    have neither their old nor their new row)."""
    from choetl_spark.ledger import append_ledger_rows, ledger_state

    prior = read_delete_positions(spark, out_dir)
    if prior is not None:
        tomb = tomb.join(prior, ["part_id", "row_pos"], "left_anti")
    next_seq = ledger_state(out_dir)["max_seq"] + 1
    delete_id = uuid.uuid4().hex
    # del_seq in the FILES is informational (visibility is governed by
    # the ledger commit row's run_seq); a deferred commit doesn't know
    # its final epoch yet
    file_seq = -1 if defer_commit else next_seq
    tomb = (
        tomb.withColumn("del_seq", F.lit(file_seq).cast("long"))
        .withColumn("delete_id", F.lit(delete_id))
        .persist()
    )
    try:
        stats = tomb.agg(
            F.count("*").alias("n"),
            F.countDistinct("part_id").alias("parts"),
        ).collect()[0]
        n, parts = stats["n"], stats["parts"]
        if n == 0:
            return {
                "rows_deleted": 0,
                "partitions_touched": 0,
                "run_seq": None,
                "delete_id": delete_id,
            }
        tomb.write.mode("append").parquet(_deletes_dir(out_dir))
    finally:
        tomb.unpersist()
    if defer_commit:
        return {
            "rows_deleted": int(n),
            "partitions_touched": int(parts),
            "run_seq": None,
            "delete_id": delete_id,
        }
    # part_id -1: a delete spans partitions; readers resolve only
    # status="done" rows to chunks, so the sentinel is inert
    append_ledger_rows(
        out_dir,
        [(-1, None, int(n), 0, 0, 0, None, run_id or delete_id,
          int(next_seq), "delete", delete_id)],
    )
    return {
        "rows_deleted": int(n),
        "partitions_touched": int(parts),
        "run_seq": int(next_seq),
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


def apply_delete_filter(
    decoded_with_pos: DataFrame, tombstones: DataFrame
) -> DataFrame:
    """Subtract tombstoned rows from a ``with_pos`` decode and drop the
    coordinate columns — the reader-side half of merge-on-read. The
    broadcast anti-join is the per-file delete-bitmap shape: rows of
    untouched partitions pay one hash probe each, no shuffle of data."""
    return decoded_with_pos.join(
        F.broadcast(
            tombstones.select(
                F.col("part_id").alias("_part_id"),
                F.col("row_pos").alias("_row_pos"),
            )
        ),
        ["_part_id", "_row_pos"],
        "left_anti",
    ).drop("_part_id", "_row_pos")


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
    are re-encoded WITHOUT their tombstoned rows under fresh partition
    ids, and the old copies are retired in the SAME ledger append
    (``encode_with_resume(retire_part_ids=...)``) — one commit swaps
    readers from old+tombstones to clean new chunks, so there is no
    duplicate/missing window, and a crash before the commit leaves only
    invisible orphan chunks. Time travel is intact: ``as_of`` before
    the rewrite epoch still reads the retired copies with their
    tombstones applied (snapshot EXPIRY, not rewrite, reclaims them).

    Candidate selection is metadata-only (tombstone counts vs ledger
    row counts). Scale shape: cost is O(rows of rewritten partitions) —
    exactly the partitions where scan-time anti-join overhead justifies
    a rewrite; untouched partitions never move. Pass the store's
    ``EncodeConfig`` so re-encoded partitions keep their Bloom columns
    and codec profile."""
    from choetl_spark.engine import EncodeConfig, decode_dataframe
    from choetl_spark.ledger import (
        encode_with_resume,
        ledger_state,
        read_encoded,
        read_manifest,
    )

    from choetl_spark.eqdeletes import all_delete_positions

    cfg = cfg or EncodeConfig()
    out = {"partitions_rewritten": 0, "rows_materialized": 0}
    # equality deletes materialize here too: a rewritten survivor
    # re-commits at a NEWER epoch than any existing delete, so leaving
    # eq-deleted rows in would resurrect them permanently
    tomb = all_delete_positions(spark, out_dir)
    if tomb is None:
        return out
    state = ledger_state(out_dir)
    live_rows = state["live_rows"]
    targets = sorted(
        r["part_id"]
        for r in tomb.groupBy("part_id").count().collect()
        if live_rows.get(r["part_id"]) is not None
        and r["count"] >= min_deleted_fraction * live_rows[r["part_id"]]
    )
    if not targets:
        return out
    # fresh ids: dense range above every id the ledger has ever seen
    base = state["max_part"] + 1
    id_map = F.create_map(
        *[
            x
            for old, new in zip(targets, range(base, base + len(targets)))
            for x in (F.lit(int(old)), F.lit(int(new)))
        ]
    )
    enc = read_encoded(spark, out_dir).filter(F.col("part_id").isin(targets))
    manifest = read_manifest(out_dir)
    rows = decode_dataframe(enc, manifest=manifest, with_pos=True)
    survivors = (
        rows.join(
            F.broadcast(
                tomb.select(
                    F.col("part_id").alias("_part_id"),
                    F.col("row_pos").alias("_row_pos"),
                )
            ),
            ["_part_id", "_row_pos"],
            "left_anti",
        )
        .withColumn("part_id", id_map[F.col("_part_id")].cast("long"))
        .drop("_part_id", "_row_pos")
    )
    rid = run_id or f"rewrite-{uuid.uuid4().hex[:8]}"
    res = encode_with_resume(
        spark, survivors, out_dir, cfg, run_id=rid, retire_part_ids=targets
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
    - partitions visible at both epochs but TOMBSTONED after
      ``to_seq`` → re-encoded from their ``as_of=to_seq`` rows and the
      stale copies retired, so the late tombstones die with them.

    Cost is O(rows churned since ``to_seq``), never O(store) —
    untouched partitions don't move, and a pure-append history rolls
    back with a metadata-only commit. Pass the store's ``EncodeConfig``
    so re-encoded partitions keep their Bloom/NDV columns and codec
    profile.
    """
    from choetl_spark.engine import EncodeConfig, decode_dataframe
    from choetl_spark.ledger import (
        append_ledger_rows,
        encode_with_resume,
        ledger_state,
        min_time_travel_seq,
        read_encoded,
        read_manifest,
    )

    cfg = cfg or EncodeConfig()
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

    p_t = set(ledger_state(out_dir, to_seq)["live"])
    p_now = set(state["live"])
    # all three sets are bounded by partitions CHURNED since to_seq
    retire_only = p_now - p_t
    resurrect = p_t - p_now
    # visible-at-both partitions with tombstones committed AFTER to_seq
    # (read through the hardened tombstone reader so a lost _deletes
    # table refuses instead of silently rolling deleted rows back in)
    from choetl_spark.eqdeletes import all_delete_positions

    pos_now = all_delete_positions(spark, out_dir)
    pos_t = all_delete_positions(spark, out_dir, as_of=to_seq)
    dirty: set[int] = set()
    if pos_now is not None:
        late = (
            pos_now.exceptAll(pos_t)
            if pos_t is not None
            else pos_now
        )
        dirty = {
            r["part_id"] for r in late.select("part_id").distinct().collect()
        } & p_t & p_now
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

    manifest = read_manifest(out_dir)
    # current_schema: rollback restores DATA to the to_seq snapshot
    # under the CURRENT schema (Iceberg rollback_to_snapshot does not
    # revert schema evolution) — the re-encode below must write the
    # current display names, and columns dropped since to_seq stay
    # dropped (their chunks are masked by the current-manifest remap)
    enc_t = read_encoded(
        spark, out_dir, as_of=to_seq, current_schema=True
    ).filter(
        F.col("part_id").isin(rewrite_targets)
    )
    rows = decode_dataframe(enc_t, manifest=manifest, with_pos=True)
    if pos_t is not None:
        # to_seq-visible tombstones materialize into the restored copy
        # (keep _part_id — the fresh-id remap below still needs it)
        rows = rows.join(
            F.broadcast(
                pos_t.select(
                    F.col("part_id").alias("_part_id"),
                    F.col("row_pos").alias("_row_pos"),
                )
            ),
            ["_part_id", "_row_pos"],
            "left_anti",
        )
    base = state["max_part"] + 1
    id_map = F.create_map(
        *[
            x
            for old, new in zip(
                rewrite_targets, range(base, base + len(rewrite_targets))
            )
            for x in (F.lit(int(old)), F.lit(int(new)))
        ]
    )
    survivors = rows.withColumn(
        "part_id", id_map[F.col("_part_id")].cast("long")
    ).drop("_part_id", "_row_pos")
    res = encode_with_resume(
        spark,
        survivors,
        out_dir,
        cfg,
        run_id=rid,
        retire_part_ids=retire_set,
    )
    out["rollback_epoch"] = int(latest) + 1
    return {**out, **res}


def compact_deletes(spark: SparkSession, out_dir: str) -> dict:
    """Rewrite the tombstone table into one file — the small-file half
    of Iceberg's ``rewrite_position_delete_files``. Every delete commit
    appends its own parquet file; after many point deletes the scan-time
    tombstone read pays per-file open costs. Keeps committed tombstones
    VERBATIM (delete_id/del_seq survive, so epoch visibility and time
    travel are unchanged) and drops orphans from crashed deletes.
    Skipped (no-op) when an in-flight delete might be mid-commit —
    callers run this on a quiesced store, same as ``compact_store``."""
    d = _deletes_dir(out_dir)
    keep = _committed_tombstones(spark, out_dir)
    if keep is None:
        return {"files_before": 0, "files_after": 0}

    def _n_files(p: str) -> int:
        try:
            return sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
        except OSError:
            return 0

    before = _n_files(d)
    # full-row dedup collapses duplicates a previous crashed compaction
    # left behind (legitimate rows are unique: one delete_id tombstones
    # a given (part_id, row_pos) at most once)
    replace_tombstone_files(spark, out_dir, keep.dropDuplicates())
    return {"files_before": before, "files_after": _n_files(d)}


def replace_tombstone_files(
    spark: SparkSession, out_dir: str, keep: DataFrame
) -> None:
    """Rewrite the ``_deletes`` parquet table to exactly ``keep``'s rows
    without ever leaving a missing-directory window.

    A directory swap (rename away + rename staging in) has a crash
    window in which ``_deletes`` does not exist — and tombstone absence
    is a legitimate "no deletes" state, so readers would silently
    RESURRECT every deleted row. Instead: write staging, MOVE the new
    parts into the live directory under fresh names (same filesystem —
    atomic per file), then unlink the old files. A crash at any point
    leaves the directory holding a row SUPERSET (old + new coexist as
    exact duplicates) — duplicates are harmless to the anti-join
    subtraction and the next compaction's ``dropDuplicates`` collapses
    them; rows are never lost."""
    import shutil

    d = _deletes_dir(out_dir)
    old_files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    staging = os.path.join(out_dir, f"_deletes_compact_{uuid.uuid4().hex[:8]}")
    keep.coalesce(1).write.mode("overwrite").parquet(staging)
    tag = uuid.uuid4().hex[:8]
    for name in os.listdir(staging):
        if name.endswith(".parquet"):
            os.rename(
                os.path.join(staging, name),
                os.path.join(d, f"compact_{tag}_{name}"),
            )
    for name in old_files:
        try:
            os.remove(os.path.join(d, name))
        except OSError:
            pass
    shutil.rmtree(staging, ignore_errors=True)
