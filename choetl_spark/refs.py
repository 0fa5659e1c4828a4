"""Named snapshot refs (tags/branches) and write-audit-publish commits.

Iceberg analogs over the checkpoint ledger (see ``choetl_spark.ledger``):

- **Tags** are immutable named pointers at a commit epoch (``run_seq``) —
  Iceberg's ``CREATE TAG`` / snapshot refs. **Branches** are movable
  pointers (``update_branch`` = fast-forward). Both live in a tiny
  driver-side ``_refs.json`` sidecar (the catalog-metadata analog, like
  ``_manifest.json`` / ``_expiry.json``), written atomically via
  temp-file + rename. ``scan_encoded(..., ref="name")`` resolves a ref
  to its epoch and reads that snapshot; ``expire_snapshots`` clamps its
  floor to the oldest ref so a tagged snapshot can never be expired out
  from under its name (Iceberg's retained-by-ref rule).

- **Write-audit-publish (WAP)**: ``encode_with_resume(..., staged=True)``
  commits partitions with ledger status ``"staged"`` — durable and
  crash-resumable like any commit, but INVISIBLE to every reader
  (scans, snapshots, changelog, time travel). An audit job reads the
  staged data with :func:`read_staged`; :func:`publish_staged` then
  makes it visible in ONE metadata append at a fresh epoch (the Iceberg
  ``wap.id`` stage + cherry-pick flow — the ``run_id`` plays the wap id
  role), and :func:`abort_staged` marks it dead so the next
  ``compact_store``/``vacuum`` reclaims the bytes. Readers see the old
  table until the publish commit lands, then the new one — never a
  partial ingest, no matter how long the audit takes.

The reference has no staging/refs story at all — its writers append
straight into the output file (reference
src/ChoETL/File/ChoFileRecordConfiguration.cs:33 Append mode); this is
the capability a 10^12-document pipeline needs so a bad crawl batch is
audited and dropped BEFORE consumers can read it.

Scale shape: every function here is metadata-only — O(refs) JSON plus
the ledger state read with pyarrow on the driver
(:func:`choetl_spark.ledger.ledger_state`), so none of them runs a
Spark job; nothing touches chunk payloads except ``read_staged`` (a
normal pruned decode of just the staged partitions).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def _refs_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_refs.json")


def _read_refs(out_dir: str) -> dict:
    try:
        with open(_refs_path(out_dir), encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _write_refs(out_dir: str, refs: dict) -> None:
    # atomic same-directory rename: readers see the old or the new refs
    # file, never a torn write (same discipline as _expiry.json ordering)
    tmp = _refs_path(out_dir) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
    os.replace(tmp, _refs_path(out_dir))


def _validate_seq(out_dir: str, seq: int | None) -> int:
    """``seq`` (``None``: the latest epoch), checked against the
    expiry floor and the latest epoch."""
    from choetl_spark.ledger import ledger_state, min_time_travel_seq

    latest = ledger_state(out_dir)["max_seq"]
    if not latest:
        raise ValueError(f"no ledger at {out_dir}; nothing to reference")
    seq = latest if seq is None else int(seq)
    floor = min_time_travel_seq(out_dir)
    if seq < floor:
        raise ValueError(
            f"epoch {seq} has been expired; the oldest readable epoch "
            f"is {floor}"
        )
    if seq > latest:
        raise ValueError(f"epoch {seq} does not exist yet (latest {latest})")
    return seq


def create_tag(
    spark: SparkSession, out_dir: str, name: str, seq: int | None = None
) -> dict:
    """Create an IMMUTABLE named pointer at epoch ``seq`` (default: the
    latest). Refuses to overwrite an existing ref — drop it first (the
    Iceberg tag contract: a tag names one snapshot forever)."""
    seq = _validate_seq(out_dir, seq)
    refs = _read_refs(out_dir)
    if name in refs:
        raise ValueError(
            f"ref {name!r} already exists ({refs[name]['type']} at epoch "
            f"{refs[name]['run_seq']}); drop_ref it first"
        )
    refs[name] = {"type": "tag", "run_seq": seq}
    _write_refs(out_dir, refs)
    return {"name": name, "type": "tag", "run_seq": seq}


def create_branch(
    spark: SparkSession, out_dir: str, name: str, seq: int | None = None
) -> dict:
    """Create a MOVABLE named pointer (see :func:`update_branch`)."""
    seq = _validate_seq(out_dir, seq)
    refs = _read_refs(out_dir)
    if name in refs:
        raise ValueError(f"ref {name!r} already exists; drop_ref it first")
    refs[name] = {"type": "branch", "run_seq": seq}
    _write_refs(out_dir, refs)
    return {"name": name, "type": "branch", "run_seq": seq}


def update_branch(
    spark: SparkSession, out_dir: str, name: str, seq: int
) -> dict:
    """Move a branch to another readable epoch (Iceberg fast-forward /
    set-ref). Tags refuse — they are immutable by contract."""
    refs = _read_refs(out_dir)
    if name not in refs:
        raise ValueError(f"no ref named {name!r}")
    if refs[name]["type"] != "branch":
        raise ValueError(f"ref {name!r} is a tag; tags are immutable")
    seq = _validate_seq(out_dir, seq)
    refs[name]["run_seq"] = seq
    _write_refs(out_dir, refs)
    return {"name": name, "type": "branch", "run_seq": seq}


def drop_ref(out_dir: str, name: str) -> None:
    refs = _read_refs(out_dir)
    if name not in refs:
        raise ValueError(f"no ref named {name!r}")
    del refs[name]
    _write_refs(out_dir, refs)


def resolve_ref(out_dir: str, name: str) -> int:
    """The epoch a ref points at — pass as ``as_of`` to any reader."""
    refs = _read_refs(out_dir)
    if name not in refs:
        raise ValueError(
            f"no ref named {name!r} (refs: {sorted(refs) or 'none'})"
        )
    return int(refs[name]["run_seq"])


def min_ref_seq(out_dir: str) -> int | None:
    """The oldest epoch any ref pins, or None — ``expire_snapshots``
    clamps its floor here so named snapshots survive expiry."""
    refs = _read_refs(out_dir)
    if not refs:
        return None
    return min(int(r["run_seq"]) for r in refs.values())


def list_refs(spark: SparkSession, out_dir: str) -> DataFrame:
    """One row per ref: ``(name, type, run_seq)`` — the Iceberg
    ``.refs`` metadata table analog."""
    refs = _read_refs(out_dir)
    return spark.createDataFrame(
        [(n, r["type"], int(r["run_seq"])) for n, r in sorted(refs.items())],
        "name string, type string, run_seq long",
    )


# ---------------------------------------------------------------- WAP --


def read_staged(
    spark: SparkSession,
    out_dir: str,
    run_id: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Decode the staged-but-unpublished partitions (optionally one
    staged run's) — the AUDIT read of write-audit-publish. Regular
    readers never see these rows; this is the only door in."""
    from choetl_spark.engine import decode_dataframe
    from choetl_spark.ledger import (
        _display_remap,
        _read_chunks,
        _staged_keys,
        ledger_state,
        read_manifest,
    )

    # no ledger (a first staged run that crashed before its commit)
    # stages nothing: the frame is empty, in the store's row schema
    keys = _staged_keys(ledger_state(out_dir), run_id)
    manifest = read_manifest(out_dir)
    enc = _display_remap(_read_chunks(spark, out_dir, keys), manifest)
    return decode_dataframe(enc, columns=columns, manifest=manifest)


def publish_staged(spark: SparkSession, out_dir: str, run_id: str) -> dict:
    """Make a staged run visible — ONE ledger append
    (:func:`choetl_spark.ledger.append_ledger_rows`) re-committing its
    partitions with ``status="done"`` at a fresh epoch (the Iceberg
    cherry-pick of a ``wap.id`` snapshot). Atomic for readers: before
    the append they see the old table, after it the new one; a crash
    in between leaves the run staged (re-run to finish). Idempotent:
    an already-published run returns without a second commit. The
    look-ups are :func:`choetl_spark.ledger.ledger_state`'s: no Spark
    job runs."""
    from choetl_spark.ledger import append_ledger_rows, ledger_state

    state = ledger_state(out_dir)
    if not state["max_seq"]:
        raise ValueError(f"no ledger at {out_dir}")
    staged = state["staged"].get(run_id)
    if not staged:
        mine = state["runs"].get(run_id, {})
        if "done" in mine:
            return {
                "run_id": run_id,
                "already_published": True,
                "partitions_published": 0,
                "publish_epoch": None,
            }
        if "aborted" in mine:
            raise ValueError(f"staged run {run_id!r} was aborted")
        raise ValueError(f"no staged partitions for run {run_id!r}")
    epoch = state["max_seq"] + 1
    rows = [
        (
            r["part_id"], r["fingerprint"], r["n_rows"], r["raw_bytes"],
            r["encoded_bytes"], r["n_chunks"], r["codec_map"], r["run_id"],
            epoch, "done", r["attempt_id"],
        )
        for r in staged
    ]
    append_ledger_rows(out_dir, rows)
    return {
        "run_id": run_id,
        "already_published": False,
        "partitions_published": len(rows),
        "publish_epoch": epoch,
    }


def abort_staged(spark: SparkSession, out_dir: str, run_id: str) -> dict:
    """Mark a staged run dead (audit failed) with one ledger append of
    ``status="aborted"`` rows (no Spark job). Its chunks become
    unreachable immediately and reclaimable by the next
    ``compact_store``/``expire_snapshots``/``vacuum`` pass; a later
    ``publish_staged`` of the same run refuses. Refuses if the run was
    already published — retire/rollback handle visible data."""
    from choetl_spark.ledger import append_ledger_rows, ledger_state

    state = ledger_state(out_dir)
    if not state["max_seq"]:
        raise ValueError(f"no ledger at {out_dir}")
    if "done" in state["runs"].get(run_id, {}):
        raise ValueError(
            f"run {run_id!r} is already published; use rollback_to / "
            "rewrite, not abort"
        )
    staged = state["staged"].get(run_id)
    if not staged:
        return {"run_id": run_id, "partitions_aborted": 0}
    rows = [
        (
            r["part_id"], None, 0, 0, 0, 0, None, run_id,
            int(r["run_seq"]), "aborted", r["attempt_id"],
        )
        for r in staged
    ]
    append_ledger_rows(out_dir, rows)
    return {"run_id": run_id, "partitions_aborted": len(rows)}
