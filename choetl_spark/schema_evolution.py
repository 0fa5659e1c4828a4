"""Column rename / drop over the encoded store — Iceberg schema
evolution semantics without rewriting a byte.

The manifest sidecar separates a column's DISPLAY name (what readers
ask for) from its PHYSICAL chunk-table key (what the bytes are stored
under) — the Iceberg field-id analog, minus the integer. Operations:

- :func:`rename_column`: metadata-only. The entry moves to the new
  display name keeping its physical key; ``read_encoded`` translates
  physical → display once per scan (``_display_remap``, an identity
  no-op for stores with no renames), so every reader — decode, zone-map
  /Bloom pruning, pushdown, aggregates, point lookup — speaks the new
  name immediately for current-snapshot reads.

- :func:`drop_column`: metadata-only. The entry moves to the manifest's
  ``_dropped`` reservation list: readers refuse the name at once, and
  the physical key stays RESERVED so a later re-add of the same name
  claims a fresh key (``name#2``) and reads as NULL in old partitions —
  never resurrecting the dropped bytes (exactly Iceberg's drop-then-add
  contract). The dropped chunks are shed physically by the next
  partition rewrite (``rewrite_clustered`` / ``rewrite_partitions`` /
  ``rollback_to`` re-encode only manifest columns); plain
  ``compact_store`` keeps them verbatim, which also keeps this
  metadata-only operation O(1).

Snapshot-scoped schema (Iceberg's snapshots-pin-their-schema contract,
closing the round-3 divergence): before each rename/drop the CURRENT
live schema is appended to the manifest's ``_schema_log`` stamped with
the highest committed ledger epoch (:func:`_log_schema_snapshot`), and
``as_of``/``ref`` readers resolve display names against that epoch's
recorded schema (:func:`choetl_spark.ledger.manifest_as_of`) — a column
renamed after epoch N still reads under its OLD name at ``as_of=N``,
and a column dropped after N remains readable there.

The reference has no rename/drop story at all — its writers re-emit
whatever the source object exposes (reference
src/ChoETL/File/ChoRecordConfiguration.cs field registration); at
10^12 documents a rename that rewrites every partition is not an
option, which is why this is metadata-only.
"""

from __future__ import annotations

from choetl_spark.ledger import (
    manifest_data_items,
    physical_name,
    read_manifest,
    reserved_physicals,
    write_manifest,
)


def list_columns(out_dir: str) -> list[dict]:
    """Current schema: ``[{name, dtype, logical, phys}]`` plus dropped
    reservations under ``{name: "<dropped>"}`` semantics via
    ``dropped=True`` rows — the Iceberg schema-inspection analog."""
    manifest = read_manifest(out_dir) or {}
    out = [
        {
            "name": c,
            "dtype": m.get("dtype"),
            "logical": m.get("logical"),
            "phys": physical_name(m, c),
            "dropped": False,
        }
        for c, m in manifest_data_items(manifest)
    ]
    for d in manifest.get("_dropped", []):
        out.append(
            {
                "name": d["display"],
                "dtype": d.get("dtype"),
                "logical": d.get("logical"),
                "phys": d.get("phys", d["display"]),
                "dropped": True,
            }
        )
    return out


def _log_schema_snapshot(out_dir: str, manifest: dict) -> None:
    """Append the CURRENT live schema to the manifest's ``_schema_log``
    before a rename/drop mutates it, stamped with the highest committed
    ledger epoch: snapshots at ``as_of <= through_seq`` resolve names
    against this recorded schema (:func:`choetl_spark.ledger.
    manifest_as_of`) — the Iceberg snapshots-pin-their-schema contract.
    Two schema changes between commits append two entries with the same
    ``through_seq``; lookup takes the FIRST match, i.e. the schema that
    was live when that epoch committed. A store with no commits yet
    logs nothing (no snapshot can observe the pre-change schema)."""
    from choetl_spark.ledger import ledger_state

    seq = ledger_state(out_dir)["committed_seq"]
    if seq < 1:
        return
    manifest.setdefault("_schema_log", []).append(
        {
            "through_seq": seq,
            "columns": {
                c: {
                    k: m[k]
                    for k in ("phys", "dtype", "logical")
                    if k in m and m[k] is not None
                }
                for c, m in manifest_data_items(manifest)
            },
        }
    )


def rename_column(out_dir: str, old: str, new: str) -> dict:
    """Rename ``old`` to ``new`` — metadata-only, effective for every
    reader and every epoch immediately. Refuses when ``new`` collides
    with a live display name OR any reserved physical key (another
    column's storage key must not become ambiguous under the remap)."""
    if new.startswith("_"):
        raise ValueError("column names starting with '_' are reserved")
    manifest = read_manifest(out_dir)
    if manifest is None or old not in manifest or old.startswith("_"):
        raise ValueError(f"no column {old!r} in the store manifest")
    if new in manifest:
        raise ValueError(f"column {new!r} already exists")
    entry = dict(manifest[old])
    phys = physical_name(entry, old)
    others = dict(manifest)
    del others[old]
    if new in reserved_physicals(others):
        raise ValueError(
            f"cannot rename to {new!r}: another column's chunks are "
            "stored under that physical key"
        )
    _log_schema_snapshot(out_dir, manifest)
    del manifest[old]
    if phys == new:
        entry.pop("phys", None)  # rename back onto its own storage key
    else:
        entry["phys"] = phys
    manifest[new] = entry
    write_manifest(out_dir, manifest)
    return {"renamed": old, "to": new, "phys": phys}


def drop_column(out_dir: str, name: str) -> dict:
    """Drop ``name`` — metadata-only. Readers refuse it immediately;
    the physical key stays reserved so a re-added ``name`` gets a fresh
    key and NULL history instead of the dropped bytes. Refuses to drop
    the last column (an encoded table with no columns has no rows)."""
    manifest = read_manifest(out_dir)
    if manifest is None or name not in manifest or name.startswith("_"):
        raise ValueError(f"no column {name!r} in the store manifest")
    if len(manifest_data_items(manifest)) == 1:
        raise ValueError("cannot drop the last column of the store")
    _log_schema_snapshot(out_dir, manifest)
    entry = manifest.pop(name)
    dropped = manifest.setdefault("_dropped", [])
    dropped.append(
        {
            "display": name,
            "phys": physical_name(entry, name),
            "dtype": entry.get("dtype"),
            "logical": entry.get("logical"),
        }
    )
    write_manifest(out_dir, manifest)
    return {"dropped": name, "phys": physical_name(entry, name)}
