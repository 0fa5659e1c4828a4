"""Catalog binding: re-commit a store snapshot into a real Iceberg table.

The encoded store's filesystem ledger is Iceberg-v2-*shaped* by design
(SURVEY §1.1 maps the reference's "staged table",
src/ChoETL.Sqlite/ChoETLSqlite.cs:24-59, to "the Iceberg catalog
table"); this module makes that mapping literal on clusters that ship
the ``iceberg-spark-runtime`` jars: :func:`export_store` re-commits a
snapshot's chunk table (or its decoded rows) through ``df.writeTo(...)
.using("iceberg")``, stamping the store's provenance — source path,
ledger epoch, schema manifest, codec map — into the table properties so
the catalog copy is self-describing.

In this sandbox the jars are absent, so the export refuses loudly and
points at the documented metadata correspondence (SCALE.md "Ledger ↔
Iceberg" section, :data:`LEDGER_ICEBERG_MAPPING` below). Everything
up to the final ``writeTo`` — snapshot resolution, property payload,
mapping — is runtime-independent and tested; the write itself is the
one line Iceberg must own, because a catalog commit has to go through
the catalog's own atomic swap.

The correspondence (why a 1:1 re-commit is sound):

- ledger ``run_seq`` epochs        <-> Iceberg snapshot ids (ordered)
- ledger ``status='done'`` rows    <-> manifest ADDED data-file entries
- ledger ``status='retired'`` rows <-> manifest DELETED entries
- ``status='delete'`` tombstones   <-> positional delete files (v2)
- ``status='eqdelete'`` commits    <-> equality delete files (v2)
- manifest sidecar (phys names)    <-> schema + field-id list
- ``_schema_log`` snapshots        <-> per-snapshot schema-id pinning
- chunk min/max stats              <-> data-file column bounds
- WAP staged/published refs        <-> Iceberg WAP (the same contract)
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

LEDGER_ICEBERG_MAPPING: dict[str, str] = {
    "ledger run_seq epoch": "snapshot id (snapshot log order)",
    "ledger row status='done'": "manifest ADDED data-file entry",
    "ledger row status='retired'": "manifest entry DELETED by rewrite",
    "ledger row status='delete'": "positional delete file (format v2)",
    "ledger row status='eqdelete'": "equality delete file (format v2)",
    "ledger row status='staged' + refs": "write-audit-publish branch",
    "manifest sidecar phys names": "schema field-ids",
    "_schema_log through_seq snapshots": "snapshot schema-id pinning",
    "chunk zone maps (min/max)": "data-file column bounds",
    "chunk bloom sidecars": "Puffin deletion/bloom blobs",
    "expire_snapshots / vacuum": "expireSnapshots / removeOrphanFiles",
}


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the session's
    classpath (``iceberg-spark-runtime-*.jar``)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


def export_properties(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> dict[str, str]:
    """The provenance the catalog copy carries as table properties:
    enough for a reader of the Iceberg table alone to know which store
    snapshot it holds and how its bytes were encoded. Pure metadata —
    no Iceberg runtime needed (tested in this sandbox)."""
    from choetl_spark.ledger import ledger_state, read_manifest

    state = ledger_state(out_dir)
    epoch = int(as_of) if as_of is not None else state["committed_seq"]
    manifest = read_manifest(out_dir) or {}
    schema = {
        c: m.get("dtype", "")
        for c, m in manifest.items()
        if not c.startswith("_")
    }
    return {
        "choetl.source-store": str(out_dir),
        "choetl.snapshot-epoch": str(epoch),
        "choetl.schema": json.dumps(schema, sort_keys=True),
        "choetl.manifest": json.dumps(manifest, sort_keys=True),
        "choetl.has-deletes": str(bool(state["delete_seqs"])).lower(),
        "choetl.has-eq-deletes": str(bool(state["eq_commits"])).lower(),
        "format-version": "2",
    }


def export_store(
    spark: SparkSession,
    out_dir: str,
    table: str,
    as_of: int | None = None,
    what: str = "chunks",
    mode: str = "create",
) -> dict:
    """Re-commit a store snapshot into Iceberg table ``table``.

    ``what="chunks"`` exports the encoded chunk table itself — the
    store lives IN the catalog, decode-on-read via
    ``decode_dataframe`` exactly as from the filesystem ledger;
    ``what="data"`` exports the decoded rows (the consumer-facing
    shape). ``mode`` is "create" (createOrReplace) or "append".

    The write is a single atomic Iceberg commit, so resume/retry
    follows the catalog's own contract; per-partition lineage rides in
    the exported chunk rows (part_id, attempt_id) for ``what="chunks"``.
    Raises RuntimeError with the documented mapping when the Iceberg
    runtime is absent (this sandbox)."""
    if what not in ("chunks", "data"):
        raise ValueError(f"what must be 'chunks' or 'data', got {what!r}")
    props = export_properties(spark, out_dir, as_of)
    df = snapshot_frame(spark, out_dir, as_of=as_of, what=what)
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath (add "
            "iceberg-spark-runtime and a catalog config, e.g. "
            "spark.sql.catalog.lake=org.apache.iceberg.spark."
            "SparkCatalog). The store's filesystem ledger remains "
            "authoritative; see SCALE.md 'Ledger <-> Iceberg' for the "
            "metadata correspondence this export re-commits."
        )
    writer = df.writeTo(table).using("iceberg")
    for k, v in props.items():
        writer = writer.tableProperty(k, v)
    if mode == "append":
        writer.append()
    else:
        writer.createOrReplace()
    return {"table": table, "rows": None, "properties": props}


def snapshot_frame(
    spark: SparkSession,
    out_dir: str,
    as_of: int | None = None,
    what: str = "chunks",
) -> DataFrame:
    """The DataFrame :func:`export_store` commits — factored out so the
    sandbox (no Iceberg jars) can still verify the exported CONTENT:
    the chunk-table export plus the properties payload is a complete,
    lossless description of the snapshot (a round-trip test decodes it
    back and compares against the source store)."""
    if what == "chunks":
        from choetl_spark.ledger import read_encoded

        return read_encoded(spark, out_dir, as_of=as_of)
    from choetl_spark.ledger import scan_encoded

    return scan_encoded(spark, out_dir, as_of=as_of)
