"""Checkpoint ledger: per-partition lineage, metrics, and resume.

The reference has no resume story beyond file Append mode
(reference src/ChoETL/File/ChoFileRecordConfiguration.cs:33). Here every
encode run appends, per completed logical partition, a lineage row

    (part_id, fingerprint, n_rows, raw_bytes, encoded_bytes,
     codec_map json, run_id, status)

to a ledger table, and a restarted job left-anti-joins its partition plan
against the ledger so completed partitions are never re-encoded.

Crash safety: chunk files and ledger rows are appended in that order, so
a crash between them leaves orphan chunks. The ledger is the commit
record, and one resolver reads it: :func:`ledger_state` (pyarrow, on the
driver) names the visible commits, and every reader, the metadata tables
and vacuum take visibility from it. Orphan chunks are invisible and get
re-encoded (idempotent, since partition ids and intra-partition order are
data-derived and deterministic). The commit key is
``(part_id, attempt_id)`` — every encode attempt stamps a fresh unique
``attempt_id`` on the chunk rows it writes and on the ledger rows it
appends — so when a crashed attempt's orphan chunks share a ``part_id``
with the successful re-encode, only the committed attempt's copy is ever
visible (a part_id-only match would resurface the orphans as duplicate
rows the moment the partition commits). Chunks/ledger rows from stores
written before ``attempt_id`` existed read as null and match leniently
(:func:`_attempt_ok`).

Storage is a parquet directory per table (append = new files), which is
exactly the commit model an Iceberg catalog would make transactional on a
real cluster.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from choetl_spark.engine import (
    ENCODED_SCHEMA_DDL,
    EncodeConfig,
    column_manifest,
    encode_dataframe_writing,
    publish_chunk_files,
)
from choetl_spark.partitioning import plan_partitions

LEDGER_SCHEMA_DDL = (
    "part_id long, fingerprint long, n_rows long, raw_bytes long, "
    "encoded_bytes long, n_chunks long, codec_map string, run_id string, "
    "run_seq long, status string, attempt_id string"
)


def _ledger_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_ledger")


def _chunks_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "chunks")


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.json")


def _expiry_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_expiry.json")


def min_time_travel_seq(out_dir: str) -> int:
    """The oldest ledger epoch ``as_of`` may still read — 1 until
    :func:`expire_snapshots` raises it (a tiny driver-side sidecar,
    the Iceberg oldest-retained-snapshot pointer)."""
    try:
        with open(_expiry_path(out_dir), encoding="utf-8") as fh:
            return int(json.load(fh)["min_as_of_seq"])
    except (OSError, KeyError, ValueError):
        return 1


def resolve_snapshot(
    out_dir: str, as_of: int | None = None, ref: str | None = None
) -> int | None:
    """The epoch ``as_of`` or the ref named ``ref`` selects (``None``:
    the latest). ``ValueError`` for both at once, an unknown ref, or an
    epoch :func:`expire_snapshots` reclaimed."""
    if ref is not None:
        if as_of is not None:
            raise ValueError("pass as_of or ref, not both")
        from choetl_spark.refs import resolve_ref

        as_of = resolve_ref(out_dir, ref)
    if as_of is not None and int(as_of) < min_time_travel_seq(out_dir):
        raise ValueError(
            f"snapshot as_of={as_of} has been expired; the oldest "
            f"readable epoch is {min_time_travel_seq(out_dir)} "
            "(expire_snapshots reclaimed earlier history)"
        )
    return None if as_of is None else int(as_of)


def read_manifest(out_dir: str) -> dict | None:
    """Per-column storage manifest persisted at encode time (a tiny
    driver-side sidecar — the Iceberg-catalog analog of table-property
    metadata). Pass it to ``decode_dataframe(manifest=...)`` so building
    a decode plan over a stored table launches zero Spark jobs."""
    try:
        with open(_manifest_path(out_dir), encoding="utf-8") as fh:
            return json.load(fh)
    except OSError:
        return None


def write_manifest(out_dir: str, manifest: dict) -> None:
    """Atomic manifest replace (temp + same-dir rename): readers see the
    old or the new manifest, never a torn JSON."""
    tmp = _manifest_path(out_dir) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))


_INT_WIDTH = {"int8": 0, "int16": 1, "int32": 2, "int64": 3}


def _widened_dtype(old: str, new: str) -> str | None:
    """The wider of two storage dtypes when the pair is a SAFE promotion
    (Iceberg's type-promotion rule: int -> wider int, float32 ->
    float64); None when the change needs a rewrite. Symmetric: a later
    run may also ingest NARROWER values into an already-widened column
    (its chunks cast up at decode)."""
    if old in _INT_WIDTH and new in _INT_WIDTH:
        return old if _INT_WIDTH[old] >= _INT_WIDTH[new] else new
    if {old, new} == {"float32", "float64"}:
        return "float64"
    return None


def merge_manifest(prior: dict | None, new: dict) -> dict:
    """The store manifest after a write whose column manifest is
    ``new`` lands on a store whose manifest is ``prior`` (schema
    evolution: a later write may add columns — the Iceberg add-column
    contract; partitions written before a column existed read it as
    nulls). For columns present in both, a safe widening
    (:func:`_widened_dtype`) promotes the manifest dtype — chunks keep
    their own written dtype and the decode kernels cast up — while any
    other type CHANGE raises ``ValueError``, not a silent rewrite; the
    prior physical key (``phys``) is kept. NEW columns claim a free
    PHYSICAL chunk key (the field-id analog, :mod:`choetl_spark.
    schema_evolution`): the display name, unless a renamed or dropped
    column's chunks already occupy it — re-adding a dropped name must
    NOT resurrect the old bytes. Columns absent from ``new`` stay as
    they were (still readable). Pure; neither input is modified."""
    prior = prior or {}
    merged = dict(prior)
    taken = reserved_physicals(prior)
    for col, entry in new.items():
        m = dict(entry)
        pm = prior.get(col)
        if pm is not None:
            if m["dtype"] != pm["dtype"]:
                wide = _widened_dtype(pm["dtype"], m["dtype"])
                if wide is None:
                    raise ValueError(
                        f"schema evolution: column {col!r} changes "
                        f"storage type {pm['dtype']} -> {m['dtype']}; "
                        "only safe widening (int->wider int, "
                        "float32->float64) is metadata-only — other "
                        "changes need a rewrite, not a resume"
                    )
                m["dtype"] = wide
            if "phys" in pm:
                m["phys"] = pm["phys"]
        else:
            phys, k = col, 2
            while phys in taken:
                phys, k = f"{col}#{k}", k + 1
            if phys != col:
                m["phys"] = phys
            taken.add(phys)
        merged[col] = m
    return merged


def summary_ledger_rows(
    summary: list[dict], run_id: str, run_seq: int, status: str,
    attempt_id: str,
) -> list[tuple]:
    """Ledger rows (``LEDGER_SCHEMA_DDL`` order) for the partitions one
    write attempt completed, from the chunk writer's summary rows
    (:func:`choetl_spark.engine._make_writing_wrapper`)."""
    return [
        (s["part_id"], s["fingerprint"], s["n_rows"], s["raw_bytes"],
         s["encoded_bytes"], s["n_chunks"], s["codec_map"], run_id,
         int(run_seq), status, attempt_id)
        for s in summary
    ]


def _rows_table(rows: list[tuple], ddl: str) -> pa.Table:
    """``rows`` as an Arrow table of the ``long`` / ``string`` columns
    ``ddl`` names, in order."""
    types = {"long": pa.int64(), "string": pa.string()}
    return pa.table(
        {
            name: pa.array([r[i] for r in rows], types[t])
            for i, (name, t) in enumerate(f.split() for f in ddl.split(","))
        }
    )


def publish_table(d: str, table: pa.Table, name: str) -> None:
    """Write ``table`` as the file ``d/name`` with pyarrow on the
    driver, under a hidden ``.tmp-`` name renamed into place, so readers
    see all of its rows or none — the one writer of the store's side
    tables (ledger rows, tombstones, equality-delete values)."""
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{name}")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(d, name))


def append_ledger_rows(out_dir: str, rows: list[tuple]) -> None:
    """Append one commit's ledger rows (``LEDGER_SCHEMA_DDL`` order) as
    ONE ledger file (:func:`publish_table`) — the commit point of a
    write: readers see all of its rows or none."""
    publish_table(
        _ledger_dir(out_dir),
        _rows_table(rows, LEDGER_SCHEMA_DDL),
        f"{uuid.uuid4().hex}.parquet",
    )


def manifest_data_items(manifest: dict | None) -> list[tuple[str, dict]]:
    """The manifest's live column entries, skipping metadata sections
    (keys starting with ``_`` — e.g. ``_dropped``, the dropped-column
    reservation list kept by :mod:`choetl_spark.schema_evolution`)."""
    return [
        (c, m) for c, m in (manifest or {}).items() if not c.startswith("_")
    ]


def physical_name(entry: dict, display: str) -> str:
    """The chunk-table column key an entry's bytes are stored under.
    Identical to the display name unless schema evolution (a rename, or
    a re-add after drop) detached them — the Iceberg field-id analog."""
    return entry.get("phys", display)


def reserved_physicals(manifest: dict | None) -> set[str]:
    """Every chunk-table column key already spoken for: live entries'
    physical names plus dropped columns' (their chunks still exist in
    un-rewritten partitions, so a new column may not reuse the key)."""
    taken = {
        physical_name(m, c) for c, m in manifest_data_items(manifest)
    }
    for d in (manifest or {}).get("_dropped", []):
        taken.add(d.get("phys", d["display"]))
    return taken


def _read_parquet_dir(
    d: str, columns: list[str] | None = None, types: dict | None = None
) -> pa.Table | None:
    """Schema-lenient union read of every parquet file in ``d`` (the
    pyarrow analog of ``mergeSchema`` — stores resumed across engine
    upgrades mix footers with/without newer columns; ``types``,
    ``{column: Arrow type}``, casts each file's columns first). ``None``
    only when ``d`` holds no ``*.parquet``; an unreadable file raises."""
    paths = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not paths:
        return None
    tables = []
    for p in paths:
        t = pq.read_table(p)
        if columns is not None:
            t = t.select([c for c in columns if c in t.column_names])
        for c, typ in (types or {}).items():
            i = t.schema.get_field_index(c)
            t = t.set_column(i, c, t.column(i).cast(typ))
        tables.append(t)
    return pa.concat_tables(tables, promote_options="default")


_LEDGER_COLS = [f.split()[0] for f in LEDGER_SCHEMA_DDL.split(",")]
_COMMITTED = ("done", "delete", "eqdelete", "retired")


def _ledger_table(out_dir: str) -> pa.Table | None:
    """Every ledger row with every ``LEDGER_SCHEMA_DDL`` column, read
    with pyarrow; columns older ledger files lack read as null (a null
    ``run_seq`` is epoch 1, the pre-snapshot store)."""
    t = _read_parquet_dir(_ledger_dir(out_dir), _LEDGER_COLS)
    if t is None:
        return None
    empty = _rows_table([], LEDGER_SCHEMA_DDL)
    for f in empty.schema:
        if f.name not in t.column_names:
            t = t.append_column(f.name, pa.nulls(t.num_rows, f.type))
    return t.select(_LEDGER_COLS)


def ledger_state(out_dir: str, as_of: int | None = None) -> dict:
    """The store's commit state, resolved on the driver with pyarrow
    (zero Spark jobs; the ledger files are tiny metadata) — the one
    answer to every commit-state question, at an ``as_of`` already
    checked by :func:`resolve_snapshot`. An unreadable ledger file
    raises; a store with no ledger file gets the empty state.

    Over the rows committed at or before ``as_of`` (``None``: all):

    - ``live``: ``{part_id: {attempt_id, ...}}`` of partitions committed
      ``"done"`` and not retired (``None`` = a legacy row);
    - ``live_rows``: ``{part_id: n_rows}`` of the same partitions;
    - ``codec_maps``: ``{part_id: codec_map JSON}`` of the same
      partitions (the physical columns each one stores);
    - ``done``: ``{part_id: {attempt_id, ...}}`` of every ``"done"``
      commit, retired partitions included (what time travel and
      maintenance may still reach);
    - ``retired``: the ids of partitions retired by a rewrite;
    - ``part_seq``: ``{part_id: first done epoch}``;
    - ``has_done``: any ``"done"`` row at all;
    - ``delete_ids`` / ``delete_seqs``: positional-delete commits;
    - ``eq_commits``: ``[(delete_id, run_seq, key_col)]`` equality
      deletes (``codec_map`` carries the key column);
    - ``staged``: ``{run_id: [row dict, ...]}`` of write-audit-publish
      rows still awaiting their verdict (staged, and neither aborted
      nor published under the same ``(part_id, attempt_id)``);
    - ``runs``: ``{run_id: {status: summed n_rows}}``.

    Over every row: ``max_seq`` (the latest epoch, staged included),
    ``committed_seq`` (committed statuses only: a staged or aborted
    WAP epoch must not stamp schema-log snapshots) and ``max_part``
    (writer id allocation)."""
    t = _ledger_table(out_dir)
    state = {
        "live": {},
        "done": {},
        "live_rows": {},
        "codec_maps": {},
        "retired": set(),
        "part_seq": {},
        "has_done": False,
        "delete_ids": set(),
        "delete_seqs": [],
        "eq_commits": [],
        "staged": {},
        "runs": {},
        "max_seq": 0,
        "committed_seq": 0,
        "max_part": -1,
    }
    if t is None:
        return state
    rows = list(
        zip(
            *(
                t.column(c).to_pylist()
                for c in (
                    "part_id", "attempt_id", "run_seq", "status",
                    "codec_map", "run_id", "n_rows",
                )
            )
        )
    )
    lim = int(as_of) if as_of is not None else None
    done = state["done"]
    n_rows: dict[int, int] = {}
    cmaps: dict[int, str | None] = {}
    staged, dead = [], set()
    for i, (pid, att, seq, st, cmap, rid, n) in enumerate(rows):
        seq = 1 if seq is None else seq
        state["max_seq"] = max(state["max_seq"], seq)
        if pid is not None:
            state["max_part"] = max(state["max_part"], pid)
        if st in _COMMITTED:
            state["committed_seq"] = max(state["committed_seq"], seq)
        if lim is not None and seq > lim:
            continue
        run = state["runs"].setdefault(rid, {})
        run[st] = run.get(st, 0) + (n or 0)
        if st == "done":
            done.setdefault(pid, set()).add(att)
            n_rows[pid] = n
            cmaps[pid] = cmap
            prev = state["part_seq"].get(pid)
            if prev is None or seq < prev:
                state["part_seq"][pid] = seq
        elif st == "retired":
            state["retired"].add(pid)
        elif st == "delete":
            state["delete_ids"].add(att)
            state["delete_seqs"].append(seq)
        elif st == "eqdelete":
            state["eq_commits"].append((att, seq, cmap))
        elif st == "staged":
            staged.append((pid, att, rid, i))
        if st in ("done", "aborted"):
            dead.add((pid, att))
    state["has_done"] = bool(done)
    state["delete_seqs"].sort()
    state["eq_commits"].sort(key=lambda c: c[1])
    for p, atts in done.items():
        if p not in state["retired"]:
            state["live"][p] = atts
            state["live_rows"][p] = n_rows[p]
            state["codec_maps"][p] = cmaps[p]
    table = t.to_pylist() if staged else []
    for pid, att, rid, i in staged:
        if (pid, att) not in dead:
            state["staged"].setdefault(rid, []).append(table[i])
    return state


def _attempt_ok(row_att: str | None, committed) -> bool:
    """The commit-key rule: a chunk row stamped ``row_att`` belongs to a
    partition committed under the attempt ids ``committed`` when they
    match. Null on either side matches (stores written before
    ``attempt_id`` existed); two ids must be equal, which keeps a
    crashed attempt's orphan chunks invisible once the same partition
    commits under another attempt."""
    return row_att is None or None in committed or row_att in committed


def _staged_keys(
    state: dict, run_id: str | None = None, base: dict | None = None
) -> dict[int, set]:
    """``base`` (a copy; ``{part_id: {attempt_id, ...}}``, the ``live``
    shape) plus the commit keys of the write-audit-publish rows still
    staged in ``state`` (every run's, or ``run_id``'s)."""
    keys = {p: set(a) for p, a in (base or {}).items()}
    for rid, rows in state["staged"].items():
        if run_id in (None, rid):
            for r in rows:
                keys.setdefault(r["part_id"], set()).add(r["attempt_id"])
    return keys


def _ledger_rows(out_dir: str) -> list[dict]:
    """Every ledger row as a dict, a null ``run_seq`` read as epoch 1."""
    t = _ledger_table(out_dir)
    rows = [] if t is None else t.to_pylist()
    for r in rows:
        if r["run_seq"] is None:
            r["run_seq"] = 1
    return rows


def manifest_as_of(manifest: dict | None, as_of: int | None) -> dict | None:
    """The manifest view an ``as_of`` reader resolves display names
    against — the Iceberg snapshots-pin-their-schema contract.

    ``_schema_log`` entries (appended by :mod:`choetl_spark.
    schema_evolution` BEFORE each rename/drop) record the live schema
    as it stood through a commit epoch; the first entry whose
    ``through_seq >= as_of`` is that epoch's schema, so a column
    renamed after epoch N still reads under its OLD name at
    ``as_of=N`` — and a column dropped after N is still readable
    there. Current-snapshot readers (``as_of=None``) and stores with
    no schema history get the manifest unchanged."""
    if manifest is None or as_of is None:
        return manifest
    log = manifest.get("_schema_log") or []
    snap = next(
        (s for s in log if int(s["through_seq"]) >= int(as_of)), None
    )
    if snap is None:
        return manifest
    view: dict = {c: dict(m) for c, m in snap["columns"].items()}
    # chunks stored under physical keys outside this epoch's schema
    # (columns added / renamed-in / re-added later) mask exactly like
    # dropped ones; the as_of commit filter already hides their
    # partitions — this keeps the remap total as defense in depth
    live_phys = {physical_name(m, c) for c, m in view.items()}
    masked = [
        {"display": p, "phys": p}
        for p in sorted(reserved_physicals(manifest))
        if p not in live_phys
    ]
    if masked:
        view["_dropped"] = masked
    return view


def current_names_at(
    manifest: dict | None, as_of: int | None
) -> dict[str, str]:
    """``{current name: name at as_of}`` for every current column the
    ``as_of`` schema already had, matched by physical chunk key — how
    multi-epoch machinery (``rollback_to``, ``read_changes``) reads an
    old snapshot and speaks the CURRENT schema, as Iceberg rollback and
    changelog do. Columns added since have no entry; columns dropped
    since are not current."""
    old = {
        physical_name(m, c): c
        for c, m in manifest_data_items(manifest_as_of(manifest, as_of))
    }
    return {
        c: old[physical_name(m, c)]
        for c, m in manifest_data_items(manifest)
        if physical_name(m, c) in old
    }


def _display_remap(chunks: DataFrame, manifest: dict | None) -> DataFrame:
    """Rewrite the chunk table's ``column`` values from physical storage
    keys to the manifest's CURRENT display names, so every downstream
    consumer (decode, pruners, stats, pushdown) speaks display names
    only. Identity (no-op plan) for the common store with no renames."""
    remap = {
        physical_name(m, c): c
        for c, m in manifest_data_items(manifest)
        if physical_name(m, c) != c
    }
    # dropped columns' chunks persist until a rewrite sheds them — mask
    # their physical keys behind an unrequestable name, or a re-added
    # column with the dropped DISPLAY name would match them in decode's
    # column filter and resurrect the dropped bytes
    for d in (manifest or {}).get("_dropped", []):
        dp = d.get("phys", d["display"])
        remap.setdefault(dp, f"_dropped:{dp}")
    if not remap:
        return chunks
    m = F.create_map(
        *[F.lit(x) for kv in remap.items() for x in kv]
    )
    return chunks.withColumn(
        "column", F.coalesce(m[F.col("column")], F.col("column"))
    )


def _read_chunks(
    spark: SparkSession, out_dir: str, live: dict | None = None
) -> DataFrame:
    """The chunk table as a Spark frame; with ``live`` (``{part_id:
    {attempt_id, ...}}``, :func:`ledger_state`'s shape) only the chunk
    rows whose commit key it names (:func:`_attempt_ok`'s rule). The
    schema is the constant chunk schema, so building the frame runs no
    Spark job; chunk files that predate ``attempt_id`` read it as null.
    The keys are a broadcast local relation built from an Arrow table,
    so the filter starts no Python worker and plans no job."""
    chunks = spark.read.schema(
        ENCODED_SCHEMA_DDL + ", attempt_id string"
    ).parquet(_chunks_dir(out_dir))
    if live is None:
        return chunks
    keys = spark.createDataFrame(
        _rows_table(
            [(p, a) for p, atts in live.items() for a in atts],
            "_c_part long, _c_att string",
        )
    )
    cond = (F.col("part_id") == F.col("_c_part")) & (
        F.col("attempt_id").isNull()
        | F.col("_c_att").isNull()
        | (F.col("attempt_id") == F.col("_c_att"))
    )
    return chunks.join(F.broadcast(keys), cond, "left_semi")


def read_encoded(
    spark: SparkSession,
    out_dir: str,
    as_of: int | None = None,
    include_retired: bool = False,
    include_staged: bool = False,
    ref: str | None = None,
    raw_columns: bool = False,
) -> DataFrame:
    """Committed chunks only: the chunk rows whose ``(part_id,
    attempt_id)`` commit key :func:`ledger_state` resolves as visible
    (see the module docstring for why part_id alone would duplicate rows
    after a crash-resume).

    The chunk table as a Spark frame: chunk metadata and payloads, with
    NO deletes applied — for chunk-level work (stats rollups, file
    compaction, snapshot expiry, Bloom probes). Rows are read through
    ``format("choetl")`` (:func:`choetl_spark.datasource.load_store`),
    which subtracts deletes; decoding this frame with
    :func:`choetl_spark.engine.decode_dataframe` does not. Building the
    frame runs no Spark job: visibility comes from the ledger through
    pyarrow, and the chunk schema is a constant.

    ``as_of`` is a snapshot read (Iceberg time-travel contract on an
    append-only store): only partitions committed at ledger epoch
    ``run_seq <= as_of`` are visible. Sound because committed partitions
    are immutable — later runs only APPEND new partitions — so epoch
    ``k``'s table is exactly the ``run_seq <= k`` subset. ``None`` reads
    the latest snapshot.

    Partitions RETIRED by a rewrite (``status="retired"`` ledger rows —
    tombstone materialization, :func:`choetl_spark.deletes.
    rewrite_partitions`) are invisible from their retirement epoch
    onward; ``as_of`` an earlier epoch still reads them (the rewrite is
    a snapshot like any other). ``include_retired=True`` keeps them
    regardless — for maintenance passes (``compact_store``) that must
    preserve time-travel-reachable chunks. ``include_staged=True``
    additionally keeps write-audit-publish partitions staged and not yet
    published/aborted (:mod:`choetl_spark.refs`) — maintenance must not
    reclaim a stage awaiting its audit; normal readers never see them.
    ``ref`` reads the snapshot a named tag/branch points at.

    Chunk ``column`` values are translated from physical storage keys to
    the manifest's current DISPLAY names (schema-evolution renames,
    :mod:`choetl_spark.schema_evolution`) — ``raw_columns=True`` skips
    that for maintenance passes that persist chunk rows verbatim
    (``compact_store``/``expire_snapshots``), which must keep the
    physical keys or later renames would orphan the rewritten chunks."""
    as_of = resolve_snapshot(out_dir, as_of, ref)
    state = ledger_state(out_dir, as_of)
    keys = state["done"] if include_retired else state["live"]
    if include_staged:
        keys = _staged_keys(state, base=keys)
    out = _read_chunks(spark, out_dir, keys)
    if not raw_columns:
        # as_of readers resolve display names against the SNAPSHOT's
        # schema (manifest_as_of)
        out = _display_remap(
            out, manifest_as_of(read_manifest(out_dir), as_of)
        )
    return out


def snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """One row per commit epoch (the Iceberg snapshot-list analog):
    ``(run_seq, run_id, operation, n_partitions, n_rows, raw_bytes,
    encoded_bytes)``, ordered by epoch — ``operation`` is "append"
    (an ingest; ``n_rows`` = rows committed), "replace" (the epoch also
    retires partitions: overwrite / compaction / rollback), or "delete"
    (a row-level tombstone commit; ``n_rows`` = rows deleted,
    ``n_partitions`` 0 since no partition was written). Pass a
    ``run_seq`` to
    ``read_encoded``/``scan_encoded`` ``as_of=`` for time travel.
    Folded from the ledger rows on the driver: the frame is a local
    relation, and collecting it runs no Spark job."""
    rows = _ledger_rows(out_dir)
    # an epoch that both commits new partitions AND retires old ones is
    # an atomic replace snapshot (overwrite / rewrite_partitions /
    # rollback-with-rewrite) — Iceberg's "replace" operation; a pure
    # ingest epoch is "append"
    retire_seqs = {r["run_seq"] for r in rows if r["status"] == "retired"}
    ops = {"done": "append", "delete": "delete", "eqdelete": "eqdelete"}
    epochs: dict[tuple, list] = {}
    for r in rows:
        if r["status"] in ops:
            e = epochs.setdefault(
                (r["run_seq"], r["run_id"], r["status"]), [0, None, None, None]
            )
            e[0] += 1
            # Spark's sum: nulls are skipped, and all-null stays null
            for k, c in enumerate(("n_rows", "raw_bytes", "encoded_bytes"), 1):
                if r[c] is not None:
                    e[k] = (e[k] or 0) + r[c]
    out = [
        (
            seq, rid,
            "replace" if st == "done" and seq in retire_seqs else ops[st],
            n if st == "done" else 0, *sums,
        )
        for (seq, rid, st), (n, *sums) in epochs.items()
    ]
    # epochs holding ONLY "retired" rows (a metadata-only rollback) have
    # no done/delete row to surface them above — list them as "replace"
    # so the snapshot history shows where the table state changed
    seen = {seq for seq, _, _ in epochs}
    out += [
        (seq, rid, "replace", 0, 0, 0, 0)
        for seq, rid in {
            (r["run_seq"], r["run_id"])
            for r in rows
            if r["status"] == "retired" and r["run_seq"] not in seen
        }
    ]
    out.sort(key=lambda e: (e[0], e[1] or "", e[2]))
    return spark.createDataFrame(
        _rows_table(
            out,
            "run_seq long, run_id string, operation string,"
            " n_partitions long, n_rows long,"
            " raw_bytes long, encoded_bytes long",
        )
    )


def vacuum(
    spark: SparkSession, out_dir: str, grace_sec: float = 0.0
) -> dict:
    """Delete orphaned chunk FILES — files whose partitions never got a
    ledger commit row (a crashed run's leftovers). Readers already
    ignore them (every reader takes commit keys from
    :func:`ledger_state`), so vacuum is pure storage reclamation, the
    ``remove_orphan_files`` action of an Iceberg catalog.

    File-granular and safe by construction: every chunk file is written
    by exactly one run, so a file either had ALL its partitions
    committed (kept) or none (orphan). ``grace_sec`` skips files younger
    than the cutoff — in production set it above the max job duration so
    a vacuum can't race an in-flight run's just-written files; 0 is for
    tests/offline maintenance. No ledger at all = no commit record to
    judge against (a first run may be mid-flight) -> no-op.

    Runs on the driver with pyarrow (:func:`_orphan_chunk_files` reads
    two metadata columns per chunk file) and starts no Spark job.
    """
    import time

    removed = 0
    reclaimed = 0
    cutoff = time.time() - grace_sec
    # dot-prefixed staging files of failed, speculative or uncommitted
    # writer tasks (the chunk writer, engine._make_writing_wrapper,
    # writes them; the driver renames only the successful attempts'
    # files into place): invisible to every parquet reader, so the
    # orphan pass never lists them. Swept FIRST and
    # unconditionally — it is a pure driver-side listdir needing no
    # ledger, so crashed staging files in a never-committed store (no
    # ledger yet) or behind a failing orphan listing still get
    # reclaimed.
    try:
        names = os.listdir(_chunks_dir(out_dir))
    except OSError:
        names = []
    for n in names:
        if not n.startswith(".tmp-"):
            continue
        path = os.path.join(_chunks_dir(out_dir), n)
        try:
            if os.path.getmtime(path) > cutoff:
                continue
            size = os.path.getsize(path)
            os.remove(path)
        except OSError:
            continue
        removed += 1
        reclaimed += size
    try:
        orphans = _orphan_chunk_files(out_dir)
    except Exception:
        orphans = None  # unreadable store: keep the staging sweep's work
    for path in orphans or []:
        try:
            if os.path.getmtime(path) > cutoff:
                continue
            size = os.path.getsize(path)
            os.remove(path)
        except OSError:
            continue  # already gone / concurrent maintenance
        removed += 1
        reclaimed += size
    return {"files_removed": removed, "bytes_reclaimed": reclaimed}


def _orphan_chunk_files(out_dir: str) -> list | None:
    """Chunk FILES none of whose rows carries a committed ``(part_id,
    attempt_id)`` — a crashed or still-in-flight run's leftovers, or an
    aborted stage's. ``None`` when there is no ledger (no commit record
    to judge against). Local paths.

    Committed means a ``"done"`` commit (retired ones too: time travel
    still reads them) or a stage awaiting its audit; an ABORTED stage
    drops out, so its files become orphans here — that is how vacuum
    reclaims a failed audit's bytes. One ledger read, then a pyarrow
    pass over each chunk file's ``part_id`` and ``attempt_id``."""
    if not glob.glob(os.path.join(_ledger_dir(out_dir), "*.parquet")):
        return None
    state = ledger_state(out_dir)
    committed = _staged_keys(state, base=state["done"])
    orphans = []
    files = glob.glob(os.path.join(_chunks_dir(out_dir), "*.parquet"))
    for path in sorted(files):
        pf = pq.ParquetFile(path)
        names = pf.schema_arrow.names
        cols = [c for c in ("part_id", "attempt_id") if c in names]
        t = pf.read(columns=cols)
        atts = (
            t.column("attempt_id").to_pylist()
            if "attempt_id" in cols else [None] * t.num_rows
        )
        # a zero-row file holds no commit key to judge: it is kept
        if t.num_rows and not any(
            p in committed and _attempt_ok(a, committed[p])
            for p, a in zip(t.column("part_id").to_pylist(), atts)
        ):
            orphans.append(path)
    return orphans


def scan_encoded(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    ranges: dict | None = None,
    equals: dict | None = None,
    as_of: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Query the encoded store: ``columns`` (default: all, in name
    order) of the rows where ``lo <= col <= hi`` for each ``ranges={col:
    (lo, hi)}`` and ``col == value`` (``IN`` for a list) for each
    ``equals={col: value_or_list}``; predicate columns need not be in
    ``columns``; a string/binary column's range with a non-string bound
    matches nothing. ``as_of`` time-travels to a ledger epoch and ``ref``
    reads the snapshot a tag/branch names (:mod:`choetl_spark.refs`).

    The store's one reader plans the read on the driver
    (:func:`choetl_spark.datasource.read_store`): the predicates become
    the filters Spark would push, zone maps and Blooms drop the chunks
    and partitions that cannot match, and only the requested and
    predicate columns are planned. A read that decodes to at most
    ``datasource.LOCAL_READ_BYTES`` runs in this process and returns a
    local relation (collecting it runs no Spark job); a larger one is
    the distributed ``format("choetl")`` read. Either way the
    predicates are plain Spark filters that Spark applies exactly.
    Errors are typed and raised here, not at the action: ``ValueError``
    for ``as_of`` with ``ref``, an unknown ref or an expired ``as_of``;
    ``KeyError`` for an unknown column; ``RuntimeError`` when a lost
    delete table would resurrect rows.
    """
    return _scan(spark, out_dir, columns, ranges, equals, as_of, ref)[0]


def _scan(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None,
    ranges: dict | None,
    equals: dict | None,
    as_of: int | None = None,
    ref: str | None = None,
) -> tuple[DataFrame, int | None]:
    """:func:`scan_encoded` and the row count of its local read (a
    superset of the rows it returns; ``None`` when distributed)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        LessThanOrEqual,
    )

    from choetl_spark.datasource import read_store
    from choetl_spark.engine import normalize_predicate_value as _norm

    # naive datetime bounds -> the aware instants Spark's literals mean
    ranges = {
        c: (_norm(lo), _norm(hi)) for c, (lo, hi) in (ranges or {}).items()
    }
    equals = {
        c: (
            [_norm(x) for x in v]
            if isinstance(v, (list, tuple, set))
            else _norm(v)
        )
        for c, v in (equals or {}).items()
    }
    filters = [
        f
        for c, (lo, hi) in ranges.items()
        for f in (GreaterThanOrEqual((c,), lo), LessThanOrEqual((c,), hi))
    ] + [
        In((c,), tuple(v)) if isinstance(v, list) else EqualTo((c,), v)
        for c, v in equals.items()
    ]
    out, rows = read_store(
        spark, out_dir,
        None if columns is None else [*columns, *ranges, *equals],
        filters, as_of=as_of, ref=ref,
    )
    for col, (lo, hi) in ranges.items():
        typ = out.schema[col].dataType.typeName()
        if typ in ("string", "binary") and not all(
            isinstance(b, (str, bytes)) for b in (lo, hi)
        ):
            # no order between stored strings and a non-string bound
            # (Spark would cast every stored value): nothing matches
            out = out.filter(F.lit(False))
        else:
            out = out.filter((F.col(col) >= lo) & (F.col(col) <= hi))
    for col, value in equals.items():
        if isinstance(value, list):
            out = out.filter(F.col(col).isin(value))
        else:
            out = out.filter(F.col(col) == value)
    return (out.select(*columns) if columns is not None else out), rows


def read_changes(
    spark: SparkSession,
    out_dir: str,
    from_seq: int,
    to_seq: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Incremental changelog read — the Iceberg incremental scan /
    changelog-table analog: exactly the NET row difference between the
    snapshots at ``from_seq`` and ``to_seq`` (default: latest), as the
    data columns plus ``_change_type`` (``insert`` / ``delete``).

    The contract (and the invariant the tests pin):

        scan(as_of=from_seq)  +  inserts  -  deletes  ==  scan(as_of=to_seq)

    so a downstream consumer (an index, a feature store, a training-set
    materializer) can stay in sync by reading only the delta —
    O(changed partitions), never O(store).

    Each half is ``format("choetl")`` rows at its epoch (deletes
    subtracted) of the partitions it names (hidden ``_part_id``), under
    the CURRENT column names (:func:`current_names_at`; a column added
    later reads as null):

    - partitions ADDED in the range: their rows at ``to_seq`` are
      inserts;
    - partitions RETIRED in the range (rewrites, clustering): their
      rows at ``from_seq`` are deletes, which the replacements' inserts
      net to zero; added-and-retired partitions are skipped;
    - partitions that SURVIVE the range with rows deleted in it
      (:func:`choetl_spark.deletes.deletes_changed`): their rows at
      ``from_seq`` whose ``(_part_id, _row_pos)`` is gone at
      ``to_seq`` are deletes.

    Needs the chunks of ``from_seq``-visible partitions to still exist:
    raises if ``expire_snapshots`` already reclaimed history at or
    before ``from_seq``. ``from_seq=0`` is a full bootstrap (everything
    at ``to_seq`` as inserts).
    """
    from choetl_spark.codecs.base import str_to_type
    from choetl_spark.datasource import load_store
    from choetl_spark.deletes import deletes_changed
    from choetl_spark.engine import _spark_type_ddl

    latest = ledger_state(out_dir)["max_seq"]
    if not latest:
        raise ValueError(f"no committed store at {out_dir}")
    from_seq = int(from_seq)
    to_seq = latest if to_seq is None else int(to_seq)
    if from_seq > 0 and from_seq < min_time_travel_seq(out_dir):
        raise ValueError(
            f"changelog from_seq={from_seq} has been expired; the "
            f"oldest readable epoch is {min_time_travel_seq(out_dir)}"
        )

    s_from = ledger_state(out_dir, from_seq) if from_seq else None
    s_to = ledger_state(out_dir, to_seq)
    v_from, v_to = set(s_from["live"] if s_from else {}), set(s_to["live"])

    manifest = read_manifest(out_dir)
    entries = dict(manifest_data_items(manifest))
    cols = columns or sorted(entries)
    missing = [c for c in cols if c not in entries]
    if missing:
        raise KeyError(f"columns not in encoded store: {missing}")
    ddl = {
        c: entries[c].get("logical")
        or _spark_type_ddl(str_to_type(entries[c]["dtype"]))
        for c in cols
    }

    def rows_at(seq: int, parts: set, hidden: list[str]) -> DataFrame:
        old = current_names_at(manifest, seq)
        df = load_store(
            spark, out_dir,
            [*(old[c] for c in cols if c in old), "_part_id", *hidden],
            as_of=seq,
        ).filter(F.col("_part_id").isin(sorted(parts)))
        return df.select(
            *(
                F.col(old[c]).alias(c) if c in old
                else F.lit(None).cast(ddl[c]).alias(c)
                for c in cols
            ),
            *hidden,
        )

    out_parts: list[DataFrame] = []
    if v_to - v_from:
        out_parts.append(
            rows_at(to_seq, v_to - v_from, [])
            .withColumn("_change_type", F.lit("insert"))
        )
    if v_from - v_to:
        out_parts.append(
            rows_at(from_seq, v_from - v_to, [])
            .withColumn("_change_type", F.lit("delete"))
        )
    stayed = v_from & v_to
    changed = stayed and deletes_changed(
        spark, out_dir, from_seq, to_seq, stayed
    )
    if changed:
        pos = ["_part_id", "_row_pos"]
        gone = rows_at(from_seq, changed, pos).join(
            rows_at(to_seq, changed, pos).select(*pos), pos, "left_anti"
        )
        out_parts.append(
            gone.drop(*pos).withColumn("_change_type", F.lit("delete"))
        )

    if not out_parts:
        return spark.createDataFrame(
            [],
            ", ".join(
                [*(f"`{c}` {ddl[c]}" for c in cols), "`_change_type` string"]
            ),
        )
    res = out_parts[0]
    for p in out_parts[1:]:
        res = res.unionByName(p)
    return res


def store_partitions(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> DataFrame:
    """Per-partition metadata rollup — the Iceberg ``.partitions``
    metadata table analog: ``(part_id, run_seq, n_rows, n_chunks,
    n_columns, raw_bytes, encoded_bytes, n_deleted, live_rows)`` for
    every partition VISIBLE at ``as_of`` (committed, not retired, in a
    readable epoch). ``n_deleted`` counts the rows deleted at the same
    epoch, both kinds (:func:`choetl_spark.deletes.deleted_counts`);
    ``live_rows`` is what a scan would return. The operational surface
    for skew checks ('is a partition oversized?'), delete-debt triage
    ('which partitions want rewrite_partitions?'), and storage
    accounting — folded from the ledger rows on the driver, a local
    relation ordered by ``part_id``."""
    as_of = resolve_snapshot(out_dir, as_of)
    from choetl_spark.deletes import deleted_counts

    rows = [
        r for r in _ledger_rows(out_dir)
        if as_of is None or r["run_seq"] <= as_of
    ]
    retired = {r["part_id"] for r in rows if r["status"] == "retired"}
    counts = deleted_counts(spark, out_dir, as_of)
    out = []
    for r in rows:
        if r["status"] != "done" or r["part_id"] in retired:
            continue
        n_del = counts.get(r["part_id"], 0)
        cmap = r["codec_map"]
        out.append((
            r["part_id"], r["run_seq"], r["n_rows"], r["n_chunks"],
            len({c["column"] for c in json.loads(cmap)}) if cmap else None,
            r["raw_bytes"], r["encoded_bytes"], n_del,
            None if r["n_rows"] is None else r["n_rows"] - n_del,
        ))
    out.sort(key=lambda p: p[0])
    return spark.createDataFrame(
        _rows_table(
            out,
            "part_id long, run_seq long, n_rows long, n_chunks long, "
            "n_columns long, raw_bytes long, encoded_bytes long, "
            "n_deleted long, live_rows long",
        )
    )


def store_files(spark: SparkSession, out_dir: str) -> DataFrame:
    """Physical file inventory — the Iceberg ``.files`` metadata table
    analog: one row per chunk-table parquet file,
    ``(file, size_bytes, n_chunk_rows, n_partitions, n_columns,
    encoded_bytes, part_id_min, part_id_max)``. ``part_id_min/max``
    show whether the layout supports FILE-level footer pruning (tight
    after ``compact_store``'s range clustering, interleaved after many
    small appends — the 'do I need compaction?' signal). Reads only
    chunk METADATA columns plus the driver's directory listing (the
    catalog read an Iceberg deployment gets for free)."""
    chunks_dir = _chunks_dir(out_dir)
    sizes = [
        (f, os.path.getsize(os.path.join(chunks_dir, f)))
        for f in sorted(os.listdir(chunks_dir))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    size_df = spark.createDataFrame(
        sizes or [("", 0)], "file string, size_bytes long"
    ).filter(F.col("file") != "")
    per_file = (
        _read_chunks(spark, out_dir)
        .select(
            # basename: input_file_name's scheme form (file:/ vs
            # file:///) varies; names are unique within the directory
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                "file"
            ),
            "part_id",
            "column",
            "encoded_bytes",
        )
        .groupBy("file")
        .agg(
            F.count("*").alias("n_chunk_rows"),
            F.countDistinct("part_id").alias("n_partitions"),
            F.countDistinct("column").alias("n_columns"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
            F.min("part_id").alias("part_id_min"),
            F.max("part_id").alias("part_id_max"),
        )
    )
    # the physical listing drives: a zero-row file (a task that wrote
    # no chunks) is still inventory — it never appears in
    # input_file_name rollups
    return size_df.join(per_file, "file", "left").select(
        "file",
        "size_bytes",
        F.coalesce("n_chunk_rows", F.lit(0)).cast("long").alias(
            "n_chunk_rows"
        ),
        F.coalesce("n_partitions", F.lit(0)).cast("long").alias(
            "n_partitions"
        ),
        F.coalesce("n_columns", F.lit(0)).cast("long").alias("n_columns"),
        F.coalesce("encoded_bytes", F.lit(0)).cast("long").alias(
            "encoded_bytes"
        ),
        "part_id_min",
        "part_id_max",
    )


_AGG_STATS_DDL = (
    "min_val long, max_val long, sum_val string, sum_f double, "
    "min_str string, max_str string, "
    "min_str_trunc boolean, max_str_trunc boolean"
)


def _per_column_stats_frame(enc: DataFrame) -> DataFrame:
    """Per-column rollup of the chunk statistics — the metadata-only
    frame :func:`agg_encoded` aggregates. Reads NO payload bytes (the
    parquet scan's ReadSchema carries only the stats columns; a
    plan-guard test pins it)."""
    s = F.from_json("stats", _AGG_STATS_DDL).alias("_s")
    has_vals = F.col("n_rows") > F.col("n_nulls")
    return (
        enc.select("column", "n_rows", "n_nulls", s)
        .groupBy("column")
        .agg(
            F.sum("n_rows").alias("rows"),
            F.sum(F.col("n_rows") - F.col("n_nulls")).alias("nonnull"),
            F.min("_s.min_val").alias("min_val"),
            F.max("_s.max_val").alias("max_val"),
            F.min("_s.min_str").alias("min_str"),
            F.max("_s.max_str").alias("max_str"),
            F.sum(F.col("_s.sum_val").cast("decimal(38,0)")).alias("sum_dec"),
            F.sum("_s.sum_f").alias("sum_f"),
            # exactness guards: any value-bearing chunk missing a stat
            # (older store, unsupported type) or carrying a truncated
            # string bound makes that stat inexact for the column
            F.max(
                F.when(has_vals & F.col("_s.min_val").isNull(), True)
                .otherwise(False)
            ).alias("minmax_missing"),
            F.max(
                F.when(has_vals & F.col("_s.sum_val").isNull(), True)
                .otherwise(False)
            ).alias("sum_missing"),
            F.max(
                F.when(has_vals & F.col("_s.sum_f").isNull(), True)
                .otherwise(False)
            ).alias("sumf_missing"),
            F.max(
                F.when(
                    has_vals
                    & (
                        F.col("_s.min_str").isNull()
                        | F.coalesce("_s.min_str_trunc", F.lit(True))
                    ),
                    True,
                ).otherwise(False)
            ).alias("minstr_inexact"),
            F.max(
                F.when(
                    has_vals
                    & (
                        F.col("_s.max_str").isNull()
                        | F.coalesce("_s.max_str_trunc", F.lit(True))
                    ),
                    True,
                ).otherwise(False)
            ).alias("maxstr_inexact"),
        )
    )


def agg_encoded(
    spark: SparkSession,
    out_dir: str,
    aggs: dict[str, tuple],
    as_of: int | None = None,
) -> DataFrame:
    """Aggregate pushdown over the encoded store: answer
    ``count``/``min``/``max``/``sum`` from the per-chunk statistics
    WITHOUT decoding any payload — the Iceberg/Parquet footer-stats
    aggregate pushdown, over our chunk table. ``aggs`` maps output
    alias -> ``(fn, column)``; ``("count", "*")`` counts rows.

        agg_encoded(spark, p, {"n": ("count", "*"),
                               "first_ts": ("min", "warc_ts"),
                               "bytes": ("sum", "content_len")})

    At 10^12 rows this is the difference between a metadata read (one
    aggregate over chunk-stat rows, payload column never scanned) and a
    full decode of the aggregated columns.

    Exactness is never traded away — the stats path is used only where
    it is provably exact, everything else falls back to decoding
    precisely the affected slices:

    - partitions with deleted rows, positional or equality
      (:func:`choetl_spark.deletes.deletes_changed`; their stats
      predate the deletes), are re-aggregated EXACTLY from
      ``format("choetl")`` rows of just those partitions, deletes
      subtracted — cost O(deleted-from partitions), the merge-on-read
      tax, not O(store);
    - string min/max falls back when any chunk's 64-char zone-map bound
      is truncated (a prefix under-estimates both bounds);
    - columns whose chunks predate a stat (older store) fall back for
      that aggregate;
    - ``sum`` is defined for integer and floating columns (int sums are
      exact at any magnitude — chunk stats carry decimal strings).

    An aggregate the stats cannot answer exactly is computed over
    ``format("choetl")`` rows of the whole snapshot instead.

    SQL semantics throughout: ``count(col)`` skips nulls, ``min``/
    ``max``/``sum`` ignore nulls, ``count(*)`` counts rows. Schema
    evolution composes: a late-added column's missing rows are null in
    old partitions, so per-column stats are already correct; for
    ``count(*)`` the row count comes from the widest column (exact
    whenever any original column spans the store — the same caveat as
    ``decode_dataframe``). Returns a ONE-ROW DataFrame typed like the
    source columns (timestamp/date bounds come back as timestamps/
    dates, not epoch ints).
    """
    import datetime as _dt
    from decimal import Decimal

    from choetl_spark.codecs.base import str_to_type
    from choetl_spark.datasource import load_store
    from choetl_spark.deletes import deletes_changed

    # snapshot-scoped schema: column names resolve against the
    # epoch's schema under as_of (manifest_as_of)
    manifest = manifest_as_of(read_manifest(out_dir), as_of)
    if manifest is None:
        raise ValueError(
            "agg_encoded needs the encode-time manifest sidecar "
            "(_manifest.json); this store predates it"
        )

    def family(col: str) -> tuple[str, "pa.DataType | None"]:
        m = manifest.get(col)
        if m is None:
            raise KeyError(f"column not in encoded store: {col}")
        if m.get("logical"):
            return "logical", None
        t = str_to_type(m["dtype"])
        if pa.types.is_timestamp(t):
            return "timestamp", t
        if pa.types.is_date(t):
            return "date", t
        if pa.types.is_boolean(t):
            return "bool", t
        if pa.types.is_integer(t):
            return "int", t
        if pa.types.is_floating(t):
            return "float", t
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string", t
        return "other", t

    # -- validate the spec up front ------------------------------------
    for alias, (fn, col) in aggs.items():
        if fn not in ("count", "min", "max", "sum"):
            raise ValueError(f"{alias}: unsupported aggregate {fn!r}")
        if col == "*":
            if fn != "count":
                raise ValueError(f"{alias}: only count supports '*'")
            continue
        fam = family(col)[0]
        if fn == "sum" and fam not in ("int", "float"):
            raise ValueError(
                f"{alias}: sum needs a numeric column, {col} is {fam}"
            )
        if fn in ("min", "max") and fam in ("other",):
            raise ValueError(f"{alias}: min/max unsupported for {col}")

    enc = read_encoded(spark, out_dir, as_of=as_of)
    dirty = sorted(deletes_changed(spark, out_dir, 0, as_of))
    enc_clean = (
        enc.filter(~F.col("part_id").isin(dirty)) if dirty else enc
    )

    # -- one metadata-only job over the clean partitions ---------------
    stats_rows = {
        r["column"]: r.asDict()
        for r in _per_column_stats_frame(enc_clean).collect()
    }

    def typed(v: "int | None", fam: str) -> object:
        """Storage int -> driver value, matching what a Spark aggregate
        over the decoded column returns through classic ``collect()``:
        stats store UTC-epoch micros, and PySpark's
        ``TimestampType.fromInternal`` converts those to a naive
        datetime in the DRIVER'S OS timezone
        (``datetime.fromtimestamp(ts // 1e6)`` — pyspark/sql/types.py),
        NOT the session timezone. Replicating that call exactly keeps
        the stats path merge-compatible with the decode-fallback and
        dirty-partition ``collect()`` paths on any driver tz, and the
        final ``createDataFrame`` (``toInternal`` = ``time.mktime``,
        the OS-tz inverse) round-trips the value back to the same
        micros. Session-tz conversion here was wrong twice: classic
        collect ignores the session tz, and offset-style session values
        ("GMT+05:30") crash ZoneInfo."""
        if v is None:
            return None
        if fam == "timestamp":
            # exact replica of TimestampType.fromInternal
            return _dt.datetime.fromtimestamp(v // 1_000_000).replace(
                microsecond=v % 1_000_000
            )
        if fam == "date":
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
        if fam == "bool":
            return bool(v)
        return int(v)

    def clean_value(fn: str, col: str) -> tuple[object, bool]:
        """(value, exact) for the clean-partition share of one agg."""
        if col == "*":
            rows = max(
                (r["rows"] for r in stats_rows.values()), default=0
            )
            return int(rows or 0), True
        r = stats_rows.get(col)
        if r is None:  # column has no chunks in the clean set
            return (0 if fn == "count" else None), True
        fam = family(col)[0]
        if fn == "count":
            return int(r["nonnull"] or 0), True
        if fam == "logical" or fam == "other":
            return None, False
        if fn in ("min", "max"):
            if fam == "string":
                inexact = r[f"{fn}str_inexact"]
                return r[f"{fn}_str"], not inexact
            if fam == "float":
                return None, False  # no float zone maps in stats
            return typed(r[f"{fn}_val"], fam), not r["minmax_missing"]
        # sum
        if fam == "float":
            return r["sum_f"], not r["sumf_missing"]
        v = r["sum_dec"]
        return (None if v is None else int(v)), not r["sum_missing"]

    clean: dict[str, object] = {}
    for alias, (fn, col) in aggs.items():
        v, exact = clean_value(fn, col)
        if exact:
            clean[alias] = v

    # -- exact Spark aggregation for the slices stats cannot answer ----
    def reader_agg(aliases: list[str], parts: list[int] | None) -> dict:
        """``aliases`` aggregated over ``format("choetl")`` rows
        (deletes subtracted) of partitions ``parts`` (``None``: all)."""
        # a pure count(*) spec still needs one decoded column for the
        # row count — the manifest's first (original) column
        cols = sorted({aggs[a][1] for a in aliases} - {"*"}) or [
            manifest_data_items(manifest)[0][0]
        ]
        df = load_store(
            spark, out_dir, cols + (["_part_id"] if parts else []),
            as_of=as_of,
        )
        if parts:
            df = df.filter(F.col("_part_id").isin(parts))
        exprs = []
        for alias in aliases:
            fn, col = aggs[alias]
            if col == "*":
                exprs.append(F.count(F.lit(1)).alias(alias))
            elif fn == "count":
                exprs.append(F.count(F.col(col)).alias(alias))
            elif fn == "sum" and family(col)[0] == "int":
                # exact at any magnitude, matching the stats path
                exprs.append(
                    F.sum(F.col(col).cast("decimal(38,0)")).alias(alias)
                )
            else:
                exprs.append(getattr(F, fn)(F.col(col)).alias(alias))
        row = df.agg(*exprs).collect()[0].asDict()
        return {
            k: (int(v) if isinstance(v, Decimal) else v)
            for k, v in row.items()
        }

    # exact aliases re-aggregate the dirty partitions and merge; the
    # rest aggregate the whole snapshot
    fallback = [a for a in aggs if a not in clean]
    fb_vals = reader_agg(fallback, None) if fallback else {}
    dirty_vals = reader_agg(list(clean), dirty) if dirty and clean else {}

    # -- merge and type the one-row result ------------------------------
    def merge(alias: str, fn: str) -> object:
        parts = [
            v
            for v in (
                [clean[alias], dirty_vals.get(alias)]
                if alias in clean
                else [fb_vals.get(alias)]
            )
            if v is not None
        ]
        if not parts:
            return 0 if fn == "count" else None
        if fn in ("count", "sum"):
            return sum(parts)
        return min(parts) if fn == "min" else max(parts)

    out_vals: list[object] = []
    out_ddl: list[str] = []
    _DDL = {
        "timestamp": "timestamp",
        "date": "date",
        "bool": "boolean",
        "float": "double",
        "string": "string",
        "int": "bigint",
    }
    for alias, (fn, col) in aggs.items():
        v = merge(alias, fn)
        # min/max/dirty values arrive already typed (naive OS-local
        # datetime per fromInternal, date, bool, int, float, str)
        if fn == "count":
            out_vals.append(int(v))
            out_ddl.append(f"`{alias}` bigint")
            continue
        fam = family(col)[0]
        if fn == "sum":
            # int sums ride as decimal(38,0): exact at magnitudes where
            # a bigint result column would itself overflow
            out_vals.append(
                None
                if v is None
                else (float(v) if fam == "float" else Decimal(int(v)))
            )
            out_ddl.append(
                f"`{alias}` "
                + ("double" if fam == "float" else "decimal(38,0)")
            )
            continue
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            # createDataFrame's toInternal reads naive datetimes in the
            # driver's OS tz (time.mktime) — convert aware values to
            # OS-local naive so the round-trip lands on the same micros
            v = v.astimezone().replace(tzinfo=None)
        out_vals.append(v)
        out_ddl.append(f"`{alias}` {_DDL[fam]}")
    return spark.createDataFrame([tuple(out_vals)], ", ".join(out_ddl))


def compact_store(
    spark: SparkSession,
    out_dir: str,
    target_file_bytes: int = 128 << 20,
    grace_sec: float = 0.0,
) -> dict:
    """Rewrite the chunk table into size-targeted files — the Iceberg
    ``rewrite_data_files`` (small-file compaction) action. Many small
    ingest runs each append their own parquet files; scans then pay
    per-file open/footer costs that dwarf the data. Compaction reads the
    COMMITTED chunks (so it doubles as a vacuum: a crashed run's orphans
    are dropped), range-partitions by (part_id, column, chunk_seq) so
    each output file holds contiguous partitions — parquet min/max
    footer stats on part_id then let later scans skip whole FILES, not
    just chunks — and swaps directories.

    ``grace_sec``: uncommitted chunk files YOUNGER than this are carried
    over verbatim instead of dropped — they may belong to an IN-FLIGHT
    run that has written its chunks but not yet appended its ledger rows,
    and deleting them would break that run's imminent commit (the ledger
    would then claim partitions whose chunks are gone). Same contract as
    ``vacuum``: set it above the max job duration in production; 0 is
    for tests/offline maintenance on a quiesced store. A store whose
    ledger has no committed rows at all is left untouched for the same
    reason (there is nothing to compact, and every file is potentially
    in-flight).

    Logical content is untouched: ledger, manifest, part_ids, chunk
    payloads, and run_seq epochs (time travel) all survive verbatim; only
    the file layout changes. The swap is two directory renames — on a
    real deployment an Iceberg catalog makes this a single atomic
    metadata commit; here the crash window between renames is the
    documented sandbox analog.
    """
    import math

    if not ledger_state(out_dir)["has_done"]:
        # no commit record yet: a first run may be mid-flight and its
        # chunks (all "orphan": nothing commits them) must not be rewritten
        # away — same guard as vacuum()
        return {"files_before": 0, "files_after": 0}
    # include_retired: a rewritten-away partition's chunks are still
    # reachable by as_of reads before its retirement epoch — compaction
    # must carry them (snapshot expiry, not compaction, reclaims them).
    # include_staged: a WAP stage awaiting audit must survive compaction
    # too (an ABORTED stage is excluded — compaction reclaims it)
    committed = read_encoded(
        spark, out_dir, include_retired=True, include_staged=True,
        raw_columns=True,
    )
    total = (
        committed.agg(F.sum("encoded_bytes").alias("b")).collect()[0]["b"]
        or 0
    )
    n_files = max(1, math.ceil(total / max(1, target_file_bytes)))
    return _swap_chunk_table(spark, out_dir, committed, n_files, grace_sec)


def expire_snapshots(
    spark: SparkSession,
    out_dir: str,
    older_than_seq: int,
    target_file_bytes: int = 128 << 20,
    grace_sec: float = 0.0,
) -> dict:
    """Give up time travel BEFORE epoch ``older_than_seq`` and reclaim
    the storage it pinned — the Iceberg ``expire_snapshots`` action.

    What becomes reclaimable is exactly the chunks only old snapshots
    could reach: partitions RETIRED (by ``rewrite_partitions``) at or
    before ``older_than_seq``. Their chunk rows are dropped in a chunk-
    table rewrite (same swap machinery and ``grace_sec`` in-flight
    protection as ``compact_store``), along with the tombstones that
    pointed at them. Live partitions are untouched no matter how old —
    they are still referenced by the latest snapshot (the Iceberg
    still-referenced-data-files rule).

    Ordering makes the crash window safe: the ``_expiry.json`` floor is
    written FIRST, so from that moment every ``as_of`` below it refuses
    loudly (``read_encoded`` guard) instead of silently reading a
    partially-reclaimed snapshot; a crash after the floor but before
    the rewrite merely leaves the storage unreclaimed (rerun to
    finish). Ledger rows for expired partitions are kept as lineage —
    harmless, since no readable epoch resolves to their chunks."""
    import math
    import shutil

    from choetl_spark.refs import min_ref_seq

    older_than_seq = int(older_than_seq)
    ref_floor = min_ref_seq(out_dir)
    retained_by_ref = ref_floor is not None and ref_floor < older_than_seq
    if retained_by_ref:
        # a tag/branch pins its epoch: expiry clamps to the oldest ref so
        # a named snapshot can never be expired out from under its name
        # (Iceberg's retained-by-ref rule); drop_ref then re-run to
        # reclaim further
        older_than_seq = ref_floor
    floor = max(min_time_travel_seq(out_dir), older_than_seq)
    res = {
        "min_as_of_seq": floor,
        "retained_by_ref": retained_by_ref,
        "partitions_reclaimed": 0,
        "files_before": 0,
        "files_after": 0,
    }
    state = ledger_state(out_dir, older_than_seq)
    if not state["max_seq"]:
        return res
    with open(_expiry_path(out_dir), "w", encoding="utf-8") as fh:
        json.dump({"min_as_of_seq": floor}, fh)
    # schema-log snapshots below the floor are unreachable now (every
    # as_of under the floor refuses loudly) — prune them so the
    # manifest sidecar stays O(live schema history)
    man = read_manifest(out_dir)
    if man and man.get("_schema_log"):
        kept_log = [
            s for s in man["_schema_log"]
            if int(s["through_seq"]) >= floor
        ]
        if len(kept_log) != len(man["_schema_log"]):
            if kept_log:
                man["_schema_log"] = kept_log
            else:
                man.pop("_schema_log")
            write_manifest(out_dir, man)
    expired = sorted(state["retired"])
    if not expired:
        return res
    keep = read_encoded(
        spark, out_dir, include_retired=True, include_staged=True,
        raw_columns=True,
    ).filter(~F.col("part_id").isin(expired))
    total = keep.agg(F.sum("encoded_bytes").alias("b")).collect()[0]["b"] or 0
    n_files = max(1, math.ceil(total / max(1, target_file_bytes)))
    swap = _swap_chunk_table(spark, out_dir, keep, n_files, grace_sec)
    # tombstones that pointed at expired partitions are dead weight now
    from choetl_spark.deletes import _deletes_dir, replace_tombstone_files

    ddir = _deletes_dir(out_dir)
    tomb = _read_parquet_dir(ddir)
    if tomb is not None:
        gone = pc.is_in(tomb["part_id"], pa.array(expired, pa.int64()))
        kept = tomb.filter(pc.invert(gone))
        if kept.num_rows:
            replace_tombstone_files(out_dir, kept)
        else:
            # nothing survives: drop the tombstone table entirely so
            # readers skip the positional decode again
            shutil.rmtree(ddir, ignore_errors=True)
    return {**res, "partitions_reclaimed": len(expired), **swap}


def _swap_chunk_table(
    spark: SparkSession,
    out_dir: str,
    keep_rows: DataFrame,
    n_files: int,
    grace_sec: float,
) -> dict:
    """Rewrite the chunk table to exactly ``keep_rows`` (range-clustered
    into ``n_files`` files) and swap directories, carrying over
    grace-protected in-flight files — the shared tail of
    ``compact_store`` and ``expire_snapshots``."""
    import shutil
    import time

    chunks_dir = _chunks_dir(out_dir)
    # in-flight protection list BEFORE the rewrite (the rewrite itself
    # takes time, during which an in-flight run may still be writing)
    cutoff = time.time() - grace_sec
    young_orphans = [
        p
        for p in (_orphan_chunk_files(out_dir) or [])
        if os.path.exists(p) and os.path.getmtime(p) > cutoff
    ]
    snapshot_files = set(os.listdir(chunks_dir))
    staging = os.path.join(out_dir, f"_compact_{uuid.uuid4().hex[:8]}")
    (
        keep_rows.repartitionByRange(n_files, "part_id", "column", "chunk_seq")
        .write.mode("overwrite")
        .option("compression", "none")
        .parquet(staging)
    )
    for p in young_orphans:  # names are Spark task UUIDs — no collisions
        try:
            shutil.copy2(p, staging)
        except OSError:
            pass  # vanished under concurrent vacuum — uncommitted anyway
    # files an in-flight run appended WHILE we rewrote are not in the
    # committed snapshot nor the orphan list — carry them over too, or
    # the directory swap would delete a concurrent run's chunks
    for name in os.listdir(chunks_dir):
        if name not in snapshot_files and name.endswith(".parquet"):
            try:
                shutil.copy2(os.path.join(chunks_dir, name), staging)
            except OSError:
                pass

    def _n_files(d: str) -> int:
        try:
            return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        except OSError:
            return 0

    before = _n_files(chunks_dir)
    trash = os.path.join(out_dir, f"_compact_trash_{uuid.uuid4().hex[:8]}")
    os.rename(chunks_dir, trash)
    os.rename(staging, chunks_dir)
    shutil.rmtree(trash, ignore_errors=True)
    return {"files_before": before, "files_after": _n_files(chunks_dir)}


def _tiling_violation(
    chunks_dir: str, files: list[str], attempt_id: str
) -> dict | None:
    """The commit's integrity gate, a pyarrow fold (zero Spark jobs)
    over the chunk ``files`` one write attempt published: each (part,
    column)'s chunks of ``attempt_id`` must tile [0, N) exactly —
    sum(n_rows) == max(row_start + n_rows). Catches the one silent
    misuse decode cannot detect: a caller part_id not co-located under
    shuffle="none" (tasks each number the part's rows from 0, so row
    ALIGNMENT across columns is garbage). Returns the first violating
    ``part_id, column, n_rows_sum, end_max`` group, or ``None``."""
    if not files:
        return None
    t = pa.concat_tables(
        pq.read_table(
            os.path.join(chunks_dir, f),
            columns=["part_id", "column", "row_start", "n_rows", "attempt_id"],
        )
        for f in files
    )
    t = t.filter(pc.equal(t["attempt_id"], attempt_id))
    g = (
        t.append_column("end", pc.add(t["row_start"], t["n_rows"]))
        .group_by(["part_id", "column"])
        .aggregate([("n_rows", "sum"), ("end", "max")])
    )
    bad = g.filter(pc.not_equal(g["n_rows_sum"], g["end_max"]))
    return bad.slice(0, 1).to_pylist()[0] if bad.num_rows else None


def encode_with_resume(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    cfg: EncodeConfig | None = None,
    run_id: str | None = None,
    retire_part_ids: list | None = None,
    delete_commits: list[tuple[str, int]] | None = None,
    eq_delete_commits: list[tuple[str, int, str]] | None = None,
    staged: bool = False,
    encoder=None,
    source_manifest: dict | None = None,
) -> dict:
    """Encode ``df`` to ``out_dir``, skipping partitions already done.

    Tasks write their own chunk files under hidden staging names
    (:func:`choetl_spark.engine.encode_dataframe_writing`, the task-side
    writer), so encoded bytes never cross the Python->JVM boundary; the
    driver collects the successful attempts' summary rows, moves their
    files into place (:func:`choetl_spark.engine.publish_chunk_files`)
    and commits those rows as this attempt's ledger rows.
    ``encoder`` swaps the encode plan while keeping every commit
    mechanic (manifest merge, publish, integrity gate, attempt-keyed
    ledger append): a callable ``(pending_df, cfg, attempt_id) ->
    summary DataFrame`` whose action writes this attempt's staging
    files through :func:`choetl_spark.engine._make_writing_wrapper` —
    the scan-direct path (:func:`choetl_spark.direct.
    encode_direct_with_resume`) passes split DESCRIPTORS as ``df`` and
    reads the data inside its own kernel. ``source_manifest`` then
    supplies the source's column manifest (``df`` carries descriptors,
    not data columns).

    ``staged=True`` is the WRITE half of write-audit-publish
    (:mod:`choetl_spark.refs`): partitions commit with ledger status
    ``"staged"`` — durable and crash-resumable exactly like a normal
    run, but invisible to every reader until :func:`choetl_spark.refs.
    publish_staged` re-commits them at a fresh epoch (or
    ``abort_staged`` discards them). Cannot combine with
    ``retire_part_ids``/``delete_commits`` — those are visible commits
    and would leak half a transaction around the pending audit.

    ``retire_part_ids`` makes this a REPLACE commit (the Iceberg
    rewrite shape): ``status="retired"`` rows for those partitions ride
    in the SAME ledger append as the new partitions' ``done`` rows at
    the same epoch, so readers switch from the old copies to the new
    ones in one commit — no window where both (duplicates) or neither
    (missing rows) are visible. Used by
    :func:`choetl_spark.deletes.rewrite_partitions`.

    ``delete_commits=[(delete_id, n_rows), ...]`` likewise rides
    ``status="delete"`` rows in the same append, committing tombstone
    files a caller pre-wrote with ``defer_commit=True`` at the SAME
    epoch as this run's ingest — the atomic-MERGE half of
    :func:`choetl_spark.deletes.upsert`.

    Returns a summary dict with partitions done before/this run.
    """
    cfg = cfg or EncodeConfig()
    if staged and (retire_part_ids or delete_commits or eq_delete_commits):
        raise ValueError(
            "staged=True cannot carry retire/delete commits: they would "
            "become visible while the staged data awaits its audit"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    # run_id is the caller's LOGICAL label (a streaming epoch retry
    # reuses it); attempt_id is unique per attempt and is the commit
    # key's second half — a crashed attempt's orphan chunks can never be
    # confused with the retry's committed copy
    attempt_id = uuid.uuid4().hex
    if "part_id" in df.columns:
        # caller pre-planned (e.g. streaming epochs namespace part ids)
        planned = df
    elif cfg.shuffle == "none":
        # scan-local ids must be assigned HERE (not inside
        # encode_dataframe): a hash-derived part_id would span input
        # partitions, and without a shuffle each task would restart that
        # part's row numbering. Resume with scan-local ids requires the
        # input partitioning to be reproducible across runs (true for
        # file/table scans of the same snapshot).
        planned = df.withColumn("part_id", F.spark_partition_id().cast("long"))
    else:
        planned = plan_partitions(
            df,
            cfg.num_partitions,
            key_col=cfg.key_col,
            by_host=cfg.partition_by_host,
            hot_factor=cfg.hot_factor,
            salt_buckets=cfg.salt_buckets,
        )
    state = ledger_state(out_dir)
    run_seq = state["max_seq"] + 1  # next commit epoch
    # done partitions, plus staged-live ones (a crashed staged run
    # resumes without re-encoding; publish/abort settle them)
    done_ids = set(state["part_seq"]) | {
        r["part_id"] for rs in state["staged"].values() for r in rs
    }
    already, pending = 0, planned
    if done_ids:
        done = F.broadcast(
            spark.createDataFrame([(p,) for p in done_ids], "part_id long")
        )
        already = (
            planned.select("part_id").distinct().join(done, "part_id", "semi")
            .count()
        )
        pending = planned.join(done, "part_id", "left_anti")
    # manifest sidecar BEFORE the chunk write, merged with any existing
    # manifest (:func:`merge_manifest`: widening, physical keys)
    os.makedirs(out_dir, exist_ok=True)
    new_manifest = merge_manifest(
        read_manifest(out_dir),
        source_manifest or column_manifest(df, cfg),
    )
    write_manifest(out_dir, new_manifest)
    # encode under the PHYSICAL keys (only renamed/re-added columns
    # differ); cfg column references follow the rename
    if encoder is not None and any(
        physical_name(m, c) != c
        for c, m in manifest_data_items(new_manifest)
    ):
        raise ValueError(
            "custom encoder into a store with renamed/re-added columns "
            "is not supported: physical chunk keys differ from display "
            "names and the encoder reads the source itself — use the "
            "standard encode_with_resume path for this store"
        )
    phys_map = {
        c: physical_name(m, c)
        for c, m in manifest_data_items(new_manifest)
        if physical_name(m, c) != c and c in pending.columns
    }
    cfg_enc = cfg
    if phys_map:
        import dataclasses

        pending = pending.select(
            *[F.col(c).alias(phys_map.get(c, c)) for c in pending.columns]
        )
        cfg_enc = dataclasses.replace(
            cfg,
            columns=(
                [phys_map.get(c, c) for c in cfg.columns]
                if cfg.columns
                else None
            ),
            key_col=phys_map.get(cfg.key_col, cfg.key_col),
            bloom_columns=tuple(
                phys_map.get(c, c) for c in cfg.bloom_columns
            ),
            ndv_columns=tuple(
                phys_map.get(c, c) for c in cfg.ndv_columns
            ),
            quantile_columns=tuple(
                phys_map.get(c, c) for c in cfg.quantile_columns
            ),
            codec_overrides={
                phys_map.get(c, c): v
                for c, v in cfg.codec_overrides.items()
            },
        )
    written = (
        encoder(pending, cfg_enc, attempt_id)
        if encoder is not None
        else encode_dataframe_writing(
            pending, cfg_enc, _chunks_dir(out_dir), attempt_id
        )
    )
    # the tasks write hidden staging files; only the successful
    # attempts' files (the ones whose summary rows reach the driver)
    # become visible chunk files
    summary = [r.asDict() for r in written.collect()]
    published = publish_chunk_files(_chunks_dir(out_dir), summary)
    bad = _tiling_violation(_chunks_dir(out_dir), published, attempt_id)
    if bad is not None:
        raise ValueError(
            f"partition {bad['part_id']} column {bad['column']!r}: chunks "
            f"cover {bad['n_rows_sum']} rows but positions end at "
            f"{bad['end_max']} — the partition's rows were split across "
            "tasks (caller-provided part_id with shuffle='none' must be "
            "co-located: repartition by part_id first, or use the "
            "salted shuffle mode)"
        )
    # ledger rows for partitions completed by THIS attempt (the
    # published files' own summary rows), plus the retire/delete rows
    # that ride the same append
    rows = summary_ledger_rows(
        summary, run_id, run_seq, "staged" if staged else "done",
        attempt_id,
    )
    rows += [
        (int(p), None, 0, 0, 0, 0, None, run_id, int(run_seq), "retired",
         attempt_id)
        for p in retire_part_ids or []
    ]
    rows += [
        (-1, None, int(n), 0, 0, 0, None, run_id, int(run_seq), "delete",
         str(delete_id))
        for delete_id, n in delete_commits or []
    ]
    # (delete_id, n_values, key_column): value files a caller pre-wrote
    # become visible at THIS epoch — the eq-delete MERGE half of
    # :func:`choetl_spark.eqdeletes.upsert_by_key`. The strict data-seq
    # < delete-seq rule means this run's own partitions (same run_seq)
    # are never deleted by it.
    rows += [
        (-1, None, int(n), 0, 0, 0, str(col), run_id, int(run_seq),
         "eqdelete", str(delete_id))
        for delete_id, n, col in eq_delete_commits or []
    ]
    append_ledger_rows(out_dir, rows)
    return {
        "run_id": run_id,
        "partitions_already_done": already,
        "partitions_encoded_this_run": len(summary),
    }
