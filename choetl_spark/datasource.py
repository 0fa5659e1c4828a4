"""``spark.read.format("choetl")`` — the encoded store as a PySpark
Python Data Source (batch read, batch write, streaming read).

PySpark 4's Python Data Source API (`pyspark.sql.datasource`) is the
idiomatic way to surface a custom table format to every Spark entry
point — ``spark.read``, ``df.write``, ``spark.readStream`` and plain
SQL over a registered view — without a line of JVM code. This module
wraps the chunk store that :mod:`choetl_spark.engine` /
:mod:`choetl_spark.ledger` maintain:

    spark.dataSource.register(ChoetlDataSource)
    df  = spark.read.format("choetl").load(out_dir)               # batch
    df2 = spark.read.format("choetl").option("as_of", 3).load(d)  # travel
    src = spark.readStream.format("choetl").load(out_dir)         # epochs
    df.write.format("choetl").mode("append").save(out_dir)        # ingest

Architecture (the same no-JVM-boundary shape as
:mod:`choetl_spark.direct`, in reverse): the DRIVER plans everything
from sidecar metadata with **zero Spark jobs** — ledger parquet (tiny,
read with pyarrow by :func:`choetl_spark.ledger.ledger_state`), the
manifest JSON, and the chunk table's metadata columns
(:func:`chunk_rows`: ``part_id, column, row_start, n_rows, raw_bytes,
attempt_id``, plus ``stats`` under a pushdown spec — never a payload;
row groups whose footer ``part_id`` span holds no live partition are
not read). Commit resolution on ``(part_id, attempt_id)`` happens
there, so each split names exactly the chunk rows its task decodes;
the task reads only those rows' payloads and runs the shared
pure-Python decode kernel (:func:`choetl_spark.engine.
_make_decode_kernel`) — payload bytes cross the JVM boundary exactly
once, as final decoded Arrow batches. The write path mirrors it: each
task runs the shared encode kernel inside the store's one task-side
chunk writer (:func:`choetl_spark.engine._make_writing_wrapper`)
under a hidden staging name; the driver ``commit()`` moves the
successful attempts' files into place and appends the ledger rows in
ONE file — the store's standard crash protocol (chunks first, ledger
second; orphans are invisible) means a failed/speculative task attempt
can never corrupt the table.

This reader is the store's one row-read path, with two executors for
it. ``scan_encoded`` and ``point_lookup`` plan through it on the
driver (:func:`read_store`): a read whose planned chunks decode to at
most :data:`LOCAL_READ_BYTES` runs the same splits through the same
``read()`` in the calling process and returns a local relation, which
runs no Spark job; a larger read is the distributed
``format("choetl")`` load (:func:`load_store`). The reader resolves
commits on ``(part_id, attempt_id)``, time travel (``as_of`` /
``ref``), retired and WAP-staged invisibility, renames,
late-added-column nulls and type widening. Positional and EQUALITY
deletes subtract in ``_decode_split``; equality value sets are
O(deleted keys), load driver-side and ride the splits (data-seq <
delete-seq; splits whose partitions all post-date every delete skip
the probe). A lost delete table or an equality key dropped after its
delete refuses to read rather than resurrect rows. The deletes come
from the one pyarrow resolver
(:func:`choetl_spark.deletes.delete_positions`,
:func:`choetl_spark.eqdeletes.eq_value_maps`), and ``_decode_split`` is
the only code that drops deleted rows. Nested/decimal ("logical")
columns come back in their logical type (the decode kernel restores
them). Column pruning is Spark's own ``.schema()``: the reader decodes
only the columns it names, in its order.

Two reserved hidden columns, ``_part_id`` and ``_row_pos`` (bigint),
give each row's partition and its position in it — the coordinates
tombstones address rows by. ``schema()`` never lists them; the reader
emits them only when the read schema names them (``load_store`` accepts
them in ``columns``). ``_part_id`` filters (``=``, ``IN``, comparisons)
restrict the planned live set, so a read decodes only the partitions it
names. Deletes, upserts, rewrites, rollback, the changelog and
aggregate pushdown read rows this way.

Filter pushdown: ``pushFilters`` translates simple predicates into the
engine's pushdown spec (``=``/``IN`` become ``("in", values)``,
comparisons an inclusive ``("range", lo, hi)``). The planner prunes by
it before any task runs (:func:`_prune_chunks`): a predicate column's
chunk whose zone map (min/max; micros for timestamps, days for dates,
a truncated string max unbounded) or Bloom filter (``IN`` on a
string/binary column) rules the spec out is not planned, nor is any
chunk that overlaps no kept chunk of every predicate column — so a
partition left without one reads no payload at all, the late
materialization :func:`choetl_spark.lookup.point_lookup` relies on.
Each task then runs the engine's filtered decode kernel
(:func:`choetl_spark.engine._make_filtered_decode_kernel`): the mask is
evaluated per predicate-column chunk (dict chunks on their symbol
table), other columns decode only where a row survives, and only
surviving rows cross to the JVM. Every filter is also RETURNED to
Spark, which re-applies it, so pruning and masks only have to keep a
superset. Ints, strings, bools, binary, dates and timestamps are
masked; a timestamp only against an aware literal, which is what Spark
passes (in the session zone). Floats are not (NaN ordering differs
between Arrow and Spark).

The streaming reader exposes ledger epochs as micro-batch offsets —
Iceberg's streaming-read contract: an offset is a committed
``run_seq``; ``partitions(start, end)`` are the partitions committed
in ``(start, end]``; delete/replace epochs in range raise unless
``skip_change_commits`` is set (then only pure appends stream, the
``streaming-skip-delete-snapshots`` analog). Offsets are checkpointed
by Spark; replays re-plan the same epochs deterministically because
the ledger is append-only.

The reference's closest concept is the pluggable reader/writer pair
behind one fluent config (reference
src/ChoETL.Parquet/ChoParquetReader.cs:20,
ChoParquetWriter.cs:137-172); here the plug point is Spark's own
format registry.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import glob
import json
import operator
import os
import uuid
from collections.abc import Iterator
from dataclasses import dataclass
from itertools import groupby

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from choetl_spark.bloom import bloom_maybe_contains
from choetl_spark.codecs.base import int_view, is_int_like, str_to_type
from choetl_spark.engine import (
    EncodeConfig,
    _make_decode_kernel,
    _make_encode_kernel,
    _make_filtered_decode_kernel,
    _make_writing_wrapper,
    _pushdown_values_compatible,
    _spark_type_ddl,
    bloom_probeable,
    publish_chunk_files,
    schema_manifest,
)
from choetl_spark.deletes import delete_positions
from choetl_spark.eqdeletes import eq_value_maps
from choetl_spark.ledger import (
    _attempt_ok,
    _chunks_dir,
    _ledger_table,
    append_ledger_rows,
    ledger_state,
    manifest_as_of,
    manifest_data_items,
    merge_manifest,
    physical_name,
    read_manifest,
    resolve_snapshot,
    summary_ledger_rows,
    write_manifest,
)

# ---------------------------------------------------------------------------
# driver-side metadata (pure pyarrow — zero Spark jobs)
# ---------------------------------------------------------------------------


# reserved hidden columns: each row's partition and its position in it,
# emitted only when the read schema names them (never by ``schema()``)
HIDDEN_COLUMNS = ("_part_id", "_row_pos")


def _manifest_view(out_dir: str, as_of: int | None = None) -> dict:
    """The manifest view a reader at ``as_of`` resolves names against."""
    manifest = manifest_as_of(read_manifest(out_dir), as_of)
    if manifest is None:
        raise FileNotFoundError(
            f"no choetl store at {out_dir} (missing _manifest.json — "
            "write one with df.write.format('choetl') or "
            "encode_with_resume)"
        )
    return manifest


def _schema_ddl(items: list[tuple[str, dict | None]]) -> str:
    """Spark DDL of ``(name, manifest entry)`` pairs (hidden: bigint)."""
    return ", ".join(
        f"`{c}` {'bigint' if m is None else m.get('logical') or _spark_type_ddl(str_to_type(m['dtype']))}"
        for c, m in items
    )


def _snapshot(out_dir: str, as_of: int | None, view: dict) -> tuple:
    """The snapshot's ledger state, tombstones and equality-delete
    value sets (pure pyarrow, zero Spark jobs)."""
    state = ledger_state(out_dir, as_of)
    return (
        state,
        delete_positions(out_dir, state),
        eq_value_maps(out_dir, state, view),
    )


def _read_schema(
    out_dir: str, columns: list[str] | None, as_of: int | None, ref: str | None
) -> tuple[int | None, dict, str]:
    """``(as_of, manifest view, read-schema DDL)`` of a read of
    ``columns`` (``None``: all, in name order; the hidden ``_part_id`` /
    ``_row_pos`` allowed) at ``as_of`` / ``ref``. ``ValueError`` for
    as_of with ref, an unknown ref or an expired as_of; ``KeyError``
    for an unknown column."""
    as_of = resolve_snapshot(out_dir, as_of, ref)
    view = _manifest_view(out_dir, as_of)
    entries = dict(manifest_data_items(view))
    names = list(dict.fromkeys(columns or sorted(entries)))
    missing = [
        c for c in names if c not in entries and c not in HIDDEN_COLUMNS
    ]
    if missing:
        raise KeyError(f"columns not in encoded store: {missing}")
    return as_of, view, _schema_ddl([(c, entries.get(c)) for c in names])


def _load(spark, out_dir: str, as_of: int | None, ddl: str):
    """The lazy ``spark.read.format("choetl")`` frame of a read schema."""
    sources = spark._jsparkSession.sessionState().dataSourceManager()
    if not sources.dataSourceExists("choetl"):
        register(spark)
    reader = spark.read.format("choetl").schema(ddl)
    if as_of is not None:
        reader = reader.option("as_of", as_of)
    return reader.load(out_dir)


def load_store(
    spark,
    out_dir: str,
    columns: list[str] | None,
    as_of: int | None = None,
    ref: str | None = None,
):
    """``spark.read.format("choetl").schema(...)`` of ``columns``
    (``None``: all, in name order) at ``as_of`` / ``ref``; ``columns``
    may name the hidden ``_part_id`` / ``_row_pos`` columns. A data
    source's errors reach the caller as ``AnalysisException``, so the
    snapshot is resolved here first and its errors raise typed:
    ``ValueError`` (as_of with ref, unknown ref, expired as_of),
    ``KeyError`` (unknown column, dropped equality-delete key),
    ``RuntimeError`` (lost delete table)."""
    as_of, view, ddl = _read_schema(out_dir, columns, as_of, ref)
    _snapshot(out_dir, as_of, view)
    return _load(spark, out_dir, as_of, ddl)


# A read whose planned chunks decode to at most this many bytes runs in
# the calling process (:func:`read_store`): Spark's Python-data-source
# round trips cost more CPU than decoding that much on one thread. It
# also bounds the driver memory a local read takes.
LOCAL_READ_BYTES = 64 << 20


def read_store(
    spark,
    out_dir: str,
    columns: list[str] | None,
    filters: list[Filter],
    as_of: int | None = None,
    ref: str | None = None,
):
    """``(frame, rows)``: the rows :func:`load_store` reads, planned on
    the driver under ``filters`` (the ``pyspark.sql.datasource`` filters
    Spark would push for the caller's predicates) by the one reader,
    :class:`ChoetlBatchReader`. When the planned splits decode to at
    most :data:`LOCAL_READ_BYTES`, the reader runs them in this process
    and the frame is a local relation over the decoded rows (``rows``
    of them — a superset of the rows ``filters`` keep, since the caller
    re-applies its predicates in Spark); otherwise the frame is the
    distributed ``format("choetl")`` read and ``rows`` is ``None``.
    Errors raise typed, as in :func:`load_store`, from the planning."""
    from pyspark.sql.types import StructType

    as_of, _, ddl = _read_schema(out_dir, columns, as_of, ref)
    schema = StructType.fromDDL(ddl)
    reader = ChoetlBatchReader({"path": out_dir, "as_of": as_of}, schema)
    reader.pushFilters(filters)
    splits = reader.partitions()
    if sum(s.raw_bytes for s in splits) > LOCAL_READ_BYTES:
        return _load(spark, out_dir, as_of, ddl), None
    table = pa.Table.from_batches(
        [b for s in splits for b in reader.read(s)], reader.out_schema
    )
    # a zoneless timestamp column holds UTC micros, as Spark reads the
    # reader's batches; untagged, createDataFrame would take its values
    # for wall clocks in the session zone
    utc = [
        pa.field(f.name, pa.timestamp(f.type.unit, "UTC"))
        if pa.types.is_timestamp(f.type) and f.type.tz is None else f
        for f in table.schema
    ]
    table = table.cast(pa.schema(utc))
    return spark.createDataFrame(table, schema), table.num_rows


def _out_schema(items: list[tuple[str, dict]], schema) -> pa.Schema:
    """Decoded Arrow schema: storage types, except nested/decimal
    columns, which decode to the Arrow form of their logical type in the
    read schema (a ``StructType`` Spark hands the reader)."""
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema(
        [
            (
                c,
                to_arrow_type(schema[c].dataType)
                if m.get("logical")
                else str_to_type(m["dtype"]),
            )
            for c, m in items
        ]
    )


# ---------------------------------------------------------------------------
# split planning from chunk metadata (driver, pure pyarrow)
# ---------------------------------------------------------------------------


@dataclass
class StoreSplit(InputPartition):
    """One read task: the live partitions it decodes and the chunk rows
    the driver planned for them (:func:`chunk_rows` rows without
    ``stats``); the task reads those rows' payloads and nothing else."""

    parts: tuple  # sorted part_ids with planned chunk rows
    chunks: pa.Table  # planned chunk rows, in (path, rg, idx) order
    raw_bytes: int  # decoded bytes of the planned chunks
    tombstones: dict  # part_id -> np.ndarray of deleted row_pos
    eq: dict  # key_col -> {value: newest delete epoch} (tiny)
    pseq: dict  # part_id -> first done epoch (eq eligibility)


# where a chunk row lives, then the metadata planning reads (no payload)
_PLAN_SCHEMA = pa.schema(
    [
        ("path", pa.string()),
        ("rg", pa.int32()),
        ("idx", pa.int64()),
        ("part_id", pa.int64()),
        ("column", pa.string()),
        ("row_start", pa.int64()),
        ("n_rows", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("attempt_id", pa.string()),
    ]
)


def chunk_rows(
    out_dir: str, live: dict, columns: set | None = None, stats: bool = False
) -> pa.Table:
    """The committed chunk-metadata rows of the partitions ``live`` maps
    to their committed attempt ids, for the physical ``columns``
    (``None``: every column): ``part_id, column, row_start, n_rows,
    raw_bytes, attempt_id``, plus ``stats`` when asked, and where each
    row lives (file ``path``, row group ``rg``, row ``idx`` in it). Read
    once on the driver with pyarrow; never reads a payload, and skips
    row groups whose footer ``part_id`` span holds no live partition."""
    parts = sorted(live)
    schema = (
        _PLAN_SCHEMA.append(pa.field("stats", pa.string()))
        if stats else _PLAN_SCHEMA
    )
    want = schema.names[3:]
    pieces = []
    files = glob.glob(os.path.join(_chunks_dir(out_dir), "*.parquet"))
    for path in sorted(files):
        pf = pq.ParquetFile(path)
        names = pf.schema_arrow.names
        if "part_id" not in names:
            continue
        pi = names.index("part_id")
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(pi).statistics
            if st is not None and st.has_min_max:
                i = bisect.bisect_left(parts, st.min)
                if i == len(parts) or parts[i] > st.max:
                    continue
            t = pf.read_row_group(rg, columns=[c for c in want if c in names])
            pid = t.column("part_id").to_pylist()
            col = t.column("column").to_pylist()
            att = (
                t.column("attempt_id").to_pylist()
                if "attempt_id" in names else [None] * t.num_rows
            )
            idx = [
                i for i, p in enumerate(pid)
                if p in live
                and (columns is None or col[i] in columns)
                and _attempt_ok(att[i], live[p])
            ]
            if not idx:
                continue
            t = t.take(idx)
            pieces.append(
                pa.Table.from_arrays(
                    [
                        pa.array([path] * len(idx), pa.string()),
                        pa.array([rg] * len(idx), pa.int32()),
                        pa.array(idx, pa.int64()),
                        *(
                            t.column(c) if c in names
                            else pa.nulls(len(idx), schema.field(c).type)
                            for c in want
                        ),
                    ],
                    schema=schema,
                )
            )
    return pa.concat_tables(pieces) if pieces else schema.empty_table()


def _bloom_kept(
    chunks: pa.Table, display: list[str], probes: dict[str, list]
) -> list[bool]:
    """Per chunk row: False only for a probed column's chunk whose Bloom
    filter excludes every probe value (no/legacy Bloom keeps it)."""
    keep = []
    for name, st in zip(display, chunks.column("stats").to_pylist()):
        vals = probes.get(name)
        bloom = json.loads(st).get("bloom") if vals and st else None
        keep.append(
            bloom is None or any(bloom_maybe_contains(bloom, v) for v in vals)
        )
    return keep


def _zone_int(v, t: pa.DataType) -> int:
    """``v`` in a zone map's int unit for storage type ``t`` (the chunk
    stats' cast: micros or the storage unit for timestamps, days for
    dates, 0/1 for bools); raises when ``t`` cannot hold ``v``."""
    if isinstance(v, _dt.datetime):
        # pa.array stores a non-UTC aware datetime's wall time as UTC
        v = v.astimezone(_dt.timezone.utc)
    arr = pa.array([v]).cast(t)
    return int(v) if pa.types.is_integer(t) else int(int_view(arr)[0])


def _zone_may_match(st: dict, op: tuple, t: pa.DataType) -> bool:
    """Whether a chunk with stats ``st`` may hold a row ``op`` keeps —
    the rules of :func:`choetl_spark.engine.prune_partitions_by_stats`:
    int-like columns compare ``min_val``/``max_val``, strings
    ``min_str``/``max_str`` bytewise with a truncated max unbounded
    above. A missing bound, or a value the kernel would not mask
    either, keeps the chunk."""
    # the spec as inclusive intervals (None: open)
    ivs = [(v, v) for v in op[1]] if op[0] == "in" else [op[1:]]
    if not _pushdown_values_compatible(
        [v for iv in ivs for v in iv if v is not None], t
    ):
        return True
    if is_int_like(t):
        lo, hi = st.get("min_val"), st.get("max_val")
        try:
            ivs = [
                [None if v is None else _zone_int(v, t) for v in iv]
                for iv in ivs
            ]
        except (pa.ArrowException, OverflowError):
            return True
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        lo = st.get("min_str")
        hi = None if st.get("max_str_trunc") else st.get("max_str")
    else:
        return True
    return any(
        (a is None or hi is None or a <= hi)
        and (b is None or lo is None or lo <= b)
        for a, b in ivs
    )


def _prune_chunks(
    chunks: pa.Table, display: list[str], spec: dict, types: dict
) -> list[bool]:
    """The chunk rows a read under pushdown ``spec`` must decode. A
    predicate column's chunk goes when its zone map
    (:func:`_zone_may_match`) or its Bloom filter (:func:`_bloom_kept`)
    rules the spec out; then any chunk goes that does not overlap a
    kept chunk of EVERY predicate column in its partition, because no
    row outside those can match. A partition left without a chunk of
    some predicate column is dropped whole."""
    probes = {
        c: op[1] for c, op in spec.items()
        if op[0] == "in" and bloom_probeable(op[1])
    }
    bloom = _bloom_kept(chunks, display, probes)
    stats = chunks.column("stats").to_pylist()
    kept = [
        k and (
            c not in spec or not st
            or _zone_may_match(json.loads(st), spec[c], types[c])
        )
        for k, c, st in zip(bloom, display, stats)
    ]
    pid = chunks.column("part_id").to_pylist()
    start = chunks.column("row_start").to_pylist()
    end = [s + n for s, n in zip(start, chunks.column("n_rows").to_pylist())]
    spans: dict[tuple, list] = {}
    for i in sorted(range(len(kept)), key=start.__getitem__):
        if kept[i] and display[i] in spec:
            key = (pid[i], display[i])
            spans.setdefault(key, []).append((start[i], end[i]))

    def overlaps(i: int, col: str) -> bool:
        sp = spans.get((pid[i], col), [])
        j = bisect.bisect_left(sp, (end[i],)) - 1
        return j >= 0 and sp[j][1] > start[i]

    return [
        k and all(overlaps(i, c) for c in spec) for i, k in enumerate(kept)
    ]


def plan_store_splits(
    out_dir: str,
    state: dict,
    tombstones: dict,
    eq_maps: dict | None = None,
    target_split_bytes: int = 128 << 20,
    items: list[tuple[str, dict]] | None = None,
    pushdown: dict[str, tuple] | None = None,
    store_items: list[tuple[str, dict]] = (),
) -> list[StoreSplit]:
    """Plan a read of the ``items`` columns (``None``: every stored
    column) of ``state``'s live partitions on the driver, from chunk
    metadata alone (:func:`chunk_rows`). Under a ``pushdown`` spec only
    the chunk rows that may hold a match are planned
    (:func:`_prune_chunks`), so a partition its zone maps or Blooms rule
    out is never opened. The surviving partitions are greedy-packed, in
    part_id order, into splits of about ``target_split_bytes`` planned
    decoded bytes. An equality-delete key in ``store_items`` but not in
    ``items`` is planned only into splits holding a partition that
    predates a delete epoch: it decodes for the subtraction only."""
    import pyarrow.compute as pc

    if not state["live"]:
        return []
    eq = eq_maps or {}
    display = keys = None
    if items is not None:
        display = {physical_name(m, c): c for c, m in items}
        read = dict(items)
        keys = {
            physical_name(m, c): c for c, m in store_items
            if c in eq and c not in read
        }
        display.update(keys)
    chunks = chunk_rows(
        out_dir, state["live"], None if display is None else set(display),
        bool(pushdown),
    )
    if pushdown:
        types = {
            c: str_to_type(m["dtype"])
            for c, m in items if not m.get("logical")
        }
        names = [display[c] for c in chunks.column("column").to_pylist()]
        keep = _prune_chunks(chunks, names, pushdown, types)
        chunks = chunks.filter(pa.array(keep, pa.bool_()))
        chunks = chunks.drop_columns(["stats"])
    size: dict[int, int] = {}
    for p, b in zip(
        chunks.column("part_id").to_pylist(),
        chunks.column("raw_bytes").to_pylist(),
    ):
        size[p] = size.get(p, 0) + (b or 0)
    groups: list[list[int]] = []
    acc = 0
    for p in sorted(size):
        if not groups or (groups[-1] and acc + size[p] > target_split_bytes):
            groups.append([])
            acc = 0
        groups[-1].append(p)
        acc += size[p]
    max_eq = max((s for m in eq.values() for s in m.values()), default=None)
    out = []
    for grp in groups:
        # eq sets ride a split only when one of its partitions predates
        # a delete epoch (post-rewrite stores stop paying the probe)
        pseq = {p: state["part_seq"].get(p, 1) for p in grp}
        use_eq = max_eq is not None and any(s < max_eq for s in pseq.values())
        rows = pc.is_in(chunks.column("part_id"), pa.array(grp, pa.int64()))
        if keys and not use_eq:
            key_rows = pc.is_in(chunks.column("column"), pa.array(list(keys)))
            rows = pc.and_(rows, pc.invert(key_rows))
        t = chunks.filter(rows)
        out.append(
            StoreSplit(
                parts=tuple(grp),
                chunks=t,
                raw_bytes=int(pc.sum(t.column("raw_bytes")).as_py() or 0),
                tombstones={p: tombstones[p] for p in grp if p in tombstones},
                eq=eq if use_eq else {},
                pseq=pseq if use_eq else {},
            )
        )
    return out


# ---------------------------------------------------------------------------
# task-side decode
# ---------------------------------------------------------------------------


def _decode_split(
    split: StoreSplit,
    items: list[tuple[str, dict]],
    batch_rows: int,
    out_schema: pa.Schema,
    pushdown: dict[str, tuple] | None = None,
    store_items: list[tuple[str, dict]] = (),
) -> Iterator[pa.RecordBatch]:
    """Decode one split: read the payload and ``meta`` of exactly the
    chunk rows the driver planned, run the shared decode kernel (the
    filtered one under a pushdown spec) and subtract deletes — the one
    place deleted rows leave decoded rows. ``out_schema`` is the output
    in the read schema's order: ``items`` are its data columns, and the
    hidden ``_part_id`` / ``_row_pos`` columns it names are the
    kernel's row coordinates. An equality-delete key in
    ``store_items`` but not in the output decodes for the subtraction
    only."""
    import numpy as np

    names = out_schema.names
    hidden = [n for n in names if n in HIDDEN_COLUMNS]
    out_schema = pa.schema(
        [f for f in out_schema if f.name not in HIDDEN_COLUMNS]
    )
    keys = [
        (c, m) for c, m in store_items
        if c in split.eq and c not in out_schema.names
    ]
    if keys:
        items = items + keys
        out_schema = pa.schema(
            [*out_schema, *((c, str_to_type(m["dtype"])) for c, m in keys)]
        )
    chunks = split.chunks
    if not chunks.num_rows:
        return
    phys_to_display = {physical_name(m, c): c for c, m in items}
    col_order = [c for c, _ in items]
    files: dict[str, pq.ParquetFile] = {}
    bodies, at = [], 0
    for (path, rg), run in groupby(
        zip(chunks.column("path").to_pylist(), chunks.column("rg").to_pylist())
    ):
        n = len(list(run))
        if path not in files:
            files[path] = pq.ParquetFile(path)
        t = files[path].read_row_group(rg, columns=["payload", "meta"])
        bodies.append(t.take(chunks.column("idx").slice(at, n)))
        at += n
    body = pa.concat_tables(bodies)
    feed = pa.table(
        {
            "part_id": chunks.column("part_id"),
            "column": pa.array(
                [
                    phys_to_display[c]
                    for c in chunks.column("column").to_pylist()
                ],
                pa.string(),
            ),
            "payload": body.column("payload"),
            "meta": body.column("meta"),
            "row_start": chunks.column("row_start"),
            "n_rows": chunks.column("n_rows"),
        }
    ).sort_by(
        [("part_id", "ascending"), ("column", "ascending"),
         ("row_start", "ascending")]
    )
    subtract = bool(split.tombstones) or bool(split.eq)
    with_pos = subtract or bool(hidden)
    if pushdown:
        kernel = _make_filtered_decode_kernel(
            col_order, out_schema, batch_rows, pushdown, with_pos=with_pos
        )
    else:
        kernel = _make_decode_kernel(
            col_order, out_schema, batch_rows, with_pos=with_pos
        )
    for batch in kernel(iter(feed.to_batches())):
        if subtract:
            parts_np = batch.column(0).to_numpy(zero_copy_only=False)
            pos_np = batch.column(1).to_numpy(zero_copy_only=False)
            mask = np.ones(len(batch), dtype=bool)
            for p in np.unique(parts_np):
                dead = split.tombstones.get(int(p))
                if dead is not None:
                    sel = parts_np == p
                    mask[sel] &= ~np.isin(pos_np[sel], dead)
            if split.eq:
                # equality-delete subtraction: a row dies iff its
                # partition's first-done epoch is STRICTLY BEFORE the
                # newest delete epoch naming its key value (data-seq <
                # delete-seq; re-inserted keys survive)
                pseq_np = np.array(
                    [split.pseq.get(int(p), 1 << 62) for p in parts_np],
                    dtype=np.int64,
                )
                for col, vmap in split.eq.items():
                    vals = batch.column(
                        batch.schema.get_field_index(col)
                    ).to_pylist()
                    vseq = np.fromiter(
                        (vmap.get(v, 0) for v in vals),
                        dtype=np.int64,
                        count=len(vals),
                    )
                    mask &= ~(pseq_np < vseq)
            batch = batch.filter(pa.array(mask))
        if with_pos:
            batch = batch.select(names)
        if len(batch):
            yield batch


# ---------------------------------------------------------------------------
# filter pushdown: Spark filters -> the engine's pushdown spec
# ---------------------------------------------------------------------------

_LOWER = (GreaterThan, GreaterThanOrEqual)
_UPPER = (LessThan, LessThanOrEqual)


def _maskable(v, t: pa.DataType) -> bool:
    """Whether a mask of storage type ``t`` against literal ``v``
    provably agrees with Spark's comparison."""
    if pa.types.is_timestamp(t):
        # aware literals are instants on both sides; a naive one means
        # a zone the kernel cannot know
        return isinstance(v, _dt.datetime) and v.tzinfo is not None
    if pa.types.is_date(t):
        return isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
    return isinstance(v, (int, str, bool, bytes)) and (
        pa.types.is_integer(t)
        or pa.types.is_string(t) or pa.types.is_large_string(t)
        or pa.types.is_boolean(t)
        or pa.types.is_binary(t) or pa.types.is_large_binary(t)
    )


_PART_OPS = {
    GreaterThan: operator.gt,
    GreaterThanOrEqual: operator.ge,
    LessThan: operator.lt,
    LessThanOrEqual: operator.le,
}


def _kept_parts(parts, filters: list[Filter]) -> set:
    """The ``parts`` that ``_part_id`` filters (``=``, ``IN``,
    comparisons) keep — a read decodes only the partitions they name."""
    keep = set(parts)
    for f in filters:
        if isinstance(f, EqualTo):
            keep &= {f.value}
        elif isinstance(f, In):
            keep &= set(f.value)
        elif type(f) in _PART_OPS:
            keep = {p for p in keep if _PART_OPS[type(f)](p, f.value)}
    return keep


def _pushdown_spec(filters: list[Filter], items) -> dict[str, tuple]:
    """The engine pushdown spec (``{col: ("in", values)}`` /
    ``{col: ("range", lo, hi)}``, inclusive, ``None`` = open) for the
    filters whose masks provably agree with Spark: int/string/bool/
    binary/date storage columns, and timestamps against aware literals
    — floats (NaN ordering) and nested/decimal columns never mask.
    Strict comparisons widen to inclusive bounds and an IN-list literal
    the storage type cannot hold (300 against int8) gives no mask: the
    spec only has to be a superset, because Spark re-applies every
    filter."""
    types = {
        c: str_to_type(m["dtype"]) for c, m in items if not m.get("logical")
    }
    spec: dict[str, tuple] = {}
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1 or attr[0] not in types:
            continue
        col, t = attr[0], types[attr[0]]
        if isinstance(f, (EqualTo, In)):
            vals = [f.value] if isinstance(f, EqualTo) else list(f.value)
            if not all(_maskable(v, t) for v in vals):
                continue
            try:
                pa.array(vals, t)
            except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
                continue
            spec[col] = ("in", vals)  # the tighter mask wins over a range
        elif isinstance(f, _LOWER + _UPPER) and _maskable(f.value, t):
            prev = spec.get(col, ("range", None, None))
            if prev[0] == "in":
                continue
            lo, hi = prev[1], prev[2]
            if isinstance(f, _LOWER):
                lo = f.value if lo is None else max(lo, f.value)
            else:
                hi = f.value if hi is None else min(hi, f.value)
            spec[col] = ("range", lo, hi)
    return spec


# ---------------------------------------------------------------------------
# batch reader
# ---------------------------------------------------------------------------


class ChoetlBatchReader(DataSourceReader):
    def __init__(self, options: dict, schema):
        self._dir = options["path"]
        self._batch_rows = int(options.get("batch_rows", 8192))
        self._target = int(options.get("target_split_bytes", 128 << 20))
        self._as_of = resolve_snapshot(
            self._dir, options.get("as_of"), options.get("ref")
        )
        # snapshot-scoped schema: column names (and the decode plan)
        # resolve against the epoch's schema under as_of
        self._view = _manifest_view(self._dir, self._as_of)
        self._store_items = manifest_data_items(self._view)
        # decode only the schema's columns, in ITS order: Spark reads
        # the batch columns positionally
        entries = dict(self._store_items)
        self._items = [
            (n, entries[n]) for n in schema.names if n not in HIDDEN_COLUMNS
        ]
        data = _out_schema(self._items, schema)
        self.out_schema = pa.schema(
            [
                (n, pa.int64()) if n in HIDDEN_COLUMNS else data.field(n)
                for n in schema.names
            ]
        )
        self._pushdown: dict[str, tuple] = {}
        self._part_filters: list[Filter] = []

    def pushFilters(self, filters):  # noqa: N802 (API name)
        filters = list(filters)
        self._pushdown = _pushdown_spec(filters, self._items)
        self._part_filters = [
            f for f in filters
            if tuple(getattr(f, "attribute", ())) == ("_part_id",)
        ]
        return filters  # all of them: Spark re-applies every filter

    def partitions(self):
        state, tomb, eq = _snapshot(self._dir, self._as_of, self._view)
        if self._part_filters:
            keep = _kept_parts(state["live"], self._part_filters)
            state = {
                **state,
                "live": {p: a for p, a in state["live"].items() if p in keep},
            }
        return plan_store_splits(
            self._dir, state, tomb, eq, self._target, self._items,
            self._pushdown, self._store_items,
        )

    def read(self, partition: StoreSplit):
        if partition is None:
            # Spark substitutes [None] when partitions() returns [] —
            # an empty store reads as an empty DataFrame, not a crash
            return
        yield from _decode_split(
            partition, self._items, self._batch_rows, self.out_schema,
            self._pushdown, self._store_items,
        )


# ---------------------------------------------------------------------------
# streaming reader (ledger epochs as offsets)
# ---------------------------------------------------------------------------


class ChoetlStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema):
        self._dir = options["path"]
        self._batch_rows = int(options.get("batch_rows", 8192))
        self._target = int(options.get("target_split_bytes", 128 << 20))
        self._start = int(options.get("start_seq", 0))
        self._skip_changes = str(
            options.get("skip_change_commits", "false")
        ).lower() in ("true", "1")
        self._items = manifest_data_items(_manifest_view(self._dir))
        self.out_schema = _out_schema(self._items, schema)

    def initialOffset(self):  # noqa: N802
        return {"seq": self._start}

    def latestOffset(self):  # noqa: N802
        return {"seq": max(ledger_state(self._dir)["max_seq"], self._start)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["seq"]), int(end["seq"])
        t = _ledger_table(self._dir)
        if t is None or hi <= lo:
            return []
        pid = t.column("part_id").to_pylist()
        att = t.column("attempt_id").to_pylist()
        seq = [s or 1 for s in t.column("run_seq").to_pylist()]
        status = t.column("status").to_pylist()
        change_epochs = {
            seq[i]
            for i in range(len(pid))
            if lo < seq[i] <= hi
            and status[i] in ("delete", "eqdelete", "retired")
        }
        if change_epochs and not self._skip_changes:
            raise ValueError(
                f"ledger epochs {sorted(change_epochs)} are "
                "delete/replace commits — the stream reads appends "
                "only. Set option('skip_change_commits', 'true') to "
                "skip them (Iceberg streaming-skip-delete-snapshots "
                "semantics), or consume exact diffs with "
                "ledger.read_changes."
            )
        state = {"live": {}, "delete_ids": set(), "part_seq": {}}
        for i in range(len(pid)):
            if (
                lo < seq[i] <= hi
                and status[i] == "done"
                and seq[i] not in change_epochs
            ):
                state["live"].setdefault(pid[i], set()).add(att[i])
        return plan_store_splits(
            self._dir, state, {}, None, self._target, self._items
        )

    def read(self, partition: StoreSplit):
        if partition is None:
            return  # empty epoch range planned [] -> Spark sends None
        yield from _decode_split(
            partition, self._items, self._batch_rows, self.out_schema
        )

    def commit(self, end):
        pass

    def stop(self):
        pass


# ---------------------------------------------------------------------------
# batch writer
# ---------------------------------------------------------------------------


@dataclass
class _TaskResult(WriterCommitMessage):
    attempt_id: str
    # the chunk writer's summary rows (dicts), one per logical partition
    parts: list


class ChoetlWriter(DataSourceArrowWriter):
    """Distributed encode into the store. Each task = one scan-local
    logical partition (``base + task_id`` — the base clears every
    existing part_id driver-side at plan time, the streaming sink's
    namespacing rule, same single-writer caveat) and runs the shared
    encode kernel inside the store's chunk writer
    (:func:`choetl_spark.engine._make_writing_wrapper`) under a fresh
    per-task ``attempt_id``; ``commit()`` publishes the successful
    tasks' staging files (:func:`choetl_spark.engine.
    publish_chunk_files`) before the manifest and the ledger append.
    ``mode("append")`` commits an append snapshot; ``mode("overwrite")``
    additionally retires every previously-live partition in the SAME
    ledger append — an atomic replace snapshot (readers see old or new,
    never both). Schemas the writer cannot store refuse here, before any
    task writes."""

    def __init__(self, options: dict, schema, overwrite: bool):
        self._dir = options["path"]
        self._overwrite = overwrite
        profile = options.get("optimize_for", "speed")
        kw = {"optimize_for": profile, "shuffle": "none"}
        if "chunk_bytes" in options:
            kw["chunk_bytes"] = int(options["chunk_bytes"])
        self._cfg = EncodeConfig(**kw)
        if "part_id" in [f.name for f in schema.fields]:
            # the datasource writer owns partition-id assignment (base +
            # task id); a caller-planned part_id column would collide
            # with it and double up inside the encode kernel's feed
            raise ValueError(
                "input has a part_id column: the datasource writer "
                "assigns partition ids itself — drop the column, or "
                "use encode_with_resume for caller-planned part ids"
            )
        self._manifest = schema_manifest(
            schema, options.get("timezone", "UTC")
        )
        nested = [c for c, m in self._manifest.items() if m["logical"]]
        if nested:
            raise NotImplementedError(
                f"columns {nested}: nested/decimal types store as JSON "
                "via encode_dataframe/encode_with_resume, not the "
                "datasource writer"
            )
        prior = read_manifest(self._dir) or {}
        for c, m in self._manifest.items():
            old = prior.get(c, {}).get("dtype", "")
            if old.startswith("timestamp[us][") and m["dtype"].startswith(
                "timestamp[us]["
            ):
                # the zone comes from the ``timezone`` option, not the
                # session: an append keeps the store's tag (both store
                # UTC micros)
                m["dtype"] = old
        merged = merge_manifest(prior, self._manifest)
        if any(physical_name(merged[c], c) != c for c in self._manifest):
            raise NotImplementedError(
                "datasource writer into a store with renamed/re-added "
                "columns (their chunks need a fresh physical key) — use "
                "encode_with_resume"
            )
        self._base = ledger_state(self._dir)["max_part"] + 1

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _TaskResult:
        from pyspark import TaskContext

        part_id = self._base + TaskContext.get().partitionId()
        attempt = uuid.uuid4().hex

        def with_pid(batches):
            for b in batches:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([part_id] * len(b), pa.int64()), *b.columns],
                    names=["part_id", *b.schema.names],
                )

        writer = _make_writing_wrapper(
            _make_encode_kernel(self._cfg, {}), _chunks_dir(self._dir),
            attempt,
        )
        return _TaskResult(
            attempt,
            [r for b in writer(with_pid(iterator)) for r in b.to_pylist()],
        )

    def commit(self, messages):
        state = ledger_state(self._dir)
        run_seq = state["max_seq"] + 1
        run_id = f"ds-write-{uuid.uuid4().hex[:12]}"
        done = [m for m in messages if m is not None]
        rows = [
            row
            for m in done
            for row in summary_ledger_rows(
                m.parts, run_id, run_seq, "done", m.attempt_id
            )
        ]
        if self._overwrite:
            for p in sorted(state["live"]):
                rows.append(
                    (p, None, 0, 0, 0, 0, None, run_id, run_seq,
                     "retired", uuid.uuid4().hex)
                )
        # chunk files, then the manifest, BEFORE the ledger append
        # (readers resolving the new epoch must find every file and
        # every column's entry)
        publish_chunk_files(
            _chunks_dir(self._dir), [r for m in done for r in m.parts]
        )
        os.makedirs(self._dir, exist_ok=True)
        write_manifest(
            self._dir, merge_manifest(read_manifest(self._dir), self._manifest)
        )
        if rows:
            append_ledger_rows(self._dir, rows)

    def abort(self, messages):
        # the successful tasks' staging files (a failed task's own is
        # left to vacuum's staging sweep)
        for m in messages:
            for r in (m.parts if m is not None else []):
                try:
                    os.unlink(os.path.join(_chunks_dir(self._dir), r["file"]))
                except OSError:
                    pass


# ---------------------------------------------------------------------------
# the data source
# ---------------------------------------------------------------------------


class ChoetlDataSource(DataSource):
    """``spark.dataSource.register(ChoetlDataSource)`` then use format
    name ``"choetl"`` in read/write/readStream. Options: ``as_of``,
    ``ref``, ``batch_rows``, ``target_split_bytes`` (read);
    ``start_seq``, ``skip_change_commits`` (stream); ``optimize_for``,
    ``chunk_bytes``, ``timezone`` (write)."""

    @classmethod
    def name(cls) -> str:
        return "choetl"

    def schema(self):
        path = self.options["path"]
        as_of = resolve_snapshot(
            path, self.options.get("as_of"), self.options.get("ref")
        )
        return _schema_ddl(manifest_data_items(_manifest_view(path, as_of)))

    def reader(self, schema) -> ChoetlBatchReader:
        return ChoetlBatchReader(self.options, schema)

    def streamReader(self, schema) -> ChoetlStreamReader:  # noqa: N802
        return ChoetlStreamReader(self.options, schema)

    def writer(self, schema, overwrite: bool) -> ChoetlWriter:
        return ChoetlWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Register the ``choetl`` format on a session (idempotent) and
    enable Python-data-source filter pushdown — the reader implements
    ``pushFilters``, which Spark refuses to initialize while
    ``spark.sql.python.filterPushdown.enabled`` is false."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ChoetlDataSource)
