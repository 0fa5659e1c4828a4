"""The encode/decode engine: Spark plan around the vectorized codec kernel.

Pipeline (the Spark re-imagining of ChoETL's writer lifecycle,
reference src/ChoETL.Parquet/ChoParquetRecordWriter.cs:497-698):

    source df
      -> plan_partitions (stable data-derived part_id, hot-host salting)
      -> repartition(P, part_id) + sortWithinPartitions(part_id, key)
      -> mapInArrow(encode kernel)          # JVM->Python once per task
      -> encoded chunk rows                 # (part_id, column, chunk_seq,
                                            #  row_start, n_rows, codec, ...)
      -> task-side chunk file + summary row # _make_writing_wrapper
      -> ledger commit                      # choetl_spark.ledger

ChoETL's RowGroupSize row-count flush (ChoParquetRecordConfiguration.cs:42)
becomes a BYTE-capped chunker: a chunk closes at ``chunk_rows`` rows or
``chunk_bytes`` of raw data, whichever first, so an oversized html blob
lands alone in its own chunk and never blows a task's memory.

Decode inverts: chunks are shuffled by part_id, sorted by (column,
row_start), columns reassembled per logical partition, and batches
re-emitted — the analog of ChoParquetRecordReader.Unpack
(ChoParquetRecordReader.cs:154-179), but columnar end-to-end.

Everything row-wise happens inside Arrow batches; the only per-row
Python is the decode-side JSON restore of nested columns (which are
stored as JSON strings).
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from dataclasses import dataclass, field

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from choetl_spark.codecs import decode_array, encode_array
from choetl_spark.codecs.base import data_nbytes, str_to_type, type_to_str
from choetl_spark.partitioning import plan_partitions
from choetl_spark.selector import choose_codec, zstd_level_for
from choetl_spark.stats import compute_stats

ENCODED_SCHEMA_DDL = (
    "part_id long, column string, chunk_seq int, row_start long, n_rows long, "
    "codec string, n_nulls long, raw_bytes long, encoded_bytes long, "
    "pre_zstd_bytes long, payload binary, meta string, stats string"
)

_ENCODED_PA_SCHEMA = pa.schema(
    [
        ("part_id", pa.int64()),
        ("column", pa.string()),
        ("chunk_seq", pa.int32()),
        ("row_start", pa.int64()),
        ("n_rows", pa.int64()),
        ("codec", pa.string()),
        ("n_nulls", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("pre_zstd_bytes", pa.int64()),
        ("payload", pa.binary()),
        ("meta", pa.string()),
        ("stats", pa.string()),
    ]
)


@dataclass
class EncodeConfig:
    """Knobs, mirroring the discipline of ChoParquetRecordConfiguration
    (reference src/ChoETL.Parquet/ChoParquetRecordConfiguration.cs:39-49)."""

    columns: list[str] | None = None
    num_partitions: int = 32
    chunk_rows: int = 65536
    chunk_bytes: int = 8 << 20
    key_col: str = "url"
    # shuffle mode:
    #   "salted" — repartition on data-derived part_id with hot-host
    #     salting (plan_partitions). Use when the input is skewed by host
    #     or when stable, data-derived partition ids are needed for
    #     cross-run resume. Costs one full shuffle of the input.
    #   "none" — scan-local encode: part_id = spark_partition_id(), no
    #     shuffle at all. This is how Parquet/Iceberg writers encode at
    #     scale (per input split); at 100 TB a shuffle just to co-locate
    #     partition keys would dominate the job. Resume requires the
    #     input partitioning to be reproducible (true for file scans of
    #     the same table snapshot).
    shuffle: str = "salted"
    # deterministic=True restores the within-partition sort by key_col in
    # salted mode (then a full-row hash; the hash alone when the frame
    # has no key_col), making chunk contents (and therefore codec choices
    # and per-chunk metrics) bit-stable across reruns — shuffle reads
    # fetch map outputs in arbitrary order otherwise. Costs a string
    # sort; row CONTENT round-trips identically either way, so this
    # matters only when chunk-level artifacts must be reproducible
    # (golden tests, cross-run fingerprint comparisons).
    deterministic: bool = False
    partition_by_host: bool = True
    hot_factor: float = 2.0
    salt_buckets: int = 16
    codec_overrides: dict[str, str] = field(default_factory=dict)
    zstd: str = "auto"  # auto|off — final entropy pass, kept only if smaller
    flush_bytes: int = 64 << 20  # encode-buffer flush cap inside a task
    # selector bias: ratio | balanced | speed. The DEFAULT is "speed"
    # (dict-or-plain + zstd; parquet-or-better footprint at ~0.99x the
    # parquet+zstd size, within 2x the JVM writer's throughput at pinned
    # cores) — the same trade parquet's own default compression makes.
    # "balanced" (token-dictionary/FSST stack, ~1.5x smaller footprint
    # at ~3x the encode cost) is the opt-in for storage-dominated
    # economics; the measured ceiling argument for why it cannot ALSO be
    # within 2x of the JVM writer on a shared-bus box (the worddict
    # split+dict pass alone costs ~8.9 s/GB of CPU vs the 2.6 s/GB
    # budget 0.5x-of-JVM leaves after the Arrow transfer) lives in
    # BENCH/BASELINE.md. "ratio" additionally keeps fsst/zstd-3
    # everywhere the sample trial shows any win.
    optimize_for: str = "speed"
    # opt-in per-chunk Bloom filters (stats JSON, ~1-2 bytes/row) on
    # high-cardinality string/binary columns: point-lookup pruning via
    # prune_partitions_by_bloom — the equality complement of the
    # min/max zone maps (a random url sits inside almost every chunk's
    # [min, max], but hits ~0 blooms).
    bloom_columns: tuple = ()
    # opt-in per-chunk HyperLogLog sketches (stats JSON, 4 KB/chunk):
    # store-level approx distinct counts from metadata only via
    # ndv.approx_ndv — the Iceberg-Puffin ANALYZE analog. Any storage
    # type the store supports (strings hash through the Bloom kernel's
    # byte pass, fixed-width types through their 64-bit pattern).
    ndv_columns: tuple = ()
    # opt-in per-chunk equi-depth quantile digests (stats JSON,
    # ~0.5 KB/chunk): store-level approx percentiles from metadata only
    # via quantiles.approx_quantile — the other half of the ANALYZE
    # stats next to ndv_columns. Numeric/temporal/bool columns.
    quantile_columns: tuple = ()


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

# consecutive agreeing chunks before a string/binary column's codec
# choice is pinned for the rest of the task (see _encode_piece)
_PIN_AFTER = 4


def _chunk_ranges(arr: pa.Array, max_rows: int, max_bytes: int) -> list[tuple[int, int]]:
    """Split [0, len) into (start, len) ranges capped by rows and raw bytes."""
    n = len(arr)
    if n == 0:
        return []
    t = arr.type
    ranges: list[tuple[int, int]] = []
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(
        t
    ) or pa.types.is_large_binary(t):
        import numpy as np

        lens = (
            np.asarray(
                pa.compute.fill_null(
                    pa.compute.binary_length(arr).cast(pa.int64()), 0
                )
            )
            + 8
        )
        cum = np.cumsum(lens)
        start = 0
        while start < n:  # iterations == number of chunks, not rows
            base = int(cum[start - 1]) if start > 0 else 0
            hi = int(np.searchsorted(cum, base + max_bytes, side="right"))
            end = max(start + 1, min(hi, start + max_rows, n))
            ranges.append((start, end - start))
            start = end
        return ranges
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        # byte-cap by per-row value bytes (a 4k-dim embedding row is
        # 16 KB — a fixed row cap alone would blow task memory)
        import numpy as np

        iw = max(t.value_type.bit_width // 8, 1)
        lens = (
            np.asarray(
                pa.compute.fill_null(
                    pa.compute.list_value_length(arr).cast(pa.int64()), 0
                )
            )
            * iw
            + 4
        )
        cum = np.cumsum(lens)
        start = 0
        while start < n:
            base = int(cum[start - 1]) if start > 0 else 0
            hi = int(np.searchsorted(cum, base + max_bytes, side="right"))
            end = max(start + 1, min(hi, start + max_rows, n))
            ranges.append((start, end - start))
            start = end
        return ranges
    width = max(t.bit_width // 8, 1) if hasattr(t, "bit_width") else 8
    rows_cap = max(min(max_rows, max_bytes // width), 1)
    start = 0
    while start < n:
        ln = min(rows_cap, n - start)
        ranges.append((start, ln))
        start += ln
    return ranges


def _encode_block(
    part_id: int,
    table: pa.Table,
    row_base: dict[str, int],
    seq_base: dict[str, int],
    cfg: EncodeConfig,
    logical: dict[str, str] | None = None,
    trial_caches: dict[str, dict] | None = None,
) -> pa.RecordBatch:
    """Encode one buffered block of a logical partition into chunk rows."""
    out: dict[str, list] = {name: [] for name in _ENCODED_PA_SCHEMA.names}
    stats_level = "cheap" if cfg.optimize_for == "speed" else "full"
    if trial_caches is None:
        trial_caches = {}
    for name in table.column_names:
        if name == "part_id":
            continue
        col = table.column(name)
        # per-piece encoding avoids a full extra copy of the buffered
        # block, but only when the pieces themselves are chunk-sized;
        # small pieces (narrow column, small Arrow batches) would
        # fragment into undersized chunks (worse dict/fsst/zstd ratios,
        # more metadata), so those combine first
        if (
            col.num_chunks > 1
            and col.nbytes / col.num_chunks < cfg.chunk_bytes // 2
        ):
            pieces = [col.combine_chunks()]
        else:
            pieces = col.chunks
        for piece in pieces:
            _encode_piece(part_id, piece, name, out, row_base, seq_base,
                          cfg, stats_level, logical,
                          trial_caches.setdefault(name, {}))
    arrays = [
        pa.array(out[f.name], type=f.type) for f in _ENCODED_PA_SCHEMA
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=_ENCODED_PA_SCHEMA)


def _encode_piece(
    part_id: int,
    piece: pa.Array,
    name: str,
    out: dict[str, list],
    row_base: dict[str, int],
    seq_base: dict[str, int],
    cfg: EncodeConfig,
    stats_level: str,
    logical: dict[str, str] | None,
    trial_cache: dict | None = None,
) -> None:
    """Chunk-split and encode one contiguous Arrow piece of a column.

    Codec pinning: string/binary columns pay the full selector stats
    (NDV sample, entropy histogram, token census) and the measured
    sample trial only for their first ``_PIN_AFTER`` chunks in a task —
    once that many consecutive chunks agree on one (codec, opts), the
    choice is pinned in the task-lifetime ``trial_cache`` and later
    chunks compute only the stats that ride into the chunk table (zone
    maps, sums, null counts). A pinned pick can be stale for a column
    whose character shifts mid-partition; the zstd entropy backstop
    still runs per chunk, so the footprint cost of a stale pin is
    bounded (measured ~1.4 CPU-s/GB saved on the balanced profile)."""
    t = piece.type
    pinnable = (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    ) and trial_cache is not None
    for start, ln in _chunk_ranges(piece, cfg.chunk_rows, cfg.chunk_bytes):
        sl = piece.slice(start, ln)
        pin = trial_cache.get("_pin") if pinnable else None
        if pin is not None:
            codec, opts = pin[0], dict(pin[1])
            st = compute_stats(sl, level="pinned")
        else:
            st = compute_stats(sl, level=stats_level)
            override = cfg.codec_overrides.get(name)
            codec, opts = choose_codec(
                sl, st=st, override=override, optimize_for=cfg.optimize_for,
                trial_cache=trial_cache,
            )
            if pinnable and override is None:
                key = (codec, tuple(sorted(opts.items())))
                prev, streak = trial_cache.get("_streak", (None, 0))
                streak = streak + 1 if prev == key else 1
                trial_cache["_streak"] = (key, streak)
                if streak >= _PIN_AFTER:
                    trial_cache["_pin"] = (codec, dict(opts))
        payload, meta = encode_array(
            sl, codec=codec, zstd=cfg.zstd,
            zstd_level=zstd_level_for(codec, cfg.optimize_for), **opts
        )
        if logical and name in logical:
            meta["logical"] = logical[name]
        top = meta["child"] if meta["codec"] == "zstd" else meta
        pre = meta.get("pre_zstd_bytes", len(payload))
        out["part_id"].append(part_id)
        out["column"].append(name)
        out["chunk_seq"].append(seq_base[name])
        out["row_start"].append(row_base[name])
        out["n_rows"].append(ln)
        out["codec"].append(top["codec"] + ("+zstd" if meta["codec"] == "zstd" else ""))
        out["n_nulls"].append(st.n_nulls)
        out["raw_bytes"].append(st.data_bytes)
        out["encoded_bytes"].append(len(payload))
        out["pre_zstd_bytes"].append(pre)
        out["payload"].append(payload)
        out["meta"].append(json.dumps(meta, separators=(",", ":")))
        st_dict = st.to_dict()
        if name in cfg.bloom_columns and (
            pa.types.is_string(sl.type)
            or pa.types.is_large_string(sl.type)
            or pa.types.is_binary(sl.type)
            or pa.types.is_large_binary(sl.type)
        ):
            from choetl_spark.bloom import bloom_build

            st_dict["bloom"] = bloom_build(sl)
        if name in cfg.ndv_columns:
            from choetl_spark.ndv import hll_build

            h = hll_build(sl)
            if h is not None:  # all-null chunks carry no sketch
                st_dict["hll"] = h
        if name in cfg.quantile_columns:
            from choetl_spark.quantiles import qdigest_build

            qd = qdigest_build(sl)
            if qd is not None:  # all-null chunks carry no digest
                st_dict["qdigest"] = qd
        out["stats"].append(json.dumps(st_dict, separators=(",", ":")))
        row_base[name] += ln
        seq_base[name] += 1


_SIMPLE_SPARK_TYPES = {
    # DataType.typeName() spellings (NOT the DDL aliases: ByteType is
    # "byte", ShortType "short", IntegerType "integer" — tinyint/smallint
    # columns used to fall through to the string-cast fallback path)
    "boolean", "byte", "short", "integer", "long",
    "float", "double", "string", "binary", "date", "timestamp",
    "timestamp_ntz",
}


_VECLIST_INNER = {"byte", "short", "integer", "long", "float", "double"}


def _is_vector_column(dt) -> bool:
    """array<numeric> columns encode NATIVELY (the veclist codec:
    bit-packed lengths + byte-plane-shuffled values) — embeddings and
    feature arrays never pay the JSON-string fallback."""
    return (
        dt.typeName() == "array"
        and dt.elementType.typeName() in _VECLIST_INNER
    )


def _nested_columns(schema) -> dict[str, str]:
    """Columns of a ``StructType`` whose Spark type the codec layer
    does not store natively -> their DDL. These ride as JSON strings
    (the reference's own fallback: any complex value JSON-serializes on
    write, ChoParquetRecordWriter.cs:128-137) and the decode kernel
    restores the type (:func:`_conform`). NaN/Infinity inside nested
    floats are not JSON-portable — the one documented fidelity limit of
    this path. array<numeric> columns are exempt: they store natively
    via the veclist codec (which also keeps float NaN/Inf bit-exact)."""
    out = {}
    for f in schema.fields:
        if f.dataType.typeName() not in _SIMPLE_SPARK_TYPES and not (
            _is_vector_column(f.dataType)
        ):
            out[f.name] = f.dataType.simpleString()
    return out


def _make_encode_kernel(cfg: EncodeConfig, logical: dict[str, str] | None = None):
    # note on pipelining: a background-thread prefetch of the input
    # iterator (overlap JVM->Python Arrow transfer with the codec
    # kernel) was prototyped and A/B-measured at pinned cores — it is
    # NET-NEGATIVE here (17.7s vs 16.8s at local[2]): the transfer cost
    # is JVM/worker CPU competing for the same cores, not idle wait, so
    # there is nothing to overlap into and the queue adds copies.
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        cur_part: int | None = None
        buf: list[pa.RecordBatch] = []
        buf_bytes = 0
        # per-part (row_base, seq_base), kept for the task's lifetime so a
        # part_id that reappears after an interleave continues its row
        # numbering instead of restarting at 0
        bases: dict[int, tuple[dict[str, int], dict[str, int]]] = {}
        # per-column measured-trial verdicts, task-lifetime (first chunk
        # of a column pays the sample trial, the rest reuse it)
        trial_caches: dict[str, dict] = {}

        def flush() -> Iterator[pa.RecordBatch]:
            nonlocal buf, buf_bytes
            if not buf:
                return
            table = pa.Table.from_batches(buf)
            buf = []
            buf_bytes = 0
            row_base, seq_base = bases[cur_part]
            yield _encode_block(
                cur_part, table, row_base, seq_base, cfg, logical,
                trial_caches,
            )

        for batch in batches:
            pid = np.asarray(batch.column(batch.schema.get_field_index("part_id")))
            if len(pid) == 0:
                continue
            # split the batch at part_id boundaries
            bounds = [0] + (np.flatnonzero(pid[1:] != pid[:-1]) + 1).tolist() + [
                len(pid)
            ]
            for i in range(len(bounds) - 1):
                s, e = bounds[i], bounds[i + 1]
                part = int(pid[s])
                if part != cur_part:
                    yield from flush()
                    cur_part = part
                    if part not in bases:
                        cols = [n for n in batch.schema.names if n != "part_id"]
                        bases[part] = (
                            {n: 0 for n in cols},
                            {n: 0 for n in cols},
                        )
                piece = batch.slice(s, e - s)
                buf.append(piece)
                buf_bytes += piece.nbytes
                if buf_bytes >= cfg.flush_bytes:
                    yield from flush()
        yield from flush()

    return kernel


def _encode_upstream(
    df: DataFrame, cfg: EncodeConfig, logical: dict[str, str]
) -> DataFrame:
    """The shared pre-kernel plan of :func:`encode_dataframe`:
    nested-column JSON fallback, part_id planning, projection, and the
    configured shuffle — everything up to the ``mapInArrow``."""
    cols = cfg.columns or [c for c in df.columns if c != "part_id"]
    if logical:
        df = df.withColumns(
            {
                c: (
                    F.to_json(F.col(c))
                    if ddl.startswith(("array<", "map<", "struct<"))
                    else F.col(c).cast("string")  # decimal etc.
                )
                for c, ddl in logical.items()
            }
        )
    if "part_id" not in df.columns:
        if cfg.shuffle == "none":
            df = df.withColumn(
                "part_id", F.spark_partition_id().cast("long")
            )
        else:
            df = plan_partitions(
                df,
                cfg.num_partitions,
                key_col=cfg.key_col,
                by_host=cfg.partition_by_host,
                hot_factor=cfg.hot_factor,
                salt_buckets=cfg.salt_buckets,
            )
    # key_col leads the projection when the table has it (stable chunk
    # layout + deterministic sort); tables without it (any non-webpage
    # schema) encode fine — salting/sorting just can't key on it
    lead = [cfg.key_col] if cfg.key_col in df.columns else []
    picked = df.select(
        "part_id", *lead, *[c for c in cols if c not in lead]
    )
    if cfg.shuffle == "none":
        shuffled = picked  # scan-local: rows stay where the scan put them
    else:
        # sort by part_id ONLY (default): the kernel needs each logical
        # partition contiguous within a task; sorting by the row key too
        # costs a full string sort for no measured footprint gain (0.1780
        # ratio either way on the web-page table at sf-bench scale).
        if cfg.deterministic:
            # rows tied on key_col (the key-unique contract violated),
            # or every row of a part when the frame has no key_col,
            # would otherwise keep their fetch-order nondeterminism — a
            # full-row xxhash64 tiebreaker pins their relative order too
            # (rows that still tie are byte-identical duplicates, which
            # are interchangeable; distinct tied rows need a 2^-64 hash
            # collision to escape)
            tiebreak = F.xxhash64(
                *[F.col(c) for c in picked.columns if c != "part_id"]
            )
            sort_cols = ["part_id", *lead, tiebreak]
        else:
            sort_cols = ["part_id"]
        shuffled = picked.repartition(
            cfg.num_partitions, "part_id"
        ).sortWithinPartitions(*sort_cols)
    return shuffled


def encode_dataframe(df: DataFrame, cfg: EncodeConfig | None = None) -> DataFrame:
    """Encode ``df`` into the encoded-chunk DataFrame (lazy plan)."""
    cfg = cfg or EncodeConfig()
    cols = cfg.columns or [c for c in df.columns if c != "part_id"]
    # nested columns (array/map/struct/decimal) ride as JSON strings —
    # the reference's own complex-value fallback; decode restores them
    logical = {
        k: v for k, v in _nested_columns(df.schema).items() if k in cols
    }
    return _encode_upstream(df, cfg, logical).mapInArrow(
        _make_encode_kernel(cfg, logical), ENCODED_SCHEMA_DDL
    )


_WRITE_SUMMARY_PA_SCHEMA = pa.schema(
    [
        ("part_id", pa.int64()),
        ("n_rows", pa.int64()),
        ("n_chunks", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("codec_map", pa.string()),
        ("fingerprint", pa.int64()),
        ("file", pa.string()),
    ]
)

WRITE_SUMMARY_SCHEMA = from_arrow_schema(_WRITE_SUMMARY_PA_SCHEMA)

_STAGING_PREFIX = ".tmp-"


def _make_writing_wrapper(inner_kernel, chunks_dir: str, attempt_id: str):
    """Wrap an encode kernel so each TASK persists its own chunk file
    and yields one summary row per logical partition (``part_id,
    n_rows, n_chunks, raw_bytes, encoded_bytes, codec_map, fingerprint,
    file``) instead of shipping encoded chunk rows over the
    Python->JVM Arrow boundary. This is the store's one chunk-file
    writer: the standard encode (:func:`encode_dataframe_writing`),
    scan-direct (:mod:`choetl_spark.direct`) and the ``format("choetl")``
    writer all run their kernels inside it. Chunk rows stream to a
    pyarrow parquet writer (compression none — payloads are already
    compressed) as the kernel yields them, so a task holds one encode
    block at a time. A task holding several logical partitions writes
    them into its one file, which is fine — commit is all-or-nothing per
    run.

    Crash contract: the task writes under a dot-prefixed staging name
    unique to its task ATTEMPT (``.tmp-{attempt_id}-{partition}-
    {taskAttemptId}.parquet``, the summary's ``file``) and never renames
    it: the driver moves only the files reported by the attempts Spark
    counted as successful into place (:func:`publish_chunk_files`).
    A task must not publish itself, because a failing upstream ends its
    Arrow input cleanly — the task then finishes a PARTIAL file before
    Spark fails it — and because a speculative or zombie attempt would
    otherwise land its file after the commit. No reader (nor a Spark
    scan of the chunk directory, which skips hidden names) ever sees a
    torn or unreported file; ``vacuum`` sweeps the staging leftovers."""
    out_schema = _ENCODED_PA_SCHEMA.append(
        pa.field("attempt_id", pa.string())
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import hashlib
        import os

        import pyarrow.parquet as pq

        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        task_att = tc.taskAttemptId() if tc is not None else 0
        name = f"{_STAGING_PREFIX}{attempt_id}-{pid:08d}-{task_att}.parquet"
        writer = None
        parts: dict[int, dict] = {}  # part_id -> its summary so far
        try:
            for eb in inner_kernel(batches):
                if eb.num_rows == 0:
                    continue
                if writer is None:
                    os.makedirs(chunks_dir, exist_ok=True)
                    writer = pq.ParquetWriter(
                        os.path.join(chunks_dir, name), out_schema,
                        compression="none",
                    )
                att = pa.array([attempt_id] * eb.num_rows, pa.string())
                writer.write_batch(
                    pa.RecordBatch.from_arrays(
                        [*eb.columns, att], schema=out_schema
                    )
                )
                for p, c, n, raw, enc, codec, meta in zip(
                    *(
                        eb.column(k).to_pylist()
                        for k in ("part_id", "column", "n_rows", "raw_bytes",
                                  "encoded_bytes", "codec", "meta")
                    )
                ):
                    s = parts.setdefault(
                        p, {"rows_x_cols": 0, "n_chunks": 0, "raw_bytes": 0,
                            "encoded_bytes": 0, "codecs": set(), "fp": 0}
                    )
                    s["rows_x_cols"] += n
                    s["n_chunks"] += 1
                    s["raw_bytes"] += raw
                    s["encoded_bytes"] += enc
                    s["codecs"].add((c, codec))
                    # order-insensitive content fingerprint: the sum of
                    # the chunk metas' 64-bit digests
                    s["fp"] += int.from_bytes(
                        hashlib.md5(meta.encode()).digest()[:8], "big"
                    )
        finally:
            if writer is not None:
                writer.close()
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "part_id": p,
                    # every column's chunks tile the same rows
                    "n_rows": s["rows_x_cols"]
                    // len({c for c, _ in s["codecs"]}),
                    "n_chunks": s["n_chunks"],
                    "raw_bytes": s["raw_bytes"],
                    "encoded_bytes": s["encoded_bytes"],
                    "codec_map": json.dumps(
                        [{"column": c, "codec": k}
                         for c, k in sorted(s["codecs"])],
                        separators=(",", ":"),
                    ),
                    "fingerprint": (s["fp"] + (1 << 63)) % (1 << 64)
                    - (1 << 63),
                    "file": name,
                }
                for p, s in sorted(parts.items())
            ],
            schema=_WRITE_SUMMARY_PA_SCHEMA,
        )

    return kernel


def publish_chunk_files(chunks_dir: str, summary: list[dict]) -> list[str]:
    """Driver half of the chunk writer (:func:`_make_writing_wrapper`):
    rename the staging files named by ``summary`` — the summary rows of
    the task attempts Spark counted as successful, one per logical
    partition — to their visible names (the staging name without its
    ``.tmp-`` prefix, so a failed, retried or speculative attempt's own
    file stays hidden), and return those names. Every writer calls this
    before its ledger commit; a file that is already gone (a ``vacuum``
    with a grace shorter than the write, or a compaction that swapped
    ``chunks/``) raises before anything commits."""
    import os

    published = []
    for name in sorted({r["file"] for r in summary}):
        published.append(name[len(_STAGING_PREFIX):])
        try:
            os.replace(
                os.path.join(chunks_dir, name),
                os.path.join(chunks_dir, published[-1]),
            )
        except FileNotFoundError:
            raise RuntimeError(
                f"staged chunk file {name} is gone (vacuumed or swapped "
                "out of chunks/ mid-write) — nothing was committed; "
                "rerun the write"
            ) from None
    return published


def encode_dataframe_writing(
    df: DataFrame,
    cfg: EncodeConfig,
    chunks_dir: str,
    attempt_id: str,
) -> DataFrame:
    """:func:`encode_dataframe` with the task-side chunk writer
    (:func:`_make_writing_wrapper`) around the kernel: identical
    partitioning/shuffle/nested-column handling, but encoded bytes never
    cross to the JVM — tasks write their chunk files themselves and the
    returned (lazy) frame carries one summary row per logical partition.
    The default encoder of ``ledger.encode_with_resume``; an action
    writes the staging files, and :func:`publish_chunk_files` over the
    collected rows makes them visible."""
    cols = cfg.columns or [c for c in df.columns if c != "part_id"]
    logical = {
        k: v for k, v in _nested_columns(df.schema).items() if k in cols
    }
    return _encode_upstream(df, cfg, logical).mapInArrow(
        _make_writing_wrapper(
            _make_encode_kernel(cfg, logical), chunks_dir, attempt_id
        ),
        WRITE_SUMMARY_SCHEMA,
    )


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _column_metas(enc_df: DataFrame) -> dict[str, dict]:
    """One representative chunk meta per column (driver-side, tiny)."""
    rows = (
        enc_df.groupBy("column").agg(F.first("meta").alias("meta")).collect()
    )
    return {r["column"]: json.loads(r["meta"]) for r in rows}


_SPARK_TO_STORAGE = {
    # keyed by DataType.typeName()
    "boolean": "bool",
    "byte": "int8",
    "short": "int16",
    "integer": "int32",
    "long": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "binary": "binary",
    "date": "date32",
}


def column_manifest(df: DataFrame, cfg: EncodeConfig | None = None) -> dict:
    """Per-column storage manifest {col: {dtype, logical}} for a source
    DataFrame about to be encoded — :func:`schema_manifest` of its
    schema and session timezone, computed driver-side with ZERO Spark
    jobs.

    This is what lets :func:`decode_dataframe` build its plan without
    the eager ``groupBy("column").collect()`` over chunk metadata (at
    100 TB that collect is a full metadata pass per decode call — round-2
    verdict #4)."""
    cfg = cfg or EncodeConfig()
    return schema_manifest(
        df.schema,
        df.sparkSession.conf.get("spark.sql.session.timeZone", None),
        cfg.columns or [c for c in df.columns if c != "part_id"],
    )


def schema_manifest(
    schema, tz: str | None, cols: list[str] | None = None
) -> dict:
    """The storage manifest of a Spark ``StructType`` (restricted to
    ``cols`` when given) whose timestamps arrive tagged with ``tz`` —
    the store's one Spark->storage type map. It mirrors exactly what the
    encode kernel will see from Spark's Arrow conversion: simple types
    per ``_SPARK_TO_STORAGE``; timestamps arrive as ``timestamp[us]``
    tagged with the session timezone; nested/decimal columns ride as
    JSON/cast strings with their original DDL recorded as ``logical``
    (same rule as :func:`encode_dataframe`)."""
    logical = _nested_columns(schema)
    out: dict[str, dict] = {}
    for f in schema.fields:
        if f.name == "part_id" or (cols is not None and f.name not in cols):
            continue
        t = f.dataType.typeName()
        if f.name in logical:
            dtype = "string"
        elif t in _SPARK_TO_STORAGE:
            dtype = _SPARK_TO_STORAGE[t]
        elif t == "timestamp":
            dtype = f"timestamp[us][{tz}]" if tz else "timestamp[us]"
        elif t == "timestamp_ntz":
            dtype = "timestamp[us]"
        elif _is_vector_column(f.dataType):
            inner = _SPARK_TO_STORAGE[f.dataType.elementType.typeName()]
            dtype = f"list[{inner}]"
        else:  # pragma: no cover - _nested_columns catches these
            raise TypeError(f"unsupported column type for encode: {t}")
        out[f.name] = {"dtype": dtype, "logical": logical.get(f.name)}
    return out


def _meta_storage_type(meta: dict) -> pa.DataType:
    child = meta["child"] if meta["codec"] == "zstd" else meta
    return str_to_type(child["dtype"])


def logical_arrow_type(ddl: str) -> pa.DataType:
    """Arrow type of a nested/decimal column's logical Spark DDL (the
    ``logical`` manifest entry). Driver-side: parsing DDL needs the JVM."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_type(_parse_datatype_string(ddl))


def _json_converter(t: pa.DataType):
    """Python value parsed from Spark's ``to_json`` output -> a value
    ``pa.array(..., t)`` accepts. JSON has no timestamps, dates,
    decimals, bytes or non-string map keys, so those leaves convert
    here; everything else passes through."""
    import base64
    import datetime as _dt
    from decimal import Decimal

    if pa.types.is_struct(t):
        fields = [(f.name, _json_converter(f.type)) for f in t]
        conv = lambda v: {n: c(v.get(n)) for n, c in fields}  # noqa: E731
    elif pa.types.is_map(t):
        kc, vc = _json_converter(t.key_type), _json_converter(t.item_type)
        conv = lambda v: [(kc(k), vc(x)) for k, x in v.items()]  # noqa: E731
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        ec = _json_converter(t.value_type)
        conv = lambda v: [ec(x) for x in v]  # noqa: E731
    elif pa.types.is_timestamp(t):
        conv = _dt.datetime.fromisoformat
    elif pa.types.is_date(t):
        conv = _dt.date.fromisoformat
    elif pa.types.is_decimal(t):
        conv = lambda v: Decimal(str(v))  # noqa: E731
    elif pa.types.is_integer(t):
        conv = int  # map keys arrive as JSON strings
    elif pa.types.is_floating(t):
        conv = float  # also parses Spark's quoted "NaN"/"Infinity"
    elif pa.types.is_boolean(t):
        conv = lambda v: v is True or v == "true"  # noqa: E731
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        conv = base64.b64decode
    else:
        return lambda v: v
    return lambda v: None if v is None else conv(v)


def _conform(arr: pa.Array, t: pa.DataType) -> pa.Array:
    """A decoded chunk in its output type ``t``. Nested/decimal columns
    are stored as strings: nested ones via ``to_json``, restored here by
    a recursive JSON parse; the others via ``cast(string)``, restored by
    an Arrow cast — the same cast that widens a promoted column."""
    if arr.type == t:
        return arr
    if pa.types.is_null(t):
        return pa.nulls(len(arr), t)
    nested = (
        pa.types.is_struct(t) or pa.types.is_map(t)
        or pa.types.is_list(t) or pa.types.is_large_list(t)
    )
    stored_json = pa.types.is_string(arr.type) or pa.types.is_large_string(
        arr.type
    )
    if not (nested and stored_json):
        return arr.cast(t)
    from decimal import Decimal

    conv = _json_converter(t)
    return pa.array(
        [
            None if s is None else conv(json.loads(s, parse_float=Decimal))
            for s in arr.to_pylist()
        ],
        type=t,
    )


def _checked_rows(arr: pa.Array, n_rows, part, name: str, start) -> pa.Array:
    """Integrity gate: a decoded chunk must hold exactly its ``n_rows``
    (a truncated or corrupt payload can otherwise decode short)."""
    if n_rows is not None and len(arr) != n_rows:
        raise ValueError(
            f"part {part} column {name!r} chunk at row_start {start}: "
            f"decoded {len(arr)} rows, expected {n_rows}"
        )
    return arr


def _kernel_schema(out_schema: pa.Schema, with_pos: bool) -> pa.Schema:
    """A decode kernel's output schema: ``with_pos`` prepends each row's
    ``(_part_id, _row_pos)`` coordinates."""
    if not with_pos:
        return out_schema
    return pa.schema(
        [("_part_id", pa.int64()), ("_row_pos", pa.int64()), *out_schema]
    )


def normalize_predicate_value(v):
    """Naive datetime predicate values -> the aware UTC instant Spark's
    own literal conversion produces for them (py4j DatetimeConverter /
    TimestampType.toInternal: ``time.mktime`` on the DRIVER'S OS
    timezone). Applied once at the query entry (``scan_encoded`` /
    ``delete_where``), so pruner, kernel mask and residual Spark filter
    all evaluate the SAME instant on any driver tz — a naive bound read
    as UTC by the kernel but as a non-UTC OS tz by the residual would
    make the mask a non-superset and silently drop matching rows.
    Aware datetimes and non-datetimes pass through unchanged."""
    import datetime as _dt
    import time as _time

    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        secs = int(_time.mktime(v.timetuple()))
        return _dt.datetime.fromtimestamp(secs, _dt.timezone.utc).replace(
            microsecond=v.microsecond
        )
    return v


def _pushdown_values_compatible(vals: list, t: pa.DataType) -> bool:
    """True only when every predicate value is in the same type FAMILY
    as the storage type, so the Arrow comparison agrees with the Spark
    residual filter's comparison (same byte/numeric ordering, no silent
    cross-family casts). Anything else is rejected — the kernel then
    passes all rows through and the residual filter decides."""
    import datetime as _dt

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return all(isinstance(v, str) for v in vals)
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return all(isinstance(v, bytes) for v in vals)
    if pa.types.is_boolean(t):
        return all(isinstance(v, bool) for v in vals)
    if pa.types.is_timestamp(t):
        if not all(isinstance(v, _dt.datetime) for v in vals):
            return False
        # naive datetimes are interpreted as UTC by Arrow's cast but
        # via the driver's OS timezone (time.mktime) by Spark's
        # literal, so they never push down (delete_where normalizes
        # naive bounds first; Spark hands format("choetl") aware
        # instants). Aware datetimes convert identically on both sides.
        return all(v.tzinfo is not None for v in vals)
    if pa.types.is_date(t):
        return all(
            isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
            for v in vals
        )
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        return all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for v in vals
        )
    return False


def _eval_chunk_mask(
    payload: bytes,
    meta: dict,
    op: tuple,
    n_rows: int | None = None,
    decoded_out: dict | None = None,
) -> "object":
    """Evaluate one pushdown predicate over one encoded chunk without
    materializing more than it must. Returns a numpy bool mask (True =
    row may match). SUPERSET semantics: any evaluation failure (type
    coercion, exotic logical column) degrades to all-True — the caller
    re-applies the predicate exactly on the decoded result, so a
    too-wide kernel mask costs bytes, never correctness.

    Dict fast path (the compute-on-compressed half of C-Store-style
    late materialization, Abadi et al. ICDE 2007 — public work): for a
    dict-coded chunk the predicate runs over the SYMBOL TABLE (NDV
    values, not n rows) and the row mask is one vectorized gather of
    the per-symbol verdicts through the index array — the full string
    column is never rebuilt. Chunks whose symbol table misses every
    probe value short-circuit to all-False without touching indices.
    """
    import datetime as _dt

    import numpy as np

    from choetl_spark.codecs import zstd as _zstd
    from choetl_spark.codecs.base import unpack_uints

    def eval_values(arr: pa.Array) -> "np.ndarray":
        vals = (
            list(op[1])
            if op[0] == "in"
            else [v for v in op[1:] if v is not None]  # None = open end
        )
        if not _pushdown_values_compatible(vals, arr.type):
            # a cross-family coercion (int bounds on a string column,
            # naive datetimes against a non-UTC store, ...) can be
            # EVALUABLE in Arrow yet mean something different than the
            # caller's residual Spark filter ("01" < "1" bytewise but
            # equal once Spark casts) — that would break the superset
            # guarantee, so refuse and let the except-arm pass all rows
            raise TypeError("pushdown value family mismatch")
        if op[0] == "in":
            # pa.array stores a non-UTC aware datetime's WALL time as
            # UTC (pyarrow 16); the same instant in UTC converts exactly
            vs = pa.array(
                [
                    v.astimezone(_dt.timezone.utc)
                    if isinstance(v, _dt.datetime) else v
                    for v in vals
                ]
            ).cast(arr.type)
            m = pa.compute.is_in(arr, value_set=vs)
        elif op[0] == "range":
            m = None
            for bound, cmp in (
                (op[1], pa.compute.greater_equal),
                (op[2], pa.compute.less_equal),
            ):
                if bound is not None:
                    c = cmp(arr, pa.scalar(bound).cast(arr.type))
                    m = c if m is None else pa.compute.and_kleene(m, c)
        else:  # pragma: no cover - spec built by the readers
            raise ValueError(f"unknown pushdown op {op[0]!r}")
        return np.asarray(pa.compute.fill_null(m, False))

    try:
        m, p = meta, payload
        if m["codec"] == "zstd":
            p, m = _zstd.unwrap(p, m)
        if m["codec"] == "dict" and "logical" not in meta:
            ib = m["idx_bytes"]
            values = decode_array(p[ib:], m["values"])
            vmask = eval_values(values)
            if not vmask.any():
                return np.zeros(m["n"], dtype=bool)
            indices = unpack_uints(p[:ib], m["n"], m["idx_width"]).astype(
                np.int64
            )
            mask = vmask[indices]
        else:
            if "logical" in meta:
                # logical columns ride as JSON/cast strings; predicate
                # values are in the LOGICAL domain — superset fallback
                return np.ones(meta.get("n", m.get("n", 0)) or 0, dtype=bool)
            arr = decode_array(payload, meta)
            if decoded_out is not None:
                # the predicate pass had to materialize the full chunk;
                # hand it to the caller so the fetch pass doesn't pay
                # the same decode (and zstd inflate) a second time
                decoded_out["arr"] = arr
            mask = eval_values(arr)
        nulls = m.get("nulls") or meta.get("nulls")
        if nulls and nulls.get("n_nulls"):
            import base64

            packed = np.frombuffer(
                base64.b64decode(nulls["validity_b64"]), dtype=np.uint8
            )
            valid = np.unpackbits(
                packed, count=len(mask), bitorder="little"
            ).astype(bool)
            mask &= valid
        if n_rows is not None and len(mask) != n_rows:
            # metadata/row-count inconsistency: over-keep, never drop
            raise ValueError("mask length != chunk n_rows")
        return mask
    except Exception:
        n = n_rows if n_rows is not None else (meta.get("n") or 0)
        if not n and meta.get("codec") == "zstd":
            n = (meta.get("child") or {}).get("n", 0)
        return np.ones(int(n), dtype=bool)


def _make_decode_kernel(
    col_order: list[str],
    out_schema: pa.Schema,
    batch_rows: int,
    pushdown: dict[str, tuple] | None = None,
    with_pos: bool = False,
):
    """The decode kernel: chunk rows in (sorted by ``part_id, column,
    row_start``), decoded rows of ``col_order`` out, one logical
    partition at a time. ``with_pos`` prepends each row's
    ``(_part_id, _row_pos)`` coordinates.

    Partition-local late materialization: a partition's chunk rows are
    buffered UNDECODED, then its matched row positions are fixed. With
    no ``pushdown`` spec every row of every chunk matches, at the chunk
    spans of the column that covers the most rows — exact when a
    partition's chunks arrive in several input slices (``row_start >
    0``); a late-added column (no chunks here) decodes as nulls.
    Under a spec the predicates are evaluated over just the predicate
    columns' chunks (dict chunks via their symbol tables — see
    :func:`_eval_chunk_mask`) and the surviving positions intersected.
    Only chunks that overlap a match are decoded, and only matching rows
    are emitted: for a selective scan this cuts both the Python-side
    decode work and — the dominant cost — the Arrow transfer back to
    the JVM from O(partition rows x columns) to O(matches x columns).

    All present columns of a partition tile the same global row
    positions, co-located in one input partition; masks are SUPERSETS,
    the caller's residual filter restores exact semantics.
    """
    full_schema = _kernel_schema(out_schema, with_pos)
    pushdown = pushdown or {}

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        cur_part: int | None = None
        # col -> [(row_start, n_rows, payload bytes, meta str)], arrival
        # (row_start) order; payloads stay ENCODED until needed
        raw: dict[str, list[tuple[int, int, bytes, str]]] = {}

        def flush() -> Iterator[pa.RecordBatch]:
            nonlocal raw
            if not raw:
                return
            # 1. match pass: the surviving global positions. Chunks the
            # mask evaluation had to FULLY decode (plain/foref/... —
            # everything but the dict symbol-table path) are kept for
            # the fetch pass below, so a requested predicate column pays
            # decode+inflate once, not twice.
            decoded_cache: dict[tuple, pa.Array] = {}
            matched: "np.ndarray | None" = None
            for name, op in pushdown.items():
                pieces = raw.get(name, [])
                pos_parts = []
                for start, nr, payload, meta in pieces:
                    sink: dict = {}
                    mask = _eval_chunk_mask(
                        payload, json.loads(meta), op, n_rows=nr,
                        decoded_out=sink,
                    )
                    if "arr" in sink and name in col_order:
                        decoded_cache[(name, start)] = sink["arr"]
                    pos_parts.append(start + np.nonzero(mask)[0])
                pos = (
                    np.concatenate(pos_parts)
                    if pos_parts
                    else np.empty(0, dtype=np.int64)
                )
                # pieces are disjoint ascending spans -> pos is sorted
                matched = (
                    pos
                    if matched is None
                    else np.intersect1d(matched, pos, assume_unique=True)
                )
                if matched.size == 0:
                    break
            if not pushdown:
                spans = max(
                    raw.values(), key=lambda ps: sum(nr for _, nr, _, _ in ps)
                )
                matched = np.concatenate(
                    [s + np.arange(nr, dtype=np.int64) for s, nr, _, _ in spans]
                )
            n_out = int(matched.size)
            # 2. fetch pass: decode only chunks overlapping a match
            cols = []
            for name in col_order:
                pieces = raw.get(name, [])
                if not pieces:
                    # schema evolution: a column with NO chunks in this
                    # partition (added to the store by a later ingest
                    # run) decodes as nulls
                    cols.append(
                        pa.nulls(n_out, type=out_schema.field(name).type)
                    )
                    continue
                got = 0
                vals: list[pa.Array] = []
                for start, n_rows, payload, meta in pieces:
                    # no spec: every row of every chunk matches
                    lo, hi = (
                        np.searchsorted(matched, [start, start + n_rows])
                        if pushdown
                        else (0, n_rows)
                    )
                    if hi <= lo:
                        continue
                    arr = decoded_cache.pop((name, start), None)
                    if arr is None:
                        arr = decode_array(payload, json.loads(meta))
                    _checked_rows(arr, n_rows, cur_part, name, start)
                    if hi - lo < n_rows:
                        arr = arr.take(pa.array(matched[lo:hi] - start))
                    vals.append(arr)
                    got += hi - lo
                if got != n_out:
                    raise ValueError(
                        f"column {name}: chunks cover {got} of {n_out} "
                        f"matched rows (part {cur_part} incomplete?)"
                    )
                tgt = out_schema.field(name).type
                arr = (
                    # conform each piece BEFORE concat: type widening
                    # (manifest promoted after these chunks were written)
                    # leaves mixed dtypes, and nested/decimal columns
                    # restore from their storage strings
                    pa.concat_arrays([_conform(v, tgt) for v in vals])
                    if vals
                    else pa.nulls(0, type=tgt)
                )
                cols.append(arr)
            if with_pos:
                cols = [
                    pa.array(np.full(n_out, cur_part, dtype=np.int64)),
                    pa.array(matched),
                    *cols,
                ]
            raw = {}
            if n_out == 0:
                return
            table = pa.Table.from_arrays(cols, schema=full_schema)
            for offset in range(0, table.num_rows, batch_rows):
                yield from table.slice(offset, batch_rows).to_batches()

        for batch in batches:
            pids = batch.column(0).to_pylist()  # part_id
            names = batch.column(1).to_pylist()  # column
            payloads = batch.column(2)  # payload
            metas = batch.column(3).to_pylist()  # meta
            starts = batch.column(4).to_pylist()  # row_start
            nrows = batch.column(5).to_pylist()  # n_rows
            for i in range(len(pids)):
                if pids[i] != cur_part:
                    yield from flush()
                    cur_part = pids[i]
                raw.setdefault(names[i], []).append(
                    (starts[i], nrows[i], payloads[i].as_py(), metas[i])
                )
        yield from flush()

    return kernel


def decode_dataframe(
    enc_df: DataFrame,
    columns: list[str] | None = None,
    manifest: dict | None = None,
) -> DataFrame:
    """Decode an encoded-chunk DataFrame back to source rows. No deletes
    are applied; a store's live rows, their ``_part_id`` / ``_row_pos``
    coordinates and pushdown masks come from ``format("choetl")``.

    Column pruning happens BEFORE the shuffle — unrequested columns'
    payload bytes never move (the analog of the reference reader's
    ignored-field pruning, ChoParquetRecordReader.cs:110-111). A
    SINGLE-column decode never shuffles (each chunk decodes
    independently; row alignment across columns is moot); a
    multi-column decode repartitions by ``part_id`` over
    ``spark.sql.shuffle.partitions``.

    ``manifest`` (from :func:`column_manifest` at encode time, or
    :func:`choetl_spark.ledger.read_manifest` for stored tables) supplies
    the per-column storage types driver-side so building this plan
    launches ZERO Spark jobs; without it the types are recovered with one
    small aggregate over the chunk metadata (a full metadata pass at
    scale — pass the manifest on hot paths).

    Nested/decimal ("logical") columns are stored as JSON/cast strings
    and come back in their logical Spark type: the decode kernel itself
    restores them (:func:`_conform`), so the plan has no
    JVM-side ``from_json``/``cast`` step and every reader sharing the
    kernel — ``format("choetl")`` included — returns the same values.

    Schema evolution: a column a later ingest run ADDED decodes as NULL
    in partitions encoded before it existed. Caveat: when EVERY
    requested column is late-added, those old partitions contribute no
    chunks at all, so their row count is unknowable here and they are
    absent from the result — include any original column (the key
    column) in ``columns`` to materialize them.
    """
    if manifest is not None:
        items = [
            (c, m) for c, m in manifest.items() if not c.startswith("_")
        ]  # skip metadata sections (_dropped) kept by schema evolution
        types = {c: str_to_type(m["dtype"]) for c, m in items}
        logicals = {c: m.get("logical") for c, m in items}
    else:
        metas = _column_metas(enc_df)
        types = {c: _meta_storage_type(m) for c, m in metas.items()}
        logicals = {c: m.get("logical") for c, m in metas.items()}
    cols = columns or sorted(types)
    missing = [c for c in cols if c not in types]
    if missing:
        raise KeyError(f"columns not in encoded table: {missing}")
    out_schema = pa.schema(
        [
            (c, logical_arrow_type(logicals[c]) if logicals[c] else types[c])
            for c in cols
        ]
    )
    ddl = ", ".join(
        f"`{c}` {logicals[c] or _spark_type_ddl(types[c])}" for c in cols
    )
    pruned = enc_df.filter(F.col("column").isin(cols)).select(
        "part_id", "column", "payload", "meta", "row_start", "n_rows"
    )
    if len(cols) > 1:
        p = enc_df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        pruned = pruned.repartition(int(p), "part_id")
    return pruned.sortWithinPartitions(
        "part_id", "column", "row_start"
    ).mapInArrow(_make_decode_kernel(cols, out_schema, 8192), ddl)


def _spark_type_ddl(t: pa.DataType) -> str:
    mapping = {
        "int8": "tinyint",
        "int16": "smallint",
        "int32": "int",
        "int64": "bigint",
        "float32": "float",
        "float64": "double",
        "bool": "boolean",
        "string": "string",
        "large_string": "string",
        "binary": "binary",
        "large_binary": "binary",
        "date32": "date",
    }
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_spark_type_ddl(t.value_type)}>"
    s = type_to_str(t)
    if s.startswith("timestamp"):
        return "timestamp"
    return mapping[s]


def prune_partitions_by_stats(
    enc_df: DataFrame, column: str, lo, hi, dtype: str | None = None
) -> DataFrame:
    """Drop whole partitions whose ``column`` chunks all fall outside
    [lo, hi] — the encoded-table analog of Parquet row-group stat skipping
    (the reference relies on Parquet.Net for this; our chunk stats carry
    min/max explicitly). Row alignment is preserved because pruning is at
    partition granularity.

    Int-like columns prune on ``min_val``/``max_val``; string columns
    (str ``lo``/``hi``) on the 64-char ``min_str``/``max_str`` zone map
    — byte-wise UTF-8 order on both sides, matching Spark/Arrow string
    comparison, with a truncated max treated as unbounded above (its
    prefix under-estimates the true bound).

    ``dtype`` is the column's STORAGE type ("timestamp" / "date" / ...,
    from the manifest — ``delete_where`` passes it automatically). It
    disambiguates ``datetime.date`` bounds: timestamp zone maps hold
    MICROS since epoch, date zone maps hold DAYS, and converting a date
    bound to days against a micros map would prune every partition
    (min_val <= hi is false for all chunks — a silent empty result the
    residual filter can't repair). Without the hint, date bounds raise
    rather than guess.
    """
    import datetime as _dt

    def _to_i64(v):
        # zone maps are the chunk cast to int64: MICROS since epoch for
        # timestamp columns, DAYS for date32 columns. Naive datetimes
        # are first normalized to the instant Spark's own literal
        # conversion would produce (driver-OS mktime), so pruning
        # agrees with the caller's residual filter on any driver tz.
        if isinstance(v, _dt.datetime):
            if dtype in ("date", "date32"):
                return (v.date() - _dt.date(1970, 1, 1)).days
            v = normalize_predicate_value(v)
            return int(v.timestamp() * 1_000_000)
        if isinstance(v, _dt.date):
            if dtype in ("date", "date32"):
                return (v - _dt.date(1970, 1, 1)).days
            if dtype is not None and dtype.startswith("timestamp"):
                return int(
                    _dt.datetime(
                        v.year, v.month, v.day, tzinfo=_dt.timezone.utc
                    ).timestamp()
                    * 1_000_000
                )
            raise TypeError(
                f"date bound on column {column!r}: pass dtype='date32' or "
                "dtype='timestamp' (or use scan_encoded, which reads it "
                "from the manifest) — the zone-map unit differs and a "
                "wrong guess over-prunes"
            )
        return v

    lo, hi = _to_i64(lo), _to_i64(hi)
    if isinstance(lo, str) or isinstance(hi, str):
        target = enc_df.filter(F.col("column") == column).withColumn(
            "_s",
            F.from_json(
                "stats",
                "min_str string, max_str string, max_str_trunc boolean",
            ),
        )
        pred = (
            (F.col("_s.max_str") >= F.lit(lo))
            | F.coalesce(F.col("_s.max_str_trunc"), F.lit(False))
        ) & (F.col("_s.min_str") <= F.lit(hi))
        # chunks without a string zone map (stores encoded before the
        # zone map existed, or all-null chunks) must be KEPT: pruning is
        # an optimization and a null predicate would silently drop them
        pred = pred | (
            F.col("_s.min_str").isNull() & F.col("_s.max_str").isNull()
        )
    else:
        target = enc_df.filter(F.col("column") == column).withColumn(
            "_s", F.from_json("stats", "min_val long, max_val long")
        )
        pred = (F.col("_s.max_val") >= F.lit(lo)) & (
            F.col("_s.min_val") <= F.lit(hi)
        )
    keep = target.filter(pred).select("part_id").distinct()
    return enc_df.join(F.broadcast(keep), "part_id", "semi")


def prune_partitions_by_bloom(
    enc_df: DataFrame, column: str, value, probe_cap: int = 32
) -> DataFrame:
    """Point-lookup pruning: drop partitions where EVERY chunk's Bloom
    filter rules ``value`` out (encode with
    ``EncodeConfig(bloom_columns=(column,))`` to build them). Chunks
    without a bloom (legacy stores, all-null chunks, bloom not enabled)
    are kept — like the zone-map pruner, this can only over-keep.

    The membership test runs over the chunk-METADATA rows (one stats
    string per chunk), never the payload, and is fully JVM-side: the
    probe value's two hashes are driver literals, and each double-hash
    bit test is from_json + unbase64 + substring/hex/conv/shiftright —
    whole-stage codegen, no Python worker in the pruning pass. Only the
    first min(k, 8) probes are tested; a subset of an all-set probe set
    is still all-set, so this can only over-keep, never over-skip. (At
    10^12 docs the chunk table is ~10^7 metadata rows — noise next to
    the payload scan this avoids.)

    Batch semantics: an EMPTY value list matches nothing (``col IN ()``)
    and returns zero chunk rows; a list longer than ``probe_cap`` skips
    Bloom pruning entirely and returns ``enc_df`` unchanged — each
    probed value adds k nested bit-test expressions, so an unbounded
    IN-list would blow up the Catalyst expression tree / codegen method
    size; the caller's residual filter keeps semantics exact either
    way.
    """
    vals = (
        list(value) if isinstance(value, (list, tuple, set)) else [value]
    )
    if not vals:
        return enc_df.filter(F.lit(False))
    if len(vals) > probe_cap or not bloom_probeable(vals):
        # blooms exist only for string/binary columns (hashed over the
        # utf-8/binary bytes), so a non-str/bytes probe can never hit
        # one — skip the pruning (equals on an int/timestamp column
        # stays a kernel-pushdown + residual-filter predicate) instead
        # of crashing in the probe-hash
        return enc_df
    keep = (
        bloom_probe_frame(enc_df, column, value)
        .filter("_bloom_hit")
        .select("part_id")
        .distinct()
    )
    return enc_df.join(F.broadcast(keep), "part_id", "semi")


def bloom_probeable(vals: list) -> bool:
    """True when every probe value can hash against a stored Bloom
    filter: blooms are built over string/binary columns only
    (``_hash_value`` hashes utf-8/binary bytes), so any other value
    type means "no bloom can answer this" and callers should skip the
    probe rather than crash."""
    return all(isinstance(v, (str, bytes, bytearray)) for v in vals)


def bloom_probe_frame(enc_df: DataFrame, column: str, value) -> DataFrame:
    """``column``'s chunk-metadata rows with a boolean ``_bloom_hit``:
    False ONLY when the chunk's Bloom filter definitely excludes
    ``value`` (missing/legacy blooms answer True — over-keep, never
    over-skip). Chunk-granular, fully JVM-side — the probe behind
    partition pruning (:func:`prune_partitions_by_bloom`), which
    ``delete_where`` and equality-delete resolution use. (Reads through
    ``format("choetl")`` probe the same Blooms in their driver-side
    planner with :func:`choetl_spark.bloom.bloom_maybe_contains`.)

    ``value`` may be a list/tuple/set (batch lookup): ``_bloom_hit``
    then means "may contain ANY of the values" — each value adds
    ``min(k, 8)`` bit-test expressions, so callers cap the batch size
    (:func:`prune_partitions_by_bloom` skips the probe past
    ``probe_cap`` values)."""
    from choetl_spark.bloom import _hash_value

    values = (
        list(value) if isinstance(value, (list, tuple, set)) else [value]
    )
    if not values:
        raise ValueError("bloom probe needs at least one value")
    target = enc_df.filter(F.col("column") == column).withColumns(
        {
            "_b": F.from_json(
                "stats", "bloom struct<m:bigint,k:int,bits:string>"
            )["bloom"],
        }
    ).withColumn("_bin", F.unbase64(F.col("_b.bits")))
    or_clauses = []
    for v in values:
        h1, h2 = _hash_value(v)
        and_clauses = []
        for i in range(8):
            # probe hash precomputed DRIVER-side (it's a pure function
            # of the literal value — and bigint `+`/`*` would overflow
            # under ANSI mode, whereas uint64 wrap is the intended
            # semantics), reinterpreted as a SIGNED int64 literal:
            # `& (m-1)` on a power-of-two m extracts the same low bits
            # either way
            hi = (h1 + i * h2) % (1 << 64)
            hi = hi - (1 << 64) if hi >= (1 << 63) else hi
            # bit position g = hi & (m-1); bits are base64 of little-
            # endian uint64 words, so buffer byte g>>3 holds bit g&7.
            # SQL form — the SQL functions accept expression arguments
            # the Python wrappers don't (substring pos, shift n). Only
            # the first min(k, 8) probes run; a subset of an all-set
            # probe set is still all-set, so this can only over-keep,
            # never over-skip.
            and_clauses.append(
                f"({i} >= _b.k OR ("
                f"  shiftright(cast(conv(hex(substring(_bin,"
                f"    cast(shiftright({hi} & (_b.m - 1), 3) as int) + 1,"
                f"    1)), 16, 10) as int),"
                f"    cast(({hi} & (_b.m - 1)) & 7 as int)"
                f"  ) & 1 = 1"
                f"))"
            )
        or_clauses.append("(" + " AND ".join(and_clauses) + ")")
    # ONE parse round trip for the whole probe set — per-clause F.expr
    # calls dominate interactive plan-build latency (a JVM parse each)
    any_hit = F.expr(" OR ".join(or_clauses))
    pred = F.col("_b").isNull() | F.col("_b.bits").isNull() | any_hit
    return target.withColumn("_bloom_hit", pred).drop("_b", "_bin")


# ---------------------------------------------------------------------------
# metrics / verification helpers
# ---------------------------------------------------------------------------


def compression_report(enc_df: DataFrame) -> DataFrame:
    """Per-column codec mix + footprint vs raw (one small aggregate)."""
    return (
        enc_df.groupBy("column", "codec")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("pre_zstd_bytes").alias("pre_zstd_bytes"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
        )
        .withColumn(
            "ratio",
            F.round(F.col("encoded_bytes") / F.col("raw_bytes"), 4),
        )
        .orderBy("column", "codec")
    )


def verify_roundtrip(source: DataFrame, decoded: DataFrame, key: str = "url") -> int:
    """Number of rows that fail bit-identical round-trip (0 == pass)."""
    a = source.select(*sorted(source.columns))
    b = decoded.select(*sorted(source.columns))
    return a.exceptAll(b).count() + b.exceptAll(a).count()
