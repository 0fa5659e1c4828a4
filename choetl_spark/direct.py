"""Scan-direct encode: parquet row-group splits read natively in Python.

The standard encode path (:func:`choetl_spark.engine.encode_dataframe`)
scans the input with Spark's JVM parquet reader and streams every byte
over the JVM->Python Arrow boundary into the codec kernel. That transfer
is pure overhead when the input already lives in parquet: a measured
no-op ``mapInArrow`` pass over the same bytes costs ~4 s/GB at 2 pinned
cores — more than half of the 0.5x-of-JVM-writer throughput budget (see
BENCH/BASELINE.md's ceiling argument).

This module removes the boundary entirely, the way a native Spark data
source would: the DRIVER plans row-group splits from the parquet footers
(pure metadata, zero Spark jobs, the same planning Spark's own
FileSourceScanExec does), ships the split list in the kernel's closure
over a ``spark.range`` of split indices packed into tasks by Spark's
``maxSplitBytes`` rule, and each Python task opens its splits one after
another with ``pyarrow.parquet`` and feeds Arrow batches straight into
the shared codec kernel (:func:`choetl_spark.engine._encode_block`). Data
bytes cross no JVM/Python boundary on the way IN. On the way out, the
store writes (:func:`write_parquet_direct`,
:func:`encode_direct_with_resume`) run that kernel inside the store's
one task-side chunk writer
(:func:`choetl_spark.engine._make_writing_wrapper`): each task writes
one chunk file for its splits with pyarrow, only summary rows reach
Spark, and the driver moves the successful tasks' files into place.
:func:`encode_parquet_direct` instead returns the encoded chunk rows
as a DataFrame, for callers that want them in Spark.

The reference's analog is ChoETL's pull-based reader feeding its writer
directly (reference src/ChoETL.Parquet/ChoParquetRecordReader.cs:53-137
-> ChoParquetRecordWriter.cs:141-155) — one process, no serialization
between read and encode. At 100 TB this is also the architecture you
want: encode is embarrassingly parallel over input splits, each task
does storage -> Arrow -> codec with no shuffle and no cross-language
copy of the payload.

Split part_ids are the index in the deterministically-ordered
(sorted file path, first row group) split list — stable across runs of
the same input files, so the ledger's resume anti-join works unchanged
(:func:`encode_direct_with_resume`).

Scope: simple + ``array<numeric>`` columns (everything the codec layer
stores natively). Nested struct/map columns ride as JSON strings in the
standard path via Spark's ``to_json``; replicating that serialization
bit-exactly in Python is not worth the risk, so this path raises and
points at :func:`encode_dataframe` instead.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from choetl_spark.codecs.base import str_to_type
from choetl_spark.engine import (
    ENCODED_SCHEMA_DDL,
    WRITE_SUMMARY_SCHEMA,
    EncodeConfig,
    _encode_block,
    _make_writing_wrapper,
    column_manifest,
    publish_chunk_files,
)

@dataclass(frozen=True)
class ParquetSplit:
    """One encode task's slice of the input: consecutive row groups of
    one parquet file. ``part_id`` is the split's index in the sorted
    plan — the stable resume key."""

    part_id: int
    path: str
    row_groups: tuple[int, ...]
    n_rows: int
    split_bytes: int  # total_byte_size (uncompressed) of the row groups


def plan_parquet_splits(
    src: str, target_split_bytes: int = 128 << 20
) -> list[ParquetSplit]:
    """Driver-side split plan from parquet footers (zero Spark jobs).

    Row groups of each file are greedily packed into splits of up to
    ``target_split_bytes`` UNCOMPRESSED bytes (``total_byte_size`` from
    the footer) — the task-memory-bounding unit, matching how
    ``spark.sql.files.maxPartitionBytes`` sizes JVM scan tasks. A split
    never spans files; a single row group larger than the target gets a
    split of its own (row groups are the atomic read unit).

    Deterministic: files sorted by path, row groups in order, part_id =
    running index — identical plan for identical input files, which is
    what makes the ledger resume join sound.
    """
    import pyarrow.parquet as pq

    files: list[str] = []
    if os.path.isdir(src):
        for root, _, names in os.walk(src):
            for n in names:
                if n.endswith(".parquet") and not n.startswith(("_", ".")):
                    files.append(os.path.join(root, n))
    else:
        files.append(src)
    files.sort()
    if not files:
        raise FileNotFoundError(f"no parquet files under {src!r}")
    splits: list[ParquetSplit] = []
    for path in files:
        md = pq.ParquetFile(path).metadata
        cur: list[int] = []
        cur_rows = 0
        cur_bytes = 0
        for rg in range(md.num_row_groups):
            info = md.row_group(rg)
            if cur and cur_bytes + info.total_byte_size > target_split_bytes:
                splits.append(
                    ParquetSplit(
                        len(splits), path, tuple(cur), cur_rows, cur_bytes
                    )
                )
                cur, cur_rows, cur_bytes = [], 0, 0
            cur.append(rg)
            cur_rows += info.num_rows
            cur_bytes += info.total_byte_size
        if cur:
            splits.append(
                ParquetSplit(
                    len(splits), path, tuple(cur), cur_rows, cur_bytes
                )
            )
    return splits


def _packed_range(spark: SparkSession, sizes: list[int]) -> DataFrame:
    """Item positions as an ``id`` column, one partition per bin of
    Spark's own file packing of items of ``sizes`` bytes: the session's
    ``FilePartition.maxSplitBytes`` cap (``min(maxPartitionBytes,
    max(openCost, Σ(size + openCost) /
    minPartitionNum-or-defaultParallelism))``), then next-fit bins in
    plan order, so an item at or over the cap is a bin of its own. Every
    Python task pays a fixed start-up cost (PySpark's
    ``setup_spark_files`` re-reads each zipimporter's directory, ~0.24
    s CPU), so a task runs its bin one item after another; it streams
    them, so the cap sets balance, not task memory. The frame is a
    ``spark.range`` of bin ids exploded into each bin's positions (a
    JVM Generate): no Exchange for AQE to coalesce and, unlike a Python
    RDD, no Python worker of its own."""
    js = spark._jsparkSession
    conf = js.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    cores = (
        min_parts.get() if min_parts.isDefined()
        else js.leafNodeDefaultParallelism()
    )
    cap = min(
        conf.filesMaxPartitionBytes(),
        max(open_cost, sum(b + open_cost for b in sizes) // cores),
    )
    starts, filled = [], None
    for i, b in enumerate(sizes):
        if filled is None or filled + b > cap:
            starts.append(i)
            filled = 0
        filled += b + open_cost
    bounds = F.array(*map(F.lit, starts + [len(sizes)])).cast("array<bigint>")
    lo, hi = F.get(bounds, F.col("id")), F.get(bounds, F.col("id") + 1)
    return spark.range(0, len(starts), 1, max(len(starts), 1)).select(
        F.explode(F.sequence(lo, hi - 1)).alias("id")
    )


def _splits_dataframe(
    spark: SparkSession, splits: list[ParquetSplit]
) -> DataFrame:
    """The split descriptor frame: :func:`_packed_range` of the splits'
    ``split_bytes``, positions renamed ``part_id``; the splits
    themselves ride in :func:`_make_direct_kernel`'s closure, so a
    split's position must be its ``part_id`` (true of any prefix of a
    :func:`plan_parquet_splits` plan)."""
    if any(s.part_id != i for i, s in enumerate(splits)):
        raise ValueError("split part_ids must be their plan positions")
    return _packed_range(
        spark, [s.split_bytes for s in splits]
    ).withColumnRenamed("id", "part_id")


def direct_manifest(
    spark: SparkSession, src: str, cfg: EncodeConfig | None = None
) -> dict:
    """Column manifest for a parquet source, via the same rules as the
    standard path (:func:`choetl_spark.engine.column_manifest`) so
    decode/ledger interop is byte-compatible. Driver-side footer/schema
    read only. Raises on nested struct/map/decimal columns — those need
    the standard path's Spark-side JSON fallback."""
    manifest = column_manifest(spark.read.parquet(src), cfg or EncodeConfig())
    logical = [c for c, m in manifest.items() if m.get("logical")]
    if logical:
        raise TypeError(
            f"scan-direct encode supports simple and array<numeric> "
            f"columns only; {logical} need the JSON-string fallback — "
            "use choetl_spark.engine.encode_dataframe for this input"
        )
    return manifest


def _make_direct_kernel(
    cfg: EncodeConfig, manifest: dict, splits: list[ParquetSplit]
):
    """Kernel over the descriptor frame's ``part_id`` rows, a task's
    bin of split ids (:func:`_packed_range`): for each id
    in turn, look the split up in ``splits`` (PySpark broadcasts a
    pickled command over 1 MB, so a large plan ships once per
    executor), read it with pyarrow, cast to the manifest storage types
    (what the standard path's Spark Arrow conversion would have
    produced — timestamps to the session-tz annotation, etc.), and run
    the shared encode kernel with one trial/pin cache per split."""
    columns = list(manifest)
    target = pa.schema(
        [(c, str_to_type(m["dtype"])) for c, m in manifest.items()]
    )
    batch_rows = max(cfg.chunk_rows, 8192)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for batch in batches:
            for part_id in batch.column(0).to_pylist():
                # SPLIT-lifetime trial/pin cache: a split's codecs, and
                # so its bytes, must not depend on which splits share
                # its task (cluster parallelism, pending set on resume)
                trial_caches: dict[str, dict] = {}
                split = splits[part_id]
                pf = pq.ParquetFile(split.path)
                row_base = {c: 0 for c in columns}
                seq_base = {c: 0 for c in columns}
                buf: list[pa.RecordBatch] = []
                buf_bytes = 0

                def flush():
                    nonlocal buf, buf_bytes
                    if not buf:
                        return
                    table = (
                        pa.Table.from_batches(buf)
                        .select(columns)
                        .cast(target)
                    )
                    buf, buf_bytes = [], 0
                    yield _encode_block(
                        part_id, table, row_base, seq_base, cfg,
                        None, trial_caches,
                    )

                for rb in pf.iter_batches(
                    batch_size=batch_rows,
                    row_groups=list(split.row_groups),
                    columns=columns,
                ):
                    buf.append(rb)
                    buf_bytes += rb.nbytes
                    if buf_bytes >= cfg.flush_bytes:
                        yield from flush()
                yield from flush()

    return kernel


def encode_parquet_direct(
    spark: SparkSession,
    src: str,
    cfg: EncodeConfig | None = None,
    splits: list[ParquetSplit] | None = None,
    target_split_bytes: int = 128 << 20,
) -> DataFrame:
    """Encode a parquet source into the encoded-chunk DataFrame with
    data bytes never crossing the JVM->Python boundary (lazy plan).

    Same output contract as :func:`choetl_spark.engine.encode_dataframe`
    with ``shuffle="none"`` — one logical partition per input split,
    chunks tile each partition's rows exactly — so decode, pruning,
    ledger, and every downstream store operation work unchanged.
    """
    cfg = cfg or EncodeConfig()
    if splits is None:
        splits = plan_parquet_splits(src, target_split_bytes)
    return _splits_dataframe(spark, splits).mapInArrow(
        _make_direct_kernel(cfg, direct_manifest(spark, src, cfg), splits),
        ENCODED_SCHEMA_DDL,
    )


def write_parquet_direct(
    spark: SparkSession,
    src: str,
    chunks_dir: str,
    cfg: EncodeConfig | None = None,
    splits: list[ParquetSplit] | None = None,
    attempt_id: str | None = None,
    target_split_bytes: int = 128 << 20,
) -> DataFrame:
    """Storage-to-storage encode: each task reads its splits with
    pyarrow AND writes their encoded chunk file with pyarrow — payload
    bytes never cross the JVM/Python boundary in either direction. Runs
    the write, publishes the tasks' files
    (:func:`choetl_spark.engine.publish_chunk_files`) and returns the
    summary rows as a local frame (``part_id, n_rows, n_chunks,
    raw_bytes, encoded_bytes, codec_map, fingerprint, file`` per
    split). For the ledgered/resumable form use
    :func:`encode_direct_with_resume`, which runs the same writer under
    the commit protocol.

    ``attempt_id`` defaults to a fresh uuid per call (it namespaces the
    chunk file names), so two invocations into the same ``chunks_dir``
    can never silently overwrite each other's files; pass an explicit
    id only when a caller-level retry should reclaim the same names."""
    cfg = cfg or EncodeConfig()
    if attempt_id is None:
        import uuid

        attempt_id = uuid.uuid4().hex
    if splits is None:
        splits = plan_parquet_splits(src, target_split_bytes)
    kernel = _make_direct_kernel(cfg, direct_manifest(spark, src, cfg), splits)
    summary = _splits_dataframe(spark, splits).mapInArrow(
        _make_writing_wrapper(kernel, chunks_dir, attempt_id),
        WRITE_SUMMARY_SCHEMA,
    ).collect()
    publish_chunk_files(chunks_dir, [r.asDict() for r in summary])
    return spark.createDataFrame(summary, WRITE_SUMMARY_SCHEMA)


def encode_direct_with_resume(
    spark: SparkSession,
    src: str,
    out_dir: str,
    cfg: EncodeConfig | None = None,
    run_id: str | None = None,
    target_split_bytes: int = 128 << 20,
) -> dict:
    """Scan-direct encode into a ledgered store, resuming past splits.

    Delegates commit mechanics (manifest merge, integrity gate, ledger
    append, crash-orphan invisibility) to
    :func:`choetl_spark.ledger.encode_with_resume` via its ``encoder``
    hook; the split part_ids are deterministic for the same input files
    AND the same ``target_split_bytes``, so a restarted run anti-joins
    the ledger and re-encodes only the splits that never committed.
    (Changing the split target between a crash and its resume re-plans
    the part_ids — resume then re-encodes everything into fresh ids;
    keep the knob stable across retries of one logical run.) Data bytes
    cross the JVM/Python boundary in NEITHER direction: only split
    indices (in) and one summary row per split (out) touch Spark. The
    whole ingest into a fresh store is two Spark jobs: the source's
    schema inference (read once) and the write.
    """
    from choetl_spark.ledger import _chunks_dir, encode_with_resume

    cfg = cfg or EncodeConfig()
    manifest = direct_manifest(spark, src, cfg)
    splits = plan_parquet_splits(src, target_split_bytes)
    chunks_dir = _chunks_dir(out_dir)
    return encode_with_resume(
        spark,
        _splits_dataframe(spark, splits),
        out_dir,
        cfg,
        run_id=run_id,
        encoder=lambda pending, cfg_enc, attempt_id: pending.mapInArrow(
            _make_writing_wrapper(
                _make_direct_kernel(cfg_enc, manifest, splits), chunks_dir,
                attempt_id,
            ),
            WRITE_SUMMARY_SCHEMA,
        ),
        source_manifest=manifest,
    )
