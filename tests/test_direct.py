"""Scan-direct encode path: parquet row-group splits read natively.

The contract under test: encode_parquet_direct produces the SAME
encoded-chunk table shape as encode_dataframe(shuffle="none") — decode,
ledger resume, and store operations work unchanged — while the input
bytes never cross the JVM->Python Arrow boundary (the split descriptors
are the only kernel input). Mirrors the reference's reader->writer
single-process pipeline (ChoParquetRecordReader.cs:53-137 ->
ChoParquetRecordWriter.cs:141-155) at Spark's split granularity.
"""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from choetl_spark.direct import (
    ParquetSplit,
    _splits_dataframe,
    direct_manifest,
    encode_direct_with_resume,
    encode_parquet_direct,
    plan_parquet_splits,
)
from choetl_spark.engine import EncodeConfig, decode_dataframe
from choetl_spark.synth import webpages


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("direct") / "pages.parquet")
    webpages(spark, 3000, partitions=6).write.parquet(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def small_files_parquet(spark, tmp_path_factory):
    """16 files of about 1 MB: the packing rule puts 4 in each task on
    a ``local[4]`` session (each file plus the 4 MB open cost fills a
    quarter of the even share)."""
    path = str(tmp_path_factory.mktemp("direct") / "small.parquet")
    webpages(spark, 1600, partitions=16).write.parquet(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _task_blocks(spark, splits):
    """The split ids each write task runs, from the descriptor frame."""
    rows = _splits_dataframe(spark, splits).select(
        "part_id", F.spark_partition_id().alias("task")
    ).collect()
    blocks: dict[int, list[int]] = {}
    for r in rows:
        blocks.setdefault(r["task"], []).append(r["part_id"])
    return [sorted(b) for _, b in sorted(blocks.items())]


def test_split_plan_deterministic_and_covers_rows(spark, pages_parquet):
    splits = plan_parquet_splits(pages_parquet, target_split_bytes=1 << 20)
    again = plan_parquet_splits(pages_parquet, target_split_bytes=1 << 20)
    assert splits == again  # identical plan for identical files
    assert [s.part_id for s in splits] == list(range(len(splits)))
    assert len(splits) > 1  # 1 MB target over ~30 MB input must split
    assert sum(s.n_rows for s in splits) == 3000
    # a split never spans files
    for s in splits:
        assert s.row_groups == tuple(sorted(s.row_groups))


def test_direct_roundtrip_bit_identical(spark, pages_parquet):
    cfg = EncodeConfig(chunk_rows=512, chunk_bytes=2 << 20)
    enc = encode_parquet_direct(
        spark, pages_parquet, cfg, target_split_bytes=4 << 20
    )
    decoded = decode_dataframe(
        enc,
        columns=["url", "warc_ts", "html", "text", "lang"],
        manifest=direct_manifest(spark, pages_parquet, cfg),
        assume_colocated=True,
    )
    src = spark.read.parquet(pages_parquet)
    a = src.select(*sorted(src.columns))
    b = decoded.select(*sorted(src.columns))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_direct_chunks_tile_partitions(spark, pages_parquet):
    cfg = EncodeConfig(chunk_rows=512, chunk_bytes=2 << 20)
    enc = encode_parquet_direct(
        spark, pages_parquet, cfg, target_split_bytes=4 << 20
    ).cache()
    try:
        bad = (
            enc.groupBy("part_id", "column")
            .agg(
                F.sum("n_rows").alias("rows_sum"),
                F.max(F.col("row_start") + F.col("n_rows")).alias("end_max"),
            )
            .filter(F.col("rows_sum") != F.col("end_max"))
            .count()
        )
        assert bad == 0
        # split part_ids from the driver plan are the chunk part_ids
        planned = {
            s.part_id
            for s in plan_parquet_splits(
                pages_parquet, target_split_bytes=4 << 20
            )
        }
        got = {r["part_id"] for r in enc.select("part_id").distinct().collect()}
        assert got == planned
    finally:
        enc.unpersist()


def test_direct_plan_has_no_exchange(spark, pages_parquet):
    """The encode plan must stay shuffle-free AND single-stage per split:
    a JVM Range of split indices feeds mapInArrow straight, with no
    Python RDD (and so no second Python worker per task) in front."""
    enc = encode_parquet_direct(spark, pages_parquet)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Range" in plan
    assert "ExistingRDD" not in plan


def test_direct_ingest_runs_two_spark_jobs(
    spark, small_files_parquet, tmp_path
):
    """A scan-direct ingest into a fresh store is the source's schema
    inference plus the write: the commit's tiling gate and the resume
    check run on the driver, and the source schema is read once. The
    write packs several splits into each task: every Python task pays a
    fixed start-up cost, so one task per split is a regression."""
    import uuid

    n_splits = len(plan_parquet_splits(small_files_parquet))
    sc = spark.sparkContext
    group = f"direct-ingest-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        r = encode_direct_with_resume(
            spark, small_files_parquet, str(tmp_path / "store"),
            EncodeConfig(chunk_rows=512, chunk_bytes=2 << 20),
        )
    finally:
        sc.setJobGroup(None, None)
    assert r["partitions_encoded_this_run"] == n_splits > 1
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    assert len(jobs) <= 2
    write_tasks = sum(
        tracker.getStageInfo(sid).numTasks
        for sid in tracker.getJobInfo(jobs[-1]).stageIds
    )
    assert 1 < write_tasks < n_splits


def test_splits_pack_by_spark_max_split_bytes(spark):
    """The descriptor frame has the partition count of Spark's
    ``FilePartition`` packing: cap = min(maxPartitionBytes,
    max(openCost, sum(size + openCost) / parallelism)), then next-fit
    bins. Eight equal splits on 4 cores fill a bin with two splits and
    their open costs; a cap below one split gives each its own task."""
    assert spark.sparkContext.defaultParallelism == 4
    splits = [
        ParquetSplit(i, f"s{i}.parquet", (0,), 1000, 10_600_000)
        for i in range(8)
    ]
    assert _splits_dataframe(spark, splits).rdd.getNumPartitions() == 4
    assert _task_blocks(spark, splits) == [[0, 1], [2, 3], [4, 5], [6, 7]]
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 << 20))
    try:
        assert _splits_dataframe(spark, splits).rdd.getNumPartitions() == 8
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert _splits_dataframe(spark, splits[:1]).rdd.getNumPartitions() == 1


def test_splits_pack_into_exact_bins_for_mixed_sizes(spark):
    """Partitions are the next-fit bins themselves, not even blocks of
    ids: eight 128 MB splits next to a hundred 1 MB ones give eight
    single-split tasks and four tasks of small splits, and no task of
    several splits goes over the cap."""
    big, small = 128 << 20, 1 << 20
    sizes = [big] * 8 + [small] * 100
    splits = [
        ParquetSplit(i, f"s{i}.parquet", (0,), 1000, b)
        for i, b in enumerate(sizes)
    ]
    blocks = _task_blocks(spark, splits)
    assert blocks == [[i] for i in range(8)] + [
        list(range(a, min(a + 26, 108))) for a in range(8, 108, 26)
    ]
    open_cost = 4 << 20
    for b in blocks:
        if len(b) > 1:
            assert sum(sizes[i] + open_cost for i in b) - open_cost <= big

def test_packed_split_bytes_do_not_depend_on_packing(
    spark, small_files_parquet, tmp_path
):
    """Each split keeps its own codec trial/pin cache: a split's chunks
    (codec, payload, stats) are the same whether it shares its task
    with other splits or runs alone."""
    import pyarrow.parquet as pq

    from choetl_spark.direct import write_parquet_direct
    from choetl_spark.engine import _ENCODED_PA_SCHEMA

    cfg = EncodeConfig(
        chunk_rows=32, chunk_bytes=2 << 20, optimize_for="balanced"
    )

    def chunks(out):
        write_parquet_direct(spark, small_files_parquet, out, cfg)
        t = pq.read_table(out, columns=_ENCODED_PA_SCHEMA.names)
        return t.sort_by(
            [("part_id", "ascending"), ("column", "ascending"),
             ("chunk_seq", "ascending")]
        )

    packed = chunks(str(tmp_path / "packed"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try:
        alone = chunks(str(tmp_path / "alone"))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert packed.num_rows > 0
    assert packed.equals(alone)

def test_direct_resume_within_a_packed_task(
    spark, small_files_parquet, tmp_path
):
    """A task holding a committed split and a pending one encodes only
    the pending one on resume, and the store equals the source."""
    import glob
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from choetl_spark.ledger import scan_encoded

    out = str(tmp_path / "store")
    cfg = EncodeConfig(chunk_rows=512, chunk_bytes=2 << 20)
    encode_direct_with_resume(spark, small_files_parquet, out, cfg)
    block = next(
        b
        for b in _task_blocks(spark, plan_parquet_splits(small_files_parquet))
        if len(b) > 1
    )
    pending = block[-1]
    # un-commit one split of the block: as if its run never finished it
    (ledger_file,) = glob.glob(os.path.join(out, "_ledger", "*.parquet"))
    t = pq.read_table(ledger_file)
    pq.write_table(t.filter(pc.not_equal(t["part_id"], pending)), ledger_file)
    before = set(glob.glob(os.path.join(out, "chunks", "*.parquet")))

    r = encode_direct_with_resume(spark, small_files_parquet, out, cfg)
    assert r["partitions_encoded_this_run"] == 1
    new = set(glob.glob(os.path.join(out, "chunks", "*.parquet"))) - before
    assert len(new) == 1
    assert set(pq.read_table(new.pop(), columns=["part_id"])[
        "part_id"].to_pylist()) == {pending}
    src = spark.read.parquet(small_files_parquet)
    got = scan_encoded(spark, out, columns=src.columns)
    assert src.exceptAll(got).count() == 0
    assert got.exceptAll(src).count() == 0


@pytest.mark.parametrize("gap_part", [0, 1])
def test_tiling_gate_checks_every_part_of_a_packed_file(tmp_path, gap_part):
    """One chunk file holds every split of its task; a row gap in any
    of its parts still fails the commit's tiling gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from choetl_spark.engine import _ENCODED_PA_SCHEMA
    from choetl_spark.ledger import _tiling_violation

    schema = _ENCODED_PA_SCHEMA.append(pa.field("attempt_id", pa.string()))
    rows = [
        {"part_id": p, "column": c, "chunk_seq": seq,
         "row_start": seq * 64 + (8 if p == gap_part and seq else 0),
         "n_rows": 64, "attempt_id": "a1"}
        for p in (0, 1) for c in ("url", "text") for seq in (0, 1)
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema), tmp_path / "two.parquet"
    )
    bad = _tiling_violation(str(tmp_path), ["two.parquet"], "a1")
    assert bad is not None and bad["part_id"] == gap_part
    assert (bad["n_rows_sum"], bad["end_max"]) == (128, 136)


def test_direct_resume_skips_done_splits(spark, pages_parquet, tmp_path):
    out = str(tmp_path / "store")
    cfg = EncodeConfig(chunk_rows=512, chunk_bytes=2 << 20)
    r1 = encode_direct_with_resume(
        spark, pages_parquet, out, cfg, target_split_bytes=4 << 20
    )
    assert r1["partitions_already_done"] == 0
    assert r1["partitions_encoded_this_run"] > 0
    r2 = encode_direct_with_resume(
        spark, pages_parquet, out, cfg, target_split_bytes=4 << 20
    )
    assert r2["partitions_already_done"] == r1["partitions_encoded_this_run"]
    assert r2["partitions_encoded_this_run"] == 0
    # the committed store scans back to the exact source rows
    from choetl_spark.ledger import scan_encoded

    src = spark.read.parquet(pages_parquet)
    decoded = scan_encoded(spark, out, columns=["url", "text"])
    a = src.select("url", "text")
    assert a.exceptAll(decoded).count() == 0
    assert decoded.exceptAll(a).count() == 0


def test_encode_job_direct_mode(spark, pages_parquet, tmp_path, capsys):
    """The spark-submit CLI's --direct flag drives the scan-direct path
    end-to-end (in-process main(); the packaged-zip subprocess contract
    is covered by test_submit_job.py)."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "encode_job",
        os.path.join(os.path.dirname(__file__), "..", "jobs", "encode_job.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    out = str(tmp_path / "store")
    rc = job.main(
        [
            "--input", pages_parquet, "--output", out, "--direct",
            "--split-bytes", str(4 << 20), "--chunk-rows", "512",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["partitions_encoded_this_run"] > 0
    assert summary["columns"]  # compression report present


def test_direct_rejects_nested_columns(spark, tmp_path):
    path = str(tmp_path / "nested.parquet")
    spark.range(10).select(
        F.col("id"), F.struct(F.col("id").alias("a")).alias("s")
    ).write.parquet(path)
    with pytest.raises(TypeError, match="scan-direct"):
        direct_manifest(spark, path)


def test_direct_vector_columns_native(spark, tmp_path):
    """array<float> rides the veclist codec natively in direct mode."""
    path = str(tmp_path / "vec.parquet")
    spark.range(200).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: (F.col("id") + i).cast("float"),
        ).alias("emb"),
    ).write.parquet(path)
    cfg = EncodeConfig(chunk_rows=64, key_col="id")
    enc = encode_parquet_direct(spark, path, cfg)
    decoded = decode_dataframe(
        enc,
        columns=["id", "emb"],
        manifest=direct_manifest(spark, path, cfg),
        assume_colocated=True,
    )
    src = spark.read.parquet(path)
    assert decoded.exceptAll(src).count() == 0
    assert src.exceptAll(decoded).count() == 0


def test_direct_store_content_equals_source(spark, pages_parquet, tmp_path):
    """A scan-direct store holds exactly the source parquet's rows in
    every column, written as one chunk file per write task (the
    descriptor frame's packed partitions); the bare writer's summary
    rows (one per split) count every input row."""
    import glob
    import os

    from choetl_spark.direct import write_parquet_direct
    from choetl_spark.ledger import scan_encoded

    cfg = EncodeConfig(chunk_rows=512, chunk_bytes=2 << 20)
    splits = plan_parquet_splits(pages_parquet, target_split_bytes=4 << 20)
    out = str(tmp_path / "store")
    encode_direct_with_resume(
        spark, pages_parquet, out, cfg, target_split_bytes=4 << 20
    )
    src = spark.read.parquet(pages_parquet)
    got = scan_encoded(spark, out, columns=src.columns)
    assert src.exceptAll(got).count() == 0
    assert got.exceptAll(src).count() == 0
    assert len(glob.glob(os.path.join(out, "chunks", "*.parquet"))) == (
        _splits_dataframe(spark, splits).rdd.getNumPartitions()
    )

    summary = write_parquet_direct(
        spark, pages_parquet, str(tmp_path / "bare"), cfg, splits=splits
    ).collect()
    assert sorted(r["part_id"] for r in summary) == [s.part_id for s in splits]
    assert sum(r["n_rows"] for r in summary) == src.count()
    assert all(r["n_chunks"] > 0 and r["codec_map"] for r in summary)


def test_direct_native_write_tmp_files_invisible_and_vacuumed(
    spark, pages_parquet, tmp_path
):
    """A crashed native-write task's dot-prefixed staging file is (a)
    invisible to readers and (b) reclaimed by vacuum's driver-side
    sweep."""
    import os

    from choetl_spark.ledger import scan_encoded, vacuum

    out = str(tmp_path / "store")
    cfg = EncodeConfig(chunk_rows=512, chunk_bytes=2 << 20)
    encode_direct_with_resume(
        spark, pages_parquet, out, cfg, target_split_bytes=4 << 20
    )
    n = scan_encoded(spark, out, columns=["url"]).count()
    # plant a torn staging file (crash mid-write)
    stray = os.path.join(out, "chunks", ".tmp-direct-deadbeef-00000042.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"PAR1 torn bytes, not a valid footer")
    assert scan_encoded(spark, out, columns=["url"]).count() == n
    rep = vacuum(spark, out, grace_sec=0.0)
    assert not os.path.exists(stray)
    assert rep["files_removed"] >= 1
