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


def test_direct_ingest_runs_two_spark_jobs(spark, pages_parquet, tmp_path):
    """A scan-direct ingest into a fresh store is the source's schema
    inference plus the write: the commit's tiling gate and the resume
    check run on the driver, and the source schema is read once."""
    import uuid

    sc = spark.sparkContext
    group = f"direct-ingest-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        r = encode_direct_with_resume(
            spark, pages_parquet, str(tmp_path / "store"),
            EncodeConfig(chunk_rows=512, chunk_bytes=2 << 20),
            target_split_bytes=4 << 20,
        )
    finally:
        sc.setJobGroup(None, None)
    assert r["partitions_encoded_this_run"] > 1
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


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
    every column, written as one chunk file per split; the bare
    writer's summary rows (one per split) count every input row."""
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
    assert len(glob.glob(os.path.join(out, "chunks", "*.parquet"))) == len(
        splits
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
