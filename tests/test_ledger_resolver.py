"""One commit resolver: every visibility decision comes from
``ledger.ledger_state`` (pyarrow, on the driver).

- The metadata tables and vacuum answer without Spark jobs, and building
  the chunk frame costs only the chunk table's schema merge.
- A store written before ``run_seq`` and ``attempt_id`` existed (ledger
  rows and chunk rows without them) still reads whole: a null attempt id
  matches any commit, and a null ``run_seq`` is epoch 1.
- The WAP audit read of a store whose first run crashed before its
  ledger append is empty, in the store's row schema.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest

from choetl_spark.engine import EncodeConfig, decode_dataframe
from choetl_spark.ledger import (
    _chunks_dir,
    _ledger_dir,
    encode_with_resume,
    read_encoded,
    scan_encoded,
    snapshots,
    store_partitions,
    vacuum,
)
from choetl_spark.refs import read_staged
from choetl_spark.synth import webpages

N_ROWS, N_PARTS = 1200, 6


@pytest.fixture(scope="module")
def pages(spark):
    df = webpages(spark, N_ROWS, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


def _ingest(spark, pages, out, **kw):
    cfg = EncodeConfig(num_partitions=N_PARTS, chunk_rows=256, chunk_bytes=1 << 20)
    r = encode_with_resume(spark, pages, out, cfg, run_id="r1", **kw)
    assert r["partitions_encoded_this_run"] == N_PARTS
    return out


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``."""
    sc = spark.sparkContext
    group = f"resolver-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        res = fn()
    finally:
        sc.setJobGroup(None, None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_metadata_reads_run_no_spark_jobs(spark, pages, tmp_path):
    out = _ingest(spark, pages, str(tmp_path / "store"))
    enc, n = _jobs(spark, lambda: read_encoded(spark, out))
    assert n <= 1  # the chunk table's schema merge
    snaps, n = _jobs(spark, lambda: snapshots(spark, out).collect())
    assert n == 0
    assert [(s["run_seq"], s["operation"], s["n_rows"]) for s in snaps] == [
        (1, "append", N_ROWS)
    ]
    parts, n = _jobs(spark, lambda: store_partitions(spark, out).collect())
    assert n == 0
    assert len(parts) == N_PARTS
    assert sum(p["live_rows"] for p in parts) == N_ROWS
    res, n = _jobs(spark, lambda: vacuum(spark, out))
    assert n == 0
    assert res["files_removed"] == 0
    assert decode_dataframe(enc).count() == N_ROWS


def _drop_columns(d: str, drop: tuple[str, ...]) -> None:
    """Rewrite every parquet file in ``d`` without the ``drop`` columns
    (and without writer metadata that would still name them)."""
    for path in glob.glob(os.path.join(d, "*.parquet")):
        t = pq.read_table(path)
        t = t.drop_columns([c for c in drop if c in t.column_names])
        pq.write_table(t.replace_schema_metadata(None), path)


def test_legacy_store_without_run_seq_or_attempt_id(spark, pages, tmp_path):
    out = _ingest(spark, pages, str(tmp_path / "legacy"))
    _drop_columns(_ledger_dir(out), ("run_seq", "attempt_id"))
    _drop_columns(_chunks_dir(out), ("attempt_id",))
    assert "attempt_id" not in pq.read_schema(
        glob.glob(os.path.join(_chunks_dir(out), "*.parquet"))[0]
    ).names

    enc = read_encoded(spark, out)
    url = enc.filter("column = 'url'").agg({"n_rows": "sum"}).collect()[0][0]
    assert url == N_ROWS
    assert decode_dataframe(enc).count() == N_ROWS
    assert scan_encoded(spark, out, ["url"]).count() == N_ROWS

    snaps = snapshots(spark, out).collect()
    assert [
        (s["run_seq"], s["run_id"], s["operation"], s["n_partitions"],
         s["n_rows"])
        for s in snaps
    ] == [(1, "r1", "append", N_PARTS, N_ROWS)]

    parts = store_partitions(spark, out).collect()
    assert len(parts) == N_PARTS
    assert {p["run_seq"] for p in parts} == {1}
    assert {p["n_columns"] for p in parts} == {len(pages.columns)}
    assert sum(p["live_rows"] for p in parts) == N_ROWS

    n_files = len(glob.glob(os.path.join(_chunks_dir(out), "*.parquet")))
    assert vacuum(spark, out)["files_removed"] == 0
    assert len(glob.glob(os.path.join(_chunks_dir(out), "*.parquet"))) == n_files


def test_read_staged_without_ledger_is_empty_in_row_schema(
    spark, pages, tmp_path
):
    out = _ingest(spark, pages, str(tmp_path / "wap"), staged=True)
    staged = read_staged(spark, out, "r1")
    assert staged.count() == N_ROWS
    # a first staged run that crashed before its ledger append: chunk
    # files and the manifest are on disk, no ledger file is
    shutil.rmtree(_ledger_dir(out))
    crashed = read_staged(spark, out, "r1")
    assert [(f.name, f.dataType) for f in crashed.schema] == [
        (f.name, f.dataType) for f in staged.schema
    ]
    assert crashed.count() == 0
