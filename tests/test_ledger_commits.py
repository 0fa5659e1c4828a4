"""Ledger commits and commit-state reads.

- Every ledger commit (delete, upsert, WAP publish/abort, rollback,
  rewrite) is one ``ledger.append_ledger_rows`` file: a
  ``<32 hex>.parquet`` written with pyarrow on the driver, never a
  Spark write's ``part-*`` / ``_SUCCESS`` / ``.crc`` files.
- Metadata-only calls answer from ``ledger.ledger_state`` and run no
  Spark job.
- A corrupt ledger file raises everywhere; it never reads as "no
  ledger" (which would hide every committed partition and re-encode
  them on the next resume).
"""

from __future__ import annotations

import glob
import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from choetl_spark.deletes import (
    delete_where,
    rewrite_partitions,
    rollback_to,
    upsert,
)
from choetl_spark.engine import EncodeConfig
from choetl_spark.eqdeletes import delete_by_key, upsert_by_key
from choetl_spark.iceberg_export import export_properties
from choetl_spark.ledger import (
    encode_with_resume,
    ledger_state,
    read_encoded,
    read_manifest,
    scan_encoded,
)
from choetl_spark.refs import abort_staged, create_tag, publish_staged
from choetl_spark.schema_evolution import rename_column
from choetl_spark.synth import webpages

CFG = EncodeConfig(num_partitions=3, chunk_rows=128, bloom_columns=("url",))
_APPEND_NAME = re.compile(r"^[0-9a-f]{32}\.parquet$")


def _ingest(spark, out, pages, run_id, id_base, staged=False):
    planned = pages.withColumn(
        "part_id", (F.xxhash64("url") % 3 + 3) % 3 + id_base
    )
    return encode_with_resume(
        spark, planned, out, CFG, run_id=run_id, staged=staged
    )


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran)."""
    sc = spark.sparkContext
    group = f"ledger-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        res = fn()
    finally:
        sc.setJobGroup(None, None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def _ledger_names(out):
    return sorted(os.listdir(os.path.join(out, "_ledger")))


@pytest.fixture()
def batches(spark):
    a = webpages(spark, 300, partitions=2).cache()
    b = (
        webpages(spark, 120, partitions=2)
        .withColumn("url", F.concat(F.lit("https://b.example/"), F.col("url")))
        .cache()
    )
    return a, b


def test_every_ledger_commit_is_one_append_file(spark, tmp_path, batches):
    out = str(tmp_path / "store")
    a, b = batches
    _ingest(spark, out, a, "i1", 0)
    urls = sorted(r["url"] for r in a.select("url").collect())

    def check(step):
        bad = [n for n in _ledger_names(out) if not _APPEND_NAME.match(n)]
        assert bad == [], (step, bad)

    assert delete_where(spark, out, equals={"url": urls[0]})["run_seq"]
    check("delete_where")
    assert delete_by_key(spark, out, "url", [urls[1]])["run_seq"]
    check("delete_by_key")
    upd = a.filter(F.col("url").isin(urls[2:4])).withColumn(
        "text", F.lit("v2")
    )
    assert upsert(spark, out, upd, "url", CFG)["rows_deleted"] == 2
    check("upsert")
    upd2 = a.filter(F.col("url").isin(urls[4:6])).withColumn(
        "text", F.lit("v3")
    )
    assert upsert_by_key(spark, out, "url", upd2, CFG)["n_values"] == 2
    check("upsert_by_key")
    _ingest(spark, out, b, "wap1", 1000, staged=True)
    assert publish_staged(spark, out, "wap1")["partitions_published"] >= 1
    check("publish_staged")
    _ingest(spark, out, b.limit(10), "wap2", 2000, staged=True)
    assert abort_staged(spark, out, "wap2")["partitions_aborted"] >= 1
    check("abort_staged")
    assert rewrite_partitions(
        spark, out, min_deleted_fraction=0.0, cfg=CFG
    )["partitions_rewritten"] >= 1
    check("rewrite_partitions")
    seq = ledger_state(out)["max_seq"]
    _ingest(spark, out, b.limit(20), "late", 3000)
    res = rollback_to(spark, out, seq, cfg=CFG)
    assert res["partitions_rewritten"] == 0 and res["partitions_retired"]
    check("rollback_to (retire-only)")

    want = urls[2:] + [r["url"] for r in b.select("url").collect()]
    assert sorted(
        r["url"] for r in scan_encoded(spark, out, ["url"]).collect()
    ) == sorted(want)


def test_metadata_calls_run_no_spark_jobs(spark, tmp_path, batches):
    out = str(tmp_path / "store")
    a, b = batches
    _ingest(spark, out, a, "i1", 0)
    _ingest(spark, out, b, "wap1", 1000, staged=True)
    _ingest(spark, out, b.limit(10), "wap2", 2000, staged=True)

    tag, n = _jobs(spark, lambda: create_tag(spark, out, "t1"))
    assert n == 0 and tag["name"] == "t1"
    props, n = _jobs(spark, lambda: export_properties(spark, out))
    assert n == 0 and props["choetl.snapshot-epoch"] == "1"
    pub, n = _jobs(spark, lambda: publish_staged(spark, out, "wap1"))
    assert n == 0 and pub["publish_epoch"] == 4
    ab, n = _jobs(spark, lambda: abort_staged(spark, out, "wap2"))
    assert n == 0 and ab["partitions_aborted"] >= 1
    assert ledger_state(out)["staged"] == {}


def test_corrupt_ledger_file_raises_everywhere(spark, tmp_path, batches):
    out = str(tmp_path / "store")
    a, b = batches
    _ingest(spark, out, a, "i1", 0)
    _ingest(spark, out, b, "i2", 3)
    files = sorted(glob.glob(os.path.join(out, "_ledger", "*.parquet")))
    assert len(files) == 2
    with open(files[0], "rb") as fh:
        data = fh.read()
    with open(files[0], "wb") as fh:
        fh.write(data[: len(data) // 2])
    names = _ledger_names(out)
    manifest = read_manifest(out)

    with pytest.raises(Exception):
        read_encoded(spark, out).count()
    with pytest.raises(Exception):
        _ingest(spark, out, a, "i1", 0)
    with pytest.raises(Exception):
        create_tag(spark, out, "t1")
    with pytest.raises(Exception):
        rename_column(out, "text", "body")
    with pytest.raises(Exception):
        scan_encoded(spark, out).collect()
    # nothing was committed or rewritten on the way to the error
    assert _ledger_names(out) == names
    assert read_manifest(out) == manifest
    assert not os.path.exists(os.path.join(out, "_refs.json"))
