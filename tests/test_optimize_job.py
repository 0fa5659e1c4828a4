"""optimize_job: the chained store-maintenance pass (rewrite deletes →
compact tombstones → expire history → compact chunk files → vacuum)."""

from __future__ import annotations

import glob
import os
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "jobs"))

from choetl_spark.deletes import delete_where
from choetl_spark.engine import EncodeConfig
from choetl_spark.ledger import (
    encode_with_resume,
    min_time_travel_seq,
    scan_encoded,
    snapshots,
)
from choetl_spark.synth import webpages

CFG = EncodeConfig(num_partitions=2, chunk_rows=256)


def _rows(df):
    return sorted(
        (r["url"], r["text"]) for r in df.select("url", "text").collect()
    )


def test_optimize_store_chain(spark, tmp_path):
    from optimize_job import optimize_store

    out = str(tmp_path / "ostore")
    pages = webpages(spark, 600, partitions=2).cache()
    pages.count()
    encode_with_resume(spark, pages, out, CFG, run_id="i1")
    more = (
        webpages(spark, 900, partitions=2)
        .join(pages.select("url"), "url", "left_anti")
        .select(*pages.columns)
        .withColumn(
            "part_id", (F.lit(100) + F.spark_partition_id()).cast("long")
        )
        .cache()
    )
    n_more = more.count()
    assert n_more > 0
    encode_with_resume(spark, more, out, CFG, run_id="i2")
    victim = pages.select("lang").first()["lang"]
    delete_where(spark, out, equals={"lang": victim})
    # an orphan from a "crashed" run: chunks land with a part_id the
    # ledger never commits (copying a COMMITTED file would instead
    # duplicate live (part_id, attempt_id) chunks)
    from choetl_spark.engine import encode_dataframe
    from choetl_spark.ledger import _chunks_dir

    files_before = set(glob.glob(f"{out}/chunks/*.parquet"))
    encode_dataframe(
        pages.limit(50).withColumn("part_id", F.lit(999)), CFG
    ).write.mode("append").option("compression", "none").parquet(
        _chunks_dir(out)
    )
    orphan_files = (
        set(glob.glob(f"{out}/chunks/*.parquet")) - files_before
    )
    assert orphan_files

    want = _rows(
        pages.filter(F.col("lang") != victim).unionByName(
            more.select(*pages.columns).filter(F.col("lang") != victim)
        )
    )

    # dry run: reports candidates, changes nothing, runs no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("optimize-dry-run", "dry run")
    try:
        dry = optimize_store(spark, out, dry_run=True, retain_last=1)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("optimize-dry-run") == []
    assert dry["steps"]["rewrite_partitions"]["pending_delete_positions"] > 0
    assert min_time_travel_seq(out) == 1
    assert orphan_files <= set(glob.glob(f"{out}/chunks/*.parquet"))
    assert _rows(scan_encoded(spark, out)) == want

    rep = optimize_store(
        spark, out, min_deleted_fraction=0.0, retain_last=1,
        target_file_bytes=1 << 20,
    )
    # content is bit-identical survivors
    assert _rows(scan_encoded(spark, out)) == want
    # tombstones were materialized by the rewrite
    assert rep["steps"]["rewrite_partitions"]["partitions_rewritten"] > 0
    # history floor raised to retain only the newest epoch
    max_epoch = max(
        r["run_seq"] for r in snapshots(spark, out).collect()
    )
    assert min_time_travel_seq(out) == max_epoch
    # the orphan is gone (compaction or vacuum), data files compacted
    assert not (orphan_files & set(glob.glob(f"{out}/chunks/*.parquet")))
    # a second pass is a cheap no-op that changes nothing
    rep2 = optimize_store(spark, out, retain_last=1)
    assert _rows(scan_encoded(spark, out)) == want
    assert rep2["steps"]["rewrite_partitions"]["partitions_rewritten"] == 0
    pages.unpersist()
    more.unpersist()


def test_optimize_preserves_sketches(spark, tmp_path):
    """Maintenance rewrites must keep building the store's sketches:
    a store with Bloom + NDV columns still answers approx_ndv (and
    keeps chunk blooms) after deletes are materialized by optimize."""
    from optimize_job import optimize_store

    from choetl_spark.ndv import approx_ndv

    out = str(tmp_path / "skstore")
    pages = webpages(spark, 400, partitions=2).cache()
    pages.count()
    cfg = EncodeConfig(
        num_partitions=2, chunk_rows=256,
        bloom_columns=("url",), ndv_columns=("lang",),
    )
    encode_with_resume(spark, pages, out, cfg, run_id="i1")
    victim = pages.select("lang").first()["lang"]
    delete_where(spark, out, equals={"lang": victim})
    rep = optimize_store(
        spark, out, min_deleted_fraction=0.0, retain_last=1
    )
    assert rep["inferred_sketch_columns"]["bloom"] == ("url",)
    assert rep["inferred_sketch_columns"]["ndv"] == ("lang",)
    assert rep["steps"]["rewrite_partitions"]["partitions_rewritten"] > 0
    n_langs = pages.filter(F.col("lang") != victim).select(
        "lang"
    ).distinct().count()
    got = approx_ndv(spark, out, ["lang"])["lang"]
    assert abs(got - n_langs) <= 1
    # every rewritten chunk still carries a bloom on the url column
    from choetl_spark.ledger import read_encoded

    n_no_bloom = (
        read_encoded(spark, out)
        .filter(
            (F.col("column") == "url")
            & ~F.col("stats").contains('"bloom"')
        )
        .count()
    )
    assert n_no_bloom == 0
    pages.unpersist()
