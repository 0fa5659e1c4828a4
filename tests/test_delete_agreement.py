"""Maintenance and history reads over one store that carries
positional deletes, equality deletes and a column rename: every path
(changelog, rollback, aggregate pushdown, partition rollup) must agree
with what a scan of the same snapshot returns."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from choetl_spark.deletes import delete_where, rollback_to
from choetl_spark.engine import EncodeConfig
from choetl_spark.eqdeletes import delete_by_key
from choetl_spark.ledger import (
    agg_encoded,
    encode_with_resume,
    read_changes,
    scan_encoded,
    store_partitions,
)
from choetl_spark.schema_evolution import rename_column
from choetl_spark.synth import webpages

CFG = EncodeConfig(num_partitions=3, chunk_rows=128, bloom_columns=("url",))


def _scan(spark, out, as_of=None):
    """Rows at ``as_of`` as (url, text_len) under whatever name the
    snapshot gives the url column."""
    df = scan_encoded(spark, out, as_of=as_of)
    u = "page_url" if "page_url" in df.columns else "url"
    return Counter((r[u], r["text_len"]) for r in df.collect())


def _changes(spark, out, a, b):
    ch = read_changes(spark, out, a, b, columns=["page_url", "text_len"])
    got = {"insert": Counter(), "delete": Counter()}
    for r in ch.collect():
        got[r["_change_type"]][(r["page_url"], r["text_len"])] += 1
    return got["insert"], got["delete"]


def test_maintenance_reads_agree_with_scans(spark, tmp_path):
    out = str(tmp_path / "store")
    first = webpages(spark, 300, partitions=2).withColumn(
        "text_len", F.length("text").cast("long")
    )
    planned = first.withColumn(
        "part_id", (F.xxhash64("url") % 3 + 3) % 3
    )
    encode_with_resume(spark, planned, out, CFG, run_id="i1")  # epoch 1
    urls = sorted(r["url"] for r in first.select("url").collect())
    delete_where(spark, out, equals={"url": urls[:40]})  # epoch 2
    delete_by_key(spark, out, "url", urls[40:70])  # epoch 3
    rename_column(out, "url", "page_url")
    more = (
        webpages(spark, 120, partitions=1)
        .withColumn("text_len", F.length("text").cast("long"))
        .withColumn("url", F.concat(F.lit("new-"), F.col("url")))
        .withColumnRenamed("url", "page_url")
        .withColumn("part_id", F.lit(10).cast("long"))
    )
    encode_with_resume(spark, more, out, CFG, run_id="i2")  # epoch 4
    new_urls = sorted(r["page_url"] for r in more.collect())
    delete_by_key(  # epoch 5: hits both ingests
        spark, out, "page_url", [*urls[70:90], *new_urls[:10]]
    )

    scans = {seq: _scan(spark, out, seq) for seq in (1, 2, 3, 4, 5)}
    assert sum(scans[5].values()) == 300 - 90 + 120 - 10

    # changelog: scan(from) + inserts - deletes == scan(to)
    for a, b in ((1, 3), (2, 5), (3, 5), (1, 5)):
        ins, dels = _changes(spark, out, a, b)
        assert scans[a] + ins - dels == scans[b], (a, b)
        assert not (dels - scans[a]), (a, b)

    # aggregate pushdown == a Spark aggregate over the scan
    for seq, u in ((3, "url"), (5, "page_url")):
        got = agg_encoded(
            spark, out,
            {"n": ("count", "*"), "s": ("sum", "text_len"),
             "lo": ("min", u)},
            as_of=seq,
        ).collect()[0]
        want = scan_encoded(spark, out, as_of=seq).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("text_len").alias("s"),
            F.min(u).alias("lo"),
        ).collect()[0]
        assert (got["n"], int(got["s"]), got["lo"]) == (
            want["n"], want["s"], want["lo"]
        ), seq

    # partition rollup: live_rows add up to the scan; n_deleted per
    # partition counts both delete kinds (values pinned from the
    # Spark-frame resolver this path replaced)
    for seq, n_deleted in (
        (3, {0: 25, 1: 25, 2: 20}),
        (5, {0: 29, 1: 32, 2: 29, 10: 10}),
    ):
        parts = store_partitions(spark, out, as_of=seq).collect()
        assert sum(r["live_rows"] for r in parts) == sum(
            scans[seq].values()
        )
        assert {
            r["part_id"]: r["n_deleted"] for r in parts if r["n_deleted"]
        } == n_deleted, seq

    # rollback to epoch 3 undoes epoch 5's hits on the first ingest's
    # partitions and retires the second ingest
    res = rollback_to(spark, out, 3, cfg=CFG)
    assert res["partitions_rewritten"] == 3
    assert res["partitions_retired"] == 4
    assert _scan(spark, out) == scans[3]
