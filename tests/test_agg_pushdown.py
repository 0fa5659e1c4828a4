"""Aggregate pushdown from chunk statistics (ledger.agg_encoded — the
Iceberg/Parquet footer-stats aggregate pushdown analog over the encoded
store).

Invariants: count/min/max/sum from stats are EXACT (never
approximately merged — anything inexact falls back to decoding
precisely the affected slice), the clean path decodes ZERO payloads
(pinned by a monkeypatch that makes decoding raise, and by a plan guard
on the metadata frame), tombstoned partitions are re-aggregated exactly
and merged, and int sums survive magnitudes where an int64 accumulator
would wrap.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

import choetl_spark.ledger as ledger_mod
from choetl_spark.deletes import delete_where
from choetl_spark.engine import EncodeConfig
from choetl_spark.ledger import (
    _per_column_stats_frame,
    agg_encoded,
    encode_with_resume,
    read_encoded,
)
from choetl_spark.synth import webpages


@pytest.fixture(scope="module")
def astore(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aggpd") / "store")
    pages = (
        webpages(spark, 900, partitions=4)
        .withColumn("text_len", F.length("text").cast("long"))
        .withColumn("score", (F.length("url") / 7.0).alias("score"))
        .cache()
    )
    pages.count()
    cfg = EncodeConfig(
        num_partitions=5, chunk_rows=128, chunk_bytes=1 << 20,
        bloom_columns=("url",),
    )
    encode_with_resume(spark, pages, out, cfg, run_id="ingest1")
    yield out, pages
    pages.unpersist()


def test_agg_matches_spark_all_families(spark, astore):
    out, pages = astore
    spec = {
        "n": ("count", "*"),
        "n_lang": ("count", "lang"),
        "min_ts": ("min", "warc_ts"),
        "max_ts": ("max", "warc_ts"),
        "min_url": ("min", "url"),
        "max_url": ("max", "url"),
        "sum_len": ("sum", "text_len"),
        "sum_score": ("sum", "score"),
        "min_score": ("min", "score"),
    }
    got = agg_encoded(spark, out, spec).collect()[0]
    want = pages.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("lang").alias("n_lang"),
        F.min("warc_ts").alias("min_ts"),
        F.max("warc_ts").alias("max_ts"),
        F.min("url").alias("min_url"),
        F.max("url").alias("max_url"),
        F.sum("text_len").alias("sum_len"),
        F.sum("score").alias("sum_score"),
        F.min("score").alias("min_score"),
    ).collect()[0]
    for k in spec:
        if k == "sum_score":  # float addition order differs
            assert abs(got[k] - want[k]) < 1e-6 * abs(want[k])
        else:
            assert got[k] == want[k], k


def test_agg_clean_path_decodes_nothing(spark, astore, monkeypatch):
    """The contract that makes this a METADATA read: aggregates the
    stats can answer exactly never construct a decode plan. min(text)
    must fall back (64-char zone-map bounds truncate) and therefore
    must raise once decoding is stubbed out."""
    out, _ = astore

    def boom(*a, **k):  # pragma: no cover - the point is it never runs
        raise AssertionError("load_store called on the stats path")

    import choetl_spark.datasource as datasource_mod

    monkeypatch.setattr(datasource_mod, "load_store", boom)
    r = agg_encoded(
        spark, out,
        {"n": ("count", "*"), "lo": ("min", "warc_ts"),
         "hi": ("max", "url"), "s": ("sum", "text_len")},
    ).collect()[0]
    assert r["n"] == 900
    with pytest.raises(AssertionError, match="load_store called"):
        agg_encoded(spark, out, {"m": ("min", "text")}).collect()


def test_agg_metadata_plan_reads_no_payload(spark, astore):
    """Plan guard: the per-column stats frame's parquet scan must not
    carry the payload column (ReadSchema pruning) and must contain no
    Python stage."""
    from choetl_spark.plans import explain_str

    out, _ = astore
    plan = explain_str(
        _per_column_stats_frame(read_encoded(spark, out)), "formatted"
    )
    import re

    for rs in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        assert "payload" not in rs, plan
    assert "MapInArrow" not in plan and "ArrowEvalPython" not in plan


def test_agg_string_trunc_falls_back_exactly(spark, astore):
    """min/max over a string column with >64-char values (text) must
    fall back to an exact decode — and agree with Spark."""
    out, pages = astore
    got = agg_encoded(
        spark, out, {"lo": ("min", "text"), "hi": ("max", "text")}
    ).collect()[0]
    want = pages.agg(
        F.min("text").alias("lo"), F.max("text").alias("hi")
    ).collect()[0]
    assert got["lo"] == want["lo"] and got["hi"] == want["hi"]
    assert len(want["lo"]) > 64  # the fixture really exercises truncation


def test_agg_tombstone_merge_and_time_travel(spark, tmp_path):
    out = str(tmp_path / "store")
    pages = (
        webpages(spark, 600, partitions=4)
        .withColumn("text_len", F.length("text").cast("long"))
        .cache()
    )
    pages.count()
    cfg = EncodeConfig(
        num_partitions=4, chunk_rows=128, chunk_bytes=1 << 20,
        bloom_columns=("url",),
    )
    encode_with_resume(spark, pages, out, cfg, run_id="i1")
    delete_where(spark, out, equals={"lang": "de"})
    kept = pages.filter(F.col("lang") != "de")
    spec = {
        "n": ("count", "*"),
        "lo": ("min", "warc_ts"),
        "hi": ("max", "url"),
        "s": ("sum", "text_len"),
    }
    got = agg_encoded(spark, out, spec).collect()[0]
    want = kept.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("warc_ts").alias("lo"),
        F.max("url").alias("hi"),
        F.sum("text_len").alias("s"),
    ).collect()[0]
    for k in spec:
        assert got[k] == want[k], k
    # pre-delete epoch: stats-only again, over everything
    got1 = agg_encoded(spark, out, spec, as_of=1).collect()[0]
    want1 = pages.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("warc_ts").alias("lo"),
        F.max("url").alias("hi"),
        F.sum("text_len").alias("s"),
    ).collect()[0]
    for k in spec:
        assert got1[k] == want1[k], k
    pages.unpersist()


def test_agg_nulls_and_schema_evolution(spark, tmp_path):
    """count(col) skips nulls; a late-added column aggregates over only
    the partitions that carry it (missing rows are null); all-null
    min/sum come back NULL; big int64 sums don't wrap."""
    out = str(tmp_path / "store")
    big = 4_000_000_000_000_000_000  # 100 rows x 4e18 >> int64 max
    df1 = spark.range(100).select(
        (F.col("id") % 2).alias("part_id"),
        F.col("id").alias("k"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.col("id") * 2)
        .alias("v"),
        F.lit(big).alias("huge"),
        F.lit(None).cast("long").alias("void"),
    )
    df2 = spark.range(100, 150).select(
        (2 + F.col("id") % 2).alias("part_id"),
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit(big).alias("huge"),
        F.lit(None).cast("long").alias("void"),
        F.lit(7).alias("late"),
    )
    cfg = EncodeConfig(chunk_rows=64, key_col="k")
    encode_with_resume(spark, df1, out, cfg, run_id="r1")
    encode_with_resume(spark, df2, out, cfg, run_id="r2")
    r = agg_encoded(
        spark, out,
        {
            "n": ("count", "*"),
            "nv": ("count", "v"),
            "nlate": ("count", "late"),
            "sum_late": ("sum", "late"),
            "sum_huge": ("sum", "huge"),
            "min_void": ("min", "void"),
            "sum_void": ("sum", "void"),
        },
    ).collect()[0]
    assert r["n"] == 150
    assert r["nv"] == 150 - 25  # every 4th of the first 100 is null
    assert r["nlate"] == 50 and r["sum_late"] == 350
    assert r["sum_huge"] == 150 * big  # 6e20: far past int64
    assert r["min_void"] is None and r["sum_void"] is None


def test_agg_rejects_bad_specs(spark, astore):
    out, _ = astore
    with pytest.raises(ValueError, match="sum needs a numeric"):
        agg_encoded(spark, out, {"s": ("sum", "url")})
    with pytest.raises(ValueError, match="unsupported aggregate"):
        agg_encoded(spark, out, {"a": ("avg", "text_len")})
    with pytest.raises(KeyError, match="not in encoded store"):
        agg_encoded(spark, out, {"m": ("min", "nope")})
    with pytest.raises(ValueError, match="only count supports"):
        agg_encoded(spark, out, {"m": ("min", "*")})


def test_agg_timestamps_non_utc_driver(spark, astore):
    """Timestamp min/max from stats must equal what a Spark aggregate
    over the decoded column returns THROUGH CLASSIC collect() — which
    converts internal UTC micros to a naive datetime in the driver's
    OS timezone (TimestampType.fromInternal), NOT the session tz. A
    stats path converting through the session tz returned values 9h off
    on a Tokyo driver with a UTC session, and the merge with the
    dirty-partition collect() path compared across conventions."""
    from conftest import driver_tz

    out, pages = astore
    with driver_tz("Asia/Tokyo"):
        got = agg_encoded(
            spark, out,
            {"lo": ("min", "warc_ts"), "hi": ("max", "warc_ts")},
        ).collect()[0]
        want = pages.agg(
            F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi")
        ).collect()[0]
        assert got["lo"] == want["lo"]
        assert got["hi"] == want["hi"]


def test_agg_timestamps_merge_with_dirty_partitions_tokyo(spark, tmp_path):
    """The stats-path value and the dirty-partition collect() value meet
    in merge(): both must be the SAME naive convention (driver OS tz) or
    min/max picks the wrong extremum. Tokyo driver + tombstones force
    both paths in one aggregate."""
    from conftest import driver_tz

    out = str(tmp_path / "aggtz")
    pages = webpages(spark, 400, partitions=2).cache()
    pages.count()
    encode_with_resume(
        spark, pages, out,
        EncodeConfig(num_partitions=3, chunk_rows=128),
        run_id="i1",
    )
    # tombstone one row -> its partition becomes dirty (re-aggregated
    # via decode+collect), the rest answer from stats
    victim = pages.orderBy("url").limit(1).collect()[0]["url"]
    delete_where(spark, out, equals={"url": victim})
    with driver_tz("Asia/Tokyo"):
        got = agg_encoded(
            spark, out,
            {"lo": ("min", "warc_ts"), "hi": ("max", "warc_ts"),
             "n": ("count", "*")},
        ).collect()[0]
        want = pages.filter(F.col("url") != victim).agg(
            F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        assert got["n"] == want["n"]
        assert got["lo"] == want["lo"]
        assert got["hi"] == want["hi"]
    pages.unpersist()
