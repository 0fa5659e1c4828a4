"""Point lookups (choetl_spark/lookup.py), a front-end over the
``format("choetl")`` reader.

The contract: exact results (bit-identical to the source row) from one
filtered read that skips key chunks by Bloom and decodes the other
columns only where a row matches.
"""

from __future__ import annotations

from unittest import mock

import pytest
from conftest import distributed
from pyspark.sql import functions as F

from choetl_spark import datasource
from choetl_spark.engine import EncodeConfig, bloom_probe_frame
from choetl_spark.ledger import encode_with_resume, read_encoded
from choetl_spark.lookup import point_lookup
from choetl_spark.synth import webpages


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lookup") / "store")
    pages = webpages(spark, 1200, partitions=4).cache()
    pages.count()
    cfg = EncodeConfig(
        num_partitions=6, chunk_rows=128, chunk_bytes=1 << 20,
        bloom_columns=("url",),
    )
    encode_with_resume(spark, pages, out, cfg, run_id="r1")
    return out, pages


def test_point_lookup_returns_exact_row(spark, store):
    out, pages = store
    row = pages.orderBy("url").limit(1).collect()[0]
    got = point_lookup(
        spark, out, "url", row["url"], ["url", "text", "lang", "html"]
    ).collect()
    assert len(got) == 1
    assert got[0]["url"] == row["url"]
    assert got[0]["text"] == row["text"]  # byte-identical invariant
    assert got[0]["lang"] == row["lang"]
    assert bytes(got[0]["html"]) == bytes(row["html"])


def test_point_lookup_absent_key_empty_with_schema(spark, store):
    out, _ = store
    got = point_lookup(
        spark, out, "url", "https://absent.example/none", ["url", "text"]
    )
    assert got.count() == 0
    assert got.columns == ["url", "text"]


def test_point_lookup_decodes_only_bloom_hit_key_chunks(spark, store):
    """The key pass is CHUNK-granular: for a random url, most key
    chunks' Blooms miss, so the decoded chunk set is a small fraction
    of the column's chunks — that's the late-materialization win the
    partition-granular pruner can't give (the hit partition still has
    many url chunks; only ~the one containing the row survives)."""
    out, pages = store
    target = pages.orderBy(F.desc("url")).limit(1).collect()[0]["url"]
    enc = read_encoded(spark, out)
    probed = bloom_probe_frame(enc, "url", target)
    total = probed.count()
    hit = probed.filter("_bloom_hit").count()
    assert 1 <= hit < total / 2  # few false positives at ~1-2% fp rate


def _hit_lookup_jobs(spark, store, group):
    out, pages = store
    row = pages.orderBy(F.desc("url")).limit(1).collect()[0]
    sc = spark.sparkContext
    sc.setJobGroup(group, "hit lookup")
    try:
        got = point_lookup(
            spark, out, "url", row["url"], ["url", "text"]
        ).collect()
    finally:
        sc.setJobGroup(None, None)
    assert [r["text"] for r in got] == [row["text"]]
    return sc.statusTracker().getJobIdsForGroup(group)


def test_point_lookup_hit_runs_no_job(spark, store):
    """A Bloom-pinned hit decodes within the local-read budget: the
    lookup and the collect of its result run no Spark job."""
    jobs = _hit_lookup_jobs(spark, store, "point-lookup-local-jobs")
    assert len(jobs) == 0, jobs


def test_point_lookup_hit_runs_at_most_two_jobs(spark, store):
    """Over the local-read budget a hit lookup is one filtered
    distributed read plus the collect of its result: 1-2 Spark jobs in
    its job group."""
    with mock.patch.object(datasource, "LOCAL_READ_BYTES", 0):
        jobs = _hit_lookup_jobs(spark, store, "point-lookup-jobs")
    assert 1 <= len(jobs) <= 2, jobs


def test_point_lookup_multi_match_and_guard(spark, store):
    """A key matching several rows returns all of them (lang has no
    bloom, so every lang chunk is decoded); max_matches raises on wide
    predicates."""
    out, pages = store
    lang = pages.groupBy("lang").count().orderBy("count").limit(1).collect()[0]
    got = point_lookup(spark, out, "lang", lang["lang"], ["url", "lang"])
    assert got.count() == lang["count"]
    assert set(r["lang"] for r in got.collect()) == {lang["lang"]}
    with pytest.raises(ValueError, match="max_matches"):
        point_lookup(
            spark, out, "lang", lang["lang"], ["url"], max_matches=2
        )


def test_point_lookup_batch_keys(spark, store):
    """A list value is an IN-list lookup (batch fetch): all matching
    rows return with exact contents, for a small batch and for a
    40-key batch (Blooms are probed task-side, so no batch size
    falls back to an unpruned read)."""
    out, pages = store
    ordered = pages.orderBy("url").collect()
    for n in (5, 40):
        want = {r["url"]: r["text"] for r in ordered[:n]}
        urls = list(want) + ["https://absent.example/none"]
        got = point_lookup(spark, out, "url", urls, ["url", "text"]).collect()
        assert len(got) == n
        assert {r["url"]: r["text"] for r in got} == want, n
    # empty batch: empty result with the right schema, zero jobs needed
    empty = point_lookup(spark, out, "url", [], ["url", "text"])
    assert empty.count() == 0 and empty.columns == ["url", "text"]


def test_point_lookup_positions_at_chunk_boundaries(spark, tmp_path):
    """Positional fetch correctness at every alignment hazard: first /
    last row of a chunk, first / last row of a partition, a match set
    spanning several chunks, and chunk sizes that differ per column
    (byte-capped html chunks split at different rows than url chunks).
    Every fetched column value must equal the source row's — any
    off-by-one in row_start/searchsorted/take shows up as a swapped
    neighbor value."""
    out = str(tmp_path / "store_edges")
    pages = webpages(spark, 500, partitions=2).cache()
    cfg = EncodeConfig(
        num_partitions=3, chunk_rows=64, chunk_bytes=16 << 10,
        bloom_columns=("url",),
    )
    encode_with_resume(spark, pages, out, cfg, run_id="r1")
    # sample urls across the table (ordered -> spread over partitions
    # and chunk offsets, including partition row 0 and last rows)
    urls = [r["url"] for r in pages.orderBy("url").collect()][::37]
    src = {
        r["url"]: r
        for r in pages.filter(F.col("url").isin(urls)).collect()
    }
    for u in urls:
        got = point_lookup(
            spark, out, "url", u, ["url", "text", "warc_ts", "html"]
        ).collect()
        assert len(got) == 1, u
        assert got[0]["text"] == src[u]["text"], u
        assert got[0]["warc_ts"] == src[u]["warc_ts"], u
        assert bytes(got[0]["html"]) == bytes(src[u]["html"]), u


def test_point_lookup_time_travel_and_late_column(spark, tmp_path):
    """as_of scopes the lookup to a ledger epoch; a column added by a
    later ingest run reads as NULL for rows committed before it existed
    (the same left-join null-fill contract as decode_dataframe)."""
    out = str(tmp_path / "store_tt")
    # salted mode co-locates the caller-provided part ids (a part id
    # spread across tasks under shuffle="none" is rejected at commit —
    # see test_commit_rejects_non_colocated_caller_part_ids)
    cfg = EncodeConfig(num_partitions=2, chunk_rows=64,
                       bloom_columns=("url",))
    pages = webpages(spark, 300, partitions=2).cache()
    first = pages.select("url", "text")
    second = (
        webpages(spark, 900, partitions=2)
        .exceptAll(pages).limit(120)
        .select("url", "text", F.upper("lang").alias("lang_uc"))
    )
    # distinct part ids per epoch (scan-local ids would collide)
    encode_with_resume(
        spark, first.withColumn(
            "part_id", (F.xxhash64("url") % 2 + 2).cast("long")
        ), out, cfg, run_id="e1",
    )
    encode_with_resume(
        spark, second.withColumn(
            "part_id", (F.xxhash64("url") % 2 + 4).cast("long")
        ), out, cfg, run_id="e2",
    )
    old_url = first.limit(1).collect()[0]["url"]
    got = point_lookup(
        spark, out, "url", old_url, ["url", "text", "lang_uc"]
    ).collect()
    assert len(got) == 1 and got[0]["lang_uc"] is None
    # the late column is absent from epoch 1's manifest-time world but
    # as_of=1 must still resolve columns that exist in the CURRENT
    # manifest; rows from epoch 2 are invisible
    new_url = second.limit(1).collect()[0]["url"]
    assert (
        point_lookup(spark, out, "url", new_url, ["url"], as_of=1).count()
        == 0
    )
    assert (
        point_lookup(spark, out, "url", new_url, ["url", "lang_uc"]).count()
        == 1
    )


def test_point_lookup_all_late_added_columns_emits_null_row(
    spark, tmp_path
):
    """A matched row whose partition has NO chunk of ANY requested
    column (every requested column added by a later ingest) must still
    surface as an all-null row — decode_dataframe's null-fill contract
    (the key column's chunks carry the row)."""
    out = str(tmp_path / "store_latecols")
    cfg = EncodeConfig(num_partitions=2, chunk_rows=64,
                       bloom_columns=("url",))
    first = spark.createDataFrame(
        [(2 + i % 2, f"https://old.example/{i}", f"t{i}")
         for i in range(50)],
        "part_id long, url string, text string",
    )
    encode_with_resume(spark, first, out, cfg, run_id="e1")
    second = spark.createDataFrame(
        [(4 + i % 2, f"https://new.example/{i}", f"t{i}", float(i))
         for i in range(50)],
        "part_id long, url string, text string, score double",
    )
    encode_with_resume(spark, second, out, cfg, run_id="e2")

    got = point_lookup(
        spark, out, "url", "https://old.example/7", ["score"]
    ).collect()
    assert len(got) == 1 and got[0]["score"] is None
    # sanity: a new-epoch row resolves the value
    got2 = point_lookup(
        spark, out, "url", "https://new.example/7", ["score"]
    ).collect()
    assert len(got2) == 1 and got2[0]["score"] == 7.0


# the same lookups through the distributed reader
test_point_lookup_returns_exact_row_distributed = distributed(
    test_point_lookup_returns_exact_row
)
test_point_lookup_absent_key_empty_with_schema_distributed = distributed(
    test_point_lookup_absent_key_empty_with_schema
)
test_point_lookup_multi_match_and_guard_distributed = distributed(
    test_point_lookup_multi_match_and_guard
)
test_point_lookup_batch_keys_distributed = distributed(
    test_point_lookup_batch_keys
)
test_point_lookup_positions_at_chunk_boundaries_distributed = distributed(
    test_point_lookup_positions_at_chunk_boundaries
)
test_point_lookup_time_travel_and_late_column_distributed = distributed(
    test_point_lookup_time_travel_and_late_column
)
test_point_lookup_all_late_added_columns_emits_null_row_distributed = (
    distributed(test_point_lookup_all_late_added_columns_emits_null_row)
)
