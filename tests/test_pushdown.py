"""Predicate pushdown into the decode kernel (partition-local late
materialization): scan_encoded(equals=/ranges=) evaluates predicates
INSIDE the decode kernel — dict-coded chunks via their symbol tables —
decodes other columns only for chunks overlapping a surviving row, and
ships only matching rows back to the JVM (engine._make_decode_kernel
under a pushdown spec). The kernel mask is a SUPERSET; scan_encoded's
residual filter keeps semantics exact.

Invariants: selective scans bit-match full-scan-plus-filter under every
store feature they compose with (tombstones, time travel, IN-lists,
multi-predicate AND, null values, schema evolution), the kernel output
row count equals the exact match count (the transfer-reduction
evidence), and the un-evaluable predicate degrades to a superset, never
a subset.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    LessThanOrEqual,
)

from choetl_spark.datasource import read_store
from choetl_spark.deletes import delete_where
from choetl_spark.engine import (
    EncodeConfig,
    _eval_chunk_mask,
    decode_dataframe,
)
from choetl_spark.ledger import (
    encode_with_resume,
    read_encoded,
    read_manifest,
    scan_encoded,
)
from choetl_spark.synth import webpages


@pytest.fixture(scope="module")
def pstore(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pushdown") / "store")
    pages = webpages(spark, 900, partitions=4).cache()
    pages.count()
    cfg = EncodeConfig(
        num_partitions=5, chunk_rows=128, chunk_bytes=1 << 20,
        bloom_columns=("url",),
    )
    encode_with_resume(spark, pages, out, cfg, run_id="ingest1")
    yield out, pages
    pages.unpersist()


def _rows(df, *cols):
    return {tuple(str(r[c]) for c in cols) for r in df.collect()}


def test_pushdown_scans_match_ground_truth(spark, pstore):
    """eq / IN-list / range / dict-column eq / multi-predicate AND all
    bit-match the source filtered the plain way."""
    out, pages = pstore
    urls = sorted(r["url"] for r in pages.select("url").collect())
    probe = urls[17]

    got = _rows(
        scan_encoded(spark, out, ["url", "text"], equals={"url": probe}),
        "url", "text",
    )
    want = _rows(
        pages.filter(F.col("url") == probe).select("url", "text"),
        "url", "text",
    )
    assert got == want and len(got) == 1

    got = _rows(
        scan_encoded(spark, out, ["url"], equals={"url": urls[5:9]}), "url"
    )
    assert got == {(u,) for u in urls[5:9]}

    tsl = sorted(r["warc_ts"] for r in pages.select("warc_ts").collect())
    lo, hi = tsl[100], tsl[300]
    got = _rows(
        scan_encoded(
            spark, out, ["url", "warc_ts"], ranges={"warc_ts": (lo, hi)}
        ),
        "url", "warc_ts",
    )
    want = _rows(
        pages.filter(
            (F.col("warc_ts") >= lo) & (F.col("warc_ts") <= hi)
        ).select("url", "warc_ts"),
        "url", "warc_ts",
    )
    assert got == want and len(got) > 0

    # lang is low-NDV -> dict-coded: the symbol-table fast path
    got = _rows(scan_encoded(spark, out, ["url"], equals={"lang": "de"}), "url")
    want = _rows(pages.filter(F.col("lang") == "de").select("url"), "url")
    assert got == want and len(got) > 0

    # AND of an equality and a range
    got = _rows(
        scan_encoded(
            spark, out, ["url"],
            equals={"lang": "de"}, ranges={"warc_ts": (lo, hi)},
        ),
        "url",
    )
    want = _rows(
        pages.filter(
            (F.col("lang") == "de")
            & (F.col("warc_ts") >= lo)
            & (F.col("warc_ts") <= hi)
        ).select("url"),
        "url",
    )
    assert got == want


def test_kernel_filters_before_transfer(spark, pstore):
    """The transfer-reduction evidence: the reader's decoded rows under
    the pushed filters, before any residual Spark filter, are already
    exactly the matching rows — the filtering happened inside the
    kernel, so only those rows crossed the Python->JVM boundary."""
    out, pages = pstore
    urls = sorted(r["url"] for r in pages.select("url").collect())
    _, rows = read_store(
        spark, out, ["url", "text"], [In(("url",), tuple(urls[10:13]))]
    )
    assert rows == 3
    # a predicate on a column other than the payload one drives the
    # kernel too
    _, rows = read_store(
        spark, out, ["lang", "text"], [EqualTo(("lang",), "de")]
    )
    assert rows == pages.filter(F.col("lang") == "de").count()


def test_pushdown_superset_fallback_never_drops_rows(spark, pstore):
    """A predicate the kernel cannot coerce (int bounds on a string
    column) must degrade to all-rows, and scan_encoded's residual filter
    must then restore the exact result — never a silent subset."""
    out, pages = pstore
    _, rows = read_store(
        spark, out, ["url"],
        [GreaterThanOrEqual(("url",), 1), LessThanOrEqual(("url",), 2)],
    )
    assert rows == pages.count()  # superset: kernel passed everything
    # the same predicate through scan_encoded is exact (empty here)
    assert (
        scan_encoded(spark, out, ["url"], ranges={"url": (1, 2)}).count() == 0
    )


def test_pushdown_null_rows_never_match(spark, pstore):
    """Rows whose predicate column is NULL match neither eq nor range —
    SQL semantics, enforced by the kernel's validity-bitmap AND."""
    out, _ = pstore
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.concat(F.lit("v"), F.col("id") % 7))
        .alias("v"),
    )
    import tempfile

    d = tempfile.mkdtemp() + "/nulls"
    encode_with_resume(
        spark, df, d,
        EncodeConfig(num_partitions=2, chunk_rows=64, key_col="k",
                     partition_by_host=False),
        run_id="n1",
    )
    got = _rows(scan_encoded(spark, d, ["k"], equals={"v": "v1"}), "k")
    want = _rows(df.filter(F.col("v") == "v1").select("k"), "k")
    assert got == want and len(got) > 0
    # and the kernel alone (no residual) also excludes the nulls
    _, rows = read_store(spark, d, ["k", "v"], [EqualTo(("v",), "v1")])
    assert rows == len(want)


def test_pushdown_composes_with_deletes_and_time_travel(spark, tmp_path):
    """Selective scan over a store with tombstones: deleted rows stay
    invisible at latest, visible at the pre-delete epoch — positions
    computed by the masking kernel line up with the tombstones'
    coordinates."""
    out = str(tmp_path / "store")
    pages = webpages(spark, 600, partitions=4).cache()
    pages.count()
    cfg = EncodeConfig(
        num_partitions=4, chunk_rows=128, chunk_bytes=1 << 20,
        bloom_columns=("url",),
    )
    encode_with_resume(spark, pages, out, cfg, run_id="i1")
    de_urls = sorted(
        r["url"] for r in pages.filter(F.col("lang") == "de").collect()
    )
    victims = de_urls[:5]
    delete_where(spark, out, equals={"url": victims})

    got = _rows(scan_encoded(spark, out, ["url"], equals={"lang": "de"}), "url")
    want = {(u,) for u in de_urls[5:]}
    assert got == want
    # the deleted row is individually invisible through the pushdown path
    assert (
        scan_encoded(spark, out, ["url"], equals={"url": victims[0]}).count()
        == 0
    )
    # ... but time travel to the ingest epoch still sees it
    got = _rows(
        scan_encoded(
            spark, out, ["url"], equals={"url": victims[0]}, as_of=1
        ),
        "url",
    )
    assert got == {(victims[0],)}
    pages.unpersist()


def test_pushdown_schema_evolution_late_column(spark, tmp_path):
    """Predicate on a column a LATER ingest added: old partitions decode
    it as null, so they contribute no matches — same rows as the
    residual-filter semantics."""
    out = str(tmp_path / "store")
    # explicit disjoint part_ids across the two ingest runs (the same
    # shape as test_schema_evolution_added_column_decodes_as_nulls:
    # resume skips already-committed part_ids, so run 2 must bring new
    # ones)
    df1 = spark.range(100).select(
        (F.col("id") % 2).alias("part_id"),
        F.col("id").alias("k"),
        F.concat(F.lit("a"), "id").alias("v"),
    )
    df2 = spark.range(100, 200).select(
        (2 + F.col("id") % 2).alias("part_id"),
        F.col("id").alias("k"),
        F.concat(F.lit("a"), "id").alias("v"),
        F.lit("tagged").alias("extra"),
    )
    cfg = EncodeConfig(chunk_rows=64, key_col="k")
    encode_with_resume(spark, df1, out, cfg, run_id="r1")
    encode_with_resume(spark, df2, out, cfg, run_id="r2")
    got = _rows(
        scan_encoded(spark, out, ["k"], equals={"extra": "tagged"}), "k"
    )
    assert got == {(str(k),) for k in range(100, 200)}


def test_eval_chunk_mask_dict_fast_path_unit():
    """Unit pin for the symbol-table fast path: dict-coded chunk, eq
    mask computed without rebuilding the strings; a probe missing from
    the symbol table short-circuits to all-False."""
    import numpy as np
    import pyarrow as pa

    from choetl_spark.codecs import encode_array

    arr = pa.array(["de", "en", "de", "fr", None, "en", "de"])
    payload, meta = encode_array(arr, codec="dict")
    assert (meta["child"] if meta["codec"] == "zstd" else meta)[
        "codec"
    ] == "dict"
    m = _eval_chunk_mask(payload, meta, ("in", ["de"]))
    assert m.tolist() == [True, False, True, False, False, False, True]
    m = _eval_chunk_mask(payload, meta, ("in", ["zz"]))
    assert not np.asarray(m).any()
    # range over the dictionary domain works too (symbol-table compare)
    m = _eval_chunk_mask(payload, meta, ("range", "e", "f"))
    assert m.tolist() == [False, True, False, False, False, True, False]


def test_naive_datetime_bounds_non_utc_driver(spark, pstore):
    """Timestamp pushdown with NAIVE datetime bounds on a non-UTC
    driver: Spark's residual filter interprets a naive literal via
    time.mktime (driver OS tz), so the zone-map pruner and the decode
    kernel must evaluate the SAME instant — a kernel that read the
    bound as UTC would mask out rows the residual keeps (silent row
    loss). scan_encoded normalizes naive bounds once at entry
    (engine.normalize_predicate_value), so the selective scan must
    bit-match the plain decode-then-filter ground truth under any
    driver tz."""
    import datetime as dt

    from conftest import driver_tz

    out, pages = pstore
    tsl = sorted(r["warc_ts"] for r in pages.select("warc_ts").collect())
    # near-full span: the synth data covers ~9.25h (900 rows x 37s), so
    # the Tokyo reinterpretation (-9h as an instant) still overlaps the
    # data range and selects a non-empty, DIFFERENT row slice
    lo_n, hi_n = tsl[5], tsl[880]  # naive (collect is OS-tz naive)
    assert lo_n.tzinfo is None

    with driver_tz("Asia/Tokyo"):
        got = _rows(
            scan_encoded(
                spark, out, ["url", "warc_ts"],
                ranges={"warc_ts": (lo_n, hi_n)},
            ),
            "url",
        )
        # ground truth: residual semantics applied to the FULL decode
        enc = read_encoded(spark, out)
        full = decode_dataframe(
            enc, ["url", "warc_ts"], manifest=read_manifest(out)
        )
        want = _rows(
            full.filter(
                (F.col("warc_ts") >= lo_n) & (F.col("warc_ts") <= hi_n)
            ),
            "url",
        )
        assert got == want and len(got) > 0
        # the test must BITE: under Tokyo the naive bounds mean a
        # different instant than under UTC (9h shift selects a
        # different slice of the evenly-spread synth timestamps)
        from choetl_spark.engine import normalize_predicate_value

        norm = normalize_predicate_value(lo_n)
        assert norm.tzinfo is not None
        assert norm != lo_n.replace(tzinfo=dt.timezone.utc)


def test_equals_on_non_string_columns_skips_bloom(spark, pstore):
    """equals= on an int/timestamp column must WORK (kernel pushdown +
    residual), not crash in the Bloom probe hash — blooms only exist
    for string/binary columns, so non-probeable values skip pruning."""
    out, pages = pstore
    one = pages.select("warc_ts").limit(1).collect()[0]["warc_ts"]
    got = _rows(
        scan_encoded(spark, out, ["url", "warc_ts"],
                     equals={"warc_ts": one}),
        "url",
    )
    want = _rows(
        pages.filter(F.col("warc_ts") == one).select("url"), "url"
    )
    assert got == want and len(got) >= 1


def test_point_lookup_by_int_key(spark, tmp_path):
    """point_lookup keyed on an integer column: no bloom can answer an
    int probe, so the key pass falls back to the full key-column decode
    and still returns the exact row."""
    from choetl_spark.lookup import point_lookup

    out = str(tmp_path / "intkey")
    df = spark.createDataFrame(
        [(i % 3, i * 7, f"v{i}") for i in range(90)],
        "part_id long, k long, text string",
    )
    encode_with_resume(
        spark, df, out,
        EncodeConfig(num_partitions=3, bloom_columns=("k",)),
        run_id="i1",
    )
    got = point_lookup(spark, out, "k", 63, ["k", "text"]).collect()
    assert len(got) == 1 and got[0]["text"] == "v9"
