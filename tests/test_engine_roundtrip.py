"""End-to-end encode→decode round-trip tests (the pytest port of the
reference's ChoParquetWriterTest golden round-trips, SURVEY.md §5)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from choetl_spark.engine import (
    EncodeConfig,
    compression_report,
    decode_dataframe,
    encode_dataframe,
    verify_roundtrip,
)
from choetl_spark.synth import extract_text_from_html, webpages


@pytest.fixture(scope="module")
def pages(spark):
    df = webpages(spark, 3000, partitions=8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def encoded(spark, pages):
    cfg = EncodeConfig(num_partitions=8, chunk_rows=512, chunk_bytes=1 << 20)
    enc = encode_dataframe(pages, cfg).cache()
    enc.count()
    return enc


def test_synth_deterministic(spark):
    a = webpages(spark, 200, partitions=2).orderBy("url").collect()
    b = webpages(spark, 200, partitions=7).orderBy("url").collect()
    assert a == b  # identical regardless of parallelism


def test_synth_invariant_text_from_html(pages):
    sample = pages.limit(50).collect()
    for r in sample:
        assert extract_text_from_html(r["html"]) == r["text"]


def test_synth_skewed_hosts(pages):
    top = (
        pages.groupBy(F.parse_url("url", F.lit("HOST")).alias("h"))
        .count()
        .orderBy(F.desc("count"))
        .limit(3)
        .agg(F.sum("count"))
        .collect()[0][0]
    )
    assert top > 3000 * 0.25  # hot domains really are hot


def test_encoded_schema_and_chunking(encoded):
    rows = encoded.select("column", "n_rows", "raw_bytes").collect()
    assert {r["column"] for r in rows} == {"url", "warc_ts", "html", "text", "lang"}
    # size caps respected: no chunk above cap unless single-row (blob)
    bad = encoded.filter(
        (F.col("raw_bytes") > (1 << 20) + 8192) & (F.col("n_rows") > 1)
    ).count()
    assert bad == 0


def test_roundtrip_bit_identical(spark, pages, encoded):
    decoded = decode_dataframe(encoded)
    assert verify_roundtrip(pages, decoded) == 0


def test_roundtrip_text_byte_identity_per_url(spark, pages, encoded):
    decoded = decode_dataframe(encoded, columns=["url", "text", "html"])
    joined = decoded.alias("d").join(pages.alias("s"), "url")
    mismatch = joined.filter(
        (F.col("d.text") != F.col("s.text")) | (F.col("d.html") != F.col("s.html"))
    ).count()
    assert mismatch == 0
    assert decoded.count() == pages.count()


def test_column_manifest_matches_chunk_metas(spark):
    """column_manifest (driver-side, zero jobs) must predict exactly the
    storage dtype + logical DDL the encode kernel records in chunk metas,
    across every supported Spark type including nested and decimal."""
    import datetime as dt
    from decimal import Decimal

    from choetl_spark.codecs.base import str_to_type
    from choetl_spark.engine import (
        _column_metas,
        _meta_storage_type,
        column_manifest,
    )

    rows = [
        (True, 1, 2, 3, 4, 1.5, 2.5, "s", b"b", dt.date(2024, 1, 2),
         dt.datetime(2024, 1, 2, 3, 4, 5), [1, 2], Decimal("12.34")),
        (None, None, None, None, None, None, None, None, None, None,
         None, None, None),
    ]
    ddl = (
        "b boolean, t tinyint, sm smallint, i int, l bigint, f float, "
        "d double, st string, bn binary, dt date, ts timestamp, "
        "ar array<int>, de decimal(10,2)"
    )
    df = spark.createDataFrame(rows, ddl)
    cfg = EncodeConfig(num_partitions=2, shuffle="none", key_col="st")
    enc = encode_dataframe(df, cfg)
    metas = _column_metas(enc)
    man = column_manifest(df, cfg)
    assert set(man) == set(metas)
    for c, m in metas.items():
        assert str_to_type(man[c]["dtype"]) == _meta_storage_type(m), c
        assert man[c]["logical"] == m.get("logical"), c
    # decode through the manifest path round-trips bit-identically
    dec = decode_dataframe(enc, manifest=man)
    assert verify_roundtrip(df, dec) == 0


def test_column_pruned_decode(spark, encoded):
    decoded = decode_dataframe(encoded, columns=["lang"])
    assert decoded.columns == ["lang"]
    langs = {r["lang"] for r in decoded.distinct().collect()}
    assert langs <= {"en", "de", "fr", "es", "zh", "ru", "ja"}


def test_compression_beats_raw(encoded):
    rep = compression_report(encoded).collect()
    total_raw = sum(r["raw_bytes"] for r in rep)
    total_enc = sum(r["encoded_bytes"] for r in rep)
    assert total_enc < total_raw * 0.6, total_enc / total_raw
    # low-NDV lang column must have chosen dict (+zstd) somewhere
    lang_codecs = {r["codec"] for r in rep if r["column"] == "lang"}
    assert any(c.startswith(("dict", "rle")) for c in lang_codecs), lang_codecs


def test_codec_override(spark, pages):
    cfg = EncodeConfig(
        num_partitions=4, codec_overrides={"lang": "rle"}, zstd="off"
    )
    enc = encode_dataframe(pages.limit(500), cfg)
    codecs = {
        r["codec"] for r in enc.select("column", "codec").collect()
        if r["column"] == "lang"
    }
    assert codecs == {"rle"}


def test_chunk_stats_minmax_skipping(encoded):
    """Chunk stats support predicate skipping like parquet row groups."""
    stats = [
        json.loads(r["stats"])
        for r in encoded.filter(F.col("column") == "warc_ts").collect()
    ]
    assert all(s["min_val"] is not None for s in stats)
    assert all(s["max_val"] >= s["min_val"] for s in stats)


def test_nulls_roundtrip(spark):
    src = spark.createDataFrame(
        [(f"u{i}", None if i % 3 == 0 else f"t{i % 5}", None if i % 7 == 0 else i)
         for i in range(200)],
        "url string, text string, n bigint",
    )
    cfg = EncodeConfig(num_partitions=2, partition_by_host=False)
    enc = encode_dataframe(src, cfg)
    out = decode_dataframe(enc)
    assert verify_roundtrip(src, out) == 0


def test_scan_local_mode_roundtrip(spark, pages):
    """shuffle="none": zero-shuffle scan-local encode must round-trip."""
    cfg = EncodeConfig(
        num_partitions=8, chunk_rows=512, chunk_bytes=1 << 20, shuffle="none"
    )
    enc = encode_dataframe(pages, cfg)
    # part ids are the scan's own partition ids — several, and stable
    assert enc.select("part_id").distinct().count() > 1
    decoded = decode_dataframe(enc)
    assert verify_roundtrip(pages, decoded) == 0


def test_scan_local_interleaved_part_ids(spark):
    """A caller-supplied part_id that interleaves within a task still
    round-trips (the kernel keeps per-part row bases)."""
    src = webpages(spark, 400, partitions=2)
    # part_id alternates row-by-row -> maximally interleaved
    with_part = src.withColumn(
        "part_id", (F.xxhash64("url") % 2).cast("long")
    )
    cfg = EncodeConfig(num_partitions=2, shuffle="none", chunk_rows=64)
    enc = encode_dataframe(with_part, cfg)
    decoded = decode_dataframe(enc)
    assert verify_roundtrip(src, decoded) == 0


def test_single_column_decode_no_shuffle_roundtrip(spark, pages, encoded):
    """Single-column decode elides the shuffle and still returns every
    value (alignment is moot with one column)."""
    langs = decode_dataframe(encoded, columns=["lang"])
    src = pages.groupBy("lang").count().orderBy("lang").collect()
    got = langs.groupBy("lang").count().orderBy("lang").collect()
    assert [tuple(r) for r in src] == [tuple(r) for r in got]


def test_colocated_decode_roundtrip(spark, pages, encoded):
    """assume_colocated on a freshly-encoded (cached) chunk table: chunks
    of each part sit in one partition, so the shuffle-free multi-column
    decode must still be bit-identical."""
    decoded = decode_dataframe(encoded, assume_colocated=True)
    assert verify_roundtrip(pages, decoded) == 0


def test_speed_profile_roundtrip_and_footprint(spark, pages, encoded):
    """optimize_for="speed" (dict-or-plain + zstd, no token-dictionary /
    FSST string paths) must still decode bit-identical; its footprint
    sits between the balanced profile's and ~0.45x raw — the
    parquet-style lower-compression-level end of the trade curve
    (BENCH/BASELINE.md measures it against the real parquet+zstd
    writer)."""
    cfg = EncodeConfig(
        num_partitions=8, chunk_rows=512, chunk_bytes=1 << 20,
        optimize_for="speed",
    )
    enc = encode_dataframe(pages, cfg).cache()
    decoded = decode_dataframe(enc)
    assert verify_roundtrip(pages, decoded) == 0
    rep = compression_report(enc).collect()
    speed_enc = sum(r["encoded_bytes"] for r in rep)
    total_raw = sum(r["raw_bytes"] for r in rep)
    balanced_enc = sum(
        r["encoded_bytes"] for r in compression_report(encoded).collect()
    )
    assert balanced_enc <= speed_enc < total_raw * 0.45, (
        balanced_enc, speed_enc, total_raw
    )
    # the string-heavy columns must NOT have picked the slow paths
    text_codecs = {r["codec"] for r in rep if r["column"] in ("text", "html")}
    assert not any(
        c.startswith(("worddict", "fsst")) for c in text_codecs
    ), text_codecs
    enc.unpersist()


def test_vector_column_encodes_natively_end_to_end(spark, tmp_path):
    """array<float> columns store through the veclist codec (NOT the
    JSON-string fallback): bit-identical scan round-trip, correct Spark
    schema on decode, and the chunk table records the native codec."""
    from pyspark.sql import functions as F

    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, read_encoded, scan_encoded

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = str(tmp_path / "vecstore")
    cfg = EncodeConfig(
        num_partitions=4, chunk_rows=128, chunk_bytes=1 << 20,
        key_col="vec_id", partition_by_host=False,
    )
    encode_with_resume(spark, embs, out, cfg, run_id="v1")

    codecs = {
        r["column"]: r["codec"]
        for r in read_encoded(spark, out).select("column", "codec")
        .distinct().collect()
    }
    assert codecs["embedding"].startswith("veclist"), codecs

    got = scan_encoded(spark, out)
    assert dict(got.dtypes)["embedding"] == "array<float>"
    src = {r["vec_id"]: r["embedding"] for r in embs.collect()}
    chk = {r["vec_id"]: r["embedding"] for r in got.collect()}
    assert len(chk) == len(src)
    for k, v in src.items():
        assert chk[k] == v  # exact float32 equality (bit-preserving)

    # downstream ops run straight off the decoded store
    from choetl_spark.operators import cosine_topk

    q = [float(x) for x in src[0]]
    top = cosine_topk(got, q, k=3, id_col="vec_id").collect()
    assert top[0]["vec_id"] == 0


def test_quantized_vectors_store_4x_smaller(spark, tmp_path):
    """int8-quantized embeddings ride the veclist codec as tinyint —
    the stored embedding bytes drop ~4x vs the float32 store, and the
    quantized column round-trips exactly."""
    from pyspark.sql import functions as F

    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, read_encoded, scan_encoded
    from choetl_spark.operators import with_quantized_embedding

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = with_quantized_embedding(embs).select("vec_id", "qscale", "qvec")
    assert dict(q.dtypes)["qvec"] == "array<tinyint>"

    cfg = EncodeConfig(num_partitions=4, chunk_rows=256,
                       chunk_bytes=1 << 20, key_col="vec_id",
                       partition_by_host=False)
    out_f = str(tmp_path / "floatstore")
    out_q = str(tmp_path / "qstore")
    encode_with_resume(spark, embs.select("vec_id", "embedding"),
                       out_f, cfg, run_id="f")
    encode_with_resume(spark, q, out_q, cfg, run_id="q")

    def col_bytes(out, col):
        return read_encoded(spark, out).filter(
            F.col("column") == col
        ).agg(F.sum("encoded_bytes")).collect()[0][0]

    fb = col_bytes(out_f, "embedding")
    qb = col_bytes(out_q, "qvec")
    assert qb * 3 < fb  # >3x smaller (4x raw, zstd narrows a little)

    src = {r["vec_id"]: r["qvec"] for r in q.collect()}
    got = {r["vec_id"]: r["qvec"] for r in scan_encoded(spark, out_q).collect()}
    assert got == src


def test_deterministic_sort_stable_with_duplicate_keys(spark):
    """The retry-stable byte contract under the salted shuffle must
    hold even when key_col is NOT unique (the url-uniqueness contract
    violated): the full-row xxhash64 tiebreaker pins the relative
    order of key-tied rows, so re-encoding the same rows from a
    DIFFERENT input order yields byte-identical chunk payloads —
    the property a speculative/zombie native-write attempt relies on
    when it overwrites a committed chunk file."""
    from pyspark.sql import functions as F

    from choetl_spark.engine import EncodeConfig, encode_dataframe

    rows = [
        ("https://dup.example.com/x", f"text body {i % 7}", "en")
        for i in range(64)
    ] + [
        (f"https://u{i}.example.com/", f"unique {i}", "de")
        for i in range(32)
    ]
    ddl = "url string, text string, lang string"
    cfg = EncodeConfig(
        num_partitions=4, chunk_rows=32, chunk_bytes=1 << 20,
        shuffle="salted", deterministic=True,
    )

    def payload_map(order_rows):
        df = spark.createDataFrame(order_rows, ddl).repartition(8)
        enc = encode_dataframe(df, cfg)
        return {
            (r["part_id"], r["column"], r["chunk_seq"]): bytes(r["payload"])
            for r in enc.collect()
        }

    a = payload_map(rows)
    b = payload_map(list(reversed(rows)))
    assert a.keys() == b.keys()
    assert all(a[k] == b[k] for k in a)


def test_store_write_byte_stable_without_key_column(spark, tmp_path):
    """A caller-planned frame WITHOUT the key column, written to a store
    by a deterministic encode under the salted shuffle, lands
    byte-identical chunk payloads from two different input orders: the
    full-row xxhash64 orders rows within each part when there is no key
    to sort by."""
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, read_encoded

    rows = [(i % 3, i * 7 % 50, f"body {i % 11}") for i in range(150)]
    ddl = "part_id long, n long, body string"
    cfg = EncodeConfig(
        num_partitions=4, chunk_rows=16, chunk_bytes=1 << 20,
        shuffle="salted", deterministic=True,
    )

    def payload_map(order_rows, name):
        out = str(tmp_path / name)
        df = spark.createDataFrame(order_rows, ddl).repartition(8)
        encode_with_resume(spark, df, out, cfg)
        return {
            (r["part_id"], r["column"], r["chunk_seq"]): bytes(r["payload"])
            for r in read_encoded(spark, out).collect()
        }

    a = payload_map(rows, "fwd")
    b = payload_map(list(reversed(rows)), "rev")
    assert a.keys() == b.keys()
    assert all(a[k] == b[k] for k in a)


def test_decode_kernels_reject_short_chunk():
    """A chunk that decodes to fewer rows than its ``n_rows`` is an
    integrity error in both decode kernels, not a short partition: a
    valid rle payload of half the rows decodes short without error on
    its own (a truncated payload already raises in the codec), and the
    kernels must refuse it, naming part, column and row_start."""
    import numpy as np
    import pyarrow as pa

    from choetl_spark.codecs import decode_array, encode_array
    from choetl_spark.engine import (
        _make_decode_kernel,
        _make_filtered_decode_kernel,
    )

    arr = pa.array((np.arange(5000) // 100 % 7).astype(np.int32))
    cut, meta = encode_array(arr.slice(0, 2500), codec="rle", zstd="off")
    assert len(decode_array(cut, meta)) == 2500  # short, no error

    feed = pa.record_batch(
        {
            "part_id": pa.array([7], pa.int64()),
            "column": ["c"],
            "payload": pa.array([cut], pa.binary()),
            "meta": [json.dumps(meta)],
            "row_start": pa.array([0], pa.int64()),
            "n_rows": pa.array([5000], pa.int64()),
        }
    )
    schema = pa.schema([("c", pa.int32())])
    kernels = [
        _make_decode_kernel(["c"], schema, 8192),
        _make_filtered_decode_kernel(["c"], schema, 8192, {"c": ("in", [3])}),
    ]
    for kernel in kernels:
        with pytest.raises(
            ValueError, match="part 7 column 'c' chunk at row_start 0"
        ):
            list(kernel(iter([feed])))
