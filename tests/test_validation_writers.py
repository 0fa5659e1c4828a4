"""Validation/error modes (§2.3) + writer round-trips (§2.2) + the
streaming-analog incremental encode (foreachBatch → ledger resume)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from choetl_spark import sources as src
from choetl_spark.functions.validation import (
    Rule,
    try_cast_with_fallback,
    validate_ignore,
    validate_or_fail,
    validate_split,
)


@pytest.fixture()
def people(spark):
    return spark.createDataFrame(
        [(1, "alice", "30"), (2, "", "x"), (3, "carol", "-5"), (4, "dan", "44")],
        "id int, name string, age_s string",
    )


def _rules():
    return [
        Rule("name_nonempty", F.length(F.trim("name")) > 0),
        Rule("age_numeric", F.col("age_s").try_cast("int").isNotNull()),
        Rule("age_positive", F.col("age_s").try_cast("int") > 0),
    ]


def test_try_cast_with_fallback(spark, people):
    out = people.select(
        try_cast_with_fallback(F.col("age_s"), "int", fallback=0).alias("age")
    )
    assert [r["age"] for r in out.collect()] == [30, 0, -5, 44]


def test_validate_ignore(people):
    assert {r["id"] for r in validate_ignore(people, _rules()).collect()} == {1, 4}


def test_validate_split(people):
    good, bad = validate_split(people, _rules())
    assert {r["id"] for r in good.collect()} == {1, 4}
    reasons = {r["id"]: set(r["_violations"]) for r in bad.collect()}
    assert reasons[2] == {"name_nonempty", "age_numeric", "age_positive"}
    assert reasons[3] == {"age_positive"}


def test_validate_or_fail(spark, people):
    ok = people.filter(F.col("id").isin(1, 4))
    assert len(validate_or_fail(ok, _rules()).collect()) == 2
    assert validate_or_fail(ok, _rules()).count() == 2
    with pytest.raises(Exception, match="validation failed"):
        validate_or_fail(people, _rules()).collect()
    # the filter-predicate guard survives column pruning: even a bare
    # count() (zero columns read) must enforce it
    with pytest.raises(Exception, match="validation failed"):
        validate_or_fail(people, _rules()).count()


# --- writers -----------------------------------------------------------------


def test_csv_write_read_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 'comma, "quoted"'), (2, "plain")], "id int, s string"
    )
    p = str(tmp_path / "out_csv")
    src.write_csv(df, p, escape='"')
    back = src.read_csv(spark, p, escape='"')
    assert {(r["id"], r["s"]) for r in back.collect()} == {
        (1, 'comma, "quoted"'),
        (2, "plain"),
    }


def test_json_write_read_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, [1, 2]), (2, [])], "id int, xs array<int>")
    p = str(tmp_path / "out_json")
    src.write_json(df, p)
    back = src.read_json(spark, p)
    assert back.count() == 2


def test_avro_roundtrip(spark, tmp_path):
    """Avro write->read executes (spark-avro when deployed, else the
    pure-Python container bridge): nullable ints, strings, doubles,
    bytes, bools, timestamps; deflate codec. Reference bar:
    src/Test/ChoAvroReaderTest/Program.cs:73-96."""
    import datetime as dt

    rows = [
        (1, "alpha", 1.5, b"\x00\x01", True,
         dt.datetime(2023, 7, 22, 1, 2, 3, 456789)),
        (2, None, None, None, None, None),
        (3, "bêta", -2.25, b"", False,
         dt.datetime(1969, 12, 31, 23, 59, 59, 999999)),
    ]
    df = spark.createDataFrame(
        rows,
        "id bigint, name string, score double, blob binary, ok boolean, "
        "ts timestamp",
    )
    p = str(tmp_path / "out_avro")
    src.write_avro(df, p, codec="deflate")
    back = src.read_avro(spark, p)
    assert sorted(back.columns) == sorted(df.columns)
    a = df.select(*sorted(df.columns))
    b = back.select(*sorted(df.columns))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_avro_nullable_bigint_beyond_2_53(spark, tmp_path):
    """A nullable long column with a null plus values > 2^53 must survive
    the read bit-exact: the fallback reader builds per-column object
    series, so pandas never coerces the column to float64 (which would
    silently round xxhash64-scale ids; ADVICE r2)."""
    big = (1 << 60) + 7  # not representable in float64
    rows = [(1, big), (2, None), (3, -(1 << 59) - 3)]
    df = spark.createDataFrame(rows, "id bigint, h bigint")
    p = str(tmp_path / "bigint_avro")
    src.write_avro(df, p)
    got = {
        r["id"]: r["h"] for r in src.read_avro(spark, p).collect()
    }
    assert got == {1: big, 2: None, 3: -(1 << 59) - 3}


def test_avro_null_codec_and_container_format(tmp_path):
    """Container-level golden checks on the pure-Python writer: magic,
    schema in metadata, sync-marked blocks, null codec round-trip."""
    import io

    from choetl_spark.sources.avro_py import read_container, write_container

    schema = {
        "type": "record", "name": "row",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    buf = io.BytesIO()
    n = write_container(
        buf, schema, [{"k": i, "s": None if i % 3 == 0 else f"v{i}"}
                      for i in range(1000)],
        codec="null", block_rows=128,
    )
    assert n == 1000
    raw = buf.getvalue()
    assert raw[:4] == b"Obj\x01"
    got_schema, rows = read_container(raw)
    got = list(rows)
    assert got_schema == schema
    assert len(got) == 1000
    assert got[5] == {"k": 5, "s": "v5"}
    assert got[6] == {"k": 6, "s": None}


# --- streaming analog: incremental encode via foreachBatch ------------------


def test_incremental_encode_foreachbatch(spark, tmp_path):
    """The Spark analog of ChoETL's Append mode done right: micro-batch
    epochs get disjoint partition namespaces; a RETRIED epoch is a
    no-op (ledger resume = foreachBatch idempotence); decoding the full
    encoded table recovers the union of all batches bit-identically."""
    from choetl_spark.engine import EncodeConfig, decode_dataframe, verify_roundtrip
    from choetl_spark.ledger import _ledger_table, read_encoded
    from choetl_spark.streaming import incremental_encode
    from choetl_spark.synth import webpages

    out = str(tmp_path / "inc")
    cfg = EncodeConfig(num_partitions=4, chunk_rows=256)
    all_pages = webpages(spark, 600, partitions=2).cache()
    b1 = all_pages.filter(F.col("url").contains("/page/1"))  # deterministic split
    b2 = all_pages.subtract(b1)

    r1 = incremental_encode(spark, b1, out, cfg, epoch=0)
    assert r1["partitions_encoded_this_run"] >= 1
    # epoch retry (same data, same epoch) is a no-op
    r1b = incremental_encode(spark, b1, out, cfg, epoch=0)
    assert r1b["partitions_encoded_this_run"] == 0
    # next epoch encodes its own namespace
    r2 = incremental_encode(spark, b2, out, cfg, epoch=1)
    assert r2["partitions_encoded_this_run"] >= 1
    assert r2["partitions_already_done"] == 0  # disjoint namespace

    pids = [r["part_id"] for r in _ledger_table(out).to_pylist()]
    assert len(pids) == len(set(pids))
    decoded = decode_dataframe(read_encoded(spark, out))
    assert verify_roundtrip(all_pages, decoded) == 0


def test_streaming_readstream_foreachbatch_end_to_end(spark, tmp_path):
    """REAL Structured Streaming pipeline: a file-source readStream
    drained with trigger(availableNow) through writeStream.foreachBatch
    -> incremental_encode; decoding the committed chunk store recovers
    every streamed row bit-identically. (The direct-call test above
    covers epoch semantics; this one proves the actual streaming
    plumbing — schema-d readStream, micro-batch dispatch, checkpoint
    dir — works end to end.)"""
    from choetl_spark.engine import (
        EncodeConfig,
        decode_dataframe,
        verify_roundtrip,
    )
    from choetl_spark.ledger import read_encoded
    from choetl_spark.streaming import incremental_encode
    from choetl_spark.synth import webpages

    src_dir = tmp_path / "stream_in"
    out = str(tmp_path / "stream_enc")
    ckpt = str(tmp_path / "ckpt")
    pages = webpages(spark, 400, partitions=2).cache()
    pages.count()
    # two source files = at least one micro-batch each under availableNow
    pages.filter(F.col("url").contains("/page/1")).write.parquet(
        str(src_dir / "f1")
    )
    pages.filter(~F.col("url").contains("/page/1")).write.parquet(
        str(src_dir / "f2")
    )
    cfg = EncodeConfig(num_partitions=4, chunk_rows=256)
    stream = (
        spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, epoch: incremental_encode(
                spark, batch, out, cfg, epoch=epoch
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    decoded = decode_dataframe(read_encoded(spark, out))
    assert verify_roundtrip(pages, decoded) == 0


def test_avro_bridge_non_utc_session_tz(spark, tmp_path):
    """Regression: the bridge stores UTC epoch micros; reads must come
    back tz-aware or Spark reinterprets them in the session TZ and
    shifts every value by the UTC offset."""
    import datetime as dt

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.createDataFrame(
            [(1, dt.datetime(2023, 7, 22, 1, 2, 3, 456789))],
            "id long, ts timestamp",
        )
        p = str(tmp_path / "tz_avro")
        src.write_avro(df, p)
        back = src.read_avro(spark, p)
        assert back.collect()[0]["ts"] == df.collect()[0]["ts"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_bson_pre_epoch_and_subms_timestamps():
    """Regression: integer ms arithmetic — pre-1970 values must not
    shift by 1ms (float truncation), sub-ms rounds to nearest ms."""
    import datetime as dt

    from choetl_spark.sources.bson_py import decode_document, encode_document

    utc = dt.timezone.utc
    cases = [
        (dt.datetime(1969, 12, 31, 23, 59, 55, 905000, tzinfo=utc),
         dt.datetime(1969, 12, 31, 23, 59, 55, 905000, tzinfo=utc)),
        (dt.datetime(2023, 7, 22, 1, 2, 3, 456789, tzinfo=utc),
         dt.datetime(2023, 7, 22, 1, 2, 3, 457000, tzinfo=utc)),  # round up
        (dt.datetime(1969, 12, 31, 23, 59, 59, 999400, tzinfo=utc),
         dt.datetime(1969, 12, 31, 23, 59, 59, 999000, tzinfo=utc)),
    ]
    for given, want in cases:
        doc, _ = decode_document(
            memoryview(encode_document({"t": given}))
        )
        assert doc["t"] == want, (given, doc["t"], want)


def test_bson_objectid_decodes_to_hex():
    """mongodump documents always carry an ObjectId _id (type 0x07)."""
    import struct

    from choetl_spark.sources.bson_py import decode_document

    oid = bytes(range(12))
    body = b"\x07_id\x00" + oid
    raw = struct.pack("<i", len(body) + 5) + body + b"\x00"
    doc, _ = decode_document(memoryview(raw))
    assert doc["_id"] == oid.hex()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """REAL streaming dedup: a file-source stream carrying exact and
    whitespace-variant duplicates across two source files is drained
    with availableNow through dropDuplicatesWithinWatermark; exactly
    one row per normalized fingerprint survives."""
    import datetime as dt

    from choetl_spark.streaming import dedup_stream

    src = tmp_path / "dedup_in"
    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows1 = [
        (1, base, "hello world"),
        (2, base + dt.timedelta(seconds=10), "other doc"),
    ]
    rows2 = [
        (3, base + dt.timedelta(seconds=20), "  Hello   WORLD "),  # dup of 1
        (4, base + dt.timedelta(seconds=30), "third doc"),
        (5, base + dt.timedelta(seconds=40), "other doc"),          # dup of 2
    ]
    schema = "doc_id long, ts timestamp, text string"
    spark.createDataFrame(rows1, schema).write.parquet(str(src / "f1"))
    spark.createDataFrame(rows2, schema).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    deduped = dedup_stream(stream, "ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    got = spark.sql("select * from dedup_sink").collect()
    # one survivor per fingerprint; first arrival (min doc_id) wins
    assert sorted(r["doc_id"] for r in got) == [1, 2, 4]
    assert len({r["fingerprint"] for r in got}) == 3
