"""The ``choetl`` Python Data Source (choetl_spark/datasource.py):
``spark.read.format("choetl")`` / ``df.write.format("choetl")`` /
``spark.readStream.format("choetl")`` over the encoded store.

The invariant throughout: every datasource path must agree EXACTLY
with the primary readers (``scan_encoded`` / ``read_encoded`` +
``decode_dataframe``) on the same store — commit resolution, time
travel, deletes, renames, and the bytes themselves.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from choetl_spark.datasource import (
    _bloom_kept,
    _pushdown_spec,
    register,
)
from choetl_spark.deletes import delete_where
from choetl_spark.engine import EncodeConfig
from choetl_spark.ledger import encode_with_resume, scan_encoded
from choetl_spark.synth import webpages

CFG = dict(num_partitions=4, chunk_rows=128, chunk_bytes=1 << 20)


@pytest.fixture(scope="module")
def ds_spark(spark):
    register(spark)
    return spark


def _key_rows(df):
    """Full-row multiset keyed for exact comparison (html is binary)."""
    return sorted(
        (r["url"], r["warc_ts"], bytes(r["html"]), r["text"], r["lang"])
        for r in df.select("url", "warc_ts", "html", "text", "lang").collect()
    )


@pytest.fixture()
def store(ds_spark, tmp_path):
    out = str(tmp_path / "store")
    pages = webpages(ds_spark, 600, partitions=3).cache()
    pages.count()
    encode_with_resume(
        ds_spark, pages, out, EncodeConfig(**CFG), run_id="ingest1"
    )
    yield out, pages
    pages.unpersist()


def test_batch_read_matches_scan_encoded(ds_spark, store):
    out, pages = store
    got = ds_spark.read.format("choetl").load(out)
    assert _key_rows(got) == _key_rows(pages)
    # and column-by-column schema agreement with the primary reader
    ref = scan_encoded(ds_spark, out)
    assert dict(got.dtypes) == dict(ref.dtypes)


def test_as_of_time_travel_and_append(ds_spark, store):
    out, pages = store
    # a disjoint second batch (the generator is deterministic by row id,
    # so slice a bigger table instead of re-seeding)
    more = (
        webpages(ds_spark, 800, partitions=2)
        .filter(
            ~F.col("url").isin(
                [r["url"] for r in pages.select("url").collect()]
            )
        )
        # appends into an existing store must namespace their part_ids
        # (resume-by-part_id would otherwise skip them as already done)
        .withColumn(
            "part_id", (F.lit(100) + F.spark_partition_id()).cast("long")
        )
        .cache()
    )
    n_more = more.count()
    assert n_more > 0
    encode_with_resume(
        ds_spark, more, out, EncodeConfig(**CFG), run_id="ingest2"
    )
    snap1 = ds_spark.read.format("choetl").option("as_of", 1).load(out)
    assert _key_rows(snap1) == _key_rows(pages)
    latest = ds_spark.read.format("choetl").load(out)
    assert len(_key_rows(latest)) == 600 + n_more
    more.unpersist()


def test_positional_deletes_subtracted(ds_spark, store):
    out, pages = store
    victim = pages.select("lang").first()["lang"]
    delete_where(ds_spark, out, equals={"lang": victim})
    got = ds_spark.read.format("choetl").load(out)
    want = pages.filter(F.col("lang") != victim)
    assert _key_rows(got) == _key_rows(want)
    # time travel back to before the delete still sees every row
    pre = ds_spark.read.format("choetl").option("as_of", 1).load(out)
    assert _key_rows(pre) == _key_rows(pages)


def test_eq_deletes_subtracted_with_reinsert_and_rewrite(ds_spark, store):
    """Equality deletes apply task-side under the strict data-seq <
    delete-seq rule: deleted keys vanish, time travel sees pre-delete
    state, a key re-inserted AFTER the delete survives, and a
    materializing rewrite leaves the datasource read unchanged."""
    out, pages = store
    from choetl_spark.deletes import rewrite_partitions
    from choetl_spark.eqdeletes import delete_by_key

    a_url, b_url = [
        r["url"] for r in pages.select("url").limit(2).collect()
    ]
    delete_by_key(ds_spark, out, "url", [a_url, b_url])
    got = ds_spark.read.format("choetl").load(out)
    want = pages.filter(~F.col("url").isin([a_url, b_url]))
    assert _key_rows(got) == _key_rows(want)
    pre = ds_spark.read.format("choetl").option("as_of", 1).load(out)
    assert _key_rows(pre) == _key_rows(pages)
    reborn = pages.filter(F.col("url") == a_url).withColumn(
        "part_id", F.lit(500).cast("long")
    )
    encode_with_resume(
        ds_spark, reborn, out, EncodeConfig(**CFG), run_id="reborn"
    )
    got2 = ds_spark.read.format("choetl").load(out)
    want2 = pages.filter(F.col("url") != b_url)
    assert _key_rows(got2) == _key_rows(want2)
    rewrite_partitions(
        ds_spark, out, min_deleted_fraction=0.0, cfg=EncodeConfig(**CFG)
    )
    got3 = ds_spark.read.format("choetl").load(out)
    assert _key_rows(got3) == _key_rows(want2)


def test_empty_store_reads_empty(ds_spark, tmp_path):
    out = str(tmp_path / "estore")
    empty = webpages(ds_spark, 10, partitions=1).filter(F.lit(False))
    empty.write.format("choetl").mode("append").save(out)
    got = ds_spark.read.format("choetl").load(out)
    assert got.count() == 0
    assert set(got.columns) == {"url", "warc_ts", "html", "text", "lang"}


def test_writer_rejects_caller_part_id(ds_spark, tmp_path):
    df = webpages(ds_spark, 10, partitions=1).withColumn(
        "part_id", F.lit(0)
    )
    with pytest.raises(Exception, match="part_id"):
        df.write.format("choetl").mode("append").save(
            str(tmp_path / "pstore")
        )


def _chunk_mask(arr: pa.Array, op: tuple, codec: str = "auto"):
    from choetl_spark.codecs import encode_array
    from choetl_spark.engine import _eval_chunk_mask

    payload, meta = encode_array(arr, codec=codec)
    return _eval_chunk_mask(payload, meta, op, n_rows=len(arr)).tolist()


def test_out_of_range_in_mask_is_skipped():
    from pyspark.sql.datasource import GreaterThan, In

    items = [("i", {"dtype": "int8"})]
    # 300 cannot build an int8 value set -> no mask at all
    assert _pushdown_spec([In(("i",), (300, 1))], items) == {}
    # a range bound the storage type cannot hold keeps the whole chunk
    # (the evaluator must never drop a row, nor kill the task)
    spec = _pushdown_spec([GreaterThan(("i",), 3000)], items)
    assert spec == {"i": ("range", 3000, None)}
    assert _chunk_mask(pa.array([1, 2], pa.int8()), spec["i"]) == [True, True]


def test_rename_is_followed(ds_spark, store):
    out, pages = store
    from choetl_spark.schema_evolution import rename_column

    rename_column(out, "lang", "language")
    got = ds_spark.read.format("choetl").load(out)
    assert "language" in got.columns and "lang" not in got.columns
    assert sorted(
        r["language"] for r in got.select("language").collect()
    ) == sorted(r["lang"] for r in pages.select("lang").collect())


def test_pushdown_filter_parity(ds_spark, store):
    out, pages = store
    victim = pages.select("lang").first()["lang"]
    got = (
        ds_spark.read.format("choetl")
        .load(out)
        .filter((F.col("lang") == victim) & F.col("url").isNotNull())
    )
    want = pages.filter(F.col("lang") == victim)
    assert _key_rows(got) == _key_rows(want)


def test_mask_units_are_exact():
    """Filter -> spec translation plus the engine's chunk mask: a mask
    never drops a row Spark's filter keeps (nulls drop under eq/range),
    IN/EqualTo masks are exact, strict comparisons widen to inclusive
    bounds, and floats, timestamps, null checks and nested/decimal
    columns are never masked."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNull, LessThan,
        LessThanOrEqual,
    )

    items = [
        ("s", {"dtype": "string"}),
        ("i", {"dtype": "int64"}),
        ("b", {"dtype": "bool"}),
        ("f", {"dtype": "float64"}),
        ("t", {"dtype": "timestamp[us][UTC]"}),
        ("d", {"dtype": "string", "logical": "decimal(12,2)"}),
    ]
    unmasked = [
        GreaterThan(("f",), 0.0),
        EqualTo(("t",), 1),
        IsNull(("s",)),
        EqualTo(("d",), "1.00"),
    ]
    assert _pushdown_spec(unmasked, items) == {}
    data = {
        "s": pa.array(["x", None, "y", "x", "w"]),
        "i": pa.array([1, 3, None, 2, 5], pa.int64()),
        "b": pa.array([True, None, False, True, False]),
    }
    cases = [
        (EqualTo(("s",), "x"), lambda v: v == "x"),
        (In(("s",), ("y", "zz")), lambda v: v in ("y", "zz")),
        (In(("i",), (1, 3)), lambda v: v in (1, 3)),
        (EqualTo(("b",), True), lambda v: v is True),
        (GreaterThan(("i",), 2), lambda v: v > 2),
        (GreaterThanOrEqual(("s",), "x"), lambda v: v >= "x"),
        (LessThan(("i",), 3), lambda v: v < 3),
        (LessThanOrEqual(("s",), "x"), lambda v: v <= "x"),
    ]
    for f, keeps in cases:
        (col, op), = _pushdown_spec([f], items).items()
        assert col == f.attribute[0]
        spark_keeps = [
            v is not None and keeps(v) for v in data[col].to_pylist()
        ]
        for codec in ("auto", "plain", "dict"):
            if codec == "dict" and col == "b":
                continue
            mask = _chunk_mask(data[col], op, codec)
            dropped = [k and not m for m, k in zip(mask, spark_keeps)]
            assert not any(dropped), (f, codec)
            if op[0] == "in":
                assert mask == spark_keeps, (f, codec)
    # ranges on one column merge; an IN on the column beats the range
    both = [GreaterThan(("i",), 1), LessThanOrEqual(("i",), 4)]
    assert _pushdown_spec(both, items) == {"i": ("range", 1, 4)}
    assert _pushdown_spec([*both, In(("i",), (2,))], items) == {
        "i": ("in", [2])
    }
    assert _pushdown_spec(
        [EqualTo(("s",), "x"), In(("i",), (1,))], items
    ) == {"s": ("in", ["x"]), "i": ("in", [1])}


def test_bloom_chunk_selection(ds_spark, tmp_path):
    """Task-side Bloom skipping: a present url keeps fewer than half of
    the store's url chunks (its own among them); a chunk without a
    Bloom is always kept; chunks of other columns are never dropped."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = str(tmp_path / "bstore")
    pages = webpages(ds_spark, 600, partitions=3)
    encode_with_resume(
        ds_spark, pages, out,
        EncodeConfig(**CFG, bloom_columns=("url",)), run_id="b1",
    )
    chunks = pa.concat_tables(
        pq.read_table(p, columns=["column", "stats"])
        for p in sorted(glob.glob(os.path.join(out, "chunks", "*.parquet")))
    )
    names = chunks.column("column").to_pylist()
    target = pages.select("url").orderBy("url").first()["url"]
    kept = _bloom_kept(chunks, names, {"url": [target]})
    url_kept = [k for n, k in zip(names, kept) if n == "url"]
    assert 1 <= sum(url_kept) < len(url_kept) / 2
    assert all(k for n, k in zip(names, kept) if n != "url")
    # strip every Bloom: nothing may be skipped any more
    bare = chunks.set_column(
        1, "stats", pa.array(["{}"] * chunks.num_rows, pa.string())
    )
    assert all(_bloom_kept(bare, names, {"url": [target]}))


def test_writer_roundtrip_append_and_overwrite(ds_spark, tmp_path):
    out = str(tmp_path / "wstore")
    pages = webpages(ds_spark, 400, partitions=3).cache()
    pages.count()
    pages.write.format("choetl").mode("append").save(out)
    back = scan_encoded(ds_spark, out)
    assert _key_rows(back) == _key_rows(pages)
    # the datasource read path agrees with the primary reader
    assert _key_rows(ds_spark.read.format("choetl").load(out)) == _key_rows(
        pages
    )
    # second append: no resume-skips, no part_id collisions
    big = webpages(ds_spark, 520, partitions=2).cache()
    more = big.join(pages.select("url"), "url", "left_anti").cache()
    n_more = more.count()
    assert n_more > 0
    more.select(*pages.columns).write.format("choetl").mode(
        "append"
    ).save(out)
    assert len(_key_rows(scan_encoded(ds_spark, out))) == 400 + n_more
    # overwrite = atomic replace snapshot; history stays time-travelable
    fresh = big.limit(100).cache()
    fresh.count()
    fresh.select(*pages.columns).write.format("choetl").mode(
        "overwrite"
    ).save(out)
    assert _key_rows(scan_encoded(ds_spark, out)) == _key_rows(fresh)
    assert len(_key_rows(scan_encoded(ds_spark, out, as_of=2))) == 400 + n_more
    big.unpersist()
    more.unpersist()
    fresh.unpersist()
    from choetl_spark.ledger import snapshots

    ops = {
        r["run_seq"]: r["operation"]
        for r in snapshots(ds_spark, out).collect()
    }
    assert ops[3] == "replace"
    pages.unpersist()


def test_writer_refuses_nested_columns(ds_spark, tmp_path):
    df = ds_spark.range(3).withColumn("s", F.struct(F.col("id")))
    with pytest.raises(Exception, match="nested"):
        df.write.format("choetl").mode("append").save(
            str(tmp_path / "bad")
        )


def test_stream_reads_epochs(ds_spark, tmp_path):
    out = str(tmp_path / "sstore")
    first = webpages(ds_spark, 200, partitions=2)
    encode_with_resume(
        ds_spark, first, out, EncodeConfig(**CFG), run_id="e1"
    )
    second = webpages(ds_spark, 300, partitions=2).join(
        first.select("url"), "url", "left_anti"
    ).select(*first.columns).cache()
    assert second.count() > 0
    encode_with_resume(
        ds_spark,
        second.withColumn(
            "part_id", (F.lit(100) + F.spark_partition_id()).cast("long")
        ),
        out,
        EncodeConfig(**CFG),
        run_id="e2",
    )
    q = (
        ds_spark.readStream.format("choetl")
        .load(out)
        .writeStream.format("memory")
        .queryName("ds_stream_all")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = ds_spark.table("ds_stream_all")
    assert _key_rows(got) == _key_rows(first.unionByName(second))
    # start_seq skips already-consumed epochs
    q2 = (
        ds_spark.readStream.format("choetl")
        .option("start_seq", 1)
        .load(out)
        .writeStream.format("memory")
        .queryName("ds_stream_tail")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert _key_rows(ds_spark.table("ds_stream_tail")) == _key_rows(second)


def test_stream_change_commit_raises_unless_skipped(ds_spark, tmp_path):
    out = str(tmp_path / "cstore")
    first = webpages(ds_spark, 200, partitions=2)
    encode_with_resume(
        ds_spark, first, out, EncodeConfig(**CFG), run_id="e1"
    )
    victim = first.select("lang").first()["lang"]
    delete_where(ds_spark, out, equals={"lang": victim})
    q = (
        ds_spark.readStream.format("choetl")
        .load(out)
        .writeStream.format("memory")
        .queryName("ds_stream_raise")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="delete/replace|StreamingQuery"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    q2 = (
        ds_spark.readStream.format("choetl")
        .option("skip_change_commits", "true")
        .load(out)
        .writeStream.format("memory")
        .queryName("ds_stream_skip")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # appends still stream; the delete epoch contributes nothing
    assert _key_rows(ds_spark.table("ds_stream_skip")) == _key_rows(first)
