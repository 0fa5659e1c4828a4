"""The ``choetl`` Python Data Source (choetl_spark/datasource.py):
``spark.read.format("choetl")`` / ``df.write.format("choetl")`` /
``spark.readStream.format("choetl")`` over the encoded store.

The reader is the store's one row-read path (``scan_encoded`` and
``point_lookup`` are front-ends over it), so the invariant throughout
is behavioural: a read returns exactly the rows, bytes and column types
of the source data it stores, after commit resolution, time travel,
deletes and renames — checked against the source DataFrame, never
against another reader.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from conftest import distributed
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


def test_batch_read_matches_source(ds_spark, store):
    out, pages = store
    got = ds_spark.read.format("choetl").load(out)
    assert _key_rows(got) == _key_rows(pages)
    # and column-by-column type agreement with the source
    assert dict(got.dtypes) == dict(pages.dtypes)
    # scan_encoded's default projection: every column, in name order
    assert scan_encoded(ds_spark, out).columns == sorted(pages.columns)


def test_projected_read_skips_unrequested_eq_key(ds_spark, store):
    """A ``.schema()`` naming only ``url`` decodes just that column;
    an equality delete keyed on the unprojected ``lang`` still
    subtracts (the key decodes for the subtraction, then drops)."""
    from choetl_spark.eqdeletes import delete_by_key

    out, pages = store
    victim = pages.select("lang").first()["lang"]
    delete_by_key(ds_spark, out, "lang", [victim])
    got = ds_spark.read.format("choetl").schema("`url` string").load(out)
    assert got.columns == ["url"]
    want = pages.filter(F.col("lang") != victim)
    assert sorted(r["url"] for r in got.collect()) == sorted(
        r["url"] for r in want.select("url").collect()
    )
    # and in a different column order than the store's
    two = ds_spark.read.format("choetl").schema(
        "`text` string, `url` string"
    ).load(out)
    assert sorted(tuple(r) for r in two.collect()) == sorted(
        tuple(r) for r in want.select("text", "url").collect()
    )


def test_range_scan_runs_at_most_two_jobs(ds_spark, store):
    """A 1% ``warc_ts`` range through ``scan_encoded`` is one
    ``format("choetl")`` read: at most 2 Spark jobs, exact rows."""
    out, pages = store
    ts = sorted(r["warc_ts"] for r in pages.select("warc_ts").collect())
    lo, hi = ts[300], ts[305]
    sc = ds_spark.sparkContext
    sc.setJobGroup("range-scan-jobs", "1% range")
    try:
        got = scan_encoded(
            ds_spark, out, ["url", "warc_ts"], ranges={"warc_ts": (lo, hi)}
        ).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("range-scan-jobs")
    assert len(jobs) <= 2, jobs
    want = pages.filter(F.col("warc_ts").between(lo, hi))
    assert sorted(r["url"] for r in got) == sorted(
        r["url"] for r in want.select("url").collect()
    )


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


def test_hidden_coordinates_and_part_id_pushdown(ds_spark, store):
    """``_part_id`` / ``_row_pos`` are emitted only when the read
    schema names them, address each row exactly (a deleted row's
    coordinates are gone), and a ``_part_id`` filter restricts the
    planned partitions."""
    from pyspark.sql.datasource import EqualTo, In

    from choetl_spark.datasource import ChoetlBatchReader, load_store
    from choetl_spark.ledger import read_manifest

    out, pages = store
    assert "_part_id" not in ds_spark.read.format("choetl").load(out).columns
    cols = ["url", "_part_id", "_row_pos"]
    before = {
        (r["_part_id"], r["_row_pos"]): r["url"]
        for r in load_store(ds_spark, out, cols).collect()
    }
    assert sorted(before.values()) == sorted(
        r["url"] for r in pages.select("url").collect()
    )
    victim = sorted(before.values())[0]
    delete_where(ds_spark, out, equals={"url": victim})
    df = load_store(ds_spark, out, cols)
    after = {(r["_part_id"], r["_row_pos"]): r["url"] for r in df.collect()}
    assert after == {k: u for k, u in before.items() if u != victim}

    part = min(p for p, _ in after)
    reader = ChoetlBatchReader({"path": out}, df.schema)
    for f in (EqualTo(("_part_id",), part), In(("_part_id",), (part,))):
        reader.pushFilters([f])
        assert {p for s in reader.partitions() for p in s.parts} == {part}
    one = df.filter(F.col("_part_id") == part).collect()
    assert sorted(r["url"] for r in one) == sorted(
        u for (p, _), u in after.items() if p == part
    )
    assert read_manifest(out).keys().isdisjoint({"_part_id", "_row_pos"})


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
    bounds, and floats, null checks, nested/decimal columns and
    timestamps against anything but an aware literal are never
    masked."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNull, LessThan,
        LessThanOrEqual,
    )

    from conftest import driver_tz

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

    # timestamps and dates. Spark hands pushFilters aware datetimes in
    # the SESSION zone (a non-UTC one here) and dates as datetime.date;
    # the driver's OS zone must not matter. Naive ``timestamp[us]``
    # storage holds micros Spark reads as UTC instants.
    utc, la = dt.timezone.utc, ZoneInfo("America/Los_Angeles")
    base = dt.datetime(2023, 7, 22, 21, 43, 20, 773236, tzinfo=utc)
    inst = [base + dt.timedelta(hours=h) for h in (-30, -1, 0, 1, 30)]
    titems = [
        ("t", {"dtype": "timestamp[us][UTC]"}),
        ("tn", {"dtype": "timestamp[us]"}),
        ("dd", {"dtype": "date32"}),
    ]
    tdata = {
        "t": pa.array([*inst, None], pa.timestamp("us", tz="UTC")),
        "tn": pa.array(
            [*(v.replace(tzinfo=None) for v in inst), None],
            pa.timestamp("us"),
        ),
        "dd": pa.array([*(v.date() for v in inst), None], pa.date32()),
    }

    def as_instant(v):
        return v.replace(tzinfo=utc) if v.tzinfo is None else v

    pivot, far = inst[2].astimezone(la), inst[4].astimezone(la)
    day = inst[2].date()
    assert _pushdown_spec(
        [GreaterThan(("t",), pivot.replace(tzinfo=None)),
         EqualTo(("dd",), inst[2])],
        titems,
    ) == {}  # naive timestamp literal; datetime against a date column
    tcases = [
        (GreaterThanOrEqual(("t",), pivot), lambda v: v >= pivot),
        (LessThan(("t",), pivot), lambda v: v < pivot),
        (EqualTo(("t",), pivot), lambda v: v == pivot),
        (In(("t",), (pivot, far)), lambda v: v in (pivot, far)),
        (GreaterThan(("tn",), pivot), lambda v: as_instant(v) > pivot),
        (LessThanOrEqual(("tn",), pivot), lambda v: as_instant(v) <= pivot),
        (EqualTo(("tn",), pivot), lambda v: as_instant(v) == pivot),
        (GreaterThanOrEqual(("dd",), day), lambda v: v >= day),
        (LessThan(("dd",), day), lambda v: v < day),
        (In(("dd",), (day,)), lambda v: v == day),
    ]
    with driver_tz("Asia/Tokyo"):
        for f, keeps in tcases:
            (col, op), = _pushdown_spec([f], titems).items()
            spark_keeps = [
                v is not None and keeps(v) for v in tdata[col].to_pylist()
            ]
            assert any(spark_keeps) and not all(spark_keeps), f
            for codec in ("auto", "plain", "dict"):
                mask = _chunk_mask(tdata[col], op, codec)
                dropped = [k and not m for m, k in zip(mask, spark_keeps)]
                assert not any(dropped), (f, codec)
                if op[0] == "in":
                    assert mask == spark_keeps, (f, codec)


def test_time_masks_keep_every_row_spark_keeps(ds_spark, tmp_path):
    """End to end under a non-UTC session zone and driver OS zone:
    comparisons and IN on a timestamp column (zoned and naive storage)
    and on a date column return exactly the rows the same predicate
    keeps over an unfiltered read, which no mask touches."""
    from conftest import driver_tz

    src = webpages(ds_spark, 300, partitions=2).select(
        "url",
        "warc_ts",
        F.to_date("warc_ts").alias("day"),
        F.col("warc_ts").cast("timestamp_ntz").alias("wall"),
    )
    zoned = str(tmp_path / "zoned")
    encode_with_resume(
        ds_spark, src.drop("wall"), zoned, EncodeConfig(**CFG), run_id="z1"
    )
    naive = str(tmp_path / "naive")
    src.select("url", "wall").write.format("choetl").mode("append").save(
        naive
    )
    prev = ds_spark.conf.get("spark.sql.session.timeZone")
    ds_spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        with driver_tz("Asia/Tokyo"):
            for path, col in (
                (zoned, "warc_ts"), (zoned, "day"), (naive, "wall")
            ):
                df = ds_spark.read.format("choetl").load(path)
                as_int = (F.unix_date if col == "day" else F.unix_micros)(
                    F.col(col)
                )
                ints = sorted(r[0] for r in df.select(as_int).collect())
                p, q = ints[len(ints) // 2], ints[-3]
                pv, qv = (
                    df.filter(as_int == x).select(col).first()[0]
                    for x in (p, q)
                )
                for pred, keep in (
                    (F.col(col) >= pv, lambda v: v >= p),
                    (F.col(col) < pv, lambda v: v < p),
                    (F.col(col) == pv, lambda v: v == p),
                    (F.col(col).isin(pv, qv), lambda v: v in (p, q)),
                ):
                    got = sorted(
                        r[0] for r in df.filter(pred).select(as_int).collect()
                    )
                    assert got == [v for v in ints if keep(v)], (col, pred)
    finally:
        ds_spark.conf.set("spark.sql.session.timeZone", prev)


def test_time_predicates_through_scan_encoded_keep_every_row(
    ds_spark, tmp_path
):
    """``scan_encoded`` ranges and equals on a timestamp column (zoned
    and naive storage) and a date column, under a non-UTC session zone
    and driver OS zone: the filters the read pushes (and the zone maps
    they prune by) keep exactly the rows the same bounds keep over an
    unfiltered read."""
    from conftest import driver_tz

    src = webpages(ds_spark, 300, partitions=2).select(
        "url",
        "warc_ts",
        F.to_date("warc_ts").alias("day"),
        F.col("warc_ts").cast("timestamp_ntz").alias("wall"),
    )
    zoned = str(tmp_path / "zoned")
    encode_with_resume(
        ds_spark, src.drop("wall"), zoned, EncodeConfig(**CFG), run_id="z1"
    )
    naive = str(tmp_path / "naive")
    src.select("url", "wall").write.format("choetl").mode("append").save(
        naive
    )
    prev = ds_spark.conf.get("spark.sql.session.timeZone")
    ds_spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        with driver_tz("Asia/Tokyo"):
            for path, col in (
                (zoned, "warc_ts"), (zoned, "day"), (naive, "wall")
            ):
                df = ds_spark.read.format("choetl").load(path)
                as_int = (F.unix_date if col == "day" else F.unix_micros)(
                    F.col(col)
                )
                ints = sorted(r[0] for r in df.select(as_int).collect())
                lo, p, q = ints[0], ints[len(ints) // 2], ints[-3]
                lov, pv, qv = (
                    df.filter(as_int == x).select(col).first()[0]
                    for x in (lo, p, q)
                )
                for kw, keep in (
                    ({"ranges": {col: (pv, qv)}}, lambda v: p <= v <= q),
                    ({"ranges": {col: (lov, pv)}}, lambda v: v <= p),
                    ({"equals": {col: pv}}, lambda v: v == p),
                    ({"equals": {col: [pv, qv]}}, lambda v: v in (p, q)),
                ):
                    got = sorted(
                        r[0]
                        for r in scan_encoded(ds_spark, path, [col], **kw)
                        .select(as_int).collect()
                    )
                    assert got == [v for v in ints if keep(v)], (col, kw)
    finally:
        ds_spark.conf.set("spark.sql.session.timeZone", prev)


test_time_predicates_through_scan_encoded_keep_every_row_distributed = (
    distributed(test_time_predicates_through_scan_encoded_keep_every_row)
)


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


def test_writer_appends_to_store_of_another_session_zone(ds_spark, tmp_path):
    """A store whose timestamps were encoded in a non-UTC session takes a
    ``format("choetl")`` append that names no ``timezone``: the zone tag
    is display metadata over the same UTC micros, not a type change."""
    out = str(tmp_path / "zstore")
    pages = webpages(ds_spark, 40, partitions=1).cache()
    half = F.xxhash64("url") % 2 == 0
    first, second = pages.filter(half), pages.filter(~half)
    prev = ds_spark.conf.get("spark.sql.session.timeZone")
    ds_spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        encode_with_resume(ds_spark, first, out, EncodeConfig(**CFG))
        second.write.format("choetl").mode("append").save(out)
    finally:
        ds_spark.conf.set("spark.sql.session.timeZone", prev)
    assert _key_rows(scan_encoded(ds_spark, out)) == _key_rows(pages)
    pages.unpersist()


def _chunk_files(out: str) -> set[str]:
    import os

    return set(os.listdir(os.path.join(out, "chunks")))


def test_writer_refuses_renamed_store_before_any_task(ds_spark, store):
    """A write whose columns would need a fresh physical chunk key (a
    renamed column's old name, or the renamed column itself) refuses
    while the write is planned: no task runs, no chunk file appears."""
    from choetl_spark.schema_evolution import rename_column

    out, pages = store
    rename_column(out, "lang", "language")
    before = _chunk_files(out)
    for df in (pages, pages.withColumnRenamed("lang", "language")):
        with pytest.raises(Exception, match="NotImplementedError") as err:
            df.write.format("choetl").mode("append").save(out)
        assert "renamed" in str(err.value)
    assert _chunk_files(out) == before
    assert ds_spark.read.format("choetl").load(out).count() == 600


def test_writer_task_failure_leaves_no_visible_file(ds_spark, store):
    """A ``format("choetl")`` write whose input fails on a late row,
    after the task has already written several chunks, leaves no
    non-dot chunk file behind: readers keep reading the old content,
    and vacuum reclaims the dead task's staging file."""
    from pyspark.sql.functions import udf

    from choetl_spark.ledger import vacuum

    out, pages = store
    before = _chunk_files(out)

    @udf("long")
    def fail_late(i):
        if i >= 140:
            raise RuntimeError("late row failure")
        return i

    # 1 MB rows: the encode kernel flushes (64 MB) twice, writing
    # several 8 MB chunks, before row 140 kills the task
    df = ds_spark.range(0, 150, numPartitions=1).select(
        fail_late("id").alias("id"),
        F.repeat(F.lit("x"), 1 << 20).alias("body"),
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = ds_spark.conf.get(key)
    ds_spark.conf.set(key, "8")
    try:
        with pytest.raises(Exception, match="late row failure"):
            df.write.format("choetl").mode("append").save(out)
    finally:
        ds_spark.conf.set(key, prev)
    new = _chunk_files(out) - before
    assert all(n.startswith(".tmp-") for n in new), new
    assert _key_rows(ds_spark.read.format("choetl").load(out)) == _key_rows(
        pages
    )
    assert _key_rows(scan_encoded(ds_spark, out)) == _key_rows(pages)
    vacuum(ds_spark, out, grace_sec=0.0)
    assert not any(n.startswith(".tmp-") for n in _chunk_files(out))
    assert _key_rows(scan_encoded(ds_spark, out)) == _key_rows(pages)


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
