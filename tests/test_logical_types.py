"""Nested and decimal ("logical") columns through every reader.

These columns are stored as JSON (nested) or cast (decimal) strings,
and the shared decode kernel restores them. ``format("choetl")``,
``scan_encoded`` and ``point_lookup`` must all return the source
values in their logical types. The reference restore is Spark's own
``from_json``/``cast`` over the same storage strings.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from conftest import distributed
from pyspark.sql import functions as F

from choetl_spark.datasource import register
from choetl_spark.engine import EncodeConfig
from choetl_spark.ledger import encode_with_resume, scan_encoded
from choetl_spark.lookup import point_lookup

DDL = {
    "s": "struct<ts:timestamp,d:date,x:decimal(12,2)>",
    "m": "map<string,bigint>",
    "a": "array<struct<k:string,v:double,when:timestamp>>",
    "x": "decimal(12,2)",
}
COLS = ["url", *DDL]


def _source_rows():
    t0 = dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(90):
        if i % 9 == 0:  # all-null logical columns
            rows.append((i % 3, f"u{i:03d}", None, None, None, None))
            continue
        ts = t0 + dt.timedelta(minutes=i, milliseconds=7 * i)
        s = (
            ts if i % 4 else None,  # null struct field
            dt.date(2020, 1, 1) + dt.timedelta(days=i),
            Decimal(f"{i}.{i % 100:02d}"),
        )
        m = {f"k{i}": i * 1000, "none": None} if i % 2 else {}
        a = [(f"e{i}", i / 4, ts), (None, None, None)] if i % 3 else []
        rows.append((i % 3, f"u{i:03d}", s, m, a, Decimal(f"-{i}.5{i % 10}")))
    return rows


@pytest.fixture(scope="module")
def logical_store(spark, tmp_path_factory):
    schema = "part_id long, url string, " + ", ".join(
        f"{c} {d}" for c, d in DDL.items()
    )
    src = spark.createDataFrame(_source_rows(), schema)
    out = str(tmp_path_factory.mktemp("logical") / "store")
    encode_with_resume(
        spark, src, out,
        EncodeConfig(num_partitions=3, chunk_rows=16, bloom_columns=("url",)),
        run_id="l1",
    )
    register(spark)
    return out, src.drop("part_id")


def _sorted(df):
    return sorted(df.select(*COLS).collect(), key=lambda r: r["url"])


def test_reference_restore_is_identity(logical_store):
    """Spark's from_json/cast over the storage strings (the JVM-side
    restore the kernel replaced) gives back the source rows."""
    _, src = logical_store
    ref = src.withColumns(
        {
            c: F.from_json(F.to_json(c), d)
            if d.startswith(("struct<", "map<", "array<"))
            else F.col(c).cast("string").cast(d)
            for c, d in DDL.items()
        }
    )
    assert _sorted(ref) == _sorted(src)


def test_every_reader_restores_logical_types(spark, logical_store):
    out, src = logical_store
    want = _sorted(src)
    ds = spark.read.format("choetl").load(out)
    scan = scan_encoded(spark, out, COLS)
    for df in (ds, scan):
        for c in COLS:
            assert df.schema[c].dataType == src.schema[c].dataType, c
        assert _sorted(df) == want
    urls = ["u000", "u004", "u017", "u089", "u-absent"]
    got = point_lookup(spark, out, "url", urls, COLS)
    assert got.schema == src.select(*COLS).schema
    assert _sorted(got) == [r for r in want if r["url"] in urls]


def test_filters_on_logical_columns_stay_exact(spark, logical_store):
    """Predicates on nested/decimal columns are never masked task-side;
    Spark's own filter answers them."""
    out, src = logical_store
    ds = spark.read.format("choetl").load(out)
    pred = (F.col("x") < Decimal("-40")) & F.col("s.d").isNotNull()
    assert _sorted(ds.filter(pred)) == _sorted(src.filter(pred))


def test_scan_filters_on_logical_columns_stay_exact(spark, logical_store):
    """A ``scan_encoded`` range on a decimal column plans no mask and no
    zone-map pruning for it; Spark's own filter answers it."""
    out, src = logical_store
    lo, hi = Decimal("-60"), Decimal("-40")
    got = scan_encoded(spark, out, COLS, ranges={"x": (lo, hi)})
    assert _sorted(got) == _sorted(src.filter(F.col("x").between(lo, hi)))


# the same readers through the distributed executor
test_every_reader_restores_logical_types_distributed = distributed(
    test_every_reader_restores_logical_types
)
test_scan_filters_on_logical_columns_stay_exact_distributed = distributed(
    test_scan_filters_on_logical_columns_stay_exact
)
