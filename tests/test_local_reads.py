"""Driver-side read planning and the in-process executor
(``datasource.read_store``, ``plan_store_splits``).

Every read is planned on the driver from chunk metadata: zone maps and
Blooms drop the chunks and partitions that cannot match before any
task runs. A read whose planned chunks decode within
``datasource.LOCAL_READ_BYTES`` runs in the calling process and returns
a local relation; a larger one is the distributed ``format("choetl")``
read. Both return the same rows. The store here has the benchmark's
shape at 1/8 of its rows: 8 input files of synthetic pages, one
scan-direct split and so one partition per file, a url Bloom.
"""

from __future__ import annotations

from unittest import mock

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

from choetl_spark import datasource, ledger
from choetl_spark.datasource import ChoetlBatchReader, read_store, register
from choetl_spark.direct import encode_direct_with_resume
from choetl_spark.engine import EncodeConfig
from choetl_spark.ledger import scan_encoded
from choetl_spark.lookup import point_lookup
from choetl_spark.synth import synth_batch

FILES, PER_FILE = 8, 128
COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


@pytest.fixture(scope="module")
def pages_store(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("local_reads")
    src = root / "input"
    src.mkdir()
    tables = []
    for i in range(FILES):
        b = synth_batch(np.arange(i * PER_FILE, (i + 1) * PER_FILE))
        t = pa.Table.from_batches([b])
        ts = t.column("warc_ts").cast(pa.timestamp("us", tz="UTC"))
        t = t.set_column(1, "warc_ts", ts)
        pq.write_table(t, str(src / f"part-{i:03d}.parquet"))
        tables.append(t)
    out = str(root / "store")
    encode_direct_with_resume(
        spark, str(src), out,
        EncodeConfig(optimize_for="speed", bloom_columns=("url",)),
        target_split_bytes=256 << 20,
    )
    register(spark)
    return out, tables


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setJobGroup(None, None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _range_filters(table):
    ts = table.column("warc_ts").to_pylist()
    return ts[10], ts[20]


def test_over_budget_reads_distribute_and_agree(spark, pages_store):
    """A Bloom-pinned lookup and a 1% range scan run no Spark job; with
    the budget at 0 the same reads run Spark jobs and return exactly
    the rows the local executor returns."""
    out, tables = pages_store
    url = tables[2].column("url")[30].as_py()
    lo, hi = _range_filters(tables[3])

    def reads():
        look = point_lookup(spark, out, "url", url, COLUMNS).collect()
        rng = scan_encoded(
            spark, out, ["url", "warc_ts"], ranges={"warc_ts": (lo, hi)}
        ).collect()
        return sorted(map(tuple, look)), sorted(map(tuple, rng))

    local, local_jobs = _jobs(spark, "reads-local", reads)
    with mock.patch.object(datasource, "LOCAL_READ_BYTES", 0):
        dist, dist_jobs = _jobs(spark, "reads-distributed", reads)
    assert local_jobs == 0 and dist_jobs >= 2
    assert dist == local
    assert len(local[0]) == 1 and len(local[1]) == 11


def test_range_scan_plans_only_zone_map_kept_partitions(spark, pages_store):
    """A 1% ``warc_ts`` range lies in one input file: the planner keeps
    that partition's chunk rows only (1 of 8), so the distributed read's
    tasks read no other partition's payload."""
    out, tables = pages_store
    lo, hi = _range_filters(tables[3])
    rng = [
        GreaterThanOrEqual(("warc_ts",), lo),
        LessThanOrEqual(("warc_ts",), hi),
    ]
    df, rows = read_store(spark, out, ["url", "warc_ts"], [])
    assert rows == FILES * PER_FILE
    reader = ChoetlBatchReader({"path": out}, df.schema)
    reader.pushFilters(rng)
    splits = reader.partitions()
    planned = {
        p for s in splits for p in s.chunks.column("part_id").to_pylist()
    }
    assert len(ledger.ledger_state(out)["live"]) == FILES
    assert len(planned) == 1
    assert [s.parts for s in splits] == [tuple(planned)]
    cols = splits[0].chunks.column("column").to_pylist()
    assert set(cols) == {"url", "warc_ts"}
    with mock.patch.object(datasource, "LOCAL_READ_BYTES", 0):
        dist, none = read_store(spark, out, ["url", "warc_ts"], rng)
    assert none is None
    got = dist.filter(dist.warc_ts.between(lo, hi)).collect()
    assert sorted(r["url"] for r in got) == sorted(
        tables[3].column("url").to_pylist()[10:21]
    )


def test_unfiltered_plan_reads_no_stats(spark, pages_store):
    """Planning reads the chunk ``stats`` column only under a pushdown
    spec, and never a payload."""
    out, tables = pages_store
    seen = []
    real = datasource.chunk_rows

    def spy(*args, **kwargs):
        t = real(*args, **kwargs)
        seen.append(t.column_names)
        return t

    with mock.patch.object(datasource, "chunk_rows", spy):
        read_store(spark, out, ["url"], [])
        url = tables[0].column("url")[0].as_py()
        point_lookup(spark, out, "url", url, ["url"])
    assert "stats" not in seen[0] and "stats" in seen[1]
    assert not any("payload" in names for names in seen)


def test_local_scan_resolves_the_ledger_once(spark, pages_store, monkeypatch):
    out, tables = pages_store
    calls = []
    real = ledger.ledger_state

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(ledger, "ledger_state", counting)
    monkeypatch.setattr(datasource, "ledger_state", counting)
    url = tables[6].column("url")[3].as_py()
    got = scan_encoded(spark, out, ["url"], equals={"url": [url]}).collect()
    assert [r["url"] for r in got] == [url]
    assert len(calls) == 1


def test_zone_map_rules_keep_every_possible_match():
    """Zone-map pruning in the units chunk stats are kept in: int
    bounds, micros for timestamps (an aware literal in any zone), days
    for dates, 0/1 for bools, bytewise strings with a truncated max
    unbounded. A chunk without bounds, a bound the storage type cannot
    hold, and a value the kernel would not mask all keep the chunk."""
    import datetime as dt

    from choetl_spark.datasource import _zone_may_match as may

    i64 = pa.int64()
    st = {"min_val": 10, "max_val": 20}
    assert may(st, ("in", [5, 15]), i64) and not may(st, ("in", [5, 25]), i64)
    assert not may(st, ("in", []), i64)
    assert may(st, ("range", None, 10), i64)
    assert not may(st, ("range", None, 9), i64)
    assert not may(st, ("range", 21, None), i64)
    assert may({}, ("range", 21, None), i64)
    assert may(st, ("range", 300, None), pa.int8())
    s = {"min_str": "b", "max_str": "d"}
    assert may(s, ("in", ["c"]), pa.string())
    assert not may(s, ("in", ["e"]), pa.string())
    assert may({**s, "max_str_trunc": True}, ("in", ["e"]), pa.string())
    assert not may(s, ("range", "e", None), pa.string())
    assert may(s, ("range", 5, None), pa.string())
    utc = dt.timezone.utc
    t0 = dt.datetime(2023, 1, 1, tzinfo=utc)
    us = int(t0.timestamp()) * 1_000_000
    ts, tt = {"min_val": us, "max_val": us + 10}, pa.timestamp("us", "UTC")
    la = t0.astimezone(dt.timezone(dt.timedelta(hours=-8)))
    assert may(ts, ("in", [la]), tt)
    assert not may(ts, ("in", [la + dt.timedelta(seconds=1)]), tt)
    assert not may(ts, ("range", None, t0 - dt.timedelta(microseconds=1)), tt)
    assert may(ts, ("range", t0.replace(tzinfo=None), None), tt)
    days = {"min_val": 10, "max_val": 12}
    assert may(days, ("in", [dt.date(1970, 1, 11)]), pa.date32())
    assert not may(days, ("in", [dt.date(1970, 1, 14)]), pa.date32())
    assert not may({"min_val": 0, "max_val": 0}, ("in", [True]), pa.bool_())
