"""The store's delete side tables: positional tombstones in ``_deletes/``
and equality-delete values in ``_eq_deletes/<column>/``.

- Both are published on the driver with pyarrow
  (``ledger.publish_table``), one ``<delete_id>.parquet`` per commit, so
  a delete runs no Spark write job: ``delete_where`` collects its
  coordinates (one job at most), ``delete_by_key`` with a list and
  ``compact_deletes`` run none, and neither does the tombstone half of
  ``expire_snapshots``.
- Files Spark wrote (stores from before the pyarrow writer) keep
  reading, and a rewrite of ``_deletes/`` removes their ``.crc`` and
  ``_SUCCESS`` sidecars along with them.
- An equality delete on a timestamp key hides exactly the matching
  rows, whether its values came as a list, a DataFrame, an upsert's
  batch or a Spark-written INT96 value file.
"""

from __future__ import annotations

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from choetl_spark import ledger
from choetl_spark.deletes import (
    _deletes_dir,
    compact_deletes,
    delete_where,
    rewrite_partitions,
)
from choetl_spark.engine import EncodeConfig
from choetl_spark.eqdeletes import _eq_dir, delete_by_key, upsert_by_key
from choetl_spark.ledger import (
    append_ledger_rows,
    encode_with_resume,
    expire_snapshots,
    ledger_state,
    scan_encoded,
)
from choetl_spark.synth import webpages

N_PARTS = 6
CFG = EncodeConfig(
    num_partitions=N_PARTS, chunk_rows=256, chunk_bytes=1 << 20,
    bloom_columns=("url",),
)
_COMMIT_FILE = re.compile(r"^[0-9a-f]{32}\.parquet$")
_TOMB_DDL = "part_id long, row_pos long, del_seq long, delete_id string"


@pytest.fixture(scope="module")
def pages(spark):
    df = webpages(spark, 1200, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture()
def store(spark, pages, tmp_path):
    out = str(tmp_path / "store")
    encode_with_resume(spark, pages, out, CFG, run_id="i1")
    return out


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``."""
    sc = spark.sparkContext
    group = f"side-tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        res = fn()
    finally:
        sc.setJobGroup(None, None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def _urls(spark, out):
    rows = scan_encoded(spark, out, ["url"]).collect()
    return sorted(r["url"] for r in rows)


def _plant_spark_tombstones(spark, out, urls):
    """Tombstone ``urls`` the way a Spark-writing store did: a Spark
    parquet write into ``_deletes/`` (``part-*``, ``.crc``,
    ``_SUCCESS``), then its ledger ``delete`` commit."""
    coords = [
        (r["_part_id"], r["_row_pos"])
        for r in scan_encoded(
            spark, out, ["_part_id", "_row_pos"], equals={"url": urls}
        ).collect()
    ]
    did = uuid.uuid4().hex
    seq = ledger_state(out)["max_seq"] + 1
    spark.createDataFrame(
        [(p, pos, seq, did) for p, pos in coords], _TOMB_DDL
    ).write.mode("append").parquet(_deletes_dir(out))
    append_ledger_rows(
        out, [(-1, None, len(coords), 0, 0, 0, None, did, seq, "delete", did)]
    )


def test_delete_where_collects_in_one_job(spark, store):
    out = store
    urls = _urls(spark, out)
    res, n = _jobs(spark, lambda: delete_where(
        spark, out, equals={"url": urls[0]}
    ))
    assert res["rows_deleted"] == 1 and res["partitions_touched"] == 1
    assert n <= 1  # the coordinates' collect; no count, no write
    # one published <delete_id>.parquet, no Spark files beside it
    assert os.listdir(_deletes_dir(out)) == [f"{res['delete_id']}.parquet"]
    assert _urls(spark, out) == urls[1:]


def test_delete_by_key_list_runs_no_job(spark, pages, store):
    out = store
    urls = _urls(spark, out)
    res, n = _jobs(spark, lambda: delete_by_key(spark, out, "url", urls[:3]))
    assert res["n_values"] == 3 and res["run_seq"] == 2
    assert n == 0

    res = delete_by_key(
        spark, out, "url", pages.filter(F.col("url").isin(urls[3:5]))
    )
    assert res["n_values"] == 2
    eq_files = os.listdir(_eq_dir(out, "url"))
    assert len(eq_files) == 2
    assert all(_COMMIT_FILE.match(f) for f in eq_files)
    assert _urls(spark, out) == urls[5:]


def test_compact_deletes_runs_no_job(spark, store):
    out = store
    urls = _urls(spark, out)
    for u in urls[:3]:
        delete_where(spark, out, equals={"url": u})
    res, n = _jobs(spark, lambda: compact_deletes(spark, out))
    assert (res["files_before"], res["files_after"]) == (3, 1)
    assert n == 0
    assert _urls(spark, out) == urls[3:]


def test_compaction_removes_spark_sidecars(spark, store):
    """A store whose tombstones Spark wrote compacts to one parquet
    file and nothing else: the unlinked files' ``.crc`` sidecars and
    ``_SUCCESS`` go too, and the planted deletes keep applying."""
    out = store
    urls = _urls(spark, out)
    _plant_spark_tombstones(spark, out, urls[:2])
    delete_where(spark, out, equals={"url": urls[2]})
    d = _deletes_dir(out)
    assert any(f.endswith(".crc") for f in os.listdir(d))
    assert _urls(spark, out) == urls[3:]

    res = compact_deletes(spark, out)
    assert res["files_after"] == 1
    assert [f for f in os.listdir(d) if not f.endswith(".parquet")] == []
    assert not any(f.startswith((".", "_")) for f in os.listdir(d))
    assert _urls(spark, out) == urls[3:]


def test_expire_snapshots_tombstone_half_runs_no_job(
    spark, store, monkeypatch
):
    """Expiry rewrites ``_deletes/`` to the tombstones of surviving
    partitions with pyarrow: no Spark job runs after its chunk swap,
    and Spark-written tombstone files leave no sidecars behind."""
    out = store
    urls = _urls(spark, out)
    _plant_spark_tombstones(spark, out, urls[:40])          # epoch 2
    rw = rewrite_partitions(spark, out, min_deleted_fraction=0.0, cfg=CFG)
    assert rw["partitions_rewritten"] >= 1                   # epoch 3
    want = _urls(spark, out)
    delete_where(spark, out, equals={"url": want[0]})        # epoch 4
    want = want[1:]

    sc = spark.sparkContext
    seen = {}
    swap = ledger._swap_chunk_table

    def counted_swap(*a, **kw):
        res = swap(*a, **kw)
        seen["after_swap"] = len(sc.statusTracker().getJobIdsForGroup(group))
        return res

    monkeypatch.setattr(ledger, "_swap_chunk_table", counted_swap)
    group = f"side-tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        res = expire_snapshots(spark, out, older_than_seq=3)
    finally:
        sc.setJobGroup(None, None)
    total = len(sc.statusTracker().getJobIdsForGroup(group))
    assert res["partitions_reclaimed"] == rw["partitions_rewritten"]
    assert total == seen["after_swap"]  # the tombstone half ran no job

    d = _deletes_dir(out)
    names = os.listdir(d)
    assert len(names) == 1 and names[0].endswith(".parquet")
    assert _urls(spark, out) == want


def test_eq_delete_on_timestamp_key(spark, pages, store):
    """``warc_ts`` is ``timestamp[us, tz=UTC]`` in the store. Values
    given as a list, as a DataFrame, through ``upsert_by_key`` and in a
    Spark-written INT96 value file (how a Spark-writing store held
    them) each hide exactly the rows with that timestamp."""
    out = store
    rows = pages.select("url", "warc_ts", "text").collect()
    counts: dict = {}
    for r in rows:
        counts[r["warc_ts"]] = counts.get(r["warc_ts"], 0) + 1
    single = sorted(r for r in rows if counts[r["warc_ts"]] == 1)
    assert len(single) >= 4
    live = sorted(r["url"] for r in rows)

    def gone(*victims):
        for v in victims:
            live.remove(v["url"])
        assert _urls(spark, out) == live

    res = delete_by_key(spark, out, "warc_ts", [single[0]["warc_ts"]])
    assert res["n_values"] == 1
    gone(single[0])

    ts_df = pages.filter(F.col("url") == single[1]["url"]).select("warc_ts")
    assert delete_by_key(spark, out, "warc_ts", ts_df)["n_values"] == 1
    gone(single[1])

    batch = pages.filter(F.col("url") == single[2]["url"]).withColumn(
        "text", F.lit("V2")
    )
    res = upsert_by_key(spark, out, "warc_ts", batch, cfg=CFG)
    assert res["n_values"] == 1
    assert _urls(spark, out) == live  # replaced, not duplicated
    assert scan_encoded(
        spark, out, ["text"], equals={"url": single[2]["url"]}
    ).collect()[0]["text"] == "V2"

    # a Spark-written value file: INT96, read back as naive timestamp[ns]
    did = uuid.uuid4().hex
    spark.createDataFrame(
        [(single[3]["warc_ts"], did)], "value timestamp, delete_id string"
    ).write.mode("append").parquet(_eq_dir(out, "warc_ts"))
    seq = ledger_state(out)["max_seq"] + 1
    append_ledger_rows(
        out, [(-1, None, 1, 0, 0, 0, "warc_ts", did, seq, "eqdelete", did)]
    )
    gone(single[3])

    # a value that is not a timestamp raises; nothing commits
    before = ledger_state(out)["max_seq"]
    with pytest.raises((TypeError, ValueError)):
        delete_by_key(spark, out, "warc_ts", ["not a timestamp"])
    assert ledger_state(out)["max_seq"] == before
    assert _urls(spark, out) == live
