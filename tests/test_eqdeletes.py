"""Equality deletes (choetl_spark/eqdeletes.py) — the Iceberg v2
equality-delete contract: O(keys) writes, lazy read-time resolution,
strict sequence-number semantics (a delete applies only to rows
ingested BEFORE it), and materialization through rewrite_partitions.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from choetl_spark.datasource import load_store
from choetl_spark.deletes import (
    deleted_counts,
    delete_where,
    deletes_changed,
    rewrite_partitions,
)
from choetl_spark.engine import EncodeConfig
from choetl_spark.eqdeletes import (
    delete_by_key,
    eq_hittable_parts,
    eq_value_maps,
)
from choetl_spark.ledger import (
    encode_with_resume,
    ledger_state,
    read_changes,
    read_manifest,
    scan_encoded,
    snapshots,
)
from choetl_spark.lookup import point_lookup
from choetl_spark.synth import webpages


@pytest.fixture()
def store(spark, tmp_path):
    out = str(tmp_path / "store")
    pages = webpages(spark, 600, partitions=4).cache()
    pages.count()
    cfg = EncodeConfig(
        num_partitions=4, chunk_rows=128, chunk_bytes=1 << 20,
        bloom_columns=("url",),
    )
    encode_with_resume(spark, pages, out, cfg, run_id="ingest1")
    yield out, pages, cfg
    pages.unpersist()


def _urls(df):
    return {r["url"] for r in df.select("url").collect()}


def test_eq_delete_lifecycle(spark, store):
    """delete_by_key hides exactly the keyed rows; re-inserting the key
    later survives (sequence-number semantics); time travel before the
    delete sees the rows; point_lookup agrees; rewrite materializes."""
    out, pages, cfg = store
    all_urls = _urls(pages)
    victims = sorted(all_urls)[:3]

    res = delete_by_key(spark, out, "url", victims)
    assert res["n_values"] == 3
    del_seq = res["run_seq"]
    assert del_seq == 2  # ingest was epoch 1

    got = _urls(scan_encoded(spark, out, ["url"]))
    assert got == all_urls - set(victims)
    # exact per-row content of a survivor is untouched
    keep = sorted(got)[0]
    row = scan_encoded(
        spark, out, ["url", "text"], equals={"url": keep}
    ).collect()
    src = pages.filter(F.col("url") == keep).select("text").collect()
    assert row[0]["text"] == src[0]["text"]

    # time travel: epoch 1 still sees the victims
    assert _urls(scan_encoded(spark, out, ["url"], as_of=1)) == all_urls

    # point_lookup subtracts equality deletes too
    hits = point_lookup(spark, out, "url", [victims[0], keep], ["text"])
    assert hits.count() == 1  # the deleted key must not surface

    # snapshots list the eqdelete epoch
    ops = {r["run_seq"]: r["operation"] for r in snapshots(spark, out).collect()}
    assert ops[del_seq] == "eqdelete"

    # re-insert one victim AFTER the delete: the new row survives, the
    # old one stays deleted (strict data-seq < delete-seq rule)
    from choetl_spark.deletes import next_free_epoch

    reborn = pages.filter(F.col("url") == victims[0]).withColumn(
        "text", F.lit("REBORN")
    )
    epoch = next_free_epoch(spark, out, cfg.num_partitions)
    planned = reborn.repartition(1).withColumn(
        "part_id", F.lit(epoch * cfg.num_partitions).cast("long")
    )
    encode_with_resume(spark, planned, out, cfg, run_id="reinsert")
    after = scan_encoded(spark, out, ["url", "text"], equals={"url": victims[0]})
    rows = after.collect()
    assert [r["text"] for r in rows] == ["REBORN"]

    # deleting the key AGAIN now hides the reborn row as well
    delete_by_key(spark, out, "url", [victims[0]])
    assert scan_encoded(
        spark, out, ["url"], equals={"url": victims[0]}
    ).count() == 0

    # equality hits count alongside positional deletes
    assert sum(deleted_counts(spark, out).values()) >= 4
    delete_where(spark, out, equals={"url": sorted(got)[1]})
    got2 = _urls(scan_encoded(spark, out, ["url"]))
    assert got2 == all_urls - set(victims) - {sorted(got)[1]}

    # rewrite materializes BOTH delete kinds; content identical after
    rewrite_partitions(spark, out, min_deleted_fraction=0.0, cfg=cfg)
    assert _urls(scan_encoded(spark, out, ["url"])) == got2
    # resolution cost disappears for the rewritten (new-epoch) parts:
    # the old parts are retired, so eq positions only cover retired ids
    assert _urls(scan_encoded(spark, out, ["url"], as_of=1)) == all_urls


def test_rows_an_eq_delete_hid_are_not_deleted_again(spark, store):
    """A positional delete of keys an equality delete already hides
    finds no row: it commits nothing and the epoch does not move; an
    upsert of the same keys reports no deleted row."""
    from choetl_spark.deletes import upsert

    out, pages, cfg = store
    victims = sorted(_urls(pages))[:3]
    delete_by_key(spark, out, "url", victims)
    seq = ledger_state(out)["max_seq"]
    res = delete_where(spark, out, equals={"url": victims})
    assert res["rows_deleted"] == 0 and res["run_seq"] is None
    assert ledger_state(out)["max_seq"] == seq
    up = upsert(
        spark, out, pages.filter(F.col("url").isin(victims)), "url", cfg=cfg
    )
    assert up["rows_deleted"] == 0
    assert _urls(scan_encoded(spark, out, ["url"])) == _urls(pages)


def test_small_eq_delete_dirties_only_the_partitions_it_hit(spark, store):
    """A small equality delete names only the partitions whose key
    Bloom filters may hold a deleted value, and the changed-partition
    set agg_encoded, read_changes and rollback_to share is exactly the
    partition it hit — not every partition that predates it."""
    out, _, _ = store
    by_part: dict[int, list] = {}
    for r in load_store(spark, out, ["url", "_part_id"]).collect():
        by_part.setdefault(r["_part_id"], []).append(r["url"])
    assert len(by_part) == 4
    p0 = sorted(by_part)[0]
    victims = sorted(by_part[p0])[:2]
    assert delete_by_key(spark, out, "url", victims)["run_seq"] == 2

    assert eq_hittable_parts(out, ledger_state(out))[1] == {p0}
    assert deleted_counts(spark, out) == {p0: 2}
    assert deletes_changed(spark, out, 0) == {p0}
    assert deletes_changed(spark, out, 1) == {p0}
    assert deletes_changed(spark, out, 2) == set()
    assert deletes_changed(spark, out, 1, parts=set(by_part) - {p0}) == set()


def test_eq_delete_crash_orphans_and_empty(spark, store):
    """Uncommitted value files never delete anything; empty value list
    is a no-op; unknown column refuses."""
    out, pages, _ = store
    all_urls = _urls(pages)
    victim = sorted(all_urls)[0]

    # simulate a crash: value file written, ledger row never landed
    orphan = spark.createDataFrame(
        [(victim, "deadbeef" * 4)], "value string, delete_id string"
    )
    orphan.write.mode("append").parquet(
        os.path.join(out, "_eq_deletes", "url")
    )
    # no committed epochs: no value set, nothing counted as deleted
    assert eq_value_maps(out, ledger_state(out), read_manifest(out)) == {}
    assert deleted_counts(spark, out) == {}
    assert _urls(scan_encoded(spark, out, ["url"])) == all_urls

    assert delete_by_key(spark, out, "url", [])["n_values"] == 0
    with pytest.raises(ValueError, match="not a store column"):
        delete_by_key(spark, out, "nope", ["x"])

    # a real commit alongside the orphan: only committed values apply
    delete_by_key(spark, out, "url", [victim])
    assert _urls(scan_encoded(spark, out, ["url"])) == all_urls - {victim}


def test_eq_delete_changelog_invariant(spark, store):
    """scan@a + inserts(a->b) - deletes(a->b) == scan@b across an
    equality-delete epoch."""
    out, pages, _ = store
    victims = sorted(_urls(pages))[:2]
    delete_by_key(spark, out, "url", victims)  # epoch 2

    ch = read_changes(spark, out, from_seq=1, to_seq=2, columns=["url"])
    dels = {r["url"] for r in ch.filter(
        F.col("_change_type") == "delete").collect()}
    ins = {r["url"] for r in ch.filter(
        F.col("_change_type") == "insert").collect()}
    assert dels == set(victims)
    assert ins == set()
    a = _urls(scan_encoded(spark, out, ["url"], as_of=1))
    b = _urls(scan_encoded(spark, out, ["url"], as_of=2))
    assert (a | ins) - dels == b


def test_eq_delete_dataframe_values_and_agg(spark, store):
    """DataFrame-valued key sets (the CDC path) work; aggregate
    pushdown re-aggregates eq-dirty partitions exactly."""
    from choetl_spark.ledger import agg_encoded

    out, pages, _ = store
    keys = pages.select("url").orderBy("url").limit(5)
    res = delete_by_key(spark, out, "url", keys)
    assert res["n_values"] == 5
    n_left = pages.count() - 5
    assert scan_encoded(spark, out, ["url"]).count() == n_left
    agg = agg_encoded(spark, out, {"n": ("count", "*")}).collect()[0]
    assert agg["n"] == n_left


def test_upsert_by_key_merge_and_retry(spark, store):
    """Equality-delete MERGE: one atomic epoch updates matched keys and
    inserts new ones with no key-column scan at write time; replaying
    the same (run_id, epoch) — Spark's batch-retry contract — changes
    nothing (the retry must NOT re-delete its own first attempt's
    inserts)."""
    from choetl_spark.eqdeletes import upsert_by_key

    out, pages, cfg = store
    all_urls = _urls(pages)
    matched = sorted(all_urls)[:3]
    updates = pages.filter(F.col("url").isin(matched)).withColumn(
        "text", F.lit("V2")
    )
    inserts = pages.limit(2).withColumn(
        "url", F.concat(F.col("url"), F.lit("-new"))
    )
    batch = updates.unionByName(inserts)

    res = upsert_by_key(spark, out, "url", batch, cfg=cfg,
                        run_id="merge1")
    assert res["n_values"] == 5

    def state():
        rows = scan_encoded(spark, out, ["url", "text"]).collect()
        return {r["url"]: r["text"] for r in rows}, len(rows)

    st, n = state()
    assert n == len(all_urls) + 2          # no duplicates anywhere
    for u in matched:
        assert st[u] == "V2"               # matched keys replaced
    assert sum(u.endswith("-new") for u in st) == 2
    # pre-upsert snapshot intact
    assert _urls(scan_encoded(spark, out, ["url"], as_of=1)) == all_urls

    # retry replays the SAME epoch + run_id: idempotent
    res2 = upsert_by_key(spark, out, "url", batch, cfg=cfg,
                         run_id="merge1", epoch=res["upsert_epoch"])
    assert res2["partitions_encoded_this_run"] == 0
    st2, n2 = state()
    assert (st2, n2) == (st, n)


def test_eq_delete_survives_key_rename(spark, store):
    """An equality delete recorded BEFORE a rename keeps applying after
    it — the key resolves through the schema log's shared physical
    chunk key (Iceberg field-id contract) in BOTH the primary reader
    and the Python data source; a drop of the key column still refuses
    loudly (skipping would resurrect the deleted rows)."""
    from choetl_spark.datasource import register
    from choetl_spark.schema_evolution import drop_column, rename_column

    out, pages, cfg = store
    all_urls = _urls(pages)
    victims = sorted(all_urls)[:3]
    delete_by_key(spark, out, "url", victims)

    rename_column(out, "url", "page_url")
    got = _urls(
        scan_encoded(spark, out, ["page_url"]).withColumnRenamed(
            "page_url", "url"
        )
    )
    assert got == all_urls - set(victims)
    register(spark)
    ds = spark.read.format("choetl").load(out)
    assert {r["page_url"] for r in ds.select("page_url").collect()} == (
        all_urls - set(victims)
    )
    # as_of at the pre-rename epoch: old name, delete not yet visible
    pre = scan_encoded(spark, out, ["url"], as_of=1)
    assert _urls(pre) == all_urls

    # dropping the key column refuses (deleted rows must not resurrect)
    drop_column(out, "page_url")
    with pytest.raises(Exception, match="resurrect|no current name"):
        scan_encoded(spark, out, ["text"]).collect()


def test_eq_delete_rename_chain_reusing_key_name(spark, store):
    """A rename chain that REUSES the delete key's display name for a
    different column must not confuse the delete: after "lang->kind,
    eq-delete on kind, kind->category, text->kind" the name 'kind'
    fronts text's chunks, but the delete recorded on 'kind' still
    targets lang's physical column — rows with the victim lang value
    stay hidden (under name 'category'), and no text row is deleted.
    The name-is-live shortcut without a physical-key check applied the
    delete to text and resurrected the lang deletions."""
    from choetl_spark.datasource import register
    from choetl_spark.schema_evolution import rename_column

    out, pages, cfg = store
    victim = "en"
    n_victims = pages.filter(F.col("lang") == victim).count()
    assert n_victims > 0
    total = pages.count()

    rename_column(out, "lang", "kind")  # kind: phys=lang
    delete_by_key(spark, out, "kind", [victim])
    rename_column(out, "kind", "category")  # category: phys=lang
    rename_column(out, "text", "kind")  # kind now fronts text's chunks

    got = scan_encoded(spark, out, ["category", "kind"])
    assert got.count() == total - n_victims
    assert got.filter(F.col("category") == victim).count() == 0
    # text rows untouched: every surviving row still has its text
    assert got.filter(F.col("kind").isNull()).count() == 0

    register(spark)
    ds = spark.read.format("choetl").load(out)
    assert ds.count() == total - n_victims
    assert ds.filter(F.col("category") == victim).count() == 0
