"""Row-level deletes (choetl_spark/deletes.py) — the Iceberg v2
positional-delete / merge-on-read contract over the encoded store.

The invariants: deletes never rewrite data chunks; readers subtract
exactly the tombstoned rows and nothing else (surviving rows stay
bit-identical); a delete commits at its own ledger epoch so time travel
before it still sees the rows; crashed deletes leave no trace.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from choetl_spark.datasource import load_store, register
from choetl_spark.deletes import (
    compact_deletes,
    delete_matching,
    delete_positions,
    delete_where,
    rewrite_partitions,
    upsert,
)
from choetl_spark.engine import EncodeConfig
from choetl_spark.ledger import (
    encode_with_resume,
    ledger_state,
    read_encoded,
    scan_encoded,
)
from choetl_spark.lookup import point_lookup
from choetl_spark.synth import webpages


@pytest.fixture()
def store(spark, tmp_path):
    out = str(tmp_path / "store")
    pages = webpages(spark, 900, partitions=4).cache()
    pages.count()
    cfg = EncodeConfig(
        num_partitions=5, chunk_rows=128, chunk_bytes=1 << 20,
        bloom_columns=("url",),
    )
    encode_with_resume(spark, pages, out, cfg, run_id="ingest1")
    yield out, pages
    pages.unpersist()


def _rows(df):
    return {(r["url"], r["text"]) for r in df.collect()}


def test_delete_lifecycle(spark, store):
    """One store, the whole merge-on-read story in commit order:
    predicate delete -> exact subtraction (survivors bit-identical) ->
    idempotent re-delete -> point_lookup agreement -> time travel sees
    the pre-delete snapshot -> orphan tombstones invisible -> tombstone
    compaction changes nothing logical."""
    out, pages = store
    victim_lang = "de"
    src_all = _rows(pages.select("url", "text"))
    src_kept = _rows(pages.filter(F.col("lang") != victim_lang)
                     .select("url", "text"))
    assert src_kept != src_all  # the predicate actually hits rows

    # -- delete + exact subtraction ------------------------------------
    res = delete_where(spark, out, equals={"lang": victim_lang})
    n_victims = len(src_all) - len(src_kept)
    assert res["rows_deleted"] == n_victims
    assert res["partitions_touched"] >= 1
    assert res["run_seq"] == 2  # ingest committed epoch 1
    got = scan_encoded(spark, out, ["url", "text"])
    assert _rows(got) == src_kept  # survivors bit-identical, no leaks

    # predicates still compose with the tombstone filter
    one = sorted(src_kept)[0]
    assert _rows(
        scan_encoded(spark, out, ["url", "text"], equals={"url": one[0]})
    ) == {one}

    # -- idempotent re-delete ------------------------------------------
    res2 = delete_where(spark, out, equals={"lang": victim_lang})
    assert res2["rows_deleted"] == 0
    assert res2["run_seq"] is None  # no-op commits nothing
    assert _rows(scan_encoded(spark, out, ["url", "text"])) == src_kept

    # -- point_lookup agreement ----------------------------------------
    deleted_url = sorted(src_all - src_kept)[0][0]
    assert (
        point_lookup(spark, out, "url", deleted_url, ["url", "text"]).count()
        == 0
    )
    kept_url, kept_text = sorted(src_kept)[-1]
    hit = point_lookup(spark, out, "url", kept_url, ["url", "text"]).collect()
    assert len(hit) == 1 and hit[0]["text"] == kept_text

    # -- time travel: the delete is its own snapshot --------------------
    assert _rows(scan_encoded(spark, out, ["url", "text"], as_of=1)) == src_all
    assert _rows(scan_encoded(spark, out, ["url", "text"], as_of=2)) == src_kept
    assert (
        point_lookup(
            spark, out, "url", deleted_url, ["url", "text"], as_of=1
        ).count()
        == 1
    )

    # -- orphan tombstones (crashed delete) are invisible ---------------
    orphan = spark.createDataFrame(
        [(p, 0, 99, "orphan-attempt") for p in range(5)],
        "part_id long, row_pos long, del_seq long, delete_id string",
    )
    orphan.write.mode("append").parquet(os.path.join(out, "_deletes"))
    assert _rows(scan_encoded(spark, out, ["url", "text"])) == src_kept

    # -- compact: fewer files, same logical content ---------------------
    delete_where(spark, out, equals={"url": kept_url})  # a 2nd commit
    src_kept2 = src_kept - {(kept_url, kept_text)}
    stats = compact_deletes(spark, out)
    assert stats["files_after"] <= stats["files_before"]
    assert stats["files_after"] == 1
    assert _rows(scan_encoded(spark, out, ["url", "text"])) == src_kept2
    assert _rows(scan_encoded(spark, out, ["url", "text"], as_of=1)) == src_all
    assert _rows(scan_encoded(spark, out, ["url", "text"], as_of=2)) == src_kept
    # the planted orphan died in compaction (only committed rows kept)
    tomb = spark.read.parquet(os.path.join(out, "_deletes"))
    assert tomb.filter(F.col("delete_id") == "orphan-attempt").count() == 0


def test_range_delete_and_pruned_decode(spark, store):
    """Range predicates tombstone via the zone-map pruned path; the
    delete job decodes ONLY the predicate column in surviving
    partitions — never payload columns (plan-level guarantee of
    decode_dataframe column pruning, asserted on the result here)."""
    out, pages = store
    urls = sorted(r["url"] for r in pages.select("url").collect())
    lo, hi = urls[100], urls[299]
    res = delete_where(spark, out, ranges={"url": (lo, hi)})
    assert res["rows_deleted"] == 200
    got = {r["url"] for r in scan_encoded(spark, out, ["url"]).collect()}
    assert got == set(urls) - set(urls[100:300])


def test_delete_requires_predicate(spark, store):
    out, _ = store
    with pytest.raises(ValueError, match="predicate"):
        delete_where(spark, out)


def test_delete_then_later_ingest_epochs(spark, store):
    """A delete epoch interleaves with later ingest epochs: the next
    encode run takes the next run_seq, and every as_of slice composes
    chunk visibility with tombstone visibility."""
    out, pages = store
    n0 = pages.count()
    res = delete_where(spark, out, equals={"lang": "fr"})
    n_fr = pages.filter(F.col("lang") == "fr").count()
    assert res["run_seq"] == 2
    extra = (
        webpages(spark, 100, partitions=2)
        .withColumn("url", F.concat(F.lit("late-"), F.col("url")))
        .withColumn("part_id", F.lit(900) + F.monotonically_increasing_id() % 2)
    )
    cfg = EncodeConfig(chunk_rows=128, bloom_columns=("url",))
    encode_with_resume(spark, extra, out, cfg, run_id="ingest2")
    n = lambda as_of: scan_encoded(spark, out, ["url"], as_of=as_of).count()
    assert n(1) == n0
    assert n(2) == n0 - n_fr
    assert n(3) == n0 - n_fr + 100
    assert n(None) == n0 - n_fr + 100


def test_rewrite_partitions_materializes_tombstones(spark, store):
    """Major compaction: partitions past the deleted-fraction threshold
    are re-encoded without their tombstoned rows and the old copies
    retired in the SAME commit — the scan result is unchanged, the
    rewritten partitions carry no tombstones any more, below-threshold
    partitions never move, and every earlier snapshot still reads
    exactly what it read before (retired chunks stay reachable)."""
    out, pages = store
    cfg = EncodeConfig(
        num_partitions=5, chunk_rows=128, chunk_bytes=1 << 20,
        bloom_columns=("url",),
    )
    # tombstone ~half of ONE partition's rows: pick the part that holds
    # a known url, then delete a stretch of its urls via the positions
    pos = scan_encoded(spark, out, ["url", "_part_id"])
    by_part = {
        r["_part_id"]: r["n"]
        for r in pos.groupBy("_part_id").agg(F.count("*").alias("n")).collect()
    }
    target_part = max(by_part, key=by_part.get)
    part_urls = sorted(
        r["url"]
        for r in pos.filter(F.col("_part_id") == target_part).collect()
    )
    victims = part_urls[: len(part_urls) // 2]
    delete_where(spark, out, equals={"url": victims})
    survivors_want = _rows(
        pages.filter(~F.col("url").isin(victims)).select("url", "text")
    )
    pre_delete = _rows(scan_encoded(spark, out, ["url", "text"], as_of=1))
    assert _rows(scan_encoded(spark, out, ["url", "text"])) == survivors_want

    res = rewrite_partitions(spark, out, min_deleted_fraction=0.3, cfg=cfg)
    assert res["partitions_rewritten"] == 1
    assert res["rows_materialized"] == len(part_urls) - len(victims)
    # scan identical after the rewrite; the old part is invisible
    assert _rows(scan_encoded(spark, out, ["url", "text"])) == survivors_want
    visible_parts = {
        r["part_id"]
        for r in read_encoded(spark, out).select("part_id").distinct().collect()
    }
    assert target_part not in visible_parts
    # rewritten rows live in a fresh part with NO tombstones pointing
    # at it (materialization happened)
    new_part = max(visible_parts)
    tomb_parts = set(delete_positions(out, ledger_state(out)))
    assert new_part not in tomb_parts
    # below-threshold partitions kept their original ids (never moved)
    assert (set(by_part) - {target_part}) <= visible_parts
    # time travel: pre-delete and pre-rewrite snapshots are intact
    assert _rows(scan_encoded(spark, out, ["url", "text"], as_of=1)) == pre_delete
    assert _rows(scan_encoded(spark, out, ["url", "text"], as_of=2)) == survivors_want
    # idempotent: nothing left above threshold
    res2 = rewrite_partitions(spark, out, min_deleted_fraction=0.3, cfg=cfg)
    assert res2["partitions_rewritten"] == 0
    # point lookup through the rewritten store
    u, t = sorted(survivors_want)[0]
    hit = point_lookup(spark, out, "url", u, ["url", "text"]).collect()
    assert len(hit) == 1 and hit[0]["text"] == t


def test_expire_snapshots_reclaims_retired_chunks(spark, store):
    """Snapshot expiry: after a rewrite, expiring history at the
    rewrite epoch physically drops the retired partition's chunks and
    its tombstones, the latest scan is unchanged, and expired as_of
    reads refuse loudly instead of returning partial data."""
    import os

    from choetl_spark.ledger import expire_snapshots

    out, pages = store
    cfg = EncodeConfig(
        num_partitions=5, chunk_rows=128, chunk_bytes=1 << 20,
        bloom_columns=("url",),
    )
    urls = sorted(r["url"] for r in pages.select("url").collect())
    # delete enough of SOME partition to cross a low threshold
    delete_where(spark, out, equals={"url": urls[:200]})
    rw = rewrite_partitions(spark, out, min_deleted_fraction=0.01, cfg=cfg)
    assert rw["partitions_rewritten"] >= 1
    want = _rows(scan_encoded(spark, out, ["url", "text"]))
    retire_epoch = 3  # ingest=1, delete=2, rewrite=3

    res = expire_snapshots(spark, out, older_than_seq=retire_epoch)
    assert res["partitions_reclaimed"] == rw["partitions_rewritten"]
    assert res["min_as_of_seq"] == retire_epoch
    # latest read identical; physical chunks for retired parts gone
    assert _rows(scan_encoded(spark, out, ["url", "text"])) == want
    all_chunks = spark.read.parquet(os.path.join(out, "chunks"))
    enc_visible = read_encoded(spark, out)
    leftover = (
        all_chunks.select("part_id")
        .distinct()
        .join(enc_visible.select("part_id").distinct(), "part_id", "left_anti")
        .count()
    )
    assert leftover == 0  # every surviving chunk is latest-reachable
    # tombstones pointing at expired parts are gone too; the survivors
    # (none here — all deletes hit the rewritten parts) stay consistent
    visible = {
        r["part_id"]
        for r in enc_visible.select("part_id").distinct().collect()
    }
    assert set(delete_positions(out, ledger_state(out))) <= visible
    # expired as_of refuses loudly
    with pytest.raises(ValueError, match="expired"):
        scan_encoded(spark, out, ["url"], as_of=1).count()
    # the floor epoch itself still reads
    assert _rows(scan_encoded(spark, out, ["url", "text"],
                              as_of=retire_epoch)) == want
    # point lookup through the expired store
    u, t = sorted(want)[0]
    hit = point_lookup(spark, out, "url", u, ["url", "text"]).collect()
    assert len(hit) == 1 and hit[0]["text"] == t


def test_delete_batch_equals_and_matching_frame(spark, store):
    """equals accepts a value LIST (IN-list delete) and delete_matching
    takes a whole key frame — the decontamination / CDC shapes. Both
    tombstone exactly the named keys; snapshots() lists each delete as
    its own epoch with operation='delete' and the deleted row count."""
    from choetl_spark.ledger import snapshots

    out, pages = store
    urls = sorted(r["url"] for r in pages.select("url").collect())
    res = delete_where(spark, out, equals={"url": urls[:3]})
    assert res["rows_deleted"] == 3
    keys = spark.createDataFrame([(u,) for u in urls[3:7]], "url string")
    res2 = delete_matching(spark, out, "url", keys)
    assert res2["rows_deleted"] == 4
    got = {r["url"] for r in scan_encoded(spark, out, ["url"]).collect()}
    assert got == set(urls[7:])
    snaps = snapshots(spark, out).collect()
    assert [(s["operation"], s["n_rows"]) for s in snaps] == [
        ("append", 900), ("delete", 3), ("delete", 4),
    ]
    assert all(
        s["n_partitions"] == 0 for s in snaps if s["operation"] == "delete"
    )


def test_upsert_replaces_matched_keys(spark, store):
    """MERGE shape: updated keys return the NEW payload exactly once,
    unmatched keys insert, untouched rows survive bit-identical; the
    pre-upsert snapshot still reads the old values (time travel)."""
    out, pages = store
    old = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    some = sorted(old)[:5]
    updates = spark.createDataFrame(
        [(u, f"ts-{i}", b"<html/>", f"updated-{u}", "en")
         for i, u in enumerate(some)]
        + [("https://brand.new/page", "ts-x", b"<html/>", "inserted", "en")],
        "url string, warc_ts string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    cfg = EncodeConfig(num_partitions=4, chunk_rows=128)
    res = upsert(spark, out, updates, "url", cfg)
    assert res["rows_deleted"] == 5
    assert res["partitions_already_done"] == 0
    got = {r["url"]: r["text"]
           for r in scan_encoded(spark, out, ["url", "text"]).collect()}
    want = dict(old)
    for u in some:
        want[u] = f"updated-{u}"
    want["https://brand.new/page"] = "inserted"
    assert got == want
    # the pre-upsert snapshot (epoch 1) still reads the original store
    before = {r["url"]: r["text"]
              for r in scan_encoded(spark, out, ["url", "text"], as_of=1)
              .collect()}
    assert before == old


def test_scan_without_tombstones_pays_zero_delete_overhead(spark, store):
    """The merge-on-read tax is opt-in: a store with NO tombstones plans
    splits that carry no delete positions, so its tasks decode without
    row positions — the hot 100TB read path cannot pay for a feature it
    doesn't use. Once a delete commits, only the touched partition's
    split carries positions, and the plan never gains a join: the
    reader subtracts deletes task-side."""
    from choetl_spark.datasource import plan_store_splits
    from choetl_spark.plans import explain_str

    out, _ = store

    def parts_with_tombstones():
        state = ledger_state(out)
        tomb = delete_positions(out, state)
        splits = plan_store_splits(out, state, tomb, target_split_bytes=1)
        return {p for s in splits for p in s.tombstones}

    assert parts_with_tombstones() == set()
    delete_where(spark, out, equals={"url": ["nonexistent-url"]})
    # (an all-miss predicate commits nothing: still no positions)
    assert parts_with_tombstones() == set()
    urls = [r["url"] for r in scan_encoded(spark, out, ["url"]).limit(1).collect()]
    delete_where(spark, out, equals={"url": urls})
    assert len(parts_with_tombstones()) == 1
    plan = explain_str(scan_encoded(spark, out, ["url", "text"]), "simple")
    assert "Join" not in plan, plan


def test_decode_with_pos_exact_coordinates(spark, store):
    """The hidden ``_part_id`` / ``_row_pos`` coordinates are the
    store's source of truth: positions tile [0, n_part) per partition
    and every (part, pos, value) agrees with the positionless read
    row-for-row."""
    out, _ = store
    pos = load_store(spark, out, ["url", "_part_id", "_row_pos"], as_of=1)
    bad_tiling = (
        pos.groupBy("_part_id")
        .agg(
            F.count("*").alias("n"),
            F.min("_row_pos").alias("lo"),
            F.max("_row_pos").alias("hi"),
            F.countDistinct("_row_pos").alias("d"),
        )
        .filter(
            (F.col("lo") != 0)
            | (F.col("hi") != F.col("n") - 1)
            | (F.col("d") != F.col("n"))
        )
        .count()
    )
    assert bad_tiling == 0
    plain = load_store(spark, out, ["url"], as_of=1)
    assert pos.count() == plain.count()
    assert (
        pos.select("url").exceptAll(plain.select("url")).count() == 0
    )


def test_upsert_commits_one_atomic_epoch(spark, store):
    """The MERGE is one snapshot: the tombstone commit row and the
    ingest's done rows share ONE run_seq (single ledger append), so no
    as_of epoch — and no concurrent-reader window — exists where
    matched keys have neither their old nor their new row."""
    from choetl_spark.ledger import _ledger_table

    out, pages = store
    old = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    some = sorted(old)[:4]
    updates = spark.createDataFrame(
        [(u, b"<html/>", f"v2-{u}", "en") for u in some],
        "url string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-02-02 00:00:00").cast("timestamp"))
    res = upsert(spark, out, updates, "url", EncodeConfig(num_partitions=4))
    assert res["rows_deleted"] == len(some)

    led = _ledger_table(out).to_pylist()
    del_seqs = [r["run_seq"] for r in led if r["status"] == "delete"]
    done_max = max(r["run_seq"] for r in led if r["status"] == "done")
    assert del_seqs == [done_max]  # same epoch, single delete row

    # every historical snapshot shows each matched key exactly once
    max_seq = max(r["run_seq"] for r in led)
    for e in range(1, int(max_seq) + 1):
        snap = {
            r["url"]: r["text"]
            for r in scan_encoded(
                spark, out, ["url", "text"], as_of=e,
                equals={"url": list(some)},
            ).collect()
        }
        assert set(snap) == set(some), f"epoch {e} lost matched keys"
        for u in some:
            assert snap[u] in (old[u], f"v2-{u}")


def test_tombstone_loss_refuses_loudly(spark, tmp_path):
    """A store whose ledger has delete commits but whose _deletes table
    vanished (crashed maintenance, manual damage) must REFUSE to read —
    treating the loss as 'no deletes' would silently resurrect every
    deleted row."""
    import shutil

    from choetl_spark.deletes import _deletes_dir

    out = str(tmp_path / "lossy")
    pages = webpages(spark, 200, partitions=2)
    encode_with_resume(
        spark, pages, out, EncodeConfig(num_partitions=2), run_id="i1"
    )
    victim = pages.orderBy("url").limit(1).collect()[0]["url"]
    res = delete_where(spark, out, equals={"url": victim})
    assert res["rows_deleted"] == 1
    shutil.rmtree(_deletes_dir(out))
    with pytest.raises(RuntimeError, match="resurrect"):
        scan_encoded(spark, out, ["url"]).collect()
    # point_lookup raises the same typed error; a plain format("choetl")
    # read refuses too (Spark wraps a data source's error)
    with pytest.raises(RuntimeError, match="resurrect"):
        point_lookup(spark, out, "url", victim, ["url"])
    register(spark)
    with pytest.raises(Exception, match="resurrect"):
        spark.read.format("choetl").load(out).count()


def test_tombstone_duplicate_files_are_harmless(spark, tmp_path):
    """replace_tombstone_files' survivable crash state is a row
    SUPERSET (old + new files coexist as exact duplicates). Readers
    must subtract the same rows and count the same n_deleted; the next
    compaction collapses the duplicates."""
    import glob
    import shutil

    from choetl_spark.deletes import _deletes_dir
    from choetl_spark.ledger import store_partitions

    out = str(tmp_path / "dupes")
    pages = webpages(spark, 300, partitions=2).cache()
    pages.count()
    encode_with_resume(
        spark, pages, out, EncodeConfig(num_partitions=2), run_id="i1"
    )
    victims = [r["url"] for r in pages.orderBy("url").limit(3).collect()]
    delete_where(spark, out, equals={"url": victims})
    want = _rows(
        pages.filter(~F.col("url").isin(victims)).select("url", "text")
    )
    n_del_before = (
        store_partitions(spark, out).agg(F.sum("n_deleted")).collect()[0][0]
    )

    # simulate the crash state: every tombstone file duplicated
    d = _deletes_dir(out)
    for i, p in enumerate(glob.glob(os.path.join(d, "*.parquet"))):
        shutil.copy2(p, os.path.join(d, f"crashdup_{i}.parquet"))

    assert _rows(scan_encoded(spark, out, ["url", "text"])) == want
    n_del_dup = (
        store_partitions(spark, out).agg(F.sum("n_deleted")).collect()[0][0]
    )
    assert n_del_dup == n_del_before == 3

    res = compact_deletes(spark, out)
    assert res["files_after"] == 1
    assert _rows(scan_encoded(spark, out, ["url", "text"])) == want
    # duplicates physically collapsed, not just masked
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(d, "*.parquet"))
    total = sum(pq.read_metadata(p).num_rows for p in files)
    assert total == 3
    pages.unpersist()


def test_equals_list_empty_and_oversized(spark, store):
    """Batch-equality edge shapes: an EMPTY IN-list is a valid
    predicate meaning 'matches nothing' (not a Bloom-internals crash);
    an IN-list past the Bloom probe cap skips Bloom pruning but stays
    exact via the residual filter (no Catalyst expression explosion)."""
    out, pages = store
    assert (
        scan_encoded(spark, out, ["url"], equals={"url": []}).count() == 0
    )
    urls = sorted(r["url"] for r in pages.select("url").collect())[:40]
    got = {
        r["url"]
        for r in scan_encoded(spark, out, ["url"], equals={"url": urls})
        .collect()
    }
    assert got == set(urls)
