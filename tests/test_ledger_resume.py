"""Resume-from-checkpoint: kill mid-job → resume → identical final table.

The reference has no resume story (only file Append mode,
reference src/ChoETL/File/ChoFileRecordConfiguration.cs:33); this is the
ledger upgrade the north rule requires.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from choetl_spark.engine import EncodeConfig, decode_dataframe, verify_roundtrip
from choetl_spark.ledger import (
    LEDGER_SCHEMA_DDL,
    _ledger_table,
    encode_with_resume,
    read_encoded,
    scan_encoded,
)
from choetl_spark.partitioning import plan_partitions
from choetl_spark.synth import webpages


@pytest.fixture()
def pages(spark):
    df = webpages(spark, 1200, partitions=4).cache()
    df.count()
    return df


def _cfg():
    return EncodeConfig(num_partitions=6, chunk_rows=256, chunk_bytes=1 << 20)


def test_resume_completes_partial_run(spark, pages, tmp_path):
    out = str(tmp_path / "enc")
    cfg = _cfg()
    # simulate a killed job: first run sees only a subset of partitions
    planned = plan_partitions(
        pages, cfg.num_partitions, key_col=cfg.key_col,
        by_host=cfg.partition_by_host, hot_factor=cfg.hot_factor,
        salt_buckets=cfg.salt_buckets,
    ).cache()
    subset = planned.filter(F.col("part_id") < 3)
    r1 = encode_with_resume(spark, subset, out, cfg, run_id="run1")
    assert r1["partitions_encoded_this_run"] >= 1

    done1 = {r["part_id"] for r in _ledger_table(out).to_pylist()}
    assert done1 == {r["part_id"] for r in subset.select("part_id").distinct().collect()}

    # resume with the FULL input: completed partitions must be skipped
    r2 = encode_with_resume(spark, pages, out, cfg, run_id="run2")
    assert r2["partitions_already_done"] == len(done1)

    ledger2 = _ledger_table(out).to_pylist()
    # no partition encoded twice
    pids = [r["part_id"] for r in ledger2]
    assert len(pids) == len(set(pids))
    # run1 partitions kept their original run_id (not re-encoded)
    run_of = {r["part_id"]: r["run_id"] for r in ledger2}
    for p in done1:
        assert run_of[p] == "run1"

    # final decoded table bit-identical to source
    enc = read_encoded(spark, out)
    decoded = decode_dataframe(enc)
    assert verify_roundtrip(pages, decoded) == 0


def test_rerun_is_noop(spark, pages, tmp_path):
    out = str(tmp_path / "enc")
    cfg = _cfg()
    encode_with_resume(spark, pages, out, cfg, run_id="a")
    r = encode_with_resume(spark, pages, out, cfg, run_id="b")
    assert r["partitions_encoded_this_run"] == 0
    ledger = _ledger_table(out).to_pylist()
    assert [r for r in ledger if r["run_id"] == "b"] == []


def test_ledger_n_rows_and_manifest_sidecar(spark, tmp_path):
    """Ledger n_rows is the partition's TRUE row count (round-2 verdict:
    it used to report rows x columns), and the manifest sidecar persists
    at encode time so stored tables decode with zero plan-build jobs."""
    from choetl_spark.ledger import read_manifest

    out = str(tmp_path / "enc_meta")
    pages = webpages(spark, 600, partitions=4)
    cfg = EncodeConfig(num_partitions=4, chunk_rows=128, shuffle="none")
    encode_with_resume(spark, pages, out, cfg, run_id="r1")
    truth = {
        r["part_id"]: r["n"]
        for r in pages.withColumn(
            "part_id", F.spark_partition_id().cast("long")
        )
        .groupBy("part_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {
        r["part_id"]: r["n_rows"]
        for r in _ledger_table(out).to_pylist()
    }
    assert got == truth
    man = read_manifest(out)
    assert man is not None and set(man) == set(pages.columns)
    decoded = decode_dataframe(read_encoded(spark, out), manifest=man)
    assert verify_roundtrip(pages, decoded) == 0


def test_resume_scan_local_mode(spark, tmp_path):
    """shuffle="none" resume: second run over the same input encodes
    nothing new; decode of committed chunks round-trips."""
    from choetl_spark.engine import EncodeConfig, decode_dataframe, verify_roundtrip
    from choetl_spark.ledger import encode_with_resume, read_encoded
    from choetl_spark.synth import webpages

    out = str(tmp_path / "enc_scan_local")
    pages = webpages(spark, 600, partitions=4)
    cfg = EncodeConfig(num_partitions=4, chunk_rows=128, shuffle="none")
    s1 = encode_with_resume(spark, pages, out, cfg, run_id="r1")
    assert s1["partitions_encoded_this_run"] == 4
    s2 = encode_with_resume(spark, pages, out, cfg, run_id="r2")
    assert s2["partitions_already_done"] == 4
    assert s2["partitions_encoded_this_run"] == 0
    decoded = decode_dataframe(read_encoded(spark, out))
    assert verify_roundtrip(pages, decoded) == 0


def test_scan_encoded_prunes_and_filters_exactly(spark, tmp_path):
    """scan_encoded = committed chunks -> zone-map/Bloom metadata prune
    -> column-pruned decode -> exact residual filter, in one call."""
    from choetl_spark.ledger import scan_encoded
    from choetl_spark.synth import webpages

    pages = webpages(spark, 800, partitions=4)
    cfg = EncodeConfig(num_partitions=5, bloom_columns=("url",))
    out = str(tmp_path / "store")
    encode_with_resume(spark, pages, out, cfg)

    target = pages.select("url").limit(1).collect()[0][0]
    got = scan_encoded(
        spark, out, ["text", "url"], equals={"url": target}
    ).collect()
    want = pages.filter(F.col("url") == target).select("text").collect()
    assert len(got) == 1 and got[0]["url"] == target
    assert got[0]["text"] == want[0]["text"]

    lo_ts = pages.agg(F.min("warc_ts")).collect()[0][0]
    import datetime

    hi_ts = lo_ts + datetime.timedelta(minutes=30)
    ranged = scan_encoded(
        spark, out, ["url"], ranges={"warc_ts": (lo_ts, hi_ts)}
    )
    want_n = pages.filter(
        (F.col("warc_ts") >= lo_ts) & (F.col("warc_ts") <= hi_ts)
    ).count()
    assert ranged.count() == want_n


def test_schema_evolution_added_column_decodes_as_nulls(spark, tmp_path):
    """Iceberg add-column contract: a later ingest run adds a column;
    the manifest merges (type changes refused), partitions encoded
    before the column existed decode it as NULL, newer ones carry
    values — one decode over the whole store."""
    import pytest as _pytest

    from choetl_spark.ledger import read_manifest, scan_encoded

    out = str(tmp_path / "evolving")
    run1 = spark.createDataFrame(
        [(i, f"https://a.example/{i}", f"text {i}") for i in range(40)],
        "part_id long, url string, text string",
    ).withColumn("part_id", F.col("part_id") % 2)
    encode_with_resume(spark, run1, out, EncodeConfig(key_col="url"))

    run2 = spark.createDataFrame(
        [
            (2 + i % 2, f"https://b.example/{i}", f"new {i}", "en")
            for i in range(40)
        ],
        "part_id long, url string, text string, lang string",
    )
    encode_with_resume(spark, run2, out, EncodeConfig(key_col="url"))

    man = read_manifest(out)
    assert set(man) == {"url", "text", "lang"}
    full = scan_encoded(spark, out, ["url", "text", "lang"])
    assert full.count() == 80
    assert full.filter(F.col("lang").isNull()).count() == 40  # run-1 rows
    assert (
        full.filter(F.col("url").startswith("https://b"))
        .filter(F.col("lang") == "en")
        .count()
        == 40
    )

    # a storage-type CHANGE is refused, not silently rewritten
    run3 = spark.createDataFrame(
        [(4, f"https://c.example/{i}", 123, "en") for i in range(5)],
        "part_id long, url string, text int, lang string",
    )
    with _pytest.raises(ValueError, match="storage type"):
        encode_with_resume(spark, run3, out, EncodeConfig(key_col="url"))


def test_vacuum_removes_orphan_chunks(spark, tmp_path):
    """A crashed run leaves chunk files with no ledger commit row.
    Readers already ignore them (semi-join); vacuum reclaims the bytes
    without touching committed data — the Iceberg remove_orphan_files
    action."""
    import glob
    import os

    from choetl_spark.engine import encode_dataframe
    from choetl_spark.ledger import _chunks_dir, vacuum

    out = str(tmp_path / "store_vac")
    pages = webpages(spark, 400, partitions=2)
    cfg = EncodeConfig(num_partitions=2, shuffle="none")
    encode_with_resume(spark, pages, out, cfg, run_id="ok")
    committed = decode_dataframe(read_encoded(spark, out))
    assert verify_roundtrip(pages, committed) == 0

    # simulate the crash: chunks land, the ledger row never does
    orphan_src = pages.limit(150).withColumn("part_id", F.lit(99))
    encode_dataframe(orphan_src, cfg).write.mode("append").option(
        "compression", "none"
    ).parquet(_chunks_dir(out))
    files_before = set(glob.glob(os.path.join(_chunks_dir(out), "*.parquet")))
    # the orphan is invisible to readers even before vacuum
    assert read_encoded(spark, out).filter(F.col("part_id") == 99).count() == 0

    stats = vacuum(spark, out)
    assert stats["files_removed"] >= 1 and stats["bytes_reclaimed"] > 0
    files_after = set(glob.glob(os.path.join(_chunks_dir(out), "*.parquet")))
    assert files_after < files_before
    # committed table untouched, still bit-identical
    assert verify_roundtrip(pages, decode_dataframe(read_encoded(spark, out))) == 0
    # idempotent
    assert vacuum(spark, out) == {"files_removed": 0, "bytes_reclaimed": 0}

    # a grace window protects files younger than the cutoff (in-flight run)
    encode_dataframe(orphan_src, cfg).write.mode("append").option(
        "compression", "none"
    ).parquet(_chunks_dir(out))
    assert vacuum(spark, out, grace_sec=3600)["files_removed"] == 0
    assert vacuum(spark, out)["files_removed"] >= 1


def test_vacuum_sweeps_staging_files_without_ledger(spark, tmp_path):
    """A native-write attempt that crashed before its FIRST commit
    leaves dot-prefixed staging files in a store with no ledger at all.
    The staging sweep is driver-side and needs no commit record, so
    vacuum must reclaim them even when the orphan pass has nothing to
    judge against (ADVICE r3)."""
    import os

    from choetl_spark.ledger import _chunks_dir, vacuum

    out = str(tmp_path / "store_never_committed")
    os.makedirs(_chunks_dir(out))
    stray = os.path.join(
        _chunks_dir(out), ".tmp-std-deadbeef-00000007-3.parquet"
    )
    with open(stray, "wb") as fh:
        fh.write(b"PAR1 torn bytes")
    rep = vacuum(spark, out, grace_sec=0.0)
    assert not os.path.exists(stray)
    assert rep["files_removed"] == 1 and rep["bytes_reclaimed"] > 0


def test_encode_task_failure_leaves_no_visible_file(spark, tmp_path):
    """An encode whose input fails on a late row, after its task has
    already written several chunks, publishes nothing: ``chunks/``
    gains no non-dot file, the committed rows still read back, and
    vacuum reclaims the dead task's staging file."""
    import os

    from pyspark.sql.functions import udf

    from choetl_spark.ledger import _chunks_dir, scan_encoded, vacuum

    out = str(tmp_path / "store")
    cfg = EncodeConfig(
        shuffle="none", chunk_rows=8, chunk_bytes=1 << 20,
        flush_bytes=1 << 20,
    )

    @udf("long")
    def fail_late(i):
        if i >= 140:
            raise RuntimeError("late row failure")
        return i

    def frame(part_id, n):
        # 64 KB rows: the kernel flushes every 16 rows, so the task has
        # written several chunk blocks before row 140 kills it
        return spark.range(0, n, numPartitions=1).select(
            F.lit(part_id).cast("long").alias("part_id"),
            fail_late("id").alias("id"),
            F.repeat(F.lit("x"), 64 << 10).alias("body"),
        )

    encode_with_resume(spark, frame(0, 100), out, cfg)
    before = set(os.listdir(_chunks_dir(out)))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        with pytest.raises(Exception, match="late row failure"):
            encode_with_resume(spark, frame(1, 150), out, cfg)
    finally:
        spark.conf.set(key, prev)
    new = set(os.listdir(_chunks_dir(out))) - before
    assert new and all(n.startswith(".tmp-") for n in new), new
    ids = sorted(r["id"] for r in scan_encoded(spark, out, ["id"]).collect())
    assert ids == list(range(100))
    vacuum(spark, out, grace_sec=0.0)
    assert set(os.listdir(_chunks_dir(out))) == before
    assert scan_encoded(spark, out, ["id"]).count() == 100


def test_compact_store_rewrites_files_preserving_content(spark, tmp_path):
    """Small-file compaction: many per-run files -> few size-targeted
    files; committed content bit-identical, time-travel epochs intact,
    orphans dropped (compaction doubles as vacuum)."""
    import glob
    import os

    from choetl_spark.engine import encode_dataframe
    from choetl_spark.ledger import _chunks_dir, compact_store, scan_encoded

    out = str(tmp_path / "store_cp")
    pages = webpages(spark, 600, partitions=3)
    cfg = EncodeConfig(num_partitions=3, shuffle="none", chunk_rows=128)
    # two ingest runs (disjoint part ids) -> many small files.
    # repartition(1): a caller-provided part_id under shuffle="none"
    # must be co-located (the commit-time tiling check enforces it)
    run1 = pages.repartition(1).withColumn("part_id", F.lit(0))
    run2 = pages.repartition(1).withColumn("part_id", F.lit(1))
    encode_with_resume(spark, run1, out, cfg, run_id="r1")
    encode_with_resume(spark, run2, out, cfg, run_id="r2")
    # plus an orphan (crashed run)
    encode_dataframe(pages.limit(50).withColumn("part_id", F.lit(9)), cfg)\
        .write.mode("append").option("compression", "none")\
        .parquet(_chunks_dir(out))

    want = scan_encoded(spark, out, ["url", "text"]).collect()
    before = len(glob.glob(os.path.join(_chunks_dir(out), "*.parquet")))
    stats = compact_store(spark, out, target_file_bytes=1 << 30)
    assert stats["files_before"] == before
    assert stats["files_after"] < before
    got = scan_encoded(spark, out, ["url", "text"]).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # orphan part gone from disk, epochs intact
    raw = spark.read.parquet(_chunks_dir(out))
    assert raw.filter(F.col("part_id") == 9).count() == 0
    assert scan_encoded(spark, out, ["url"], as_of=1).count() == 600

    # a store with chunks but NO ledger (first run mid-flight) is a
    # no-op: compaction must never rewrite away not-yet-committed data
    out2 = str(tmp_path / "store_inflight")
    encode_dataframe(pages.limit(50).withColumn("part_id", F.lit(0)), cfg)\
        .write.option("compression", "none").parquet(
            os.path.join(out2, "chunks")
        )
    n0 = len(glob.glob(os.path.join(out2, "chunks", "*.parquet")))
    assert compact_store(spark, out2) == {"files_before": 0, "files_after": 0}
    assert len(glob.glob(os.path.join(out2, "chunks", "*.parquet"))) == n0


def test_crash_between_chunk_write_and_ledger_append_no_duplicates(
    spark, pages, tmp_path
):
    """A run that dies AFTER its chunk append but BEFORE its ledger
    append leaves orphan chunks sharing part_ids with the retry's
    committed copy. The (part_id, attempt_id) commit key keeps exactly
    one copy visible — a part_id-only commit join used to decode every
    row of those partitions twice and double-count n_rows in the
    ledger (with no integrity error: duplicate chunks are row-count-
    consistent across columns)."""
    import os

    from choetl_spark.engine import encode_dataframe
    from choetl_spark.ledger import _chunks_dir

    out = str(tmp_path / "enc_crash")
    cfg = _cfg()
    planned = plan_partitions(
        pages, cfg.num_partitions, key_col=cfg.key_col,
        by_host=cfg.partition_by_host, hot_factor=cfg.hot_factor,
        salt_buckets=cfg.salt_buckets,
    ).cache()
    # the crashed attempt: chunks land for EVERY partition, ledger never
    os.makedirs(out, exist_ok=True)
    encode_dataframe(planned, cfg).withColumn(
        "attempt_id", F.lit("dead-attempt")
    ).write.mode("append").option("compression", "none").parquet(
        _chunks_dir(out)
    )
    # the retry re-encodes (nothing is committed) and commits once
    r = encode_with_resume(spark, planned, out, cfg, run_id="retry")
    assert r["partitions_already_done"] == 0
    enc = read_encoded(spark, out)
    # the dead attempt's copies are invisible despite committed part_ids
    assert enc.filter(F.col("attempt_id") == "dead-attempt").count() == 0
    decoded = decode_dataframe(enc)
    assert decoded.count() == pages.count()  # would be 2x before the fix
    assert verify_roundtrip(pages, decoded) == 0
    ledger = _ledger_table(out).to_pylist()
    assert sum(r["n_rows"] for r in ledger) == pages.count()
    # vacuum can reclaim the dead attempt's files (committed part_ids
    # no longer shield them — the commit key is attempt-scoped)
    from choetl_spark.ledger import vacuum

    assert vacuum(spark, out)["files_removed"] >= 1
    assert read_encoded(spark, out).filter(
        F.col("attempt_id") == "dead-attempt"
    ).count() == 0
    assert verify_roundtrip(
        pages, decode_dataframe(read_encoded(spark, out))
    ) == 0


def test_compact_grace_preserves_inflight_chunks(spark, tmp_path):
    """compact_store(grace_sec=...) carries uncommitted chunk files
    younger than the grace window into the rewritten store — an
    in-flight run's just-written chunks survive compaction, so its
    imminent ledger append still points at existing data. Without the
    grace window they'd be silently deleted and the run's commit would
    claim vanished chunks."""
    import glob
    import os

    from choetl_spark.engine import encode_dataframe
    from choetl_spark.ledger import _chunks_dir, compact_store

    out = str(tmp_path / "store_grace")
    pages = webpages(spark, 400, partitions=2)
    cfg = EncodeConfig(num_partitions=2, shuffle="none", chunk_rows=128)
    encode_with_resume(spark, pages, out, cfg, run_id="committed")
    # in-flight run: chunks written seconds ago, ledger append pending
    encode_dataframe(
        pages.limit(100).withColumn("part_id", F.lit(77)), cfg
    ).withColumn("attempt_id", F.lit("inflight")).write.mode(
        "append"
    ).option("compression", "none").parquet(_chunks_dir(out))

    compact_store(spark, out, target_file_bytes=1 << 30, grace_sec=3600)
    raw = spark.read.option("mergeSchema", "true").parquet(_chunks_dir(out))
    assert raw.filter(F.col("attempt_id") == "inflight").count() > 0
    # committed content intact
    assert verify_roundtrip(
        pages, decode_dataframe(read_encoded(spark, out))
    ) == 0
    # quiesced-store maintenance (grace 0) drops them, same as vacuum
    compact_store(spark, out, target_file_bytes=1 << 30, grace_sec=0.0)
    raw = spark.read.option("mergeSchema", "true").parquet(_chunks_dir(out))
    assert raw.filter(F.col("attempt_id") == "inflight").count() == 0

    # a ledger with zero committed rows = every chunk file potentially
    # in-flight -> compaction is a no-op (extends the no-ledger guard)
    out2 = str(tmp_path / "store_empty_ledger")
    encode_dataframe(
        pages.limit(50).withColumn("part_id", F.lit(0)), cfg
    ).write.option("compression", "none").parquet(
        os.path.join(out2, "chunks")
    )
    spark.createDataFrame([], LEDGER_SCHEMA_DDL).write.parquet(
        os.path.join(out2, "_ledger")
    )
    n0 = len(glob.glob(os.path.join(out2, "chunks", "*.parquet")))
    assert compact_store(spark, out2) == {"files_before": 0, "files_after": 0}
    assert len(glob.glob(os.path.join(out2, "chunks", "*.parquet"))) == n0


def test_commit_rejects_non_colocated_caller_part_ids(spark, tmp_path):
    """A caller-provided part_id that is NOT co-located under
    shuffle='none' makes every task number the part's rows from 0 —
    row counts stay column-consistent, so decode cannot detect it, but
    cross-column row alignment is garbage. The commit-time tiling check
    (sum(n_rows) == max(row_start + n_rows) per (part, column)) rejects
    it before the store is poisoned."""
    out = str(tmp_path / "enc_split_part")
    pages = webpages(spark, 400, partitions=4)  # 4 tasks
    bad = pages.withColumn("part_id", F.lit(0))  # one part, four tasks
    cfg = EncodeConfig(num_partitions=4, shuffle="none", chunk_rows=64)
    with pytest.raises(ValueError, match="co-located"):
        encode_with_resume(spark, bad, out, cfg, run_id="r1")
    # nothing was committed
    led = _ledger_table(out)
    assert led is None or led.num_rows == 0
    # the same plan through the salted path co-locates and commits fine
    ok = encode_with_resume(
        spark, bad, str(tmp_path / "enc_ok"),
        EncodeConfig(num_partitions=4, chunk_rows=64), run_id="r1",
    )
    assert ok["partitions_encoded_this_run"] == 1


def test_time_travel_snapshot_reads(spark, tmp_path):
    """as_of reads reproduce the table exactly as of a ledger epoch
    (append-only store: epoch k = partitions with run_seq <= k)."""
    from choetl_spark.ledger import scan_encoded, snapshots

    out = str(tmp_path / "store_tt")
    run1 = spark.createDataFrame(
        [(i % 2, f"https://a.example/{i}", f"one {i}") for i in range(40)],
        "part_id long, url string, text string",
    )
    run2 = spark.createDataFrame(
        [(2 + i % 2, f"https://b.example/{i}", f"two {i}") for i in range(30)],
        "part_id long, url string, text string",
    )
    cfg = EncodeConfig(key_col="url")
    encode_with_resume(spark, run1, out, cfg, run_id="epoch1")
    encode_with_resume(spark, run2, out, cfg, run_id="epoch2")

    snaps = snapshots(spark, out).collect()
    assert [(s["run_seq"], s["run_id"], s["n_partitions"]) for s in snaps] == [
        (1, "epoch1", 2),
        (2, "epoch2", 2),
    ]
    assert [s["n_rows"] for s in snaps] == [40, 30]

    v1 = scan_encoded(spark, out, ["url", "text"], as_of=1)
    assert v1.count() == 40
    assert v1.filter(F.col("url").startswith("https://b")).count() == 0
    v2 = scan_encoded(spark, out, ["url", "text"], as_of=2)
    assert v2.count() == 70
    assert scan_encoded(spark, out, ["url", "text"]).count() == 70
    # epoch-1 content is exactly run1, byte-for-byte
    assert (
        v1.exceptAll(run1.select("url", "text")).count() == 0
        and run1.select("url", "text").exceptAll(v1).count() == 0
    )


def test_read_encoded_sees_new_commits_and_renames(spark, tmp_path):
    """Every ``read_encoded`` call resolves the store as it is now: a
    new ingest commit and a manifest-only rename are both visible to
    the next read."""
    from choetl_spark.ledger import scan_encoded
    from choetl_spark.schema_evolution import rename_column
    from choetl_spark.synth import webpages

    out = str(tmp_path / "enc")
    cfg = _cfg()
    pages = webpages(spark, 200, partitions=2)
    encode_with_resume(spark, pages, out, cfg, run_id="i1")

    def parts():
        return {
            r["part_id"]
            for r in read_encoded(spark, out).select("part_id").collect()
        }

    before = parts()
    # a new commit: fresh rows (explicit part_ids beyond epoch 1's
    # range: resume treats equal part_ids as already-done work, an
    # append must bring fresh ones)
    more = webpages(spark, 60, partitions=1).withColumn(
        "part_id", F.lit(100) + (F.xxhash64("url") % 2 + 2) % 2
    )
    encode_with_resume(spark, more, out, cfg, run_id="i2")
    assert parts() > before
    assert scan_encoded(spark, out, ["url"]).count() == 260

    # manifest-only rename (no ledger/chunk file change)
    rename_column(out, "url", "page_url")
    names = {
        r["column"]
        for r in read_encoded(spark, out).select("column").distinct().collect()
    }
    assert "page_url" in names and "url" not in names
    assert scan_encoded(spark, out, ["page_url"]).count() == 260


def test_encode_with_resume_store_equals_source_and_resumes(
    spark, pages, tmp_path
):
    """Under both shuffle modes (salted puts several logical partitions
    in one task's chunk file) the task-written store scans back to
    exactly the source rows, and a rerun encodes nothing."""
    from choetl_spark.ledger import scan_encoded

    cols = ["url", "warc_ts", "html", "text", "lang"]
    src = pages.select(*cols)
    for shuffle in ("none", "salted"):
        cfg = EncodeConfig(
            num_partitions=6, chunk_rows=256, chunk_bytes=1 << 20,
            shuffle=shuffle,
        )
        out = str(tmp_path / shuffle)
        r1 = encode_with_resume(spark, pages, out, cfg, run_id="n1")
        assert r1["partitions_encoded_this_run"] > 0
        got = scan_encoded(spark, out, columns=cols)
        assert src.exceptAll(got).count() == 0
        assert got.exceptAll(src).count() == 0
        r2 = encode_with_resume(spark, pages, out, cfg, run_id="n2")
        assert r2["partitions_encoded_this_run"] == 0


def _plant_orphan(out, columns, part_id, row_start, n_rows):
    """A visible chunk file a crashed attempt left behind: one chunk per
    column for ``part_id`` under another ``attempt_id``, never
    committed."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from choetl_spark.engine import _ENCODED_PA_SCHEMA

    schema = _ENCODED_PA_SCHEMA.append(pa.field("attempt_id", pa.string()))
    rows = [
        {"part_id": part_id, "column": c, "chunk_seq": 0,
         "row_start": row_start, "n_rows": n_rows, "attempt_id": "crashed"}
        for c in columns
    ]
    os.makedirs(os.path.join(out, "chunks"), exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        os.path.join(out, "chunks", "crashed-00000000-0.parquet"),
    )


def test_tiling_gate_ignores_orphan_chunks(spark, tmp_path):
    """The commit's tiling gate folds only this attempt's chunks: a
    crashed attempt's orphan chunks for the same part ids neither trip
    it on a sound write nor hide a real tiling error."""
    pages = webpages(spark, 400, partitions=4)
    cols = pages.columns
    # sound write: counted with the orphan, part 0 would cover 7 rows
    # more than its positions span
    out = str(tmp_path / "sound")
    _plant_orphan(out, cols, part_id=0, row_start=0, n_rows=7)
    cfg = EncodeConfig(num_partitions=2, chunk_rows=64)
    r = encode_with_resume(spark, pages, out, cfg, run_id="r1")
    assert r["partitions_encoded_this_run"] == 2
    assert _ledger_table(out).num_rows == 2
    assert scan_encoded(spark, out, columns=["url"]).count() == 400
    # non-co-located part 0 (four tasks each number rows from 0): its
    # chunks sum to 400 rows while positions end near 100; counted with
    # the orphan's empty chunk at 400, sum and end would agree
    out = str(tmp_path / "split")
    _plant_orphan(out, cols, part_id=0, row_start=400, n_rows=0)
    bad = pages.withColumn("part_id", F.lit(0))
    cfg = EncodeConfig(num_partitions=4, shuffle="none", chunk_rows=64)
    with pytest.raises(ValueError, match="co-located"):
        encode_with_resume(spark, bad, out, cfg, run_id="r1")
    assert _ledger_table(out) is None
