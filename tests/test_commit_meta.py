"""Driver-side commit state (``ledger.ledger_state``, read with pyarrow):
the per-scan metadata questions cost zero Spark jobs, and any commit is
visible to the next call."""

from __future__ import annotations

from choetl_spark.deletes import delete_positions, delete_where
from choetl_spark.engine import EncodeConfig
from choetl_spark.ledger import (
    encode_with_resume,
    ledger_state,
    scan_encoded,
)
from choetl_spark.synth import webpages


def _ingest(spark, tmp_path, n=300):
    out = str(tmp_path / "store")
    pages = webpages(spark, n, partitions=2)
    cfg = EncodeConfig(
        num_partitions=3, chunk_rows=128, chunk_bytes=1 << 20,
        bloom_columns=("url",),
    )
    encode_with_resume(spark, pages, out, cfg, run_id="ingest1")
    return out, pages


def test_ledger_state_tracks_commits_without_spark_jobs(spark, tmp_path):
    out, pages = _ingest(spark, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("ledger-state-jobs", "ledger_state")
    try:
        s1 = ledger_state(out)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("ledger-state-jobs") == []
    assert s1["has_done"] and len(s1["live"]) == 3
    assert s1["delete_seqs"] == [] and s1["eq_commits"] == []

    # a delete COMMIT is in the next state
    target = pages.select("url").limit(1).collect()[0][0]
    info = delete_where(spark, out, equals={"url": target})
    assert ledger_state(out)["delete_seqs"] == [info["run_seq"]]

    # the new snapshot is what readers see
    assert scan_encoded(spark, out, ["url"]).filter(
        f"url = '{target}'"
    ).count() == 0


def test_no_delete_store_skips_tombstone_resolution(spark, tmp_path):
    out, _ = _ingest(spark, tmp_path)
    # no delete commits: the resolver answers empty (no positions ride
    # the splits) — and orphan tombstone FILES without a commit row
    # stay invisible through the same early exit
    assert delete_positions(out, ledger_state(out)) == {}
    import os

    os.makedirs(os.path.join(out, "_deletes"), exist_ok=True)
    assert delete_positions(out, ledger_state(out)) == {}


def test_as_of_before_first_delete_returns_none(spark, tmp_path):
    out, pages = _ingest(spark, tmp_path)
    assert ledger_state(out)["delete_seqs"] == []
    target = pages.select("url").limit(1).collect()[0][0]
    info = delete_where(spark, out, equals={"url": target})
    # a snapshot strictly before the delete epoch sees no tombstones
    before = ledger_state(out, as_of=info["run_seq"] - 1)
    assert delete_positions(out, before) == {}
    post = delete_positions(out, ledger_state(out))
    assert sum(len(a) for a in post.values()) >= 1
