"""Per-layer metrics of a traced run.

Called after the timed window of ``run.py --trace 1``. It reads the span
tree and job counts the window recorded, then times each layer on its
own: Spark's fixed job cost, the JVM->Python Arrow transfer, pure-JVM
parquet sentinels, the scan-direct split plan and commit, zone-map and
Bloom pruning counts, and the stats / selector / codec kernels in-process
on one ``synth_batch`` chunk. Every span is written to
``.perfbench_out/`` at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from pathlib import Path

from run import COLUMNS, ROWS, SPLIT_BYTES

OPS = ["ingest", "full_scan", "format_scan", "range_scan", "point_lookup",
       "append_commit", "read_after_write"]
PROFILES = ["speed", "balanced"]
SPAN_LAYERS = ["bench", "spark", "direct", "ledger", "lookup", "datasource"]
CODEC_ROWS = 2048


def _span_split(run, op: str) -> dict[str, float]:
    """Wall time of the first timed ``op`` and of each of its child spans
    (by span name), plus the unattributed remainder."""
    tr = run.tr
    idx = run.op_spans[op][0]
    s = tr.spans[idx]
    wall = s["end"] - s["start"]
    out = {"wall": wall}
    for c in tr.children(idx):
        out[c["name"]] = out.get(c["name"], 0.0) + c["end"] - c["start"]
    out["unattributed"] = wall - sum(
        v for k, v in out.items() if k != "wall"
    )
    return out


def _timed(fn, reps: int = 1) -> float:
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def _codec_layer(run, m: dict, details: dict) -> None:
    """stats / selector / codecs on the first ``CODEC_ROWS`` input rows,
    one array per column, both profiles, median of three timings."""
    from choetl_spark.codecs import decode_array, encode_array
    from choetl_spark.selector import (
        choose_codec, estimate_sizes, zstd_level_for,
    )
    from choetl_spark.stats import compute_stats

    from gen import rows

    table = rows(run.base_id, CODEC_ROWS)
    tr = run.tr
    for prof in PROFILES:
        level = "cheap" if prof == "speed" else "full"
        stats_s = select_s = total_gb = 0.0
        for col in COLUMNS:
            arr = table.column(col).combine_chunks()
            gb = arr.nbytes / 1e9
            total_gb += gb
            with tr.span(f"stats.compute_stats.{col}", "stats"):
                t = _timed(lambda: compute_stats(arr, level=level), 3)
            st = compute_stats(arr, level=level)
            stats_s += t
            with tr.span(f"selector.choose_codec.{col}", "selector"):
                t = _timed(
                    lambda: choose_codec(arr, st=st, optimize_for=prof), 3
                )
            select_s += t
            codec, opts = choose_codec(arr, st=st, optimize_for=prof)
            est = estimate_sizes(arr, st)
            level_z = zstd_level_for(codec, prof)

            def enc():
                return encode_array(arr, codec=codec, zstd="auto",
                                    zstd_level=level_z, **opts)

            with tr.span(f"codecs.encode_array.{col}", "codecs"):
                t_enc = _timed(enc, 3)
            payload, meta = enc()
            with tr.span(f"codecs.decode_array.{col}", "codecs"):
                t_dec = _timed(lambda: decode_array(payload, meta), 3)
            ok = decode_array(payload, meta).equals(arr)
            run.ok.setdefault("codec_roundtrip", []).append(ok)
            pre = meta.get("pre_zstd_bytes", len(payload))
            m[f"codecs.encode_s_per_gb.{col}.{prof}"] = (t_enc / gb, "s/GB")
            m[f"codecs.decode_s_per_gb.{col}.{prof}"] = (t_dec / gb, "s/GB")
            m[f"codecs.ratio.{col}.{prof}"] = (len(payload) / arr.nbytes,
                                              "ratio")
            m[f"selector.estimate_error.{col}.{prof}"] = (
                est[codec] / pre - 1, "frac"
            )
            details.setdefault("codecs", {})[f"{col}.{prof}"] = {
                "codec": codec, "zstd": meta["codec"] == "zstd",
                "raw_bytes": arr.nbytes, "encoded_bytes": len(payload),
                "estimate": est[codec], "pre_zstd_bytes": pre,
            }
        m[f"stats.s_per_gb.{prof}"] = (stats_s / total_gb, "s/GB")
        m[f"selector.s_per_gb.{prof}"] = (select_s / total_gb, "s/GB")


def _prune_layer(run, m: dict, counts: dict) -> None:
    """Zone-map and Bloom pruning counts for one range and one key of the
    run's draws, against the store as the window left it."""
    from pyspark.sql import functions as F

    from choetl_spark.engine import (
        bloom_probe_frame, prune_partitions_by_bloom,
        prune_partitions_by_stats,
    )
    from choetl_spark.ledger import read_encoded, read_manifest

    spark, tr = run.spark, run.tr
    with tr.span("ledger.read_encoded", "ledger"):
        t = time.perf_counter()
        enc = read_encoded(spark, run.store)
        m["ledger.read_encoded_s"] = (time.perf_counter() - t, "s")
    lo, hi, _ = run.range_bounds(0)
    key = run.lookup_row(run.base_id + run.keys[0]).column("url")[0].as_py()
    dtype = read_manifest(run.store)["warc_ts"]["dtype"]

    def part_rows(df) -> dict[int, int]:
        return {
            r["part_id"]: int(r["n"])
            for r in df.filter(F.col("column") == "url")
            .groupBy("part_id").agg(F.sum("n_rows").alias("n")).collect()
        }

    with tr.span("engine.prune_partitions_by_stats", "engine"):
        all_parts = part_rows(enc)
        kept = part_rows(
            prune_partitions_by_stats(enc, "warc_ts", lo, hi, dtype=dtype)
        )
    with tr.span("engine.prune_partitions_by_bloom", "engine"):
        bloom_kept = part_rows(prune_partitions_by_bloom(enc, "url", key))
    with tr.span("bloom.bloom_probe_frame", "bloom"):
        probe = bloom_probe_frame(enc, "url", key)
        hit = probe.filter("_bloom_hit").count()
        total = enc.filter(F.col("column") == "url").count()
    counts.update({
        "engine.parts_total": len(all_parts),
        "engine.zone_map_parts_kept": len(kept),
        "engine.bloom_parts_kept": len(bloom_kept),
        "bloom.key_chunks_hit": hit,
        "bloom.key_chunks_total": total,
    })
    m["engine.range_rows_shipped_frac"] = (
        sum(kept.values()) / sum(all_parts.values()), "frac"
    )


def _spark_layer(run, m: dict, counts: dict) -> None:
    """Fixed job cost, Arrow transfer and pure-JVM parquet sentinels."""
    spark, tr = run.spark, run.tr
    n_parts = counts["engine.parts_total"]
    with tr.span("spark.empty_job", "spark"):
        m["spark.empty_job_s"] = (_timed(
            lambda: spark.range(0, n_parts, 1, n_parts)
            .write.format("noop").mode("overwrite").save(), 5
        ), "s")
    gb = run.raw0 / 1e9
    src = spark.read.parquet(run.in_dir)

    def identity(batches):
        yield from batches

    with tr.span("spark.arrow_identity", "spark"):
        t = _timed(lambda: src.mapInArrow(identity, src.schema)
                   .write.format("noop").mode("overwrite").save())
    m["spark.arrow_identity_s_per_gb"] = (t / gb, "s/GB")
    with tr.span("spark.jvm_parquet_zstd_write", "spark"):
        t = _timed(lambda: src.write.option("compression", "zstd")
                   .mode("overwrite").parquet(str(run.work / "jvm-parquet")))
    m["spark.jvm_parquet_zstd_write_gbps"] = (gb / t, "GB/s")
    with tr.span("spark.jvm_parquet_scan", "spark"):
        t = _timed(lambda: src.write.format("noop").mode("overwrite").save())
    m["spark.jvm_parquet_scan_gbps"] = (gb / t, "GB/s")


def _write_layer(run, m: dict, counts: dict) -> None:
    """Split planning, and the ledger's share of an ingest: the timed
    ingest minus a bare ``write_parquet_direct`` over the same splits."""
    from pyspark.sql import functions as F

    from choetl_spark.direct import plan_parquet_splits, write_parquet_direct

    spark, tr = run.spark, run.tr
    with tr.span("direct.plan_parquet_splits", "direct"):
        t = time.perf_counter()
        splits = plan_parquet_splits(run.in_dir, SPLIT_BYTES)
        m["direct.plan_splits_s"] = (time.perf_counter() - t, "s")
    counts["direct.splits"] = len(splits)
    with tr.span("direct.write_parquet_direct", "direct"):
        t = time.perf_counter()
        n = write_parquet_direct(
            spark, run.in_dir, str(run.work / "direct-chunks"), run.cfg(),
            splits=splits,
        ).agg(F.sum("n_rows")).collect()[0][0]
        bare = time.perf_counter() - t
    run.ok.setdefault("write_parquet_direct", []).append(n == ROWS)
    ingest = run.times["ingest"][0]
    m["ledger.commit_overhead_s"] = (ingest - bare, "s")


def _read_layer(run, m: dict, counts: dict) -> None:
    from choetl_spark.ledger import store_files

    spark, tr = run.spark, run.tr
    rng = _span_split(run, "range_scan")
    m["ledger.scan_plan_s"] = (rng["ledger.scan_encoded"], "s")
    m["ledger.scan_exec_s"] = (rng["spark.action"], "s")
    look = _span_split(run, "point_lookup")
    m["lookup.key_pass_s"] = (look["lookup.point_lookup"], "s")
    m["lookup.fetch_s"] = (look["spark.action"], "s")
    m["datasource.load_s"] = (
        _span_split(run, "format_scan")["datasource.load"], "s"
    )
    m["datasource.append_commit_s"] = (
        _span_split(run, "append_commit")["datasource.append"], "s"
    )
    with tr.span("ledger.store_files", "ledger"):
        counts["ledger.store_files"] = store_files(spark, run.store).count()
    with tr.span("datasource.plan", "datasource"):
        counts["datasource.splits"] = (
            spark.read.format("choetl").load(run.store)
            .rdd.getNumPartitions()
        )


def _traced_only_ops(run, m: dict) -> None:
    """The ``scan_encoded`` full and range scans and the append run in
    traced runs only: each gets one untimed warm-up, then one traced run.
    The full scan must agree with the format scans of the window."""
    for op in ("full_scan", "range_scan", "append"):
        run.timed = run.tr.enabled = run.jobs.enabled = False
        run.run_op(op)
        run.timed = run.tr.enabled = run.jobs.enabled = True
        run.run_op(op)
        if op == "full_scan":
            m["ledger.full_scan_gbps"] = (
                run.raw0 / 1e9 / run.times["full_scan"][0], "GB/s"
            )


def layer_metrics(run, window_s: float, out_dir: Path) -> dict:
    m: dict[str, tuple] = {}
    counts: dict[str, int] = {}
    details: dict = {}
    _traced_only_ops(run, m)
    # -- the timed window: job counts, accounting, self time ----------
    for op in OPS:
        c = run.counts[op]
        counts[f"spark.jobs.{op}"] = c["jobs"]
        counts[f"spark.tasks.{op}"] = c["tasks"]
        split = _span_split(run, op)
        m[f"trace.unattributed_frac.{op}"] = (
            split["unattributed"] / split["wall"], "frac"
        )
        details.setdefault("op_split_s", {})[op] = split
    self_s = run.tr.self_times()
    for layer in SPAN_LAYERS:
        m[f"trace.self_s.{layer}"] = (self_s.get(layer, 0.0), "s")
    m["trace.overhead_frac"] = (run.tr.bookkeeping_s / window_s, "frac")
    # -- layers timed on their own ------------------------------------
    _read_layer(run, m, counts)
    _prune_layer(run, m, counts)
    _spark_layer(run, m, counts)
    _write_layer(run, m, counts)
    _codec_layer(run, m, details)
    for k, v in counts.items():
        m[k] = (v, "count")
    # -- same-seed repeat check of every count --------------------------
    tag = f"{run.args.workload}-seed{run.args.seed}"
    prev_path = out_dir / f"counts-{tag}.json"
    if prev_path.is_file():
        prev = json.loads(prev_path.read_text())
        details["counts_repeat"] = {
            k: (prev.get(k), v) for k, v in counts.items() if prev.get(k) != v
        } or "all counts equal the previous traced run"
    prev_path.write_text(json.dumps(counts, sort_keys=True))
    details["counts"] = counts
    run.tr.write(str(out_dir / f"spans-{tag}-{os.getpid()}.json"))
    missing = set(metric_names()) ^ set(m)
    if missing:
        raise RuntimeError(f"per-layer metric set mismatch: {sorted(missing)}")
    return {"metrics": m, "details": details}


def metric_names() -> list[str]:
    """Every per-layer metric name, in the order BENCHMARK.json lists
    them."""
    names = []
    for op in OPS:
        names += [f"spark.jobs.{op}", f"spark.tasks.{op}"]
    names += ["spark.empty_job_s", "spark.arrow_identity_s_per_gb",
              "spark.jvm_parquet_zstd_write_gbps",
              "spark.jvm_parquet_scan_gbps",
              "direct.plan_splits_s", "direct.splits",
              "ledger.commit_overhead_s"]
    for prof in PROFILES:
        names += [f"stats.s_per_gb.{prof}", f"selector.s_per_gb.{prof}"]
    for prof in PROFILES:
        for col in COLUMNS:
            names += [f"selector.estimate_error.{col}.{prof}",
                      f"codecs.encode_s_per_gb.{col}.{prof}",
                      f"codecs.decode_s_per_gb.{col}.{prof}",
                      f"codecs.ratio.{col}.{prof}"]
    names += ["ledger.full_scan_gbps", "ledger.scan_plan_s",
              "ledger.scan_exec_s",
              "ledger.read_encoded_s", "ledger.store_files",
              "engine.zone_map_parts_kept", "engine.bloom_parts_kept",
              "engine.parts_total", "bloom.key_chunks_hit",
              "bloom.key_chunks_total", "engine.range_rows_shipped_frac",
              "lookup.key_pass_s", "lookup.fetch_s",
              "datasource.load_s", "datasource.splits",
              "datasource.append_commit_s"]
    names += [f"trace.unattributed_frac.{op}" for op in OPS]
    names += [f"trace.self_s.{layer}" for layer in SPAN_LAYERS]
    names += ["trace.overhead_frac"]
    return names

