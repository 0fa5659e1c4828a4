"""Ingest / scan benchmark for choetl_spark on one Spark session.

Run from the repository root:

    python3 perfbench/run.py --workload scan_mix --seed 1 --seconds 15 --trace 0

One run starts a ``local[N]`` session (N = min(4, cores)), writes a
synthetic page parquet of ``ROWS`` rows whose row-id range the seed
shifts, builds a store from it with the scan-direct path, warms every
operation once (all of that is ``setup_s``), and then cycles through the
timed operations until ``--seconds`` have passed. Every operation's
result is checked. The last
stdout line is the JSON result; the line before it holds the run's
configuration, per-timing quartiles and sample counts.

``--trace 1`` runs the same operations with spans and Spark job counts
recorded around every public call, adds a warmed ``scan_encoded`` full
scan, range scan, and append plus read-after-write, then times each layer
on its own (see ``layers.py``) and reports the per-layer metrics instead.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (span files) in the current directory.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import datetime as dt  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent

# 8,192 rows of about 11 kB: ~87 MB of Arrow data per seed
ROWS = 8_192
N_FILES = 8  # one scan-direct split per file
SPLIT_BYTES = 256 << 20  # larger than a file, so splits == files
INCREMENT_ROWS = 2_048
N_INCREMENTS = 2  # traced runs: warm-up append + timed append
RANGE_FRAC = 0.01
N_DRAWS = 8  # range offsets and lookup keys drawn per run
GEN_PROCS = 2  # input generators, running while the JVM starts
ID_STRIDE = 1 << 16  # seed s reads row ids from (s % 2**15) * ID_STRIDE on

COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

WORKLOADS = {
    "ingest_balanced": {
        "profile": "balanced",
        "why": (
            "opt-in token-dictionary/FSST profile: stats, selector and "
            "codecs dominate the ingest; every read also decodes "
            "worddict/FSST chunks"
        ),
    },
    "scan_mix": {
        "profile": "speed",
        "why": (
            "default speed profile with url Blooms: decode, zone-map and "
            "Bloom pruning and Spark fixed cost dominate; encode is cheap"
        ),
    },
}

# the timed window runs whole cycles of these until ``--seconds`` have
# passed. A cycle takes about 9 s on a 4-core VM, so 15 s gives two
# cycles whatever the host's load, and every run times each operation
# equally often (stopping mid-cycle left one ingest in a slow run). The
# ``scan_encoded`` full and range scans and the appends run in traced runs
# only, because their warm-ups and samples do not fit a run's time budget
CYCLE = ["format_scan", "point_lookup", "ingest"]
WARMUP = CYCLE[:2]  # the store build warms ingest
# timings an operation records (by default just its own name)
OP_METRICS = {"append": ("append_commit", "read_after_write")}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def quartiles(xs: list[float]) -> dict:
    """Median, quartiles, sample count, and the highest of p90/p99/p99.9
    that has at least ten samples beyond it (None below 11 samples)."""
    xs = sorted(xs)
    n = len(xs)
    q = statistics.quantiles(xs, n=4) if n > 1 else [xs[0]] * 3
    hi = None
    for pct in (99.9, 99.0, 90.0):
        if n * (1 - pct / 100) >= 10:
            hi = {"pct": pct, "value": xs[min(n - 1, int(n * pct / 100))]}
            break
    return {"n": n, "p50": statistics.median(xs), "q1": q[0], "q3": q[2],
            "p_hi": hi}


def make_session(work: Path, cores: int):
    from pyspark.sql import SparkSession

    conf = {
        # a fixed, pre-touched 2 GB heap: the JVM's share of peak_rss_mb
        # is then the same every run
        "spark.driver.memory": "2g",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # one local executor: delay scheduling only adds idle waits
        "spark.locality.wait": "0",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            # C1 only and the parallel collector: a short run reaches a
            # steady JIT state sooner. On a shared 4-core VM the quartile
            # spread of one operation's times within a run fell from
            # 0.25-0.39 to 0.09-0.18 of the median against tiered C2 + G1
            "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC "
            "-Xms2g -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.system.home={work / 'derby'}"
        ),
    }
    b = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python worker
    daemon) has exited."""
    from spans import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = descendants(os.getpid())
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    while left and any(os.path.exists(f"/proc/{p}") for p in left):
        time.sleep(0.1)


class Run:
    """One benchmark run: inputs, store, operations and their checks."""

    def __init__(self, args, spark, work: Path, tracer, jobs, inputs):
        import numpy as np

        self.args = args
        self.spark = spark
        self.work = work
        self.tr = tracer
        self.jobs = jobs
        self.profile = WORKLOADS[args.workload]["profile"]
        self.in_dir = str(work / "input")
        self.store = str(work / "store")
        self.base_id, self.expect, self.increments = inputs
        self.raw0 = self.raw_bytes = self.expect["raw_bytes"]
        rng = np.random.default_rng(args.seed % (1 << 64))
        # each 1% range lies inside one input file, so every range scan
        # keeps exactly one partition whatever the seed
        span = int(ROWS * RANGE_FRAC)
        per = ROWS // N_FILES
        self.ranges = [
            int(f * per + o) for f, o in zip(
                rng.integers(0, N_FILES, N_DRAWS),
                rng.integers(0, per - span, N_DRAWS),
            )
        ]
        self.range_rows = span
        self.keys = [int(k) for k in rng.integers(0, ROWS, N_DRAWS)]
        self.inc_keys = [
            int(k) for k in rng.integers(0, INCREMENT_ROWS, N_INCREMENTS)
        ]
        self.times: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.ok: dict[str, list[bool]] = {}
        self.counts: dict[str, dict] = {}
        self.op_spans: dict[str, list[int]] = {}
        self.n_ingest = self.n_range = self.n_lookup = self.n_append = 0
        self.timed = False
        self.warmup_s: dict[str, float] = {}
        self.last_scan: tuple | None = None
        self.stored: dict | None = None  # the read store's sizes

    # -- helpers -------------------------------------------------------
    def cfg(self):
        from choetl_spark.engine import EncodeConfig

        return EncodeConfig(optimize_for=self.profile, bloom_columns=("url",))

    def record(self, op: str, res: dict, ok: bool) -> None:
        """Keep one operation's wall and CPU seconds and its check."""
        if not self.timed:
            if not ok:  # a wrong store makes every later figure moot
                raise RuntimeError(f"warm-up {op} returned a wrong result")
            return
        self.times.setdefault(op, []).append(res["seconds"])
        if res.get("cpu_s") is not None:
            self.cpu.setdefault(op, []).append(res["cpu_s"])
        self.ok.setdefault(op, []).append(ok)

    @contextlib.contextmanager
    def timed_op(self, op: str):
        """One operation: a job group, an op span, its wall clock
        (``res["seconds"]``) and the process tree's CPU seconds
        (``res["cpu_s"]``). Job counts are read after the span closes."""
        from spans import tree_cpu_s

        res: dict = {}
        with self.jobs.group(op) as counts:
            idx = len(self.tr.spans)
            cpu0 = tree_cpu_s()
            with self.tr.span(op, "bench", op=op):
                t0 = time.perf_counter()
                try:
                    yield res
                finally:
                    res["seconds"] = time.perf_counter() - t0
            res["cpu_s"] = tree_cpu_s() - cpu0
        if self.timed and self.tr.enabled:
            self.op_spans.setdefault(op, []).append(idx)
            self.counts.setdefault(op, dict(counts))

    def scan_aggs(self):
        from pyspark.sql import functions as F

        return [F.count("*")] + [
            F.sum(F.octet_length(c)) for c in ("url", "html", "text", "lang")
        ] + [F.sum(F.unix_micros("warc_ts").cast("decimal(38,0)"))]

    def scan_ok(self, got: tuple) -> bool:
        """A full scan must match the input, and the previous full scan
        of the same store contents (the other read front-end's, when both
        ran)."""
        e = self.expect
        want = (e["rows"], e["len_url"], e["len_html"], e["len_text"],
                e["len_lang"], e["ts_sum"])
        ok = got == want and self.last_scan in (None, got)
        self.last_scan = got
        return ok

    @staticmethod
    def row_matches(row, want) -> bool:
        ts = want.column("warc_ts").cast("int64")[0].as_py()
        got_ts = (row["warc_ts"].replace(tzinfo=None)
                  - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
        return (
            row["url"] == want.column("url")[0].as_py()
            and bytes(row["html"]) == want.column("html")[0].as_py()
            and row["text"] == want.column("text")[0].as_py()
            and row["lang"] == want.column("lang")[0].as_py()
            and got_ts == ts
        )

    # -- operations ----------------------------------------------------
    def build_store(self) -> None:
        from choetl_spark.direct import encode_direct_with_resume

        encode_direct_with_resume(
            self.spark, self.in_dir, self.store, self.cfg(),
            target_split_bytes=SPLIT_BYTES,
        )
        self.stored = self.store_bytes(self.store)
        if any(self.stored["rows_per_column"].get(c) != ROWS for c in COLUMNS):
            raise RuntimeError("store build lost rows")

    def store_bytes(self, store: str) -> dict:
        """Chunk-payload bytes (sum of ``encoded_bytes``, exact), total
        chunk-file bytes, and per-column row counts."""
        from pyspark.sql import functions as F

        from choetl_spark.ledger import read_encoded

        rows = (
            read_encoded(self.spark, store)
            .groupBy("column")
            .agg(F.sum("n_rows").alias("n"), F.sum("encoded_bytes").alias("b"))
            .collect()
        )
        files = 0
        for d, _, names in os.walk(store):
            files += sum(os.path.getsize(os.path.join(d, n)) for n in names)
        return {
            "payload_bytes": int(sum(r["b"] for r in rows)),
            "file_bytes": files,
            "rows_per_column": {r["column"]: int(r["n"]) for r in rows},
        }

    def ingest(self) -> None:
        from choetl_spark.direct import encode_direct_with_resume

        dst = str(self.work / f"ingest-{self.n_ingest}")
        self.n_ingest += 1
        with self.timed_op("ingest") as o:
            with self.tr.span("direct.encode_direct_with_resume", "direct"):
                summary = encode_direct_with_resume(
                    self.spark, self.in_dir, dst, self.cfg(),
                    target_split_bytes=SPLIT_BYTES,
                )
        got = self.store_bytes(dst)
        ok = summary["partitions_encoded_this_run"] == N_FILES and all(
            got["rows_per_column"].get(c) == ROWS for c in COLUMNS
        )
        # same input, profile and splits as the store the reads use
        ok = ok and got["payload_bytes"] == self.stored["payload_bytes"]
        self.record("ingest", o, ok)
        shutil.rmtree(dst)

    def full_scan(self) -> None:
        from choetl_spark.ledger import scan_encoded

        with self.timed_op("full_scan") as o:
            with self.tr.span("ledger.scan_encoded", "ledger"):
                df = scan_encoded(self.spark, self.store)
            with self.tr.span("spark.action", "spark"):
                got = tuple(df.agg(*self.scan_aggs()).collect()[0])
        self.record("full_scan", o, self.scan_ok(got))

    def format_scan(self) -> None:
        with self.timed_op("format_scan") as o:
            with self.tr.span("datasource.load", "datasource"):
                df = self.spark.read.format("choetl").load(self.store)
            with self.tr.span("spark.action", "spark"):
                got = tuple(df.agg(*self.scan_aggs()).collect()[0])
        self.record("format_scan", o, self.scan_ok(got))

    def range_bounds(self, i: int):
        from gen import rows

        first = self.base_id + self.ranges[i % N_DRAWS]
        want = rows(first, self.range_rows)
        ts = want.column("warc_ts").to_pylist()
        return ts[0], ts[-1], sorted(want.column("url").to_pylist())

    def range_scan(self) -> None:
        from choetl_spark.ledger import scan_encoded

        lo, hi, want = self.range_bounds(self.n_range)
        self.n_range += 1
        with self.timed_op("range_scan") as o:
            with self.tr.span("ledger.scan_encoded", "ledger"):
                df = scan_encoded(
                    self.spark, self.store, columns=["url", "warc_ts"],
                    ranges={"warc_ts": (lo, hi)},
                )
            with self.tr.span("spark.action", "spark"):
                got = sorted(r["url"] for r in df.collect())
        self.record("range_scan", o, got == want)

    def lookup_row(self, row_id: int):
        from gen import rows

        return rows(row_id, 1)

    def point_lookup(self) -> None:
        from choetl_spark.lookup import point_lookup

        want = self.lookup_row(self.base_id + self.keys[self.n_lookup % N_DRAWS])
        self.n_lookup += 1
        key = want.column("url")[0].as_py()
        with self.timed_op("point_lookup") as o:
            with self.tr.span("lookup.point_lookup", "lookup"):
                df = point_lookup(self.spark, self.store, "url", key, COLUMNS)
            with self.tr.span("spark.action", "spark"):
                got = df.collect()
        ok = len(got) == 1 and self.row_matches(got[0], want)
        self.record("point_lookup", o, ok)

    def append(self) -> None:
        """Append one 2,048-row increment through ``format("choetl")``,
        then read one of its rows back through the same format."""
        from pyspark.sql import functions as F

        from gen import add

        k = self.n_append
        self.n_append += 1
        path, first_id, agg = self.increments[k]
        want = self.lookup_row(first_id + self.inc_keys[k])
        key = want.column("url")[0].as_py()
        with self.timed_op("append_commit") as o:
            with self.tr.span("datasource.append", "datasource"):
                (self.spark.read.parquet(path).write.format("choetl")
                 .mode("append").save(self.store))
        self.expect = add(self.expect, agg)
        self.raw_bytes = self.expect["raw_bytes"]
        append_res = o
        with self.timed_op("read_after_write") as o:
            with self.tr.span("datasource.load", "datasource"):
                df = (self.spark.read.format("choetl").load(self.store)
                      .filter(F.col("url") == key))
            with self.tr.span("spark.action", "spark"):
                got = df.collect()
        ok = len(got) == 1 and self.row_matches(got[0], want)
        # the read-back is the append's check
        self.record("append_commit", append_res, ok)
        self.record("read_after_write", o, ok)

    def run_op(self, op: str) -> None:
        """Run one operation. A timed operation that raises counts as a
        failed attempt (with the wall and CPU time it took to fail), so
        every metric still has a value; a warm-up that raises ends the
        run."""
        from spans import tree_cpu_s

        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        try:
            getattr(self, op)()
            if not self.timed:
                self.warmup_s[op] = time.perf_counter() - t0
        except Exception:
            if not self.timed:
                raise
            traceback.print_exc(file=sys.stderr)
            res = {"seconds": time.perf_counter() - t0,
                   "cpu_s": tree_cpu_s() - cpu0}
            for name in OP_METRICS.get(op, (op,)):
                self.record(name, res, False)


def start_inputs(work: Path, seed: int, procs: int, increments: int):
    """Start ``procs`` generator processes writing the input files and
    increments; they run while the JVM starts. ``finish_inputs`` waits."""
    in_dir = work / "input"
    in_dir.mkdir(parents=True)
    base_id = (seed % (1 << 15)) * ID_STRIDE
    per = ROWS // N_FILES
    jobs = [(str(in_dir / f"part-{i:03d}.parquet"), base_id + i * per, per)
            for i in range(N_FILES)]
    jobs += [(str(work / f"increment-{k}.parquet"),
              base_id + ROWS + k * INCREMENT_ROWS, INCREMENT_ROWS)
             for k in range(increments)]
    shares = [jobs[i::procs] for i in range(procs)]
    children = [
        (share, subprocess.Popen(
            [sys.executable, str(HERE / "gen.py"), json.dumps(share)],
            stdout=subprocess.PIPE,
        ))
        for share in shares
    ]
    return base_id, jobs, children


def finish_inputs(base_id, jobs, children):
    """Wait for the generators; returns (first row id, input aggregates,
    increments as (path, first id, aggregates))."""
    from gen import add

    aggs = {}
    for share, child in children:
        out, _ = child.communicate()
        if child.returncode != 0:
            raise RuntimeError(f"input generator exited {child.returncode}")
        for job, agg in zip(share, json.loads(out)):
            aggs[job[0]] = agg
    expect: dict = {}
    for path, _, _ in jobs[:N_FILES]:
        expect = add(expect, aggs[path])
    increments = [(path, first, aggs[path]) for path, first, _ in jobs[N_FILES:]]
    return base_id, expect, increments


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "choetl_spark" / "__init__.py").is_file():
        print(f"choetl_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), os.environ.get("PYTHONPATH", "")]
    ).rstrip(os.pathsep)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    for d in ("tmp", "derby"):
        (work / d).mkdir(parents=True, exist_ok=True)
    out_dir.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    import tempfile

    tempfile.tempdir = str(work / "tmp")

    from spans import JobCounter, Tracer, TreeRss

    cores = max(1, min(4, os.cpu_count() or 1))
    spark = pending = None
    try:
        with TreeRss() as rss:
            pending = start_inputs(work, args.seed, GEN_PROCS,
                                   N_INCREMENTS if args.trace else 0)
            spark, conf = make_session(work, cores)
            inputs = finish_inputs(*pending)
            from choetl_spark import datasource

            datasource.register(spark)
            t_session = time.perf_counter() - T0
            # tracing starts with the timed window
            tracer, jobs = Tracer(False), JobCounter(spark, False)
            run = Run(args, spark, work, tracer, jobs, inputs)
            t = time.perf_counter()
            run.build_store()
            t_build = time.perf_counter() - t
            # untimed warm-up of every operation; the format scan's check
            # also verifies the store build
            for op in WARMUP:
                run.run_op(op)
            setup_s = time.perf_counter() - T0

            tracer.enabled = jobs.enabled = bool(args.trace)
            run.timed = True
            # no Python collector pauses in this process inside the window
            gc.collect()
            gc.disable()
            t_win = time.perf_counter()
            # a traced run needs one sample of each operation: its layers
            # are timed separately after the window
            while True:
                for op in CYCLE:
                    run.run_op(op)
                if args.trace or time.perf_counter() - t_win >= args.seconds:
                    break
            window_s = time.perf_counter() - t_win
            gc.enable()
            layer = None
            if args.trace:
                from layers import layer_metrics

                layer = layer_metrics(run, window_s, out_dir)
        result = summarize(run, args, conf, cores, setup_s,
                           t_session, t_build, window_s, rss.peak, layer)
    finally:
        for _, child in pending[2] if pending else ():
            if child.poll() is None:  # only when set-up failed early
                child.kill()
                child.wait()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["details"], sort_keys=True))
    print(json.dumps(result["result"]), flush=True)
    return 0


def summarize(run, args, conf, cores, setup_s, t_session, t_build,
              window_s, peak_rss, layer) -> dict:
    timings = {op: quartiles(ts) for op, ts in run.times.items()}
    cpu = {op: quartiles(ts) for op, ts in run.cpu.items()}
    attempted = sum(len(v) for v in run.ok.values())
    failed = sum(not x for v in run.ok.values() for x in v)
    gb = run.raw_bytes / 1e9
    raw0 = run.raw0

    def m(value, unit):
        return {"value": value, "unit": unit}

    if layer is not None:
        metrics = {k: m(v, u) for k, (v, u) in layer["metrics"].items()}
    else:
        metrics = {
            "setup_s": m(setup_s, "s"),
            "ops_ok_frac": m((attempted - failed) / attempted, "frac"),
            "peak_rss_mb": m(peak_rss / 2**20, "MB"),
            "stored_bytes_per_raw_byte": m(
                run.stored["payload_bytes"] / raw0, "ratio"
            ),
            "ingest_cpu_s_per_gb": m(cpu["ingest"]["p50"] / (raw0 / 1e9),
                                     "s/GB"),
            "format_scan_cpu_s_per_gb": m(cpu["format_scan"]["p50"] / gb,
                                          "s/GB"),
            "point_lookup_cpu_s_p50": m(cpu["point_lookup"]["p50"], "s"),
        }
    details = {
        "workload": args.workload,
        "why": WORKLOADS[args.workload]["why"],
        "seed": args.seed,
        "trace": args.trace,
        "session": {"master": f"local[{cores}]", **conf},
        "work_dir_fs": _fs_type(run.work),
        "input": {"rows": ROWS, "files": N_FILES, "raw_bytes": raw0,
                  "first_row_id": run.base_id},
        "store": run.stored,
        "setup_s": {"total": setup_s, "session_and_input": t_session,
                    "store_build": t_build, "warmup": run.warmup_s},
        "window_s": window_s,
        # wall-clock figures: what a user waits, but on a shared VM they
        # move with the host's load, so the metrics above use CPU time
        "wall": {
            "ingest_gbps": raw0 / 1e9 / timings["ingest"]["p50"],
            "format_scan_gbps": gb / timings["format_scan"]["p50"],
            "point_lookup_s_p50": timings["point_lookup"]["p50"],
        } if layer is None else None,
        "timings_s": timings,
        "cpu_s": cpu,
        "samples": {"wall_s": run.times, "cpu_s": run.cpu},
        "note": ("inputs, store and Spark scratch live in the page cache "
                 "(working set well under RAM), so latencies are those of "
                 "memory, not of a disk"),
    }
    if layer is not None:
        details["layers"] = layer["details"]
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return {"details": details, "result": result}


def _fs_type(path: Path) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    best, fs = "", "unknown"
    p = str(path.resolve())
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if (p == mnt or p.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fs = mnt, typ
    return fs


if __name__ == "__main__":
    sys.exit(main())
