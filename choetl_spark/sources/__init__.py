"""Format readers/writers mirroring ChoETL's reader/writer families
(SURVEY.md §2.1/2.2), expressed as thin wrappers over Spark's sources so
Catalyst keeps pushdown/pruning. Formats with no Spark-native reader
(fixed-length, manifold) are built from ``spark.read.text`` +
declarative column expressions — never per-row Python."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F


_SNIFF_CANDIDATES = (",", ";", "\t", "|", "^")


def sniff_delimiter(
    path: str, quote: str = '"', sample_bytes: int = 8192
) -> str:
    """Delimiter auto-detection over a buffered prefix — the semantics of
    the reference's sniffer (src/ChoETL/File/CSV/ChoCSVRecordReader.cs:
    77-101,1821-1860): count candidate separators OUTSIDE quoted spans on
    the first lines; the winner must appear the same number of times on
    every sampled line (a consistent column count), ties broken by the
    candidate order. Driver-side one-small-read, like schema inference.
    """
    import glob as _glob
    import os as _os

    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            "sniff_delimiter reads a local prefix; for remote storage "
            f"({path.split('://')[0]}://) pass an explicit delimiter"
        )
    path = path.removeprefix("file://")
    if _os.path.isdir(path):
        files = sorted(
            f
            for f in _glob.glob(_os.path.join(path, "*"))
            if _os.path.isfile(f)
            and not _os.path.basename(f).startswith(("_", "."))
            and _os.path.getsize(f) > 0
        )
    else:
        files = sorted(_glob.glob(path)) or [path]
    if not files:
        return ","
    with open(files[0], "r", encoding="utf-8", errors="replace") as fh:
        prefix = fh.read(sample_bytes)
    lines = [ln for ln in prefix.split("\n") if ln.strip()][:20]
    if len(prefix) == sample_bytes and len(lines) > 1:
        # only a TRUNCATED read can end mid-record; on a fully-read
        # small file the last line is real data and dropping it can
        # flip the vote (header-only ties resolve to ',')
        lines = lines[:-1]
    best: str | None = None
    best_count = 0
    for cand in _SNIFF_CANDIDATES:
        counts = []
        for ln in lines:
            n = 0
            in_q = False
            for ch in ln:
                if ch == quote:
                    in_q = not in_q
                elif ch == cand and not in_q:
                    n += 1
            counts.append(n)
        if counts and counts[0] > 0 and len(set(counts)) == 1:
            # the comma wins whenever it is itself consistent-nonzero,
            # even at a lower count: a valid comma CSV whose text columns
            # happen to contain a consistent number of pipes/semicolons
            # must not be silently re-delimited (ADVICE r2; the
            # reference's auto-detect is likewise conservative)
            if cand == ",":
                return ","
            if counts[0] > best_count:
                best, best_count = cand, counts[0]
    return best or ","


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    delimiter: str = "auto",
    quote: str = '"',
    escape: str = "\\",
    multi_line: bool = False,
    comment: str | None = None,
) -> DataFrame:
    """ChoCSVReader analog (reference src/ChoETL/File/CSV/ChoCSVReader.cs:284):
    quote-aware, multiline-field, header, comment skip; schema scan =
    inferSchema sampling; ``delimiter="auto"`` sniffs the separator from
    a buffered prefix (see :func:`sniff_delimiter`)."""
    if delimiter == "auto":
        try:
            delimiter = sniff_delimiter(path, quote=quote)
        except (ValueError, OSError):
            delimiter = ","  # remote/unreadable path: Spark default
    r = (
        spark.read.option("header", header)
        .option("inferSchema", infer_schema)
        .option("sep", delimiter)
        .option("quote", quote)
        .option("escape", escape)
        .option("multiLine", multi_line)
    )
    if comment:
        r = r.option("comment", comment)
    return r.csv(path)


def read_tsv(spark: SparkSession, path: str, **kw) -> DataFrame:
    """ChoTSVReader analog."""
    return read_csv(spark, path, delimiter="\t", **kw)


def read_json(spark: SparkSession, path: str, multi_line: bool = False) -> DataFrame:
    """ChoJSONReader analog; JSONPath subtree selection becomes column
    path expressions / get_json_object downstream."""
    return spark.read.option("multiLine", multi_line).json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """ChoAvroReader analog (reference src/ChoETL.Avro/ChoAvroReader.cs:21).

    Uses the spark-avro module when deployed; otherwise falls back to
    the pure-Python flat-record container bridge (same entry point, same
    result), so Avro round-trips execute even jar-less."""
    try:
        df = spark.read.format("avro").load(path)
        df.schema  # force source resolution now
        return df
    except Exception as e:
        if not _spark_avro_missing(e):
            raise  # real error from a deployed spark-avro: surface it
        from choetl_spark.sources.avro_py import read_avro_py

        return read_avro_py(spark, path)


def _spark_avro_missing(e: Exception) -> bool:
    """True only for 'the avro data source is not on the classpath' —
    any other spark-avro failure (bad path, corrupt file, task failure)
    must surface, not silently retry through the Python bridge. Checks
    the version-stable error CLASS first, message phrasing as backup."""
    get_cls = getattr(e, "getErrorClass", None)
    cls = (get_cls() if callable(get_cls) else None) or ""
    if cls in ("FAILED_TO_FIND_DATA_SOURCE", "DATA_SOURCE_NOT_FOUND"):
        return True
    msg = str(e).lower()
    return "avro" in msg and ("find" in msg or "classpath" in msg) and (
        "data source" in msg or "datasource" in msg
    )


@dataclass
class FixedField:
    name: str
    start: int  # 1-based, like ChoETL's positional config
    size: int
    dtype: str = "string"


def read_fixed_length(
    spark: SparkSession, path: str, fields: list[FixedField]
) -> DataFrame:
    """ChoFixedLengthReader analog
    (reference src/ChoETL/File/FixedLength/ChoFixedLengthReader.cs:20):
    positional slicing as substring projections over spark.read.text —
    one scan, whole-stage codegen, no UDFs."""
    lines = spark.read.text(path)
    cols = [
        F.trim(F.substring(F.col("value"), f.start, f.size))
        .cast(f.dtype)
        .alias(f.name)
        for f in fields
    ]
    return lines.select(*cols)


def read_manifold(
    spark: SparkSession,
    path: str,
    selector_start: int | None = None,
    selector_size: int | None = None,
    layouts: dict[str, list[FixedField]] | None = None,
    selector=None,
) -> dict[str, DataFrame]:
    """ChoManifoldReader analog
    (reference src/ChoETL/File/Manifold/ChoManifoldReader.cs:16,273-290):
    one file, many record layouts, dispatched by a record-type code →
    one cached scan + per-type filter/parse branches.

    Dispatch rule: either positional (``selector_start``/``selector_size``
    substring, the common fixed-prefix case) or a custom ``selector`` —
    a callable ``Column -> Column`` over the raw line (the reference's
    arbitrary recordSelector Func, ChoManifoldReader.cs:273-290) whose
    result is compared against the layout keys. Keeping the selector a
    Column expression (not a Python row function) keeps dispatch inside
    whole-stage codegen."""
    if layouts is None:
        raise TypeError("read_manifold requires layouts")
    lines = spark.read.text(path)
    if selector is not None:
        code = selector(F.col("value"))
    elif selector_start is not None and selector_size is not None:
        code = F.trim(
            F.substring(F.col("value"), selector_start, selector_size)
        )
    else:
        raise TypeError(
            "read_manifold needs selector_start+selector_size or selector"
        )
    out = {}
    for type_code, fields in layouts.items():
        branch = lines.filter(code == type_code)
        cols = [
            F.trim(F.substring(F.col("value"), f.start, f.size))
            .cast(f.dtype)
            .alias(f.name)
            for f in fields
        ]
        out[type_code] = branch.select(*cols)
    return out


def write_csv(df: DataFrame, path: str, header: bool = True, **opts) -> None:
    df.write.mode("overwrite").options(**opts).option("header", header).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def stage_as_view(df: DataFrame, name: str) -> None:
    """StageOnSQLite analog (reference src/ChoETL.Sqlite/ChoETLSqlite.cs:24-59):
    register for arbitrary SQL; see :func:`stage_durable` for the
    persistent variant."""
    df.createOrReplaceTempView(name)


def stage_durable(
    df: DataFrame,
    path: str,
    name: str | None = None,
    use_engine: bool = False,
) -> DataFrame:
    """Durable staging — the persistent analog of StageOnSQLite
    (reference src/ChoETL.Sqlite/ChoETLSqlite.cs:24-59, which CREATEs a
    real table and bulk-inserts): materialize ``df`` under ``path``,
    return a DataFrame reading the store, optionally registered as a
    view for SQL. ``use_engine=True`` stages through our encoded-chunk
    store (encode_dataframe -> parquet -> decode_dataframe) instead of
    plain parquet — same durable contract, engine footprint."""
    if use_engine:
        from choetl_spark.engine import (
            EncodeConfig,
            decode_dataframe,
            encode_dataframe,
        )

        cfg = EncodeConfig(shuffle="none", key_col=df.columns[0])
        encode_dataframe(df, cfg).write.mode("overwrite").parquet(path)
        out = decode_dataframe(df.sparkSession.read.parquet(path))
        out = out.select(*df.columns)
    else:
        df.write.mode("overwrite").parquet(path)
        out = df.sparkSession.read.parquet(path)
    if name:
        out.createOrReplaceTempView(name)
    return out


def _guard_wholetext(
    spark: SparkSession, path: str, max_file_bytes: int | None
) -> None:
    """Reject inputs a wholetext reader would OOM on.

    The wholetext formats (KVP/XML/YAML/gated text) materialize ONE
    string per FILE inside one task — the reference streams every format
    line-by-line instead (src/ChoETL/Common/ChoExtensions.cs:808), so a
    multi-GB single file that the reference handles would silently blow
    a task here. This guard reads file METADATA only (binaryFile source,
    content column pruned) and raises with the offending paths; pass
    ``max_file_bytes=None`` to opt out, or split the input. Line-framed
    formats (CSV/TSV/fixed/JSON-lines/manifold) stream and need no cap.
    """
    if max_file_bytes is None:
        return
    try:
        meta = spark.read.format("binaryFile").load(path)
    except Exception:  # pattern the text source accepts but binaryFile won't
        return
    over = (
        meta.select("path", "length")
        .filter(F.col("length") > max_file_bytes)
        .limit(5)
        .collect()
    )
    if over:
        names = ", ".join(f"{r['path']} ({r['length']} B)" for r in over)
        raise ValueError(
            f"wholetext reader: file(s) exceed max_file_bytes="
            f"{max_file_bytes}: {names}. This format materializes one "
            "string per file in a single task; split the input or raise "
            "the cap explicitly (max_file_bytes=None)."
        )


def _guard_lines_census(n_rows: int) -> None:
    """The lines-framing readers collect one census row per
    (split, file) pair and ship the offset dict inside the kernel
    closure — O(splits + files) driver memory, pure metadata. Fine up
    to crawl-directory scale, but a caller pointing one read at
    millions of files would grow the driver + pickled closure
    unboundedly, so refuse past a cap instead of degrading silently
    (read directory batches, or raise CHOETL_LINES_CENSUS_CAP)."""
    import os

    cap = int(os.environ.get("CHOETL_LINES_CENSUS_CAP", "2000000"))
    if n_rows > cap:
        raise ValueError(
            f"lines-framing census has {n_rows} (split, file) entries, "
            f"above the {cap} cap: the per-file offset dict would "
            "dominate driver memory and every task's closure. Read the "
            "input in directory batches, or raise "
            "CHOETL_LINES_CENSUS_CAP explicitly."
        )


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """(file, pos, line) with ``pos`` the 0-based line number within its
    file — WITHOUT wholetext: files stream through Spark's ordinary
    line-splittable text source, so a single multi-GB file costs one
    split per task, not one string per file (the scale path the
    reference's pull-based line reader takes for every format,
    src/ChoETL/Common/ChoExtensions.cs:808).

    Line numbers are reconstructed with the same partition-offset recipe
    as ``with_seq_no``: a tiny per-(partition, file) line census (one
    driver collect, bounded by the number of splits), then each task
    adds its split's cumulative offset to split-local indices inside a
    ``mapInArrow`` kernel. No single-task window, no shuffle of the
    data. Relies on the file source's deterministic split planning
    (splits are enumerated in file/byte-offset order and lines of one
    file are contiguous within a task) — pinned by a test that forces
    one file into many splits and checks the reconstruction.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    raw = spark.read.text(path).select(
        F.input_file_name().alias("file"), "value"
    )
    counts = (
        raw.select(F.spark_partition_id().alias("_pid"), "file")
        .groupBy("_pid", "file")
        .count()
        .collect()
    )
    _guard_lines_census(len(counts))
    offsets: dict[tuple[int, str], int] = {}
    per_file: dict[str, int] = {}
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets[(r["_pid"], r["file"])] = per_file.get(r["file"], 0)
        per_file[r["file"]] = per_file.get(r["file"], 0) + r["count"]

    def kernel(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen: dict[str, int] = {}
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            d = pc.dictionary_encode(batch.column(0))
            idx = np.asarray(d.indices)
            names = d.dictionary.to_pylist()
            bounds = (
                [0]
                + (np.flatnonzero(idx[1:] != idx[:-1]) + 1).tolist()
                + [n]
            )
            pos = np.empty(n, dtype=np.int64)
            for i in range(len(bounds) - 1):
                s, e = bounds[i], bounds[i + 1]
                f = names[idx[s]]
                base = offsets.get((pid, f), 0) + seen.get(f, 0)
                pos[s:e] = base + np.arange(e - s, dtype=np.int64)
                seen[f] = seen.get(f, 0) + (e - s)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(pos, type=pa.int64()),
                    batch.column(1),
                ],
                names=["file", "pos", "line"],
            )

    return raw.mapInArrow(kernel, "file string, pos bigint, line string")


def _lines_with_group(
    spark: SparkSession, path: str, marker_regex: str
) -> DataFrame:
    """(file, pos, rec_id, line) over the streaming line source:
    ``rec_id`` is the cumulative count of marker-matching lines up to
    and including this line within its file (0 = before the first
    marker). Same partition-offset recipe as :func:`read_text_lines`,
    with the census additionally summing marker hits per (split, file)
    — the marker flag itself is evaluated JVM-side (``rlike``), the
    kernel only does offset arithmetic. No single-task window; the
    data never shuffles here (grouping by rec_id afterwards is the
    caller's one shuffle)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    raw = spark.read.text(path).select(
        F.input_file_name().alias("file"),
        "value",
        F.col("value").rlike(marker_regex).cast("int").alias("_hit"),
    )
    counts = (
        raw.select(F.spark_partition_id().alias("_pid"), "file", "_hit")
        .groupBy("_pid", "file")
        .agg(F.count("*").alias("n"), F.sum("_hit").alias("h"))
        .collect()
    )
    _guard_lines_census(len(counts))
    pos_off: dict[tuple[int, str], int] = {}
    rec_off: dict[tuple[int, str], int] = {}
    per_file_n: dict[str, int] = {}
    per_file_h: dict[str, int] = {}
    for r in sorted(counts, key=lambda r: r["_pid"]):
        key = (r["_pid"], r["file"])
        pos_off[key] = per_file_n.get(r["file"], 0)
        rec_off[key] = per_file_h.get(r["file"], 0)
        per_file_n[r["file"]] = pos_off[key] + r["n"]
        per_file_h[r["file"]] = rec_off[key] + int(r["h"])

    def kernel(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen_n: dict[str, int] = {}
        seen_h: dict[str, int] = {}
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            d = pc.dictionary_encode(batch.column(0))
            idx = np.asarray(d.indices)
            names = d.dictionary.to_pylist()
            hits = np.asarray(batch.column(2)).astype(np.int64)
            bounds = (
                [0]
                + (np.flatnonzero(idx[1:] != idx[:-1]) + 1).tolist()
                + [n]
            )
            pos = np.empty(n, dtype=np.int64)
            rec = np.empty(n, dtype=np.int64)
            for i in range(len(bounds) - 1):
                s, e = bounds[i], bounds[i + 1]
                f = names[idx[s]]
                base = pos_off.get((pid, f), 0) + seen_n.get(f, 0)
                pos[s:e] = base + np.arange(e - s, dtype=np.int64)
                seen_n[f] = seen_n.get(f, 0) + (e - s)
                hbase = rec_off.get((pid, f), 0) + seen_h.get(f, 0)
                rec[s:e] = hbase + np.cumsum(hits[s:e])
                seen_h[f] = seen_h.get(f, 0) + int(hits[s:e].sum())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(pos, type=pa.int64()),
                    pa.array(rec, type=pa.int64()),
                    batch.column(1),
                ],
                names=["file", "pos", "rec_id", "line"],
            )

    return raw.mapInArrow(
        kernel, "file string, pos bigint, rec_id bigint, line string"
    )


def _regroup_lines(lines: DataFrame, out_col: str = "rec") -> DataFrame:
    """Rebuild one string per (file, rec_id) group from
    :func:`_lines_with_group` output, lines re-joined in ``pos`` order —
    the single shuffle of the lines-framing readers (groups are
    record/document-sized)."""
    return lines.groupBy("file", "rec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(out_col)
    )


def _framed_lines(
    spark: SparkSession,
    path: str,
    framing: str,
    max_file_bytes: int | None,
) -> DataFrame:
    """(file, pos, line) under either framing. ``wholetext`` preserves a
    trailing empty line after a final newline (string-split semantics)
    and is capped by :func:`_guard_wholetext`; ``lines`` streams any
    file size through :func:`read_text_lines` (no cap needed)."""
    if framing == "lines":
        return read_text_lines(spark, path)
    if framing != "wholetext":
        raise ValueError(f"framing must be 'wholetext' or 'lines': {framing!r}")
    _guard_wholetext(spark, path, max_file_bytes)
    whole = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), "value"
    )
    return whole.select(
        "file",
        F.posexplode(F.split(F.col("value"), "\r?\n")).alias("pos", "line"),
    )


def read_kvp(
    spark: SparkSession,
    path: str,
    separator: str = ":",
    record_start: str | None = None,
    max_file_bytes: int | None = 256 << 20,
    framing: str = "wholetext",
) -> DataFrame:
    """ChoKVPReader analog (reference src/ChoETL/File/KeyValue/
    ChoKVPReader.cs:43; grouping state machine ChoKVPRecordReader.cs:
    82-219): ``key: value`` lines grouped into records — either
    blank-line separated (default) or opened by an explicit
    ``record_start`` marker line.

    Declarative sessionization: one row per FILE (wholetext), lines via
    posexplode (order-preserving within the file), record ids via a
    running sum of marker flags over a per-file window — files process
    in parallel; within a file order is inherent to the format. Returns
    (file, record_id, kv map<string,string>); project fields with
    ``F.col("kv")["name"]``. ``framing="lines"`` streams arbitrarily
    large files through the line-splittable text source
    (:func:`read_text_lines`) instead of one wholetext string per file.
    """
    import re as _re

    from pyspark.sql import Window

    lines = _framed_lines(spark, path, framing, max_file_bytes)
    if record_start is not None:
        is_marker = F.trim(F.col("line")) == record_start
    else:
        is_marker = F.trim(F.col("line")) == ""
    w = Window.partitionBy("file").orderBy("pos")
    sess = lines.withColumn(
        "record_id", F.sum(is_marker.cast("long")).over(w)
    )
    if record_start is not None:
        # no record is open until the first marker: preamble lines carry
        # record_id 0 and must not surface as a bogus record (the
        # reference's state machine only opens a record at the marker,
        # ChoKVPRecordReader.cs:82-219; ADVICE r2)
        sess = sess.filter(F.col("record_id") >= 1)
    sep = _re.escape(separator)
    kv_lines = sess.filter(
        ~is_marker & F.col("line").rlike(f"^[^{sep}]+{sep}")
    )
    key = F.trim(F.regexp_extract("line", f"^([^{sep}]+){sep}", 1))
    val = F.trim(F.regexp_extract("line", f"^[^{sep}]+{sep}(.*)$", 1))
    return (
        kv_lines.select("file", "record_id", key.alias("k"), val.alias("v"))
        .groupBy("file", "record_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("k"), F.col("v")))
            ).alias("kv")
        )
    )


def _xml_name_resolver(path: str, namespaces: dict[str, str]):
    """URI-based namespace resolution for the regex XML reader — the
    reference's WithXmlNamespaceManager semantics
    (src/ChoETL/File/Xml/ChoXmlReader.cs:480-520): the CALLER's prefixes
    are bound to URIs, and names match whatever prefixes the DOCUMENT
    binds to the same URI (including the default namespace).

    Declarations are sniffed driver-side from the first file's prefix
    (same one-small-read convention as :func:`sniff_delimiter`) — the
    declared-at-root convention of machine-generated feeds. Files that
    re-declare prefixes mid-document or bind different URIs per file
    need spark-xml on a real cluster (documented subset). A query URI
    the document never declares raises instead of matching nothing.

    Returns ``resolve(name) -> regex fragment``.
    """
    import glob as _glob
    import os as _os
    import re as _re

    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            "namespaces= resolves declarations from a local file prefix; "
            f"for remote storage ({path.split('://')[0]}://) use "
            "spark-xml or pre-resolved literal prefixes in field specs"
        )
    p = path.removeprefix("file://")
    if _os.path.isdir(p):
        files = sorted(
            f
            for f in _glob.glob(_os.path.join(p, "*"))
            if _os.path.isfile(f)
            and not _os.path.basename(f).startswith(("_", "."))
            and _os.path.getsize(f) > 0
        )
    else:
        files = sorted(_glob.glob(p)) or [p]
    head = ""
    if files:
        with open(files[0], encoding="utf-8", errors="replace") as fh:
            head = fh.read(65536)
    # xmlns="uri" (default ns, prefix '') and xmlns:pf="uri" — XML
    # attribute values may be double- OR single-quoted
    decls = [
        (m.group(1), m.group(2) if m.group(2) is not None else m.group(3))
        for m in _re.finditer(
            r'xmlns(?::([\w.\-]+))?\s*=\s*(?:"([^"]*)"|\'([^\']*)\')', head
        )
    ]

    def resolve(name: str) -> str:
        if ":" not in name:
            return _re.escape(name)
        qpf, local = name.split(":", 1)
        if qpf not in namespaces:
            return _re.escape(name)  # literal prefix, not ns-managed
        uri = namespaces[qpf]
        toks = sorted({f"{pf}:" if pf else "" for pf, u in decls if u == uri})
        if not toks:
            raise ValueError(
                f"namespace URI {uri!r} (query prefix {qpf!r}) is not "
                "declared on the document root of the first file; "
                "declared: " + repr(sorted({u for _, u in decls}))
            )
        return (
            "(?:" + "|".join(_re.escape(t) for t in toks) + ")"
            + _re.escape(local)
        )

    return resolve


def _xml_field_pattern(
    spec: str, resolve=None
) -> tuple[str, str, tuple[int, int]]:
    """(regex, kind, (group_a, group_b)) for one XML field spec; raises
    on specs outside the supported subset instead of silently matching
    nothing (round-2 verdict #6). ``kind`` is "attr" (both groups are
    quoted-value alternatives) or "elem" (group_a = CDATA body, group_b
    = plain text). ``resolve`` maps a tag/attr name to its regex
    fragment (namespace resolution); default is a literal escaped match.

    Step grammar — the XPath node-selection subset the reference tests
    exercise (ChoXmlReader.cs:651-655 WithXPath; predicate shapes from
    src/Test/ChoXmlReaderTest/Program.cs:4346,5431-5539):
      - ``tag``                — literal element step
      - ``*``                  — wildcard element step (any tag; its
        closing tag is matched by backreference)
      - ``tag[@attr='v']``     — attribute-equality predicate on any
        step, leaf or ancestor; single or double quotes
      - ``tag[n]``             — positional predicate (1-based n-th
        occurrence within the enclosing context) on any literal-tag
        step, leaf or ancestor
      - ``tag[text()='v']``    — body-equality predicate on any
        literal-tag step (plain or CDATA body, exact match —
        sibling-selection-by-value)
      - ``@attr``              — attribute leaf (final segment only)
      - ``//`` / leading ``/`` — descendant-axis aliases: element
        steps here are already descendant-matching, so they normalize
        to ``/`` / nothing
    """
    import re as _re

    if resolve is None:
        resolve = _re.escape
    step_re = _re.compile(
        r"^(?P<tag>\*|[^\[\]@*/]+)"
        r"(?:\[@(?P<pattr>[^=\]\s]+)\s*=\s*"
        r"(?P<q>['\"])(?P<pval>[^'\"]*)(?P=q)\]"
        r"|\[(?P<pos>[1-9]\d*)\]"
        r"|\[text\(\)\s*=\s*"
        r"(?P<q2>['\"])(?P<tval>[^'\"]*)(?P=q2)\])?$"
    )
    # '//' descendant axes normalize away: this subset's element steps
    # are ALREADY descendant-matching ('a/b' finds b anywhere below
    # a's open tag — the documented arbitrary-depth semantics), so
    # 'a//b' is the same pattern and a leading '//' (or '/') anchors
    # at the row element exactly like a bare name does.
    norm = _re.sub(r"/{2,}", "/", spec).lstrip("/") if spec else spec
    bad = not norm or norm.endswith("/")
    raw_parts = norm.split("/") if not bad else []
    steps: list[tuple[str, str | None, str | None, int | None]] = []
    attr_leaf: str | None = None
    for i, p in enumerate(raw_parts):
        if p.startswith("@"):
            if i != len(raw_parts) - 1 or len(p) < 2:
                bad = True
                break
            attr_leaf = p[1:]
            continue
        m = step_re.match(p)
        if m is None or (
            m["tag"] == "*"
            and (m["pos"] is not None or m["tval"] is not None)
        ):
            bad = True
            break
        steps.append((
            m["tag"], m["pattr"], m["pval"],
            int(m["pos"]) if m["pos"] is not None else None,
            m["tval"],
        ))
    if bad or (attr_leaf is None and not steps):
        raise ValueError(
            f"unsupported XML field spec {spec!r}: supported are element "
            "paths 'a/b/c' (any depth), '*' wildcard steps, "
            "\"tag[@attr='v']\" attribute-equality predicates on any "
            "step, 'tag[n]' positional and \"tag[text()='v']\" "
            "body-equality predicates on literal-tag steps, '@attr' on "
            "the row element, 'a/b/@attr', and '//' descendant "
            "aliases. Other XPath axes/predicates need spark-xml on a "
            "real cluster."
        )
    group = 0  # capture groups emitted so far (left to right)

    def open_tag(tag: str, pattr, pval, pos=None, tval=None) -> tuple[str, str]:
        """(open fragment ``<name(?=pred)``, closing-tag fragment)."""
        nonlocal group
        if tag == "*":
            group += 1
            name_pat = r"([A-Za-z_][-.\w:]*)"
            close = f"\\{group}"
        else:
            name_pat = resolve(tag)
            close = name_pat
        pred = ""
        if pattr is not None:
            a = resolve(pattr)
            v = _re.escape(pval)
            # zero-width: predicate must not shift group numbering
            pred = f"(?=[^>]*\\s{a}\\s*=\\s*(?:\"{v}\"|'{v}'))"
        if tval is not None:
            # text()='v': the element's direct body is exactly v
            # (plain or CDATA, surrounding whitespace tolerated) — a
            # zero-width forward scan past the rest of the open tag,
            # so it composes with the attr predicate and the @attr
            # leaf construction without moving the match position.
            # Sibling-selection-by-value, the dominant usage; elements
            # with child elements never match (their body is not v).
            v = _re.escape(tval)
            pred += (
                f"(?=(?:\\s[^>]*)?>\\s*(?:<!\\[CDATA\\[)?{v}"
                f"(?:\\]\\]>)?\\s*</{name_pat}\\s*>)"
            )
        skip = ""
        if pos is not None and pos > 1:
            # positional predicate as an occurrence counter: consume
            # pos-1 whole same-tag elements (self-closing or paired)
            # before the one that matches — XPath's child::tag[n] for
            # the non-recursive shapes this regex subset serves.
            # Non-capturing throughout so group numbering holds.
            whole = (
                f"(?:<{name_pat}(?:\\s[^>]*)?/>"
                f"|<{name_pat}(?:\\s[^>]*)?>.*?</{name_pat}\\s*>)"
            )
            skip = f"(?:{whole}.*?){{{pos - 1}}}"
        return f"{skip}<{name_pat}{pred}", close

    if attr_leaf is not None:
        attr = resolve(attr_leaf)
        # XML attribute values may be double- OR single-quoted; one
        # group holds each form (exactly one is non-empty)
        value = "(?:\"([^\"]*)\"|'([^']*)')"
        if not steps:
            # attributes of the row element live before the first '>'
            # of the (split) record
            return f"^[^>]*\\s{attr}\\s*=\\s*{value}", "attr", (1, 2)
        prefix = ""
        for s in steps[:-1]:
            o, _close = open_tag(*s)
            prefix += f"{o}(?:\\s[^>]*)?>.*?"
        o, _close = open_tag(*steps[-1])
        ga = group + 1
        return (
            "(?s)" + prefix + f"{o}[^>]*\\s{attr}\\s*=\\s*{value}",
            "attr",
            (ga, ga + 1),
        )
    prefix = ""
    closes: list[str] = []
    for s in steps[:-1]:
        o, close = open_tag(*s)
        prefix += f"{o}(?:\\s[^>]*)?>.*?"
        closes.append(close)
    o, close = open_tag(*steps[-1])
    ga = group + 1
    leaf_pat = (
        f"{o}(?:\\s[^>]*)?>\\s*"
        f"(?:<!\\[CDATA\\[(.*?)\\]\\]>|([^<]*))"
        f"\\s*</{close}>"
    )
    suffix = "".join(f".*?</{c}>" for c in reversed(closes))
    return "(?s)" + prefix + leaf_pat + suffix, "elem", (ga, ga + 1)


def _xml_unescape(col):
    """The five predefined XML entities, plain text only (CDATA bodies
    are literal by definition). ``&amp;`` LAST so ``&amp;lt;`` correctly
    yields the literal ``&lt;``. Numeric character references are out of
    scope (the writer never emits them)."""
    for ent, raw in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "'"), ("&amp;", "&"),
    ):
        col = F.regexp_replace(col, ent, raw)
    return col


def _xml_select(
    records: DataFrame, fields: list[str], resolve=None
) -> DataFrame:
    """Shared per-record field extraction over a ``rec`` column whose
    value is one record's text starting right AFTER the ``<row_tag``
    open token (so row-element attributes sit before the first '>')."""
    import re as _re

    cols = []
    for spec in fields:
        out_name = _re.sub(
            r"\[@[^\]]*\]|\[text\(\)[^\]]*\]", "", spec
        )
        out_name = _re.sub(r"\[(\d+)\]", r"_\1", out_name)
        out_name = _re.sub(r"/{2,}", "/", out_name).lstrip("/")
        out_name = out_name.replace("@", "").replace("/", "_").replace(
            ":", "_"
        ).replace("*", "any")
        pat, kind, (ga, gb) = _xml_field_pattern(spec, resolve)
        if kind == "attr":  # attribute value: always entity-escaped text
            # group ga = double-quoted form, gb = single-quoted form;
            # exactly one is non-empty
            col = _xml_unescape(
                F.concat(
                    F.regexp_extract(F.col("rec"), pat, ga),
                    F.regexp_extract(F.col("rec"), pat, gb),
                )
            )
        else:
            # group ga = CDATA body (literal, NO unescape), gb = plain
            # element text (entity-escaped); one is empty
            col = F.concat(
                F.regexp_extract(F.col("rec"), pat, ga),
                _xml_unescape(F.regexp_extract(F.col("rec"), pat, gb)),
            )
        cols.append(col.alias(out_name))
    return records.select(*cols)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    fields: list[str],
    max_file_bytes: int | None = 256 << 20,
    framing: str = "wholetext",
    namespaces: dict[str, str] | None = None,
) -> DataFrame:
    """ChoXmlReader analog (reference src/ChoETL/File/Xml/ChoXmlReader.cs:
    22,651-655): split on <row_tag> boundaries, per-field extraction —
    all declarative (explode/group + regexp_extract), no UDFs, no
    spark-xml dependency (spark-xml remains the full-fidelity cluster
    path for XPath predicates / per-file divergent namespace bindings).

    ``namespaces={prefix: uri}`` gives the reference's
    XmlNamespaceManager semantics (ChoXmlReader.cs:480-520): prefixes in
    ``row_tag``/``fields`` are bound to URIs and match whatever prefixes
    the DOCUMENT's root declares for the same URI (including the default
    namespace). Without it, prefixed names match literally.

    Field specs (the XPath-node-selection subset the reference tests
    exercise):
      - ``"name"``       — child element text; attributes on the element
        and CDATA-wrapped text are handled
      - ``"a/b/c"``      — nested element text, any depth
      - ``"@attr"``      — attribute of the row element itself
      - ``"a/b/@attr"``  — attribute of a nested element
      - ``"p[@name='x']"`` — attribute-equality predicate on any step
        (leaf or ancestor; single or double quotes — the reference's
        dominant WithXPath shape, ChoXmlReaderTest Program.cs:4346,
        5431-5539)
      - ``"p[n]"``       — positional predicate (1-based) on any
        literal-tag step
      - ``"p[text()='x']"`` — body-equality predicate (plain or CDATA)
        on any literal-tag step — sibling selection by value
      - ``"a//c"`` / ``"//b"`` — descendant-axis aliases (element
        steps are inherently descendant-matching here)
      - ``"a/*"`` / ``"*/b"`` — wildcard element steps
    Tags/attrs may contain regex metacharacters (dotted or namespaced
    names like ``ns:item``) — everything is re.escape'd. Unsupported
    specs (``last()``, comparisons, ``following-sibling::`` etc.)
    raise instead of silently matching nothing.

    Known subset divergence from a real XPath engine: ancestor
    containment is checked by lazy text scan, not balanced-tag
    parsing, so in a record shaped ``<a>..</a><b/>..<a><b/></a>`` the
    spec ``a/b`` can match a ``b`` that sits BETWEEN two ``a``
    elements (the scan pairs the first ``<a`` with the last ``</a>``).
    Machine-generated exports (the reference's corpus) do not produce
    that shape; spark-xml is the full-fidelity path when in doubt.

    ``framing="wholetext"`` (default): one string per file, size-capped
    by ``max_file_bytes``; handles records packed on a single line.
    ``framing="lines"`` STREAMS arbitrarily large files through the
    splittable text source (the reference's pull-based line reader
    shape, src/ChoETL/Common/ChoExtensions.cs:808): each ``<row_tag``
    open token must start its own line (leading whitespace ok — the
    machine-generated-XML convention); lines are assigned to records by
    a cumulative open-tag count (partition-offset recipe, no
    single-task window) and regrouped with ONE shuffle on
    (file, record).
    """
    import re as _re

    resolve = (
        _xml_name_resolver(path, namespaces) if namespaces else None
    )
    tag = resolve(row_tag) if resolve else _re.escape(row_tag)
    open_token = f"<{tag}(?=[\\s>/])"
    if framing == "lines":
        lines = _lines_with_group(spark, path, f"^\\s*{open_token}")
        rec = _regroup_lines(
            lines.filter(F.col("rec_id") >= 1)  # prologue before 1st row
        ).select(
            # match the wholetext record shape: drop through the open
            # token so attributes precede the first '>'
            F.regexp_replace("rec", f"^\\s*{open_token}", "").alias("rec")
        )
    elif framing == "wholetext":
        _guard_wholetext(spark, path, max_file_bytes)
        whole = spark.read.text(path, wholetext=True)
        # keep the remainder of the opening tag (attributes) per record
        rec = whole.select(
            F.explode(F.split(F.col("value"), open_token)).alias("rec")
        )
    else:
        raise ValueError(
            f"framing must be 'wholetext' or 'lines': {framing!r}"
        )
    if resolve:
        records = rec.filter(F.col("rec").rlike(f"</{tag}>"))
    else:
        records = rec.filter(F.col("rec").contains(f"</{row_tag}>"))
    return _xml_select(records, fields, resolve)


def read_xml_flat(
    spark: SparkSession,
    path: str,
    row_tag: str,
    fields: list[str],
) -> DataFrame:
    """Back-compat wrapper over :func:`read_xml` (flat element fields)."""
    return read_xml(spark, path, row_tag, fields)


def read_text_gated(
    spark: SparkSession,
    path: str,
    skip_until: str | None = None,
    do_while: str | None = None,
    max_file_bytes: int | None = 256 << 20,
    framing: str = "wholetext",
) -> DataFrame:
    """Stateful SkipUntil / DoWhile row gating over ordered text files
    (reference src/ChoETL/IChoReader.cs:22-23; applied e.g.
    ChoParquetRecordReader.cs:208-226): per file, emit lines from the
    first ``skip_until`` match (inclusive; SQL predicate over ``line``)
    up to the first subsequent line failing ``do_while`` (exclusive).
    Files with no ``skip_until`` match yield nothing.

    Declarative sessionization, not a driver loop: per-file line
    positions via wholetext + posexplode (order-preserving within a
    file), gate positions via windowed min-aggregates, one filter. Runs
    parallel across files; within a file, order is inherent to the
    format. Returns (file, pos, line). ``framing="lines"`` streams
    arbitrarily large files (see :func:`read_text_lines`).
    """
    from pyspark.sql import Window

    lines = _framed_lines(spark, path, framing, max_file_bytes)
    w = Window.partitionBy("file")
    start_pos = (
        F.min(F.when(F.expr(skip_until), F.col("pos"))).over(w)
        if skip_until is not None
        else F.lit(0)
    )
    gated = lines.withColumn("_start", start_pos).filter(
        F.col("_start").isNotNull() & (F.col("pos") >= F.col("_start"))
    )
    if do_while is not None:
        stop_pos = F.min(
            F.when(
                ~F.expr(do_while) & (F.col("pos") > F.col("_start")),
                F.col("pos"),
            )
        ).over(Window.partitionBy("file"))
        gated = gated.withColumn("_stop", stop_pos).filter(
            F.col("_stop").isNull() | (F.col("pos") < F.col("_stop"))
        )
    return gated.select("file", "pos", "line")


def read_bson(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """ChoBSONReader analog (reference src/ChoETL.BSON/ChoBSONReader.cs:21)
    over the pure-Python dump bridge; the mongo-spark connector is the
    cluster path for live MongoDB sources."""
    from choetl_spark.sources.bson_py import read_bson_py

    return read_bson_py(spark, path, schema)


def write_bson(df: DataFrame, path: str) -> None:
    """BSON dump writer (one mongodump-style file per task)."""
    from choetl_spark.sources.bson_py import write_bson_py

    write_bson_py(df, path)


def read_yaml(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    yaml_path: str | None = None,
    multi_doc: bool = True,
    max_file_bytes: int | None = 256 << 20,
    framing: str = "wholetext",
) -> DataFrame:
    """ChoYamlReader analog (reference src/ChoETL.Yaml/ChoYamlReader.cs:21):
    YAML documents -> records. Distributed per FILE (wholetext read, one
    ``yaml.safe_load_all`` per file in an Arrow-batched kernel), with
    documents re-serialized to JSON landing via ``from_json`` (explicit
    ``schema``) or Spark's JSON schema inference.

    ``framing="lines"`` STREAMS arbitrarily large multi-doc files: the
    YAML spec pins the document separator ``---`` to column 0, so lines
    group into documents by a cumulative separator count (same
    partition-offset recipe as :func:`read_xml`'s lines framing — no
    wholetext string, one shuffle on (file, document)), and the same
    parse kernel runs per DOCUMENT instead of per file. Caveat: a
    literal block scalar whose body line starts with ``--- `` at column
    0 would be mis-split; use wholetext for such files.

    ``yaml_path`` is the YamlPath-lite subtree selector: a dotted path
    (``a.b``) descended in each document before emission; a list at the
    end fans out one record per element.
    """
    import json as _json

    import pyarrow as pa
    import yaml as _yaml

    parts = yaml_path.split(".") if yaml_path else []

    def kernel(batches):
        for batch in batches:
            out = []
            for content in batch.column(0).to_pylist():
                docs = (
                    _yaml.safe_load_all(content)
                    if multi_doc
                    else [_yaml.safe_load(content)]
                )
                for doc in docs:
                    if doc is None:
                        continue
                    node = doc
                    ok = True
                    for p in parts:
                        if isinstance(node, dict) and p in node:
                            node = node[p]
                        else:
                            ok = False
                            break
                    if not ok:
                        continue
                    fan = node if isinstance(node, list) else [node]
                    out.extend(
                        _json.dumps(x, default=str) for x in fan
                    )
            yield pa.RecordBatch.from_arrays(
                [pa.array(out, type=pa.string())], names=["json"]
            )

    if framing == "lines":
        if not multi_doc:
            # wholetext + multi_doc=False raises ComposerError on a
            # multi-doc file; lines framing splits on '---' first and
            # would silently accept it — refuse the contradiction
            raise ValueError(
                "framing='lines' splits on '---' document markers and "
                "implies multi_doc=True; use wholetext to enforce "
                "single-document files"
            )
        # one chunk per DOCUMENT (doc 0 = content before any '---')
        contents = _regroup_lines(
            _lines_with_group(spark, path, r"^---(\s|$)"), "value"
        ).select("value")
    elif framing == "wholetext":
        _guard_wholetext(spark, path, max_file_bytes)
        contents = spark.read.text(path, wholetext=True)
    else:
        raise ValueError(
            f"framing must be 'wholetext' or 'lines': {framing!r}"
        )
    jsons = contents.mapInArrow(kernel, "json string")
    if schema:
        return jsons.select(
            F.from_json("json", schema).alias("r")
        ).select("r.*")
    # schema inference is its own pass: run it over a persisted copy,
    # then RELEASE the cache (a leaked persist would pin executor
    # storage for the session) and apply the inferred schema lazily
    jsons = jsons.persist()
    try:
        inferred = spark.read.json(
            jsons.rdd.map(lambda r: r["json"])
        ).schema
    finally:
        jsons.unpersist()
    return jsons.select(
        F.from_json("json", inferred.simpleString()).alias("r")
    ).select("r.*")


def write_yaml(df: DataFrame, path: str, multi_doc: bool = True) -> None:
    """ChoYamlWriter analog (reference src/ChoETL.Yaml/ChoYamlWriter.cs:19):
    one YAML stream per partition under ``path`` (``---``-separated
    documents), written task-side via the shared part-file writer."""
    import yaml as _yaml

    from choetl_spark.sources.partfiles import write_part_files

    def encode_batches(batches, fh) -> int:
        n = 0
        for batch in batches:
            rows = batch.to_pylist()
            for r in rows:
                fh.write(b"---\n")
                fh.write(
                    _yaml.safe_dump(r, sort_keys=False).encode("utf-8")
                )
            n += len(rows)
        return n

    write_part_files(df, path, "yaml", encode_batches)


def write_kvp(df: DataFrame, path: str, separator: str = ":") -> None:
    """ChoKVPWriter analog (reference src/ChoETL/File/KeyValue/
    ChoKVPWriter.cs:16): one ``key<sep> value`` line per field, records
    separated by a blank line — the inverse of :func:`read_kvp`'s
    blank-line grouping. Fully declarative (concat expressions, no
    UDF): each record renders to one multi-line text value; Spark's
    text writer appends the record-terminating newline, which yields
    the blank separator line. Nulls omit the field line (the
    reference's null-value handling)."""
    field_lines = [
        F.when(
            F.col(c).isNotNull(),
            F.concat(
                F.lit(f"{c}{separator} "), F.col(c).cast("string")
            ),
        )
        for c in df.columns
    ]
    # concat_ws skips nulls, so omitted fields leave no gap line
    rec = F.concat(F.concat_ws("\n", *field_lines), F.lit("\n"))
    df.select(rec.alias("value")).write.mode("overwrite").text(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "root",
    attributes: list[str] | None = None,
) -> None:
    """ChoXmlWriter analog (reference src/ChoETL/File/Xml/ChoXmlWriter.cs:18):
    rows -> XML elements, fully declarative (concat expressions, XML
    entity escaping JVM-side, whole-stage codegen) -> one text part per
    partition plus root open/close markers. Columns in ``attributes``
    render as attributes of the row element; the rest as child elements.
    Nulls omit the element (the reference's null-value handling)."""
    attrs = attributes or []

    def esc(c):
        out = F.col(c).cast("string")
        for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                         ('"', "&quot;")):
            out = F.regexp_replace(out, raw, ent)
        return out

    attr_parts = [
        F.when(
            F.col(c).isNotNull(), F.concat(F.lit(f' {c}="'), esc(c), F.lit('"'))
        ).otherwise(F.lit(""))
        for c in attrs
    ]
    elem_parts = [
        F.when(
            F.col(c).isNotNull(),
            F.concat(F.lit(f"<{c}>"), esc(c), F.lit(f"</{c}>")),
        ).otherwise(F.lit(""))
        for c in df.columns
        if c not in attrs
    ]
    line = F.concat(
        F.lit(f"<{row_tag}"), *attr_parts, F.lit(">"), *elem_parts,
        F.lit(f"</{row_tag}>"),
    )
    rows = df.select(line.alias("value"))
    header = df.sparkSession.createDataFrame(
        [(f"<{root_tag}>",)], "value string"
    )
    footer = df.sparkSession.createDataFrame(
        [(f"</{root_tag}>",)], "value string"
    )
    # root markers as separate single-row partitions: part files
    # concatenate (in name order) to a well-formed document; at scale
    # the consumer reads the directory as a stream (same contract as
    # Spark's own text writer)
    header.unionAll(rows).unionAll(footer).write.mode("overwrite").text(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **opts,
) -> DataFrame:
    """DB scan analog (reference src/ChoETL.Parquet/ChoParquetWriter.cs:590-631
    Write(IDataReader)): Spark's JDBC source with explicit partitioned
    reads — the distributed replacement for row-at-a-time IDataReader
    pulls. Exercised end-to-end against embedded Apache Derby (bundled
    with Spark) in tests; external engines just need their driver jar on
    the cluster classpath."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in opts.items():
        r = r.option(k, v)
    if partition_column is not None:
        r = (
            r.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    return r.load()


def write_avro(df: DataFrame, path: str, codec: str = "deflate") -> None:
    """ChoAvroWriter analog (reference src/ChoETL.Avro/ChoAvroWriter.cs:17,
    251-255, pluggable Codec): spark-avro with the codec option when the
    module is deployed, else the pure-Python flat-record container
    bridge (one container file per task, null/deflate codecs)."""
    try:
        df.write.mode("overwrite").format("avro").option(
            "avro.codec", codec
        ).save(path)
    except Exception as e:
        if not _spark_avro_missing(e):
            raise
        from choetl_spark.sources.avro_py import write_avro_py

        write_avro_py(df, path, codec=codec)


def write_fixed_length(
    df: DataFrame, path: str, fields: list[FixedField]
) -> None:
    """Fixed-length writer: pad/truncate each column to its configured
    size (the NormalizeFieldValue pad/truncate discipline, reference
    src/ChoETL.Parquet/ChoParquetRecordWriter.cs:1222-1410) and emit one
    text column."""
    line = F.concat(
        *[
            F.rpad(
                F.coalesce(F.col(f.name).cast("string"), F.lit("")),
                f.size,
                " ",
            ).substr(1, f.size)
            for f in fields
        ]
    )
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def write_manifold(
    dfs: dict[str, tuple[DataFrame, list[FixedField]]], path: str
) -> None:
    """ChoManifoldWriter analog (reference
    src/ChoETL/File/Manifold/ChoManifoldWriter.cs:14): heterogeneous
    record types to one output — each type rendered fixed-length with its
    type code prefix, then unioned."""
    rendered = None
    for type_code, (df, fields) in dfs.items():
        line = F.concat(
            F.lit(type_code),
            *[
                F.rpad(
                    F.coalesce(F.col(f.name).cast("string"), F.lit("")),
                    f.size,
                    " ",
                ).substr(1, f.size)
                for f in fields
            ],
        )
        part = df.select(line.alias("value"))
        rendered = part if rendered is None else rendered.unionAll(part)
    rendered.write.mode("overwrite").text(path)


_WARC_SCHEMA_DDL = (
    "file string, record_seq long, record_type string, url string, "
    "warc_ts timestamp, content_type string, http_status int, "
    "http_content_type string, lang string, payload binary"
)


def read_warc(
    spark: SparkSession,
    path: str,
    max_file_bytes: int | None = 4 << 30,
) -> DataFrame:
    """Distributed WARC/WET reader — one row per WARC record.

    The raw-crawl entry point for the north-rule table (Common Crawl
    ships .warc.gz of HTTP ``response`` records and .wet.gz of
    ``conversion`` text records; see :mod:`choetl_spark.sources.warc_py`
    for the spec provenance and the per-record-Python justification).
    Plan shape: the driver lists files (metadata only) into the
    kernel's closure, and a ``spark.range`` of file indices is packed
    into tasks by the files' on-disk sizes with Spark's own
    ``maxSplitBytes`` rule (:func:`choetl_spark.direct._packed_range`,
    the scan-direct recipe: no Exchange, no Python RDD); each task
    streams its files one after another through the pure-Python parser
    and emits Arrow batches — record payloads never cross the JVM
    boundary on the way in.

    A file is never split (WARC's gzip-member framing supports
    member-boundary splits on a cluster reader; a sandbox file is
    already task-sized). ``max_file_bytes`` guards task memory the same
    way the wholetext formats do: a crawl file decompresses fully
    inside its task, so reject files whose COMPRESSED size already
    exceeds the cap instead of OOMing mid-job; pass None to opt out.
    """
    import glob as _glob
    import os as _os

    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            "read_warc lists local paths; for object storage mount or "
            "localize the crawl files (cluster readers split on gzip "
            "member boundaries instead)"
        )
    p = path.removeprefix("file://")
    if _os.path.isdir(p):
        files = sorted(
            f
            for f in _glob.glob(_os.path.join(p, "*"))
            if _os.path.isfile(f)
            and not _os.path.basename(f).startswith(("_", "."))
            and _os.path.splitext(f)[1] in (".warc", ".wet", ".gz")
        )
    else:
        files = sorted(_glob.glob(p)) or [p]
    if not files:
        raise FileNotFoundError(f"no WARC files under {path!r}")
    if max_file_bytes is not None:
        big = [
            f for f in files if _os.path.getsize(f) > max_file_bytes
        ]
        if big:
            raise ValueError(
                f"read_warc: file(s) exceed max_file_bytes="
                f"{max_file_bytes}: {sorted(big)[:3]}. One file "
                "decompresses inside one task; raise the cap "
                "explicitly (max_file_bytes=None) or split the input."
            )
    def kernel(batches):
        import pyarrow as pa

        from choetl_spark.sources.warc_py import read_warc_file

        for batch in batches:
            for i in batch.column(0).to_pylist():
                fname = files[i]
                rows = list(read_warc_file(fname))
                if not rows:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([fname] * len(rows)),
                        pa.array(range(len(rows)), type=pa.int64()),
                        pa.array([r["record_type"] for r in rows]),
                        pa.array([r["url"] for r in rows]),
                        pa.array(
                            [r["warc_ts"] for r in rows],
                            type=pa.timestamp("us", tz="UTC"),
                        ),
                        pa.array([r["content_type"] for r in rows]),
                        pa.array(
                            [r["http_status"] for r in rows],
                            type=pa.int32(),
                        ),
                        pa.array([r["http_content_type"] for r in rows]),
                        pa.array([r["lang"] for r in rows]),
                        pa.array(
                            [r["payload"] for r in rows], type=pa.binary()
                        ),
                    ],
                    names=[
                        "file", "record_seq", "record_type", "url",
                        "warc_ts", "content_type", "http_status",
                        "http_content_type", "lang", "payload",
                    ],
                )

    from choetl_spark.direct import _packed_range

    desc = _packed_range(spark, [_os.path.getsize(f) for f in files])
    return desc.mapInArrow(kernel, _WARC_SCHEMA_DDL)


def warc_webpages(records: DataFrame) -> DataFrame:
    """Compose WARC records into the north-rule web-page table
    ``(url, warc_ts, html, text, lang)``.

    ``response`` records carry html (the HTTP body), ``conversion``
    (WET) records carry the extracted text — and Common Crawl's
    ``WARC-Identified-Content-Language`` annotation — for the same
    target URI; a left join stitches them (one shuffle on url — or a
    broadcast when the WET side is small; AQE decides). ``lang`` is
    the PRIMARY identified language (first of the comma list), NULL
    when the crawl did not annotate — refine downstream with
    :func:`choetl_spark.operators.with_lang_id`.
    """
    resp = records.filter(F.col("record_type") == "response").select(
        "url", "warc_ts", F.col("payload").alias("html")
    )
    conv = records.filter(F.col("record_type") == "conversion").select(
        "url",
        F.decode("payload", "utf-8").alias("text"),
        F.split("lang", ",").getItem(0).alias("lang"),
    )
    return resp.join(conv, "url", "left").select(
        "url", "warc_ts", "html", "text", "lang"
    )


def write_warc(
    df: DataFrame,
    path: str,
    record_type: str = "response",
    http_content_type: str = "text/html; charset=utf-8",
    lang_col: str | None = None,
) -> None:
    """Distributed WARC writer: each task writes one ``.warc.gz`` with
    one gzip member PER RECORD (the Common-Crawl layout that makes
    member-boundary range splits possible on read). Expects columns
    ``url string, warc_ts timestamp, payload binary``. ``response``
    wraps payloads in an HTTP/1.1 envelope; ``conversion`` writes the
    raw block (the WET layout) and, when ``lang_col`` is given, stamps
    ``WARC-Identified-Content-Language``. Deterministic bytes for
    deterministic input (record ids derive from content, not uuids)."""
    from choetl_spark.sources.partfiles import write_part_files

    def encode_batches(batches, fh) -> int:
        import pyarrow as pa

        from choetl_spark.sources.warc_py import (
            build_warc_record,
            write_warc_member,
        )

        n = 0
        for batch in batches:
            urls = batch.column(batch.schema.get_field_index("url"))
            tss = batch.column(
                batch.schema.get_field_index("warc_ts")
            ).cast(pa.timestamp("us", tz="UTC"))
            payloads = batch.column(
                batch.schema.get_field_index("payload")
            )
            langs = (
                batch.column(
                    batch.schema.get_field_index(lang_col)
                ).to_pylist()
                if lang_col is not None
                else [None] * batch.num_rows
            )
            for url, ts, payload, lang in zip(
                urls.to_pylist(), tss.to_pylist(), payloads.to_pylist(),
                langs,
            ):
                rec = build_warc_record(
                    record_type, url, ts,
                    payload if payload is not None else b"",
                    http_content_type=http_content_type,
                    lang=lang,
                )
                write_warc_member(fh, rec)
                n += 1
        return n

    write_part_files(df, path, "warc.gz", encode_batches)


def write_cdxj(
    df: DataFrame,
    path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    meta_cols: tuple = ("url",),
    sort: bool = True,
    num_partitions: int | None = None,
    compression: str | None = None,
) -> None:
    """Write a CDXJ capture index (the Common-Crawl / OpenWayback
    index format): one line per capture, ``<surt> <ts14> <json>`` —
    the SURT sort key (:func:`choetl_spark.operators.weburl.with_surt`),
    the 14-digit ``yyyyMMddHHmmss`` timestamp, and a JSON object of
    ``meta_cols`` (CC ships url/mime/status/digest/length; pass
    whichever your table carries — all rendered with ``to_json``).

    ``sort=True`` builds the index the way the consumer needs it:
    ``repartitionByRange`` on (surt, ts) then ``sortWithinPartitions``
    — globally range-clustered part files, each internally sorted, so
    a binary-searching reader touches one file per key range. That is
    ONE range shuffle of (key + meta) columns, the same cost Common
    Crawl's own index build pays; ``sort=False`` skips it for
    already-clustered input. Everything is codegen (surt chain,
    date_format, to_json) — no Python in the row path. ``ts14`` uses
    the session timezone, like every Spark datetime function — run
    index builds under UTC (crawl timestamps are UTC by spec)."""
    from choetl_spark.operators.weburl import with_surt

    keyed = with_surt(df, url_col, "_surt").select(
        "_surt",
        F.date_format(F.col(ts_col), "yyyyMMddHHmmss").alias("_ts14"),
        F.to_json(F.struct(*[F.col(c) for c in meta_cols])).alias(
            "_meta"
        ),
    )
    # a capture without its sort key cannot be indexed: concat_ws would
    # silently DROP the null field and emit a shifted two-field line
    # that read_cdxj mis-splits — exclude such rows (the same contract
    # as CC's own index: url + timestamp are mandatory)
    keyed = keyed.filter(
        F.col("_surt").isNotNull() & F.col("_ts14").isNotNull()
    )
    if sort:
        if num_partitions:
            keyed = keyed.repartitionByRange(
                num_partitions, "_surt", "_ts14"
            )
        else:
            keyed = keyed.repartitionByRange("_surt", "_ts14")
        keyed = keyed.sortWithinPartitions("_surt", "_ts14")
    line = F.concat_ws(" ", "_surt", "_ts14", "_meta")
    writer = keyed.select(line.alias("value")).write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def read_cdxj(
    spark: SparkSession,
    path: str,
    meta_schema: str = "url string",
) -> DataFrame:
    """Read a CDXJ capture index back into ``(surt, ts14, <meta
    fields>)`` — ``spark.read.text`` + a codegen'd split of the two
    space-delimited key fields + ``from_json`` of the remainder under
    the caller's ``meta_schema`` DDL (unknown JSON keys are ignored,
    missing ones read NULL — the usual from_json leniency). ``ts14``
    stays the 14-char string (timezone-free by construction); cast
    with ``to_timestamp(ts14, 'yyyyMMddHHmmss')`` under UTC when an
    instant is needed. Scale: plain text-file scan — splittable,
    column-pruned at the JSON level, no Python."""
    lines = spark.read.text(path)
    v = F.col("value")
    meta = F.from_json(
        F.regexp_extract(v, r"^\S+ \S+ (.*)$", 1), meta_schema
    )
    return lines.select(
        F.substring_index(v, " ", 1).alias("surt"),
        F.element_at(F.split(v, " ", 3), 2).alias("ts14"),
        meta.alias("_m"),
    ).select("surt", "ts14", "_m.*")


# Executable SQLite staging bridge (reference ChoETL.Sqlite parity) —
# real database file via stdlib sqlite3; see sqlite_py module docstring.
from choetl_spark.sources.sqlite_py import (  # noqa: E402,F401
    read_sqlite,
    stage_sqlite,
)
