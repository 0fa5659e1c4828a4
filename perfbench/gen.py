"""Input generation for the benchmark: synthetic page parquet files.

Every row is a pure function of its row id (``choetl_spark.synth.
synth_batch``), so a file is fully described by its first id and row
count. Files are written in worker processes; each worker returns the
aggregates the benchmark later checks scans against.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from choetl_spark.synth import synth_batch

# the same (url, warc_ts, html, text, lang) shape the store keeps; the
# timestamp is written as UTC-adjusted so Spark reads it as TIMESTAMP
TS_TYPE = pa.timestamp("us", tz="UTC")
LEN_COLUMNS = ("url", "html", "text", "lang")


def rows(first_id: int, n_rows: int) -> pa.Table:
    """Rows ``first_id .. first_id + n_rows - 1`` as one Arrow table."""
    ids = np.arange(first_id, first_id + n_rows, dtype=np.int64)
    table = pa.Table.from_batches(
        [synth_batch(ids[i : i + 2048]) for i in range(0, n_rows, 2048)]
    )
    return table.set_column(
        1, "warc_ts", table.column("warc_ts").cast(TS_TYPE)
    )


def aggregates(table: pa.Table) -> dict:
    """What a full scan of ``table`` must return: row count, byte-length
    sums of the variable-width columns, the timestamp sum in micros, and
    the Arrow in-memory size (the benchmark's "raw bytes")."""
    out = {"rows": table.num_rows, "raw_bytes": table.nbytes}
    for c in LEN_COLUMNS:
        out[f"len_{c}"] = int(pc.sum(pc.binary_length(table.column(c))).as_py())
    # summed as Python ints: for high seeds the micros sum of one file
    # passes 2**63, where an int64 ``pc.sum`` would wrap
    ts = table.column("warc_ts").cast(pa.int64())
    out["ts_sum"] = sum(ts.to_pylist())
    return out


def write_file(path: str, first_id: int, n_rows: int) -> dict:
    """Write one input parquet file (1,024-row row groups) and return its
    aggregates."""
    table = rows(first_id, n_rows)
    pq.write_table(table, path, row_group_size=1024)
    return aggregates(table)


def add(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b[k] for k in b}


if __name__ == "__main__":
    # python3 gen.py '[[path, first_id, n_rows], ...]'  -> JSON aggregates
    import json
    import sys

    jobs = json.loads(sys.argv[1])
    print(json.dumps([write_file(p, f, n) for p, f, n in jobs]))
