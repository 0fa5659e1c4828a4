"""Point lookups over the encoded store: a front-end over the store's
one reader, planned on the driver.

A point lookup (``url = X``, or a batch ``url IN (...)``) is a filtered
read of the store, and the reader already does the work it needs (see
:mod:`choetl_spark.datasource`): its driver-side planner drops the
key-column chunks whose Bloom filter excludes every probe value, and
every partition left without one, before any payload is read; the
filtered decode kernel decodes the other columns only for chunks that
cover a matching row (late materialization — Abadi et al.,
"Materialization Strategies in a Column-Oriented DBMS", ICDE 2007);
deletes, time travel and schema evolution apply as in every other
read. A lookup whose surviving chunks fit the local-read budget runs
in the calling process, with no Spark job. The reference's closest
analog is Parquet.Net row-group stats+bloom skipping (reference
src/ChoETL.Parquet/ChoParquetRecordReader.cs:108-137).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def point_lookup(
    spark: SparkSession,
    out_dir: str,
    key: str,
    value: str | bytes | list,
    columns: list[str],
    as_of: int | None = None,
    max_matches: int = 100_000,
) -> DataFrame:
    """Fetch ``columns`` of the rows where ``key == value`` (or
    ``key IN value`` for a list — the batch shape a decontamination or
    sample-inspection pass needs). ``key`` should be a
    ``EncodeConfig.bloom_columns`` column so most key chunks are
    skipped unread; any other key (an int column, a column without
    Blooms) still reads exactly, decoding every key chunk but never
    the other columns' chunks that hold no match.

    Eager, and planned on the driver like every read
    (:func:`choetl_spark.ledger.scan_encoded`): when the Bloom-kept
    partitions decode within the local-read budget, the matches are
    found in this process and returned as a local relation, and
    collecting it runs no Spark job. Otherwise at most
    ``max_matches + 1`` matching rows are collected from the
    distributed read and returned as a local DataFrame. A point lookup
    matches few rows by definition; ``max_matches`` guards against
    misuse — a predicate matching more than that belongs in
    ``scan_encoded``. ``as_of`` time-travels to a ledger epoch.
    """
    from choetl_spark.ledger import _scan

    values = (
        list(value) if isinstance(value, (list, tuple, set)) else [value]
    )
    hits, decoded = _scan(
        spark, out_dir, columns, None, {key: values}, as_of=as_of
    )
    if decoded is not None and decoded <= max_matches:
        return hits  # already local, and no more rows than the guard
    # Arrow both ways: no Python-object round trip (timestamps stay
    # UTC instants) and no Python worker to rebuild the DataFrame
    rows = hits.limit(max_matches + 1).toArrow()
    if rows.num_rows > max_matches:
        raise ValueError(
            f"point_lookup matched more than max_matches={max_matches} "
            f"rows for {key!r}; use scan_encoded for wide predicates"
        )
    return spark.createDataFrame(rows, hits.schema)
