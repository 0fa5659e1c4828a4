"""Point lookups over the encoded store: a front-end over
``spark.read.format("choetl")``.

A point lookup (``url = X``, or a batch ``url IN (...)``) is a filtered
read of the store, and the ``choetl`` reader already does the work the
lookup needs (see :mod:`choetl_spark.datasource`):

- **chunk-granular Bloom skipping** — key-column chunks whose Bloom
  filter excludes every probe value are dropped from the chunk
  metadata before any payload is read, and a split with no surviving
  key chunk reads no payload at all;
- **late materialization** — the engine's filtered decode kernel
  evaluates the key predicate over the surviving key chunks, decodes
  the other columns only for chunks that cover a matching row, and
  ships only the matching rows to the JVM (Abadi et al.,
  "Materialization Strategies in a Column-Oriented DBMS", ICDE 2007);
- positional and equality deletes, time travel (``as_of``), renamed
  columns and late-added (null) columns, exactly as every other read.

So the lookup is one filtered ``format("choetl")`` read, collected in
one pass. The reference's closest analog is Parquet.Net row-group
stats+bloom skipping inside ChoParquetReader's ignored-field pruning
(reference src/ChoETL.Parquet/ChoParquetRecordReader.cs:108-137).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


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

    Eager: at most ``max_matches + 1`` matching rows are collected to
    the driver in one pass and returned as a local DataFrame (Spark's
    limit collect runs one job per round of splits it scans — one for a
    single-split store). A point lookup matches few rows by definition;
    ``max_matches`` guards against misuse — a predicate matching more
    than that belongs in ``scan_encoded``.
    ``as_of`` time-travels to a ledger epoch.
    """
    from choetl_spark.datasource import register

    values = (
        list(value) if isinstance(value, (list, tuple, set)) else [value]
    )
    sources = spark._jsparkSession.sessionState().dataSourceManager()
    if not sources.dataSourceExists("choetl"):
        register(spark)
    reader = spark.read.format("choetl")
    if as_of is not None:
        reader = reader.option("as_of", int(as_of))
    store = reader.load(out_dir)
    missing = [c for c in [key, *columns] if c not in store.columns]
    if missing:
        raise KeyError(f"columns not in encoded store: {missing}")
    schema = StructType([store.schema[c] for c in columns])
    if not values:
        return spark.createDataFrame([], schema)
    # Arrow both ways: no Python-object round trip (timestamps stay
    # UTC instants) and no Python worker to rebuild the DataFrame
    rows = (
        store.filter(F.col(key).isin(values))
        .select(*columns)
        .limit(max_matches + 1)
        .toArrow()
    )
    if rows.num_rows > max_matches:
        raise ValueError(
            f"point_lookup matched more than max_matches={max_matches} "
            f"rows for {key!r}; use scan_encoded for wide predicates"
        )
    return spark.createDataFrame(rows, schema)
