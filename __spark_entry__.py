"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship columnar-encode pipeline on sf0.001.
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data pipeline ops; ``oracle_sql()`` gives
the DuckDB-equivalent SQL for every SQL-expressible one (the rest get the
driver's rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: encode → decode → verify → per-column summary
# ---------------------------------------------------------------------------


def _encode_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from choetl_spark.engine import EncodeConfig, compression_report, encode_dataframe
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    cfg = EncodeConfig(
        num_partitions=8, chunk_rows=4096, chunk_bytes=4 << 20,
        deterministic=True,  # chunk-stable across driver reruns
    )
    enc = encode_dataframe(pages, cfg)
    return compression_report(enc).select(
        "column",
        "codec",
        "n_chunks",
        "n_rows",
        "raw_bytes",
        "encoded_bytes",
        "ratio",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _encode_summary(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_topk_revenue(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(10)
    )
    return rev


def q_left_join_order_counts(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    return (
        cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def q_compare_diff_orders(spark, sf_dir):
    from choetl_spark.operators import compare_tables

    orders = _read(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    diff = compare_tables(old, new, ["o_orderkey"])
    return diff.groupBy("status").agg(F.count("*").alias("n"))


def q_topk_events(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("value"), F.col("event_id"))
        .limit(20)
        .select("event_id", "event_type", F.round("value", 4).alias("value_r"))
    )


def q_substring_part_fields(spark, sf_dir):
    part = _read(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.trim(F.substring("p_name", 1, 8)).alias("name_head"),
        F.upper(F.substring("p_brand", -2, 2)).alias("brand_code"),
        F.length("p_type").alias("type_len"),
    )


def q_json_extract_events(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k", F.get_json_object("props", "$.k").cast("bigint")
        )
        .groupBy("event_type")
        .agg(F.sum("k").cast("long").alias("sum_k"), F.count("*").alias("n"))
    )


def q_customers_without_orders(spark, sf_dir):
    """Customers with no big-ticket order (anti join, SURVEY §2.8)."""
    cust = _read(spark, sf_dir, "customer")
    big = (
        _read(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    from choetl_spark.operators import except_keys

    return except_keys(cust, big, "c_custkey").select("c_custkey", "c_name")


def q_jsonpath_recursive_events(spark, sf_dir):
    """Recursive JSONPath ($..k) over a *nested* JSON doc built from the
    events props column — the subset get_json_object cannot express
    (SURVEY §2.1 ChoJSONReader WithJSONPath parity). $..k must find the
    key at both nesting levels; the matches are emitted pipe-joined so
    the driver canonicalizer gets a scalar column (an array<string> cell
    is unhashable for its pandas sort — round-2 gate failure)."""
    from choetl_spark.functions import json_path_extract

    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.concat(
            F.lit('{"outer": '), F.col("props"),
            F.lit(', "list": ['), F.col("props"), F.lit("]}"),
        ).alias("doc"),
    )
    out = json_path_extract(ev, "doc", "$..k", "matches")
    return out.select(
        "event_id", F.concat_ws("|", "matches").alias("matches_s")
    )


def q_seqno_global_events(spark, sf_dir):
    """Global (unpartitioned) sequence numbers via the partition-offset
    implementation — no single-task window (SURVEY §2.6)."""
    from choetl_spark.operators import with_seq_no

    ev = _read(spark, sf_dir, "events").select("event_id", "ts")
    return with_seq_no(ev, ["ts", "event_id"], col_name="seq").select(
        "event_id", "seq"
    )


def q_seqno_events_per_user(spark, sf_dir):
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_agg_events_stats(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


def q_window_hourly_events(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q_fixedlength_parse(spark, sf_dir):
    """Fixed-length record round-trip (SURVEY §2.1 ChoFixedLengthReader):
    render part rows as fixed-width lines, parse back by position —
    substring projections only, whole-stage codegen, no UDFs."""
    part = _read(spark, sf_dir, "part")
    line = F.concat(
        F.rpad("p_name", 20, " "),
        F.rpad("p_brand", 12, " "),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0"),
    )
    lines = part.select(line.alias("value"))
    return lines.select(
        F.trim(F.substring("value", 1, 20)).alias("name"),
        F.trim(F.substring("value", 21, 12)).alias("brand"),
        F.substring("value", 33, 10).cast("bigint").alias("partkey"),
    )


def q_manifold_dispatch(spark, sf_dir):
    """Manifold file (SURVEY §2.1 ChoManifoldReader): one stream, two
    record layouts, dispatched by a record-type code substring."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    o_lines = orders.select(
        F.concat(
            F.lit("ORD"),
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
            F.lpad(F.col("o_custkey").cast("string"), 12, "0"),
        ).alias("value")
    )
    l_lines = li.select(
        F.concat(
            F.lit("LIN"),
            F.lpad(F.col("l_orderkey").cast("string"), 12, "0"),
            F.lpad(F.col("l_linenumber").cast("string"), 12, "0"),
        ).alias("value")
    )
    stream = o_lines.unionAll(l_lines)
    code = F.substring("value", 1, 3)
    key = F.substring("value", 4, 12).cast("bigint")
    return (
        stream.select(code.alias("rec_type"), key.alias("key"))
        .groupBy("rec_type")
        .agg(F.count("*").alias("n"), F.sum("key").cast("long").alias("sum_key"))
    )


def q_zip_positional(spark, sf_dir):
    """ZipOrDefault (SURVEY §2.3): positional zip of two streams via
    sequence-number-keyed full-outer join; short side padded with nulls.
    Sequence numbers come from the partition-offset with_seq_no (no
    single-partition global window — scale-safe)."""
    from choetl_spark.operators import with_seq_no

    cust = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 120)
    a = with_seq_no(cust.select("c_custkey"), ["c_custkey"], col_name="rn")
    b = with_seq_no(orders.select("o_orderkey"), ["o_orderkey"], col_name="rn")
    return a.join(b, "rn", "full_outer").select("rn", "c_custkey", "o_orderkey")


def q_staged_sql_revenue(spark, sf_dir):
    """Entry point C (SURVEY §3.3, StageOnSQLite analog): stage as views,
    query with plain SQL — Catalyst is the expression compiler."""
    from choetl_spark.sources import stage_as_view

    stage_as_view(_read(spark, sf_dir, "supplier"), "v_supplier")
    stage_as_view(_read(spark, sf_dir, "nation"), "v_nation")
    stage_as_view(_read(spark, sf_dir, "region"), "v_region")
    return spark.sql(
        """
        SELECT r_name, count(*) AS n_suppliers,
               round(sum(s_acctbal), 2) AS total_acctbal
        FROM v_supplier
        JOIN v_nation ON s_nationkey = n_nationkey
        JOIN v_region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    )


def q_null_default_boolean_modes(spark, sf_dir):
    """Per-field DefaultValue + boolean-format parsing (SURVEY §2.3/2.9):
    missing JSON field -> default token; value sign -> Y/N flag."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(
            F.get_json_object("props", "$.missing").cast("bigint"), F.lit(-1)
        ).alias("k_or_default"),
        F.when(F.col("value") > 0, "Y").otherwise("N").alias("flag"),
    )


def q_multikey_sort_lineitems(spark, sf_dir):
    """Multi-key expression sort (SURVEY §2.7 dynamic OrderBy +
    external sort): Spark's shuffle sort replaces the reference's
    replacement-selection spill sorter."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.desc("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(100)
        .select("l_orderkey", "l_linenumber",
                F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_d"))
    )


def q_dedup_exact_documents(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    ).select("doc_id", "n_copies")


def q_dedup_normalized_documents(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    norm = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    return (
        docs.withColumn("fp", norm)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fp")
    )


def q_cosine_topk(spark, sf_dir):
    from choetl_spark.operators import cosine_topk

    embs = _read(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = cosine_topk(embs, [float(x) for x in q], k=10)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine_r"))


_EMB_DIM = 64  # embeddings.parquet vector length (TESTDATA.md, all sf)


def q_ann_lsh_topk(spark, sf_dir):
    """LSH ANN top-k. Oracle-checked end to end: the random-hyperplane
    bucket rule is deterministic (seed 42), so the DuckDB oracle
    replicates bucketing + probing + exact re-rank from plane literals."""
    from choetl_spark.operators import cosine_topk_lsh

    embs = _read(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = cosine_topk_lsh(embs, [float(x) for x in q], k=10, n_planes=6)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine_r"))


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN (coarse quantizer + probed exact re-rank). The driver
    query uses fixed seeded anchors (ivf_anchor_centroids) so the DuckDB
    oracle can replicate the quantizer from literals; k-means training
    (ivf_train_centroids) remains the library default, covered by the
    pytest recall tests."""
    from choetl_spark.operators import cosine_topk_ivf
    from choetl_spark.operators.similarity import ivf_anchor_centroids

    embs = _read(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    cents = ivf_anchor_centroids(_EMB_DIM, n_clusters=8, seed=42)
    out = cosine_topk_ivf(embs, [float(x) for x in q], cents, k=10, n_probe=4)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine_r"))


def q_winnowing_fingerprints(spark, sf_dir):
    """Rolling-hash winnowing fingerprints, oracle-checked via the
    planted-duplicate corpus (same candidate->verify discipline as the
    minhash/simhash queries): fingerprint-set equality generates the
    candidate pairs, exact text equality verifies them. Recall through
    the winnowing path is structural — equal text => identical k-gram
    hashes => identical winnowing mins => the pair is produced — so a
    winnowing bug drops rows and flips the oracle. (Fingerprint sets are
    lossy digests; highly-similar distinct texts can collide, which the
    verify step filters exactly as a production near-dup pipeline
    would.) Signature math pinned by tests/test_operators.py goldens."""
    from choetl_spark.operators import winnowing_fingerprints

    docs = _read(spark, sf_dir, "documents")
    corpus = _planted_corpus(docs).repartition(8, "doc_id")
    fp = winnowing_fingerprints(corpus, "text", "doc_id")
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("fingerprints").alias("_fa"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("fingerprints").alias("_fb"))
    cand = (
        a.join(b, F.col("_fa") == F.col("_fb"))  # array equi-join (SMJ)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    ta = corpus.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    tb = corpus.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    return (
        cand.join(ta, "id_a").join(tb, "id_b")
        .filter(F.col("_ta") == F.col("_tb"))
        .select("id_a", "id_b")
    )


def _planted_corpus(docs):
    """documents plus an exact copy of every 10th doc under a shifted id
    — a deterministic near-dup corpus whose true duplicate pairs the
    DuckDB oracle recomputes by text equality. (The raw corpus has no
    duplicates, so an un-planted near-dup query would verify nothing.)"""
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionAll(planted)


def q_minhash_pairs_documents(spark, sf_dir):
    """Full near-dup pipeline: minhash signatures -> banded LSH
    candidates -> exact n-gram-Jaccard verification. Recall is
    structural for the planted exact copies (identical signature ->
    every band collides); the >=0.99 exact-Jaccard verify step gives the
    oracle a sound predicate (pairs of equal texts)."""
    from choetl_spark.operators import (
        minhash_lsh_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = _read(spark, sf_dir, "documents")
    # localCheckpoint, not .persist(): the plan references corpus twice
    # (gram verify) and sigs four times (band self-join + signature
    # re-joins); eager RDD blocks stop the kernel re-running per
    # reference, and — unlike CacheManager entries — ContextCleaner
    # frees them once the query's reference drops, so no session
    # storage leak (ADVICE r2).
    corpus = _planted_corpus(docs).repartition(8, "doc_id").localCheckpoint()
    # the sig-sim >=0.9 prefilter is load-bearing: on this corpus of
    # highly-similar synthetic docs, raw band collisions are ~100x the
    # true pairs, and exact-Jaccard verify on all of them would dominate
    sigs = minhash_signatures(
        corpus, "text", "doc_id", n_hashes=32
    ).localCheckpoint()
    cand = minhash_lsh_pairs(sigs, "doc_id", n_hashes=32, bands=8, threshold=0.9)
    # prune_to_pairs=False: the candidate subtree (LSH) is expensive
    # relative to one gram pass over this small corpus, and the gate
    # cannot persist intermediates
    verified = ngram_jaccard_pairs(
        corpus, cand.select("id_a", "id_b"), "text", "doc_id", n=3,
        prune_to_pairs=False,
    )
    return verified.filter(F.col("jaccard") >= 0.99).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard_r")
    )


def q_embedding_neardup_pairs(spark, sf_dir):
    """LSH-bucketed near-dup pairs (the scale-default path — candidates
    only from matching sign-bit buckets, never all-pairs). The bucket
    rule is seed-deterministic, so the oracle replicates it exactly."""
    from choetl_spark.operators import embedding_neardup_pairs

    embs = _read(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(embs, threshold=0.4, dim=_EMB_DIM).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine_r")
    )


def q_simhash_documents(spark, sf_dir):
    """SimHash near-dup pipeline on the planted corpus: signatures ->
    16-bit-band candidates (hamming <= 3) -> exact text-equality verify.
    Recall for exact copies is structural (equal text -> equal simhash
    -> every band collides); signature math is pinned by golden tests."""
    from choetl_spark.operators import simhash_near_pairs, simhash_signatures

    docs = _read(spark, sf_dir, "documents")
    # eager blocks, ContextCleaner-freed (see q_minhash_pairs_documents)
    corpus = _planted_corpus(docs).repartition(8, "doc_id").localCheckpoint()
    sigs = simhash_signatures(corpus, "text", "doc_id").localCheckpoint()
    pairs = simhash_near_pairs(sigs, "doc_id", max_hamming=3)
    ta = corpus.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    tb = corpus.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.col("_ta") == F.col("_tb"))
        .select("id_a", "id_b", "hamming")
    )


def q_html_extract_webpages(spark, sf_dir):
    """HTML -> visible text extraction over the web-page table (the
    north-rule invariant's own operation, Spark-native): script/style
    subtree removal, tag strip, entity decode, whitespace collapse —
    all JVM regexp chains mirrored byte-for-byte by the oracle."""
    from choetl_spark.operators import with_html_text
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    return with_html_text(pages, "html").select("url", "extracted")


def q_doc_stats_documents(spark, sf_dir):
    """All six per-document scalar-stat operators (fingerprint,
    whitespace/regex token counts, quality score, language ID,
    Gopher repetition fractions, PII redaction over deterministically
    planted PII) composed into ONE pass over documents — a single
    narrow projection, no shuffle, whole-stage codegen end to end.
    Each column is mirrored independently by the DuckDB oracle, so a
    drift in any one operator flips the hash. Replaces the six
    near-identical per-column queries of rounds 1-3 (their individual
    oracles are preserved as CTEs of this query's oracle)."""
    from choetl_spark.operators import (
        with_fingerprint,
        with_lang_id,
        with_pii_redacted,
        with_quality_score,
        with_repetition_stats,
        with_token_count,
    )

    docs = _read(spark, sf_dir, "documents")
    out = with_fingerprint(docs, "text")
    out = with_token_count(out, "text")
    out = with_quality_score(out, "text")
    out = with_lang_id(out, "text")
    out = with_repetition_stats(out, "text")
    out = out.withColumn(
        "pii_text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel +1-555 123 4567 ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 card 4111 1111 1111 1111"),
        ),
    )
    out = with_pii_redacted(out, "pii_text")
    return out.select(
        "doc_id",
        "fingerprint",
        "ws_tokens",
        "re_tokens",
        "quality",
        "lang_pred",
        "dup_word_frac",
        "dup_2gram_frac",
        "pii_hits",
        F.md5("redacted").alias("red_md5"),
    )


# suffix planted into every payload so each format's writer/reader pair
# must survive quoting (CSV comma + double quote), entity escaping
# (XML <&>), and separator-in-value (KVP colon) — the reference's
# golden round-trip discipline (src/Test/ChoParquetWriterTest/
# Program.cs:33-116) applied across the whole format family at once
_RT_SUFFIX = ' q"c, <&> :v'


def q_format_roundtrips(spark, sf_dir):
    """Golden round-trip over the WHOLE format family in one query:
    documents (with a planted quoting/escaping-hostile suffix) are
    written and re-read through the repo's own writer/reader pair for
    each of CSV, TSV, JSON, XML, YAML, KVP, Avro, BSON, fixed-length
    and manifold, then reduced to one (format, n_rows, content_md5)
    row per format. The content hash is order-independent
    (md5 over the sorted per-row ``doc_id:md5(payload)`` strings) and
    the DuckDB oracle recomputes the expected hash directly from
    documents, so ANY lossy round-trip — a dropped row, a mangled
    quote, an unescaped entity, a trimmed value — flips that format's
    row. Line-oriented formats with pad/trim semantics (fixed-length,
    KVP, manifold) round-trip the 32-char ``md5(payload)`` instead of
    the raw multi-word payload; the oracle hashes the same derivation.
    Collected eagerly so the temp dirs can be deleted."""
    import shutil
    import tempfile

    from choetl_spark.sources import (
        FixedField,
        read_avro,
        read_bson,
        read_csv,
        read_fixed_length,
        read_json,
        read_kvp,
        read_manifold,
        read_tsv,
        read_xml,
        read_yaml,
        write_avro,
        write_bson,
        write_csv,
        write_fixed_length,
        write_json,
        write_kvp,
        write_manifold,
        write_xml,
        write_yaml,
    )

    docs = (
        _read(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.concat(F.col("text"), F.lit(_RT_SUFFIX)).alias("payload"),
        )
        .coalesce(4)
    )
    hashed = docs.select(
        "doc_id", F.md5("payload").alias("payload")
    )  # fixed-width-safe 32-char payload for pad/trim formats
    fixed_fields = [
        FixedField("doc_id", 1, 12, "long"),
        FixedField("payload", 13, 32, "string"),
    ]
    mani_fields = [
        FixedField("doc_id", 2, 12, "long"),
        FixedField("payload", 14, 32, "string"),
    ]

    root = tempfile.mkdtemp(prefix="choetl_fmt_")
    rows = []
    try:

        def digest(fmt: str, back):
            back = back.select(
                F.concat(
                    F.col("doc_id").cast("long").cast("string"),
                    F.lit(":"),
                    F.md5(F.col("payload").cast("string")),
                ).alias("s")
            )
            r = back.agg(
                F.count("*").alias("n"),
                F.md5(
                    F.concat_ws("|", F.sort_array(F.collect_list("s")))
                ).alias("m"),
            ).collect()[0]
            rows.append((fmt, int(r["n"]), r["m"]))

        p = f"{root}/csv"
        write_csv(docs, p)
        digest("csv", read_csv(spark, p, delimiter=","))

        p = f"{root}/tsv"
        write_csv(docs, p, sep="\t")
        digest("tsv", read_tsv(spark, p))

        p = f"{root}/json"
        write_json(docs, p)
        digest("json", read_json(spark, p))

        p = f"{root}/xml"
        write_xml(docs, p)
        digest("xml", read_xml(spark, p, "row", ["doc_id", "payload"]))

        p = f"{root}/yaml"
        write_yaml(docs, p)
        digest(
            "yaml",
            read_yaml(spark, p, schema="doc_id long, payload string"),
        )

        p = f"{root}/kvp"
        write_kvp(hashed, p)
        kv = read_kvp(spark, p)
        digest(
            "kvp",
            kv.select(
                F.col("kv")["doc_id"].alias("doc_id"),
                F.col("kv")["payload"].alias("payload"),
            ),
        )

        p = f"{root}/avro"
        write_avro(docs, p)
        digest("avro", read_avro(spark, p))

        p = f"{root}/bson"
        write_bson(docs, p)
        digest(
            "bson", read_bson(spark, p, "doc_id long, payload string")
        )

        p = f"{root}/fixed"
        write_fixed_length(hashed, p, fixed_fields)
        digest("fixed", read_fixed_length(spark, p, fixed_fields))

        p = f"{root}/manifold"
        write_manifold(
            {
                "E": (
                    hashed.filter(F.col("doc_id") % 2 == 0),
                    fixed_fields,
                ),
                "O": (
                    hashed.filter(F.col("doc_id") % 2 == 1),
                    fixed_fields,
                ),
            },
            p,
        )
        mani = read_manifold(
            spark, p, selector_start=1, selector_size=1,
            layouts={"E": mani_fields, "O": mani_fields},
        )
        digest("manifold", mani["E"].unionAll(mani["O"]))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "fmt string, n_rows long, content_md5 string"
    )


def q_dsir_select_documents(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023, public paper): the
    top-50 most-target-like documents by hashed-n-gram importance
    weight, target = the lang='en' slice, raw = the whole pool. The
    oracle replays the full pipeline in SQL — md5-slice bucket hash,
    add-one-smoothed probability ratio (6-decimal model rounding),
    length-normalized per-doc weight (4 decimals), deterministic
    top-k — so a drift anywhere (gram extraction, hashing, smoothing,
    normalization, tie-break) flips the hash."""
    from choetl_spark.operators import dsir_select

    docs = _read(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    out = dsir_select(docs, target, k=50, buckets=512, n_max=2)
    return out.select("doc_id", "log_weight")


def q_connected_components_graph(spark, sf_dir):
    """Distributed connected components (large-star/small-star) over a
    deterministic graph derived from orders — oracle-checked against a
    DuckDB recursive-CTE transitive closure. The graph is built so
    components stay small (closure stays cheap for the oracle) while
    still exercising multi-hop merges the Spark side must resolve in
    O(log n) rounds."""
    from choetl_spark.operators import connected_components

    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    edges = orders.select(
        (F.col("o_orderkey") % 300).alias("src"),
        (F.lit(300) + F.col("o_orderkey") % 450).alias("dst"),
    )
    cc = connected_components(edges)
    # roots label themselves implicitly in the operator's star output;
    # the oracle emits every node, so make the self-labels explicit
    roots = cc.select(F.col("root").alias("node"), "root").distinct()
    return cc.unionAll(roots).select("node", "root")


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing with a REAL image decode leg: feature
    extraction + media meta over binary payloads, plus a per-document
    planted PNG (pixel[y,x,c] = (doc_id + 7y + 3x + c) % 256, scanline
    filters cycling per doc) that is PNG-encoded and stdlib-decoded
    inside an Arrow-batched kernel — px_sum is the decoded pixel sum,
    which the DuckDB oracle recomputes in closed form, so a single
    wrong byte anywhere in the zlib/unfilter path flips the hash.
    New in r5, same discipline for JPEG: a planted flat-per-block
    baseline JPEG (two 8x8 blocks valued (13*doc_id+37)%256 and
    (29*doc_id+11)%256, Q[0,0]=8 so the whole Huffman/dequant/IDCT
    path is LOSSLESS) decodes through operators/jpeg_py.py; jpeg_sum
    = 3*64*(v1+v2) in the oracle."""
    from choetl_spark.operators.multimodal import (
        extract_features,
        with_media_meta,
    )
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    with_id = pages.select(F.md5(F.col("url")).alias("media_id"), "html")
    feats = extract_features(with_id, "html", "media_id", dim=8)
    meta = with_media_meta(with_id, "html").select(
        "media_id", F.col("media_meta.n_bytes").alias("n_bytes")
    )

    def png_roundtrip(batches):
        import numpy as np
        import pandas as pd

        from choetl_spark.operators.jpeg_py import K1_LUMA, encode_jpeg
        from choetl_spark.operators.multimodal import (
            decode_image,
            encode_png,
        )

        H, W = 3, 4
        y, x, c = np.meshgrid(
            np.arange(H), np.arange(W), np.arange(3), indexing="ij"
        )
        base = (7 * y + 3 * x + c).astype(np.int64)
        qj = K1_LUMA.copy()
        qj[0, 0] = 8  # flat blocks quantize exactly -> lossless
        for pdf in batches:
            sums = []
            jsums = []
            for did in pdf["doc_id"]:
                px = ((int(did) + base) % 256).astype(np.uint8)
                payload = encode_png(
                    px, filters=[(int(did) + r) % 5 for r in range(H)]
                )
                sums.append(int(decode_image(payload).sum()))
                v1 = (13 * int(did) + 37) % 256
                v2 = (29 * int(did) + 11) % 256
                jimg = np.zeros((8, 16), dtype=np.uint8)
                jimg[:, :8] = v1
                jimg[:, 8:] = v2
                jp = encode_jpeg(jimg, qtable_luma=qj)
                jsums.append(int(decode_image(jp).sum()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "px_sum": sums,
                    "jpeg_sum": jsums,
                }
            )

    docs = _read(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
    )
    png = docs.select(
        F.md5(url).alias("media_id"), "doc_id"
    ).mapInPandas(
        png_roundtrip, "media_id string, px_sum long, jpeg_sum long"
    )
    return (
        feats.join(meta, "media_id")
        .join(png, "media_id")
        .select(
            "media_id", F.size("features").alias("dim"), "n_bytes",
            "px_sum", "jpeg_sum",
        )
    )


def q_encode_summary(spark, sf_dir):
    """Per-column encode accounting, oracle-checked: n_rows and
    raw_bytes are chunk-invariant pure functions of the input (one
    4-byte offset per var-len value + value bytes; 8 bytes per
    timestamp), so DuckDB recomputes them from the documents table. The
    codec mix / footprint detail stays in entry() and bench."""
    from choetl_spark.engine import EncodeConfig, encode_dataframe
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    cfg = EncodeConfig(
        num_partitions=8, chunk_rows=4096, chunk_bytes=4 << 20,
        deterministic=True,
    )
    enc = encode_dataframe(pages, cfg)
    return enc.groupBy("column").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("raw_bytes").alias("raw_bytes"),
    )


def q_roundtrip_text_identity(spark, sf_dir):
    from choetl_spark.engine import (
        EncodeConfig,
        column_manifest,
        decode_dataframe,
        encode_dataframe,
    )
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    cfg = EncodeConfig(
        num_partitions=8, chunk_rows=4096, chunk_bytes=4 << 20,
        deterministic=True,  # chunk-stable across driver reruns
    )
    enc = encode_dataframe(pages, cfg)
    decoded = decode_dataframe(
        enc, columns=["url", "text"], manifest=column_manifest(pages, cfg)
    )
    matched = (
        decoded.alias("d")
        .join(pages.alias("s"), "url")
        .filter(F.col("d.text") == F.col("s.text"))
    )
    return matched.agg(F.count("*").alias("n_match"))


def q_direct_roundtrip(spark, sf_dir):
    """Scan-direct encode path (choetl_spark/direct.py): the pages are
    written to parquet, the driver plans row-group splits from the
    footers, each Python task reads its split natively with pyarrow and
    encodes it — input bytes never cross the JVM->Python boundary. The
    resumable store is scanned back and every (url, text) must match the
    source bit-identically; the oracle is the document count, so a
    dropped split, a mis-tiled chunk, or any value corruption flips it.
    Collected eagerly so the temp parquet + store can be deleted."""
    import shutil
    import tempfile

    from choetl_spark.direct import encode_direct_with_resume
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import scan_encoded
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="choetl_direct_")
    try:
        src, store = f"{tmp}/src", f"{tmp}/store"
        pages.write.parquet(src)
        cfg = EncodeConfig(chunk_rows=2048, chunk_bytes=4 << 20)
        encode_direct_with_resume(
            spark, src, store, cfg, target_split_bytes=4 << 20
        )
        decoded = scan_encoded(spark, store, columns=["url", "text"])
        n = (
            decoded.alias("d")
            .join(pages.alias("s"), "url")
            .filter(F.col("d.text") == F.col("s.text"))
            .count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame([(n,)], "n_match long")


def q_datasource_roundtrip(spark, sf_dir):
    """The ``choetl`` Spark data source (choetl_spark/datasource.py):
    pages write into the store through the distributed Arrow writer
    (``df.write.format("choetl")``), read back through the Python data
    source (``spark.read.format("choetl")``) with a pushed string
    filter exercising the task-side Arrow mask, and every (url, text)
    must match the source bit-identically. The result is the per-lang
    matched-row census, so a dropped split, a mis-committed attempt,
    an over-eager filter mask, or any value corruption flips a count.
    Collected eagerly so the temp store can be deleted."""
    import shutil
    import tempfile

    from choetl_spark.datasource import register
    from choetl_spark.synth import webpages_from_documents

    register(spark)
    pages = webpages_from_documents(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="choetl_ds_")
    try:
        store = f"{tmp}/store"
        pages.write.format("choetl").mode("append").save(store)
        back = (
            spark.read.format("choetl")
            .load(store)
            .filter(F.col("lang").isNotNull() & (F.col("lang") >= ""))
        )
        rows = (
            back.alias("d")
            .join(pages.alias("s"), "url")
            .filter(F.col("d.text") == F.col("s.text"))
            .groupBy(F.col("d.lang").alias("lang"))
            .agg(F.count("*").alias("n_match"))
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "lang string, n_match long")


def q_robots_crawlable(spark, sf_dir):
    """RFC 9309 robots evaluation (choetl_spark/operators/robots.py):
    every host publishes a planted policy — a catch-all group that
    DISALLOWS EVERYTHING plus a ccbot group with a /de/ disallow, a
    longer /de/1 allow, and a wildcard+anchor /zh/*7$ disallow — and
    the per-lang (pages, allowed) census must match the closed-form
    recomputation. Wrong group selection (ccbot merged into *) zeroes
    every allowed count; broken longest-match precedence flips the de
    rows; broken wildcard/anchor compilation flips the zh rows."""
    from choetl_spark.operators.robots import parse_robots, robots_allowed
    from choetl_spark.operators.weburl import with_url_parts
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    body = (
        "# planted policy\n"
        "User-agent: *\nDisallow: /\n\n"
        "User-agent: ccbot\n"
        "Disallow: /de/\nAllow: /de/1\nDisallow: /zh/*7$\n"
    )
    robots = (
        with_url_parts(pages.select("url"))
        .select("host")
        .distinct()
        .withColumn("body", F.lit(body))
    )
    rules = parse_robots(robots, agent="ccbot")
    out = robots_allowed(pages, rules)
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.count(F.when(F.col("crawlable"), 1)).alias("n_allowed"),
    )


def q_cdx_index_webpages(spark, sf_dir):
    """CDXJ capture index round-trip (write_cdxj/read_cdxj +
    with_surt): pages index into sorted `<surt> <ts14> <json>` lines
    and read back; the oracle recomputes every surt key, 14-digit
    timestamp, and text digest from `documents` directly — a wrong
    host reversal, a timezone shift, or any meta-JSON corruption flips
    a row. Collected eagerly so the temp index can be deleted."""
    import shutil
    import tempfile

    from choetl_spark.sources import read_cdxj, write_cdxj
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir).select(
        "url", "warc_ts", F.md5("text").alias("digest")
    )
    tmp = tempfile.mkdtemp(prefix="choetl_cdxj_")
    try:
        idx = f"{tmp}/index"
        write_cdxj(
            pages, idx, meta_cols=("url", "digest"), num_partitions=4
        )
        back = read_cdxj(spark, idx, "url string, digest string")
        rows = back.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "surt string, ts14 string, url string, digest string"
    )


def q_content_extract_webpages(spark, sf_dir):
    """Boilerpipe-style main-content extraction
    (operators/textstats.with_content_blocks): each page is planted
    with a link-dense nav block, the document text as the article
    block, and a short footer; the extractor must return EXACTLY the
    cleaned article text (nav and footer classified as chrome). The
    oracle rebuilds the expected content per doc — a block-boundary
    bug, a broken link-density count, or chrome leaking into the
    output flips that row's hash."""
    from choetl_spark.operators.textstats import with_content_blocks
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    html = F.concat(
        F.lit(
            '<html><body><div class="nav"><a href="/">Home</a> '
            '<a href="/x">More</a> <a href="/y">About</a></div><p>'
        ),
        F.col("text"),
        F.lit(
            '</p><div><a href="/tos">Terms of service page link</a>'
            "</div></body></html>"
        ),
    )
    out = with_content_blocks(
        pages.select("url", html.alias("html")), "html"
    )
    return out.select(
        "url",
        F.md5("content_text").alias("content_md5"),
        "n_content_blocks",
    )


def q_float_roundtrip_alp(spark, sf_dir):
    """Scalar-float storage through the engine: a planted two-decimal
    price column (the ALP shape — codecs/alp.py, Afroozeh & Boncz
    VLDB'23) encodes and must decode to the exact same values the
    oracle recomputes closed-form. The selector picks ALP for decimal
    chunks (pinned by tests/test_alp.py); this gate pins the VALUE
    fidelity end-to-end whatever codec each chunk chose."""
    from choetl_spark.engine import (
        EncodeConfig,
        column_manifest,
        decode_dataframe,
        encode_dataframe,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select(
        "doc_id",
        (
            F.round((F.col("doc_id") * 37 % 1000) / 100.0, 2) + 5.0
        ).alias("price"),
    )
    planned = src.withColumn(
        "part_id", (F.col("doc_id") % 4).cast("long")
    ).repartition(4, "part_id")
    cfg = EncodeConfig(chunk_rows=2048, shuffle="none", deterministic=True)
    enc = encode_dataframe(planned, cfg)
    return decode_dataframe(enc, manifest=column_manifest(src, cfg))


def q_mime_sniff_webpages(spark, sf_dir):
    """Magic-byte content sniffing (operators/weburl.
    with_mime_detected): each doc's payload is planted with a format
    signature chosen by doc_id (PNG/JPEG/gzip/PDF/HTML/plain) and the
    sniffer must label every one — a wrong prefix table, precedence
    order, or text fallback flips rows. The oracle is the closed-form
    kind assignment."""
    from choetl_spark.operators.weburl import with_mime_detected

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = F.col("doc_id") % 6
    body = F.col("text").cast("binary")
    payload = (
        F.when(k == 0, F.concat(F.lit(b"\x89PNG\r\n\x1a\x0a"), body))
        .when(k == 1, F.concat(F.lit(b"\xff\xd8\xff\xe0"), body))
        .when(k == 2, F.concat(F.lit(b"\x1f\x8b\x08"), body))
        .when(k == 3, F.concat(F.lit(b"%PDF-1.7 "), body))
        .when(
            k == 4,
            F.concat(F.lit(b"<html><p>"), body, F.lit(b"</p></html>")),
        )
        .otherwise(body)
    )
    out = with_mime_detected(
        docs.select("doc_id", payload.alias("payload")), "payload"
    )
    return out.select("doc_id", "mime")


def q_crawl_frontier_webpages(spark, sf_dir):
    """Crawl-frontier scheduling (operators/frontier.py): rank each
    host's pages by a planted deterministic score, keep the top 5, and
    space fetches 2 s apart within the host (the Mercator politeness
    shape). The oracle replays the window in SQL — a wrong partition
    key, tiebreak, limit, or offset arithmetic flips rows."""
    from choetl_spark.operators.frontier import crawl_frontier
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir).select("url")
    doc_id = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    scored = pages.withColumn("score", (doc_id * 37) % 101)
    out = crawl_frontier(
        scored, k_per_host=5, score_col="score", interval_sec=2.0
    )
    return out.select("url", "host", "fetch_rank", "fetch_offset_sec")


def q_warc_ingest_webpages(spark, sf_dir):
    """Raw-crawl ingestion (ISO 28500): render the documents-derived
    pages as Common-Crawl-layout WARC (.warc.gz response records with a
    real HTTP envelope, one gzip member per record) plus a WET sidecar
    (conversion records carrying the extracted text), read both back
    with the distributed WARC reader, stitch them into the north-rule
    table, and emit per-url content digests. The oracle recomputes
    every digest from `documents` directly — a dropped record, a
    corrupted byte through the HTTP/gzip envelope, a wrong
    Content-Length, or a timestamp drift flips the hash. Collected
    eagerly so the temp crawl files can be deleted."""
    import shutil
    import tempfile

    from choetl_spark.sources import read_warc, warc_webpages, write_warc
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="choetl_warc_")
    try:
        write_warc(
            pages.select("url", "warc_ts", F.col("html").alias("payload")),
            f"{tmp}/warc", record_type="response",
        )
        write_warc(
            pages.select(
                "url", "warc_ts",
                F.encode("text", "utf-8").alias("payload"), "lang",
            ),
            f"{tmp}/wet", record_type="conversion", lang_col="lang",
        )
        recs = read_warc(spark, f"{tmp}/warc").unionAll(
            read_warc(spark, f"{tmp}/wet")
        )
        web = warc_webpages(recs)
        rows = web.select(
            "url",
            F.md5("html").alias("html_md5"),
            F.md5(F.encode("text", "utf-8")).alias("text_md5"),
            F.unix_micros("warc_ts").alias("ts_us"),
            "lang",
        ).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "url string, html_md5 string, text_md5 string, ts_us long,"
        " lang string",
    )


def q_html_charset_decode(spark, sf_dir):
    """Charset-correct html decoding (operators.with_html_decoded —
    BOM > Content-Type > <meta charset> > utf-8, the WHATWG sniff
    order): plant a mixed-charset corpus from documents (utf-8 with a
    header, ISO-8859-1 declared only by an embedded <meta> tag, and
    JVM UTF-16 whose BOM must win), decode, and emit per-doc digests
    of the decoded text. The oracle rebuilds the expected DECODED
    string directly from `documents` — any charset mix-up, BOM
    leftover, or mangled byte flips the md5. Non-ascii is stripped
    from the base text first so every planted charset can encode it;
    the é probe char pins the non-ascii path."""
    from choetl_spark.operators import with_html_decoded

    docs = _read(spark, sf_dir, "documents")
    ascii_text = F.regexp_replace("text", "[^ -~]", "")
    body = F.concat(F.lit("é "), ascii_text)
    mode = F.col("doc_id") % 3
    payload = (
        F.when(mode == 0, F.encode(body, "UTF-8"))
        .when(
            mode == 1,
            F.encode(
                F.concat(F.lit('<meta charset="ISO-8859-1">'), body),
                "ISO-8859-1",
            ),
        )
        .otherwise(F.encode(body, "UTF-16"))  # JVM UTF-16 = BOM + BE
    )
    ctype = F.when(
        mode == 0, F.lit("text/html; charset=utf-8")
    ).otherwise(F.lit(None).cast("string"))
    planted = docs.select(
        "doc_id", payload.alias("html"), ctype.alias("ctype")
    )
    out = with_html_decoded(planted, "html", ctype_col="ctype")
    return out.select(
        "doc_id", F.md5(F.encode("html_text", "UTF-8")).alias("dec_md5")
    )


def q_outlinks_webpages(spark, sf_dir):
    """Link extraction (operators.with_outlinks — the web-graph edge
    list): plant html with one absolute link, one root-relative link
    (must resolve against the page's origin), one fragment-only link
    and one javascript: pseudo-link (both must drop), then emit the
    pipe-joined resolved outlinks per doc. The oracle constructs the
    expected resolved strings directly from `documents` — a missed
    quote style, a broken origin resolution, or a fragment leak flips
    the row."""
    from choetl_spark.operators import with_outlinks

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    html = F.concat(
        F.lit('<a href="https://ext'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('.example.org/p">x</a>'),
        F.lit("<a href='/local/"),
        F.col("doc_id").cast("string"),
        F.lit("'>y</a>"),
        F.lit('<a href="#frag">z</a><a href="javascript:void(0)">j</a>'),
    )
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
    )
    planted = docs.select(
        "doc_id", url.alias("url"), F.encode(html, "utf-8").alias("html")
    )
    out = with_outlinks(planted)
    return out.select(
        "doc_id", F.concat_ws("|", "outlinks").alias("links_s")
    )


def q_pagerank_linkgraph(spark, sf_dir):
    """PageRank over a planted link graph (operators.pagerank): node
    ids doc_id % 200, edges i -> (i+1) % 200 and i -> (i*3+1) % 200.
    The DuckDB oracle replays all 4 power iterations as chained CTEs
    with the identical update rule (damping 0.85, uniform init,
    uniform dangling redistribution — faithful even at fixture sizes
    whose doc_ids leave dst-only residues). Ranks rounded to 8 dp on
    both sides; any join/degree/redistribution bug shifts rank mass
    and flips the hash."""
    from choetl_spark.operators import pagerank

    docs = _read(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 200).alias("i")
    )
    e1 = docs.select(F.col("i").alias("src"), ((F.col("i") + 1) % 200).alias("dst"))
    e2 = docs.select(
        F.col("i").alias("src"), ((F.col("i") * 3 + 1) % 200).alias("dst")
    )
    ranks = pagerank(e1.unionAll(e2), n_iter=4, damping=0.85)
    return ranks.select("node", F.round("rank", 8).alias("rank_r"))


def _oracle_pagerank(n_iter: int = 4, n_mod: int = 200, d: float = 0.85) -> str:
    """Replay pagerank's FULL update rule in SQL — same distinct edge
    set, same degrees, same damping, INCLUDING the uniform dangling
    redistribution — so the oracle stays faithful at any fixture size
    (a small sf whose doc_ids do not cover every residue leaves
    dst-only nodes, which ARE dangling; an oracle without the term
    would falsely flag the correct implementation)."""
    ctes = [
        f"""e AS (
            SELECT DISTINCT src, dst FROM (
              SELECT doc_id % {n_mod} AS src,
                     (doc_id % {n_mod} + 1) % {n_mod} AS dst
              FROM documents
              UNION ALL
              SELECT doc_id % {n_mod} AS src,
                     ((doc_id % {n_mod}) * 3 + 1) % {n_mod} AS dst
              FROM documents
            )
        )""",
        "nodes AS (SELECT DISTINCT src AS node FROM e "
        "UNION SELECT DISTINCT dst FROM e)",
        "deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        ctes.append(f"""dm{k} AS (
            SELECT COALESCE(SUM(rank), 0.0) AS m FROM r{k - 1}
            WHERE node NOT IN (SELECT src FROM deg)
        )""")
        ctes.append(f"""r{k} AS (
            SELECT nodes.node,
                   (1.0 - {d}) / (SELECT n FROM nn)
                   + {d} * (SELECT m FROM dm{k}) / (SELECT n FROM nn)
                   + {d} * COALESCE(rx.received, 0.0) AS rank
            FROM nodes
            LEFT JOIN (
              SELECT e.dst AS node, SUM(p.rank / deg.deg) AS received
              FROM e JOIN r{k - 1} p ON e.src = p.node
                     JOIN deg ON e.src = deg.src
              GROUP BY e.dst
            ) rx ON rx.node = nodes.node
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, round(rank, 8) AS rank_r FROM r{n_iter}"
    )


def q_anchor_texts_webpages(spark, sf_dir):
    """Anchor-text pairs (operators.with_anchor_texts — link-context
    labels): plant html with one double-quoted anchor carrying plain
    text and one single-quoted anchor whose body has an inner tag +
    run of whitespace that must collapse, then emit the pipe-joined
    "href^text" pairs per doc. The oracle constructs the expected
    strings from `documents` — a missed quote style, an unstripped
    inner tag, or a pair misalignment flips the row."""
    from choetl_spark.operators import with_anchor_texts

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    html = F.concat(
        F.lit('<a href="https://ext'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('.example.org/p">Link '),
        F.col("doc_id").cast("string"),
        F.lit("</a>"),
        F.lit("<a class='x' href='/local/"),
        F.col("doc_id").cast("string"),
        F.lit("'>see  <b>also</b>\n now</a>"),
    )
    planted = docs.select(
        "doc_id", F.encode(html, "utf-8").alias("html")
    )
    out = with_anchor_texts(planted)
    pair_s = F.transform(
        F.col("anchors"),
        lambda p: F.concat(p["href"], F.lit("^"), p["text"]),
    )
    return out.select(
        "doc_id", F.concat_ws("|", pair_s).alias("anchors_s")
    )


def q_hits_linkgraph(spark, sf_dir):
    """HITS hubs/authorities over the same planted link graph as
    pagerank_linkgraph (operators.hits): node ids doc_id % 200, edges
    i -> (i+1) % 200 and i -> (i*3+1) % 200. The DuckDB oracle replays
    all 3 L1-normalized iterations as chained CTEs with the identical
    update rule; scores rounded to 8 dp on both sides."""
    from choetl_spark.operators import hits

    docs = _read(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 200).alias("i")
    )
    e1 = docs.select(F.col("i").alias("src"), ((F.col("i") + 1) % 200).alias("dst"))
    e2 = docs.select(
        F.col("i").alias("src"), ((F.col("i") * 3 + 1) % 200).alias("dst")
    )
    scores = hits(e1.unionAll(e2), n_iter=3)
    return scores.select(
        "node",
        F.round("hub", 8).alias("hub_r"),
        F.round("auth", 8).alias("auth_r"),
    )


def _oracle_hits(n_iter: int = 3, n_mod: int = 200) -> str:
    """Replay hits' L1-normalized update rule in SQL: same distinct
    edge set, same init, same per-round normalization."""
    ctes = [
        f"""e AS (
            SELECT DISTINCT src, dst FROM (
              SELECT doc_id % {n_mod} AS src,
                     (doc_id % {n_mod} + 1) % {n_mod} AS dst
              FROM documents
              UNION ALL
              SELECT doc_id % {n_mod} AS src,
                     ((doc_id % {n_mod}) * 3 + 1) % {n_mod} AS dst
              FROM documents
            )
        )""",
        "nodes AS (SELECT DISTINCT src AS node FROM e "
        "UNION SELECT DISTINCT dst FROM e)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "h0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS hub FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        ctes.append(f"""a{k}r AS (
            SELECT e.dst AS node, SUM(h.hub) AS v
            FROM e JOIN h{k - 1} h ON e.src = h.node GROUP BY e.dst
        )""")
        ctes.append(f"""a{k} AS (
            SELECT nodes.node,
                   COALESCE(r.v, 0.0) / (SELECT SUM(v) FROM a{k}r) AS auth
            FROM nodes LEFT JOIN a{k}r r ON r.node = nodes.node
        )""")
        ctes.append(f"""h{k}r AS (
            SELECT e.src AS node, SUM(a.auth) AS v
            FROM e JOIN a{k} a ON e.dst = a.node GROUP BY e.src
        )""")
        ctes.append(f"""h{k} AS (
            SELECT nodes.node,
                   COALESCE(r.v, 0.0) / (SELECT SUM(v) FROM h{k}r) AS hub
            FROM nodes LEFT JOIN h{k}r r ON r.node = nodes.node
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT h.node, round(h.hub, 8) AS hub_r,
               round(a.auth, 8) AS auth_r
        FROM h{n_iter} h JOIN a{n_iter} a ON h.node = a.node"""
    )


def q_prune_urlrange(spark, sf_dir):
    """String zone-map partition pruning, end-to-end (SURVEY §step-2
    stats / Parquet row-group-skip analog): encode the documents-derived
    web pages, prune the encoded store to a url range via the 64-char
    min_str/max_str chunk stats, decode ONLY the url column, filter
    exactly. The oracle applies the same range to the same url
    expression in DuckDB — if pruning ever drops a partition containing
    a matching row, the row sets diverge and the gate fails."""
    from choetl_spark.engine import (
        EncodeConfig,
        column_manifest,
        decode_dataframe,
        encode_dataframe,
        prune_partitions_by_stats,
    )
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    cfg = EncodeConfig(
        num_partitions=8, chunk_rows=4096, chunk_bytes=4 << 20,
        deterministic=True,
    )
    enc = encode_dataframe(pages, cfg)
    lo, hi = "https://src1", "https://src1~"  # src1 + src10..src19
    pruned = prune_partitions_by_stats(enc, "url", lo, hi)
    dec = decode_dataframe(
        pruned, columns=["url"], manifest=column_manifest(pages, cfg)
    )
    return dec.filter(
        (F.col("url") >= lo) & (F.col("url") <= hi)
    ).select("url")


def q_prune_bloom_url(spark, sf_dir):
    """Per-chunk Bloom point-lookup pruning, end-to-end: encode with
    blooms on url, prune the store to ONE url, decode only url, filter
    exactly. False positives only widen the pruned set (the exact
    filter removes them), false negatives would drop the row and fail
    the oracle — so the gate pins the no-false-negative contract."""
    from choetl_spark.engine import (
        EncodeConfig,
        column_manifest,
        decode_dataframe,
        encode_dataframe,
        prune_partitions_by_bloom,
    )
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    cfg = EncodeConfig(
        num_partitions=8, chunk_rows=4096, chunk_bytes=4 << 20,
        deterministic=True, bloom_columns=("url",),
    )
    enc = encode_dataframe(pages, cfg)
    # deterministic target at any SF: doc 77's url (one bounded collect)
    r = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == 77)
        .select("source", "lang")
        .collect()[0]
    )
    target = f"https://{r['source']}.example.com/{r['lang']}/77"
    pruned = prune_partitions_by_bloom(enc, "url", target)
    dec = decode_dataframe(
        pruned, columns=["url"], manifest=column_manifest(pages, cfg)
    )
    return dec.filter(F.col("url") == target).select("url")


def q_point_lookup_store(spark, sf_dir):
    """Point lookup over a checkpointed store (choetl_spark/lookup.py,
    a front-end over format("choetl")): the reader drops url chunks
    whose Bloom excludes the key before reading any payload, masks the
    surviving chunks in the decode kernel, and decodes the
    other columns only for chunks covering the match. The oracle
    recomputes the row from the documents table; a Bloom false
    negative, a mask dropping a matching row, or a misaligned column
    fetch each flip it. Collected eagerly so the temp store can be
    deleted."""
    import shutil
    import tempfile

    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume
    from choetl_spark.lookup import point_lookup
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    r = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == 77)
        .select("source", "lang")
        .collect()[0]
    )
    target = f"https://{r['source']}.example.com/{r['lang']}/77"
    out = tempfile.mkdtemp(prefix="choetl_pl_")
    try:
        cfg = EncodeConfig(
            num_partitions=8, chunk_rows=2048, chunk_bytes=4 << 20,
            deterministic=True, bloom_columns=("url",),
        )
        encode_with_resume(spark, pages, out, cfg)
        rows = point_lookup(
            spark, out, "url", target, ["url", "text", "lang"]
        ).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, "url string, text string, lang string")


def q_streaming_upsert_store(spark, sf_dir):
    """Structured Streaming CDC sink (choetl_spark/streaming.py
    upsert_sink, mode="eq"): a REAL writeStream.foreachBatch +
    Trigger.AvailableNow run over a file source, three micro-batches
    MERGE-ing into a temp encoded store — batch 0 ingests every
    doc_id%2==0 document at version 1, batch 1 re-upserts doc_id%4==0
    at version 2, batch 2 doc_id%8==0 at version 3 (each its own
    equality-delete + ingest epoch). Returns the final per-lang census
    of the store; the oracle recomputes the last-writer-wins state from
    documents with a window function. A dropped batch, a replayed
    epoch double-applying, or an old version surviving the equality
    delete all flip the hash. Collected eagerly so the temp dirs can
    be deleted."""
    import os
    import shutil
    import tempfile
    import time as _time

    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import scan_encoded
    from choetl_spark.streaming import upsert_sink

    docs = _read(spark, sf_dir, "documents")

    def updates(mod, ver, suffix):
        text = F.col("text") if not suffix else F.concat(
            F.col("text"), F.lit(suffix)
        )
        return docs.filter(F.col("doc_id") % mod == 0).select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
            .alias("url"),
            text.alias("text"),
            "lang",
            F.lit(ver).cast("int").alias("version"),
        )

    src = tempfile.mkdtemp(prefix="choetl_stream_in_")
    out = tempfile.mkdtemp(prefix="choetl_stream_store_")
    ckpt = tempfile.mkdtemp(prefix="choetl_stream_ckpt_")
    try:
        now = _time.time()
        batches = [updates(2, 1, ""), updates(4, 2, " (rev 2)"),
                   updates(8, 3, " (rev 3)")]
        for i, b in enumerate(batches):
            path = os.path.join(src, f"b{i}")
            b.coalesce(1).write.parquet(path)
            # the file source orders micro-batches by mtime: pin it so
            # batch i really is epoch i (last-writer-wins depends on it)
            for root, _dirs, files in os.walk(path):
                for f in files:
                    os.utime(os.path.join(root, f),
                             (now + 10 * i, now + 10 * i))
            os.utime(path, (now + 10 * i, now + 10 * i))
        cfg = EncodeConfig(num_partitions=4, chunk_rows=2048,
                           chunk_bytes=4 << 20)
        stream = (
            spark.readStream
            .schema("url string, text string, lang string, version int")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "*"))
        )
        q = (
            stream.writeStream
            .foreachBatch(upsert_sink(spark, out, key="url", cfg=cfg,
                                      mode="eq"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # a stall must surface as a stall, never as a hash mismatch
            # over whatever the store holds when the wait gives up
            q.stop()
            raise TimeoutError(
                "streaming_upsert_store: the availableNow query did not "
                "terminate within 300 s"
            )
        census = (
            scan_encoded(spark, out, ["url", "text", "lang", "version"])
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("version").alias("version_sum"),
                F.sum(F.length("text")).alias("text_chars"),
            )
            .orderBy("lang")
        )
        rows = census.collect()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        rows, "lang string, n_docs long, version_sum long, text_chars long"
    )


def q_store_time_travel(spark, sf_dir):
    """Time-travel snapshot reads over the checkpointed store (the
    Iceberg snapshot contract; SURVEY §2.2 + north-rule lineage): two
    ingest epochs commit disjoint partition sets, then for each ledger
    epoch the query reports the snapshot's accounting (n_partitions,
    n_rows from ledger rows) AND an actual as_of read-back row count
    through scan_encoded. The oracle recomputes all four counts from the
    epoch predicates (doc_id%3) on the documents table — a ledger
    accounting bug, an epoch-filter bug, or a time-travel read leaking
    later partitions all flip it. Results are collected eagerly so the
    temp store can be deleted before returning."""
    import shutil
    import tempfile

    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, scan_encoded, snapshots

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    epoch1 = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") % 2).alias("part_id"), "doc_id", "text"
    )
    epoch2 = docs.filter(F.col("doc_id") % 3 != 0).select(
        (F.col("doc_id") % 2 + 2).alias("part_id"), "doc_id", "text"
    )
    out = tempfile.mkdtemp(prefix="choetl_tt_")
    try:
        cfg = EncodeConfig(
            key_col="doc_id", chunk_rows=4096, deterministic=True
        )
        encode_with_resume(spark, epoch1, out, cfg, run_id="epoch1")
        encode_with_resume(spark, epoch2, out, cfg, run_id="epoch2")
        snaps = snapshots(spark, out).collect()
        rows = [
            (
                s["run_seq"],
                s["n_partitions"],
                s["n_rows"],
                scan_encoded(
                    spark, out, ["doc_id"], as_of=s["run_seq"]
                ).count(),
            )
            for s in snaps
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "run_seq long, n_partitions long, n_rows long, rows_as_of long",
    )


def q_delete_rows_store(spark, sf_dir):
    """Row-level deletes over the checkpointed store (Iceberg v2
    positional-delete / merge-on-read contract, choetl_spark/deletes.py):
    tombstone the rows where lang='de' without rewriting any data chunk,
    then scan the survivors. The oracle recomputes the survivor set from
    the documents table — a tombstone that misses a row, hits a wrong
    (part, pos) coordinate, or leaks into other rows flips it. The
    time-travel/idempotence/crash-orphan corners are pinned by
    tests/test_deletes.py. Collected eagerly so the temp store can be
    deleted."""
    import shutil
    import tempfile

    from choetl_spark.deletes import delete_where
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, scan_encoded
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="choetl_del_")
    try:
        cfg = EncodeConfig(
            num_partitions=8, chunk_rows=2048, chunk_bytes=4 << 20,
            deterministic=True, bloom_columns=("url",),
        )
        encode_with_resume(spark, pages, out, cfg)
        delete_where(spark, out, equals={"lang": "de"})
        rows = scan_encoded(spark, out, ["url", "lang"]).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, "url string, lang string")


def q_rollback_store(spark, sf_dir):
    """Snapshot rollback over the checkpointed store (Iceberg
    rollback_to_snapshot as a compensating replace commit,
    choetl_spark/deletes.py rollback_to): ingest, tombstone lang='de',
    then roll back to the pre-delete snapshot — the deleted rows must
    resurrect EXACTLY. Emits both phases so the oracle checks the
    delete half and the undo half: phase='deleted' is the post-delete
    scan (de rows gone), phase='rolled_back' the post-rollback scan
    (full table restored from re-encoded as_of content). A rollback
    that misses rows, duplicates them, or leaks merge-on-read state
    flips the hash. Rewrite/changelog/expiry corners are pinned by
    tests/test_rollback.py. Collected eagerly so the temp store can be
    deleted."""
    import shutil
    import tempfile

    from choetl_spark.deletes import delete_where, rollback_to
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, scan_encoded
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="choetl_rb_")
    try:
        cfg = EncodeConfig(
            num_partitions=8, chunk_rows=2048, chunk_bytes=4 << 20,
            deterministic=True, bloom_columns=("url",),
        )
        encode_with_resume(spark, pages, out, cfg)
        delete_where(spark, out, equals={"lang": "de"})
        deleted = scan_encoded(spark, out, ["url", "lang"]).collect()
        rollback_to(spark, out, 1, cfg=cfg)
        restored = scan_encoded(spark, out, ["url", "lang"]).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    rows = [("deleted", r["url"], r["lang"]) for r in deleted] + [
        ("rolled_back", r["url"], r["lang"]) for r in restored
    ]
    return spark.createDataFrame(
        rows, "phase string, url string, lang string"
    )


def q_wap_publish_store(spark, sf_dir):
    """Write-audit-publish over the checkpointed store (Iceberg wap.id
    stage + cherry-pick, choetl_spark/refs.py; snapshot tags via
    scan_encoded(ref=...)): the non-'de' pages ingest normally, the 'de'
    pages ingest STAGED — four phases pin the whole flow. phase='staged':
    the public scan while the stage awaits audit (de rows invisible);
    phase='audit': read_staged, the only door to the staged rows (de rows
    only); phase='tagged': a tag created pre-publish, scanned via
    ref=... AFTER the publish (still no de rows — the tag pins its
    epoch); phase='published': the post-publish scan (full table). A
    stage that leaks early, an audit that misses rows, a publish that
    duplicates, or a tag that drifts to the new epoch flips the hash.
    Abort/expiry/maintenance corners are pinned by
    tests/test_refs_wap.py. Collected eagerly so the temp store can be
    deleted."""
    import shutil
    import tempfile

    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, scan_encoded
    from choetl_spark.refs import create_tag, publish_staged, read_staged
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    base = pages.filter(F.col("lang") != "de").withColumn(
        "part_id", F.xxhash64("url").cast("long") % 4 + 4
    )
    risky = pages.filter(F.col("lang") == "de").withColumn(
        "part_id", F.xxhash64("url").cast("long") % 4 + 104
    )
    out = tempfile.mkdtemp(prefix="choetl_wap_")
    try:
        cfg = EncodeConfig(
            num_partitions=8, chunk_rows=2048, chunk_bytes=4 << 20,
            deterministic=True, bloom_columns=("url",),
        )
        encode_with_resume(spark, base, out, cfg, run_id="base")
        create_tag(spark, out, "pre-publish")
        encode_with_resume(
            spark, risky, out, cfg, run_id="crawl-de", staged=True
        )
        staged_scan = scan_encoded(spark, out, ["url", "lang"]).collect()
        audit = read_staged(
            spark, out, "crawl-de", ["url", "lang"]
        ).collect()
        publish_staged(spark, out, "crawl-de")
        tagged = scan_encoded(
            spark, out, ["url", "lang"], ref="pre-publish"
        ).collect()
        published = scan_encoded(spark, out, ["url", "lang"]).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    rows = (
        [("staged", r["url"], r["lang"]) for r in staged_scan]
        + [("audit", r["url"], r["lang"]) for r in audit]
        + [("tagged", r["url"], r["lang"]) for r in tagged]
        + [("published", r["url"], r["lang"]) for r in published]
    )
    return spark.createDataFrame(
        rows, "phase string, url string, lang string"
    )


def q_schema_evolution_store(spark, sf_dir):
    """Metadata-only schema evolution over the checkpointed store
    (Iceberg rename/drop/re-add semantics, choetl_spark/
    schema_evolution.py): ingest the even doc_ids, RENAME text->content
    and DROP lang, then ingest the odd doc_ids under the new schema
    (content + a re-added lang). The final scan must show every row's
    text under the renamed column ACROSS both ingests (one physical
    storage key), and lang as NULL for the pre-drop rows but real values
    for the re-added ones — the dropped bytes must never resurface (the
    re-add claims a fresh physical key, the field-id analog). A rename
    that misses old chunks, a drop that leaks, or a re-add that
    resurrects history flips the hash. Rewrite/reclaim corners are
    pinned by tests/test_schema_evolution.py. Collected eagerly so the
    temp store can be deleted."""
    import shutil
    import tempfile

    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, scan_encoded
    from choetl_spark.schema_evolution import drop_column, rename_column

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    even = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") % 4).alias("part_id"), "doc_id", "text", "lang"
    )
    odd = docs.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") % 4 + 50).alias("part_id"),
        "doc_id",
        F.col("text").alias("content"),
        "lang",
    )
    out = tempfile.mkdtemp(prefix="choetl_se_")
    try:
        cfg = EncodeConfig(
            key_col="doc_id", chunk_rows=4096, deterministic=True
        )
        encode_with_resume(spark, even, out, cfg, run_id="even")
        rename_column(out, "text", "content")
        drop_column(out, "lang")
        encode_with_resume(spark, odd, out, cfg, run_id="odd")
        rows = scan_encoded(
            spark, out, ["doc_id", "content", "lang"]
        ).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["doc_id"], r["content"], r["lang"]) for r in rows],
        "doc_id long, content string, lang string",
    )


def q_upsert_store(spark, sf_dir):
    """MERGE (upsert) into the checkpointed store
    (choetl_spark/deletes.py upsert): every doc_id%50==0 page gets its
    text replaced via delete_matching tombstones + an epoch-namespaced
    ingest — no data chunk rewritten. The oracle recomputes the merged
    table from documents with a CASE; a duplicate surviving old row, a
    dropped update, or an epoch/resume collision all flip it. Collected
    eagerly so the temp store can be deleted."""
    import shutil
    import tempfile

    from choetl_spark.deletes import upsert
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, scan_encoded
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    updates = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"),
            F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.current_timestamp().alias("warc_ts"),
        F.encode(F.lit("<html/>"), "utf-8").cast("binary").alias("html"),
        F.concat(F.lit("UPDATED-"), F.col("doc_id").cast("string"))
        .alias("text"),
        F.col("lang"),
    )
    out = tempfile.mkdtemp(prefix="choetl_up_")
    try:
        cfg = EncodeConfig(
            num_partitions=8, chunk_rows=2048, chunk_bytes=4 << 20,
            deterministic=True, bloom_columns=("url",),
        )
        encode_with_resume(spark, pages, out, cfg)
        upsert(spark, out, updates, "url", cfg)
        rows = scan_encoded(spark, out, ["url", "text"]).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, "url string, text string")


def _messy_urls(spark, sf_dir):
    """Deterministic messy-URL corpus over documents: every doc_id
    derives a URL exercising scheme case, userinfo, host case, default
    and explicit ports, trailing slashes, tracking params, and
    fragments. The DuckDB oracle builds the identical string from the
    same CASE arithmetic, so the parse/canonicalize chain is compared
    byte-for-byte."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    scheme = (
        F.when(d % 3 == 0, F.lit("HTTPS"))
        .when(d % 3 == 1, F.lit("http"))
        .otherwise(F.lit("https"))
    )
    userinfo = F.when(d % 7 == 0, F.lit("user:pw@")).otherwise(F.lit(""))
    host = F.concat(
        F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit("-"),
        F.col("lang"),
        F.when(d % 2 == 0, F.lit(".Example.COM")).otherwise(F.lit(".org")),
    )
    port = (
        F.when(d % 5 == 0, F.lit(":443"))
        .when(d % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/p/"),
        s(d),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    query = (
        F.when(d % 3 == 0, F.concat(F.lit("?id="), s(d), F.lit("&utm_source=feed")))
        .when(d % 3 == 1, F.lit("?utm_campaign=x"))
        .otherwise(F.lit(""))
    )
    fragment = F.when(d % 2 == 1, F.concat(F.lit("#sec"), s(d % 6))).otherwise(
        F.lit("")
    )
    return docs.select(
        "doc_id",
        "text",
        F.concat(
            scheme, F.lit("://"), userinfo, host, port, path, query, fragment
        ).alias("url"),
    )


def q_agg_pushdown_store(spark, sf_dir):
    """Aggregate pushdown over the checkpointed store
    (choetl_spark/ledger.py agg_encoded, the Iceberg/Parquet
    footer-stats aggregate pushdown analog): count/min/max/sum answered
    from the per-chunk statistics without decoding payloads — except
    where exactness demands a decode (min(text) falls back because the
    64-char string zone maps truncate; the post-delete phase merges
    exact re-aggregation of ONLY the tombstoned partitions with stats
    for the rest). Two phases: the full store, then after tombstoning
    lang='de'. The oracle recomputes every aggregate from the documents
    table — a stale stat, a truncated bound treated as exact, an int64
    sum overflow, or a tombstone-blind stats read each flip it.
    Timestamps are emitted as epoch micros so the comparison is
    presentation-free. Collected eagerly so the temp store can be
    deleted."""
    import datetime as _dt
    import shutil
    import tempfile

    from choetl_spark.deletes import delete_where
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import agg_encoded, encode_with_resume
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("long")
    )
    spec = {
        "n": ("count", "*"),
        "n_lang": ("count", "lang"),
        "min_ts": ("min", "warc_ts"),
        "max_ts": ("max", "warc_ts"),
        "min_url": ("min", "url"),
        "max_url": ("max", "url"),
        "sum_len": ("sum", "text_len"),
        "min_text": ("min", "text"),
    }
    epoch = _dt.datetime(1970, 1, 1)

    def us(v):
        return (v - epoch) // _dt.timedelta(microseconds=1)

    out = tempfile.mkdtemp(prefix="choetl_agg_")
    rows = []
    try:
        cfg = EncodeConfig(
            num_partitions=8, chunk_rows=2048, chunk_bytes=4 << 20,
            deterministic=True,
        )
        encode_with_resume(spark, pages, out, cfg)
        for phase in ("full", "after_delete"):
            if phase == "after_delete":
                delete_where(spark, out, equals={"lang": "de"})
            r = agg_encoded(spark, out, spec).collect()[0]
            rows.append(
                (
                    phase, r["n"], r["n_lang"],
                    us(r["min_ts"]), us(r["max_ts"]),
                    r["min_url"], r["max_url"],
                    int(r["sum_len"]), r["min_text"],
                )
            )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "phase string, n long, n_lang long, min_ts_us long, "
        "max_ts_us long, min_url string, max_url string, "
        "sum_len long, min_text string",
    )


def q_store_partitions_meta(spark, sf_dir):
    """Metadata tables over the checkpointed store
    (choetl_spark/ledger.py store_partitions — the Iceberg .partitions
    metadata-table analog): per-partition row counts, delete debt, and
    live rows, answered from the ledger + tombstone table alone. The
    store is built with EXPLICIT part_id = doc_id % 8 so DuckDB can
    recompute every rollup from the documents table — a ledger row
    count drift, a tombstone attributed to the wrong partition, or a
    stale live_rows after a delete each flip it. Collected eagerly so
    the temp store can be deleted."""
    import shutil
    import tempfile

    from choetl_spark.deletes import delete_matching
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, store_partitions

    docs = _read(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 8).alias("part_id"), "doc_id", "text"
    )
    out = tempfile.mkdtemp(prefix="choetl_meta_")
    try:
        cfg = EncodeConfig(
            key_col="doc_id", chunk_rows=2048, deterministic=True
        )
        encode_with_resume(spark, docs, out, cfg)
        delete_matching(
            spark, out, "doc_id",
            docs.filter(F.col("doc_id") % 10 == 0).select("doc_id"),
        )
        rows = store_partitions(spark, out).select(
            "part_id", "n_rows", "n_columns", "n_deleted", "live_rows"
        ).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "part_id long, n_rows long, n_columns long, n_deleted long, "
        "live_rows long",
    )


def q_changelog_store(spark, sf_dir):
    """Incremental changelog read over the checkpointed store
    (choetl_spark/ledger.py read_changes — the Iceberg incremental scan
    / changelog analog): two ingest epochs with explicit disjoint
    part_ids, then a row-level delete; the changelog for (epoch1,
    latest] must contain exactly epoch-2's rows as inserts and the
    tombstoned epoch-1 rows as deletes. The oracle recomputes both
    sides from the documents table — a leaked unchanged row, a missed
    tombstone, or an insert/delete mislabel each flip it. Collected
    eagerly so the temp store can be deleted."""
    import shutil
    import tempfile

    from choetl_spark.deletes import delete_matching
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, read_changes

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    epoch1 = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") % 2).alias("part_id"), "doc_id", "text"
    )
    epoch2 = docs.filter(F.col("doc_id") % 3 != 0).select(
        (F.col("doc_id") % 2 + 2).alias("part_id"), "doc_id", "text"
    )
    out = tempfile.mkdtemp(prefix="choetl_cl_")
    try:
        cfg = EncodeConfig(
            key_col="doc_id", chunk_rows=2048, deterministic=True
        )
        encode_with_resume(spark, epoch1, out, cfg, run_id="e1")
        encode_with_resume(spark, epoch2, out, cfg, run_id="e2")
        # delete every epoch-1 row whose doc_id % 5 == 0
        delete_matching(
            spark, out, "doc_id",
            docs.filter(
                (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 5 == 0)
            ).select("doc_id"),
        )
        rows = read_changes(
            spark, out, 1, columns=["doc_id"]
        ).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id long, _change_type string"
    ).select("doc_id", F.col("_change_type").alias("change_type"))


def q_url_normalize_webpages(spark, sf_dir):
    """URL parse + canonicalization over the planted messy-URL corpus:
    lowercased scheme/host, userinfo and default ports stripped,
    fragment dropped, tracking params removed, trailing slash trimmed.
    Pure regexp chain (Java-regex ∩ RE2, no replacement backrefs) —
    the oracle mirrors it exactly."""
    from choetl_spark.operators import with_url_canonical, with_url_parts

    urls = _messy_urls(spark, sf_dir)
    return with_url_canonical(with_url_parts(urls)).select(
        "doc_id", "scheme", "host", "port", "registered_domain",
        "path", "query", "url_canon",
    )


def q_domain_stats_webpages(spark, sf_dir):
    """Registered-domain rollup over the messy-URL corpus — the
    per-domain quota table of a web pipeline. countDistinct hosts +
    length sums, one partial-aggregated groupBy on a tiny key space."""
    from choetl_spark.operators import domain_stats

    urls = _messy_urls(spark, sf_dir)
    return domain_stats(urls, "url", "text").select(
        "registered_domain",
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("n_hosts").cast("long").alias("n_hosts"),
        F.col("total_chars").cast("long").alias("total_chars"),
        "avg_chars",
    )


def q_dedup_lines_documents(spark, sf_dir):
    """Line-level boilerplate removal (RefinedWeb-style): nav header,
    copyright footer, and a planted every-10th-doc subscribe line are
    shared across >max_docs documents and get stripped; each document's
    own text line survives. The oracle rebuilds documents with the same
    anti-join + ordered string_agg."""
    from choetl_spark.operators import dedup_lines

    docs = _read(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("NAV HOME SEARCH"),
            F.col("text"),
            F.when(F.col("doc_id") % 10 == 0, F.lit("subscribe to our newsletter")),
            F.lit("COPYRIGHT 2026 EXAMPLE"),
        ).alias("text"),
    )
    return dedup_lines(planted, max_docs=5)


_SPAN_SHARED = " ".join(
    f"licenseword{i}" for i in range(24)
)  # a 24-word verbatim block planted into every 9th doc


def q_dedup_spans_documents(spark, sf_dir):
    """Exact-substring span dedup (Lee et al. ACL 2022, word-level):
    every 9th document gets the same appended 24-word license block;
    every k=20-word window inside it is duplicated across >= 2 docs, so
    the merged span is stripped from each. The oracle replays shingling,
    the duplicate census, island merging, and the rebuild in SQL
    (use_hash_keys=False keeps the gram text as the join key so the two
    sides agree exactly). text_clean is md5'd so the hash compare stays
    scalar-cheap."""
    from choetl_spark.operators import dedup_spans

    docs = _read(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(" " + _SPAN_SHARED)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = dedup_spans(
        planted, "doc_id", "text", k=20, use_hash_keys=False
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_dup_spans",
        "words_removed",
        F.md5(F.col("text_clean").cast("binary")).alias("clean_md5"),
    )


def q_normalize_documents(spark, sf_dir):
    """Unicode NFC normalization over a corpus with planted decomposed
    combining sequences (e + U+0301); the oracle is DuckDB's native
    nfc_normalize over the identical planted text. ASCII documents are
    fixed points, planted docs compose (length shrinks by one)."""
    from choetl_spark.operators import with_text_normalized

    docs = _read(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" cafe\u0301 finale")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = with_text_normalized(planted, "text", "NFC")
    return out.select(
        "doc_id",
        F.length("text").alias("raw_len"),
        F.length("text_norm").alias("norm_len"),
        F.md5(F.col("text_norm").cast("binary")).alias("norm_md5"),
    )


def q_decontaminate_documents(spark, sf_dir):
    """Benchmark decontamination: the eval set is the first 12 words of
    every 97th document; training docs sharing any 8-word gram with it
    (the source docs and their exact duplicates) are flagged. Eval
    grams broadcast; doc grams generated by codegen'd higher-order
    functions."""
    from choetl_spark.operators import decontaminate

    docs = _read(spark, sf_dir, "documents")
    evals = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.concat_ws(
            " ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 12)
        ).alias("text")
    )
    return decontaminate(docs, evals, n=8).select(
        "doc_id", "n_matched", "contaminated"
    )


def q_pack_shards_documents(spark, sf_dir):
    """Token-budget shard packing: whitespace token counts, 8 parallel
    writers (doc_id % 8), cumulative-sum bucketing + dense per-writer
    shard ids on partitioned windows — no global sort, no single-task
    exchange. The oracle runs the identical partitioned windows in
    DuckDB."""
    from choetl_spark.operators import pack_shards

    docs = _read(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("tokens"),
    )
    return pack_shards(
        with_tokens, "tokens", budget=2000, n_writers=8
    ).select("doc_id", "tokens", "writer", "shard")


def q_sample_mixture_documents(spark, sf_dir):
    """Deterministic training-mix sampling: per-source keep rates over
    the documents pool via the bounded Knuth multiplicative hash
    (cross-engine-safe integer arithmetic — DuckDB raises on BIGINT
    overflow where Spark wraps, so the hash input is bounded first).
    Pure map, zero shuffle; oracle recomputes the hash op-for-op."""
    from choetl_spark.operators import sample_mixture

    docs = _read(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
    return sample_mixture(docs, rates, default_rate=0.1).select(
        "doc_id", "source"
    )


def q_split_documents(spark, sf_dir):
    """Deterministic train/val/test assignment by id hash — membership
    is a pure function of (doc_id, seed), so documents never migrate
    between splits as the corpus grows."""
    from choetl_spark.operators import with_split

    docs = _read(spark, sf_dir, "documents")
    return with_split(docs, val_frac=0.05, test_frac=0.05).select(
        "doc_id", "split"
    )


def q_cap_per_domain_documents(spark, sf_dir):
    """Per-registered-domain page quota over the messy-URL corpus: at
    most 20 pages per domain, preferring longer documents (doc length
    as the quality proxy), doc_id as the deterministic tiebreak. The
    two-phase top-k prefilters per input partition before the single
    shuffle; the oracle runs the equivalent one-window row_number."""
    from choetl_spark.operators import cap_per_domain

    urls = _messy_urls(spark, sf_dir).withColumn(
        "q", F.length("text").cast("long")
    )
    return cap_per_domain(urls, k=20, order_col="q").select(
        "doc_id", "registered_domain", "q"
    )


def q_dedup_against_documents(spark, sf_dir):
    """Incremental dedup of an incoming batch against a reference
    store: every third document is planted into the reference with
    whitespace mangling (normalized-equal, byte-different; whitespace
    only, so no Java-vs-DuckDB case-folding edge can split the
    engines), so exactly the doc_id % 3 != 0 survivors remain.
    Anti-join on md5 fingerprints — only keys cross the wire."""
    from choetl_spark.operators import dedup_against

    docs = _read(spark, sf_dir, "documents")
    reference = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(
            F.lit("  "), F.regexp_replace("text", " ", "   "), F.lit(" ")
        ).alias("text")
    )
    return dedup_against(docs, reference).select("doc_id", "source")


def q_top_ngrams_documents(spark, sf_dir):
    """Global top-50 word bigrams over the documents corpus (the
    vocabulary census a tokenizer-training pass starts from): map-side
    partial count -> one exchange on the gram key -> TakeOrdered top-k.
    Deterministic tiebreak (count desc, gram asc) on both engines, so
    the rank-50 boundary selects identical rows."""
    from choetl_spark.operators import top_ngrams

    docs = _read(spark, sf_dir, "documents")
    return top_ngrams(docs, "text", n=2, k=50)


def q_semantic_dedup_embeddings(spark, sf_dir):
    """SemDeDup survivors over the embeddings table: seeded anchor
    clusters (externally replicable from literals), within-cluster
    cosine >= 0.3 pairs, lowest id of each pair wins. The oracle
    re-derives cluster assignment, pairwise cosine, and the anti-join
    entirely in SQL."""
    from choetl_spark.operators import dedup_semantic
    from choetl_spark.operators.similarity import ivf_anchor_centroids

    embs = _read(spark, sf_dir, "embeddings")
    cents = ivf_anchor_centroids(_EMB_DIM, n_clusters=8, seed=42)
    return dedup_semantic(embs, 0.3, centroids=cents).select("vec_id")


def q_vector_store_roundtrip(spark, sf_dir):
    """Native vector-column storage (veclist codec: bit-packed lengths
    + byte-plane-shuffled float values — NOT the JSON-string nested
    fallback): encode the embeddings table through the store and scan
    it back; the oracle reads the source rows directly, so any
    reconstruction error in dims, element values (float32 bits are
    preserved exactly — the cast to double is lossless on both
    engines), or row coverage flips the hash. Bit-identity over every
    element is pinned by tests/test_engine_roundtrip.py and the codec
    buffer-equality test."""
    import shutil
    import tempfile

    from choetl_spark.engine import EncodeConfig
    from choetl_spark.ledger import encode_with_resume, scan_encoded

    embs = _read(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="choetl_vec_")
    try:
        cfg = EncodeConfig(
            num_partitions=8, chunk_rows=2048, chunk_bytes=4 << 20,
            key_col="vec_id", partition_by_host=False,
        )
        encode_with_resume(spark, embs, out, cfg)
        rows = (
            scan_encoded(spark, out)
            .select(
                "vec_id",
                F.size("embedding").alias("dim"),
                F.element_at("embedding", 1).cast("double").alias("first_v"),
                F.element_at("embedding", -1).cast("double").alias("last_v"),
                "label",
            )
            .collect()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "vec_id long, dim int, first_v double, last_v double, label int"
    )


def q_bpe_merges_documents(spark, sf_dir):
    """Distributed BPE tokenizer training (8 merge rounds) over the
    documents corpus: the corpus collapses to a distinct-word frequency
    table (one shuffle), then each round is one pair-count aggregation
    + one codegen'd replace pass — O(distinct words) per round, the
    exact HF/SentencePiece pre-tokenization shape. The oracle replays
    ALL 8 training rounds in SQL (chained CTEs with the identical
    pair-count, tie-break, and replace-application rules), so a wrong
    count, tie-break, or merge application flips the table."""
    from choetl_spark.operators.bpe import bpe_train

    docs = _read(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=8)
    rows = [(i + 1, l, r) for i, (l, r) in enumerate(merges)]
    return spark.createDataFrame(rows, "rank int, lhs string, rhs string")


def q_lm_perplexity_documents(spark, sf_dir):
    """Bigram-LM perplexity quality scores (the KenLM-style CCNet/
    Gopher filter signal) self-trained on the documents corpus: two
    map-side-combined count aggregations train the model AS A TABLE
    (never collected), scoring is two equi-joins + a per-doc agg, all
    JVM codegen. The oracle recomputes counts, add-one smoothing, and
    the per-doc mean log-probability in SQL."""
    from choetl_spark.operators import with_lm_perplexity

    docs = _read(spark, sf_dir, "documents")
    out = with_lm_perplexity(docs)
    return out.select(
        "doc_id", "n_bigrams", F.round("avg_logp", 3).alias("avg_logp_r")
    )


def q_eq_delete_store(spark, sf_dir):
    """Equality deletes over the checkpointed store (Iceberg v2
    equality-delete contract, choetl_spark/eqdeletes.py): delete by KEY
    VALUE with no store scan at write time (O(keys) cost), then
    re-insert a subset of the deleted keys at a later epoch — the
    strict sequence rule means the re-inserted rows survive while the
    pre-delete copies stay hidden. Emits both phases so the oracle
    checks the hide half and the survive half; a resolution that
    misses a row, applies a delete to a newer row, or leaks positions
    flips the hash. Crash-orphan/changelog/rewrite corners are pinned
    by tests/test_eqdeletes.py. Collected eagerly so the temp store
    can be deleted."""
    import shutil
    import tempfile

    from choetl_spark.deletes import next_free_epoch
    from choetl_spark.engine import EncodeConfig
    from choetl_spark.eqdeletes import delete_by_key
    from choetl_spark.ledger import encode_with_resume, scan_encoded
    from choetl_spark.synth import webpages_from_documents

    pages = webpages_from_documents(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
    )
    victims = docs.filter((F.col("doc_id") % 9) == 0).select(
        url.alias("url")
    )
    reborn = docs.filter((F.col("doc_id") % 18) == 0).select(
        url.alias("url"), F.lit("re").alias("lang")
    )
    out = tempfile.mkdtemp(prefix="choetl_eqdel_")
    try:
        cfg = EncodeConfig(
            num_partitions=8, chunk_rows=2048, chunk_bytes=4 << 20,
            deterministic=True, bloom_columns=("url",),
        )
        encode_with_resume(spark, pages, out, cfg)      # epoch 1
        delete_by_key(spark, out, "url", victims)       # epoch 2
        deleted = scan_encoded(spark, out, ["url", "lang"]).collect()
        epoch = next_free_epoch(spark, out, cfg.num_partitions)
        planned = reborn.repartition(1).withColumn(
            "part_id",
            F.lit(epoch * cfg.num_partitions).cast("long"),
        )
        encode_with_resume(spark, planned, out, cfg, run_id="reinsert")
        final = scan_encoded(spark, out, ["url", "lang"]).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    rows = [("deleted", r["url"], r["lang"]) for r in deleted] + [
        ("final", r["url"], r["lang"]) for r in final
    ]
    return spark.createDataFrame(
        rows, "phase string, url string, lang string"
    )


def q_quantized_cosine_topk(spark, sf_dir):
    """Cosine top-10 computed entirely over symmetric int8-quantized
    vectors (the 4x-smaller storage/shuffle form): both the corpus and
    the query vector quantize with the same rule, the dot product is
    exact integer arithmetic, and the oracle re-derives the quantizer
    (max-abs/127 scale, round-half-away indices) and the ranking in
    SQL. Proves the quantized store ranks without float data."""
    from choetl_spark.operators import cosine_topk_quantized

    embs = _read(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    return cosine_topk_quantized(embs, [float(x) for x in q], k=10)


_BM25_QUERY = "spark join window scan"


def q_bm25_search_documents(spark, sf_dir):
    """BM25 ranked retrieval over the documents corpus for a fixed
    4-term query: inverted-postings build (one map-side-combined
    shuffle), IN-list filter on the query terms FIRST, broadcast of the
    1-row corpus stats and the per-term document frequencies, then a
    TakeOrderedAndProject top-k. The oracle recomputes the full BM25
    formula (idf, length normalization, tie-broken top-10) in SQL from
    the same literals."""
    from choetl_spark.operators import bm25_topk

    docs = _read(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_QUERY, k=10)


def q_asof_join_events(spark, sf_dir):
    """Point-in-time (ASOF backward) join: every click event picks up
    the same user's most recent view at-or-before it. The union-tag
    running-last implementation shuffles once on the key (operators/
    temporal.py); the oracle expresses the same semantics as an
    independent inequality join + QUALIFY row_number in DuckDB. The
    view side is deduped per (user_id, ts) first so equal-timestamp
    survivors are well-defined on both engines."""
    from choetl_spark.operators import asof_join

    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    out = asof_join(clicks, views, "user_id", "ts", right_cols=["view_id"])
    lag_sec = F.round(
        F.col("ts").cast("timestamp").cast("double")
        - F.col("matched_ts").cast("timestamp").cast("double"),
        3,
    )
    return out.select("event_id", "view_id", lag_sec.alias("lag_sec"))


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30-minute inactivity break) of the
    events stream per user — lag + running sum, one shuffle
    (operators/temporal.py). The oracle recomputes the same window
    algebra in DuckDB SQL."""
    from choetl_spark.operators import sessionize

    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = sessionize(
        ev, "user_id", "ts", gap_sec=1800.0, tiebreak=["event_id"]
    )
    return out.select("event_id", "user_id", "session_id")


def q_time_window_pairs_events(spark, sf_dir):
    """Interval self-join: unordered pairs of same-user events within
    30 minutes of each other, via window-width bucketing (floor(ts/W)
    differs by <=1 for any matching pair) so the plan is a plain
    shuffled equi-join — never a nested loop (operators/temporal.py).
    The oracle is the direct inequality self-join in DuckDB."""
    from choetl_spark.operators import time_window_pairs

    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return time_window_pairs(
        ev, "user_id", "ts", "event_id", window_sec=1800.0
    ).select("id_a", "id_b")


def q_chunk_documents(spark, sf_dir):
    """Token-window document chunking (64-token windows, 16-token
    overlap) — pure codegen split/sequence/posexplode/slice, zero
    shuffle. The oracle rebuilds the same windows with DuckDB list
    lambdas + generate_series."""
    from choetl_spark.operators import chunk_documents

    docs = _read(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "text", "doc_id", max_tokens=64, overlap=16
    )


def q_interval_join_events(spark, sf_dir):
    """Point-in-interval join: event values land in overlapping value
    tiers ([5i, 5i+7.5]) via bucket-exploded equi-join + residual range
    filter — never a nested loop (operators/temporal.py). The oracle is
    the direct inequality join in DuckDB."""
    from choetl_spark.operators import point_in_interval_join

    ev = _read(spark, sf_dir, "events").select("event_id", "value")
    tiers = spark.range(20).select(
        F.col("id").cast("int").alias("tier_id"),
        (F.col("id") * 5.0).alias("lo"),
        (F.col("id") * 5.0 + 7.5).alias("hi"),
    )
    out = point_in_interval_join(
        ev, tiers, "value", "lo", "hi", bucket_width=7.5
    )
    return out.select("event_id", "tier_id")


def q_rolling_window_events(spark, sf_dir):
    """Time-RANGE rolling aggregate: per user, the sum/count of event
    values in the trailing hour (rangeBetween on epoch seconds — the
    moving-window form Spark executes as one shuffle + an incremental
    frame, no self-join). Oracle: DuckDB RANGE frame."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    epoch = F.col("ts").cast("timestamp").cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        F.count("*").over(w).alias("n_trailing_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_trailing_1h"),
    )


def q_pivot_event_counts(spark, sf_dir):
    """Pivot: per-user event counts spread across event-type columns
    (groupBy().pivot() — map-side partial aggregation then one shuffle;
    the pivot values are declared so the plan needs no extra distinct
    pass). Oracle: conditional aggregation in SQL."""
    ev = _read(spark, sf_dir, "events")
    types = ["signup", "click", "view", "purchase", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for absent combinations; count semantics say 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP aggregation: order totals by (status, priority) with
    subtotal and grand-total rows (grouping-sets in one pass — Spark
    expands the grouping sets before the single shuffle). Oracle:
    DuckDB GROUP BY ROLLUP."""
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Canonical registry order: the 15 pinned flagships first, then the
    # 35 other entries that filled rounds 1-4's gate window, then the
    # long tail. queries() below ROTATES everything past the pinned 15
    # through the driver gate's fixed-size 50-slot prefix by round
    # number, so every entry re-earns a driver-green CORRECTNESS row
    # every ~2 rounds instead of a chosen 50 staying permanently
    # checked and the rest permanently trust-only.
    return {
        # -- engine flagship: encode / decode / scan-direct / data source
        "encode_summary": q_encode_summary,
        "roundtrip_text_identity": q_roundtrip_text_identity,
        "direct_roundtrip": q_direct_roundtrip,
        "datasource_roundtrip": q_datasource_roundtrip,
        "format_roundtrips": q_format_roundtrips,
        # -- store lifecycle (Iceberg-v2-shaped contract)
        "delete_rows_store": q_delete_rows_store,
        "eq_delete_store": q_eq_delete_store,
        "wap_publish_store": q_wap_publish_store,
        "changelog_store": q_changelog_store,
        "agg_pushdown_store": q_agg_pushdown_store,
        "rollback_store": q_rollback_store,
        "upsert_store": q_upsert_store,
        "schema_evolution_store": q_schema_evolution_store,
        "store_time_travel": q_store_time_travel,
        "store_partitions_meta": q_store_partitions_meta,
        "point_lookup_store": q_point_lookup_store,
        "vector_store_roundtrip": q_vector_store_roundtrip,
        "prune_urlrange": q_prune_urlrange,
        "prune_bloom_url": q_prune_bloom_url,
        "float_roundtrip_alp": q_float_roundtrip_alp,
        # -- web-crawl stack (WARC in, link graph out)
        "warc_ingest_webpages": q_warc_ingest_webpages,
        "robots_crawlable": q_robots_crawlable,
        "cdx_index_webpages": q_cdx_index_webpages,
        "content_extract_webpages": q_content_extract_webpages,
        "crawl_frontier_webpages": q_crawl_frontier_webpages,
        "mime_sniff_webpages": q_mime_sniff_webpages,
        "html_charset_decode": q_html_charset_decode,
        "outlinks_webpages": q_outlinks_webpages,
        "anchor_texts_webpages": q_anchor_texts_webpages,
        "pagerank_linkgraph": q_pagerank_linkgraph,
        "hits_linkgraph": q_hits_linkgraph,
        # -- retrieval / language models / quantization
        "bm25_search_documents": q_bm25_search_documents,
        "quantized_cosine_topk": q_quantized_cosine_topk,
        "lm_perplexity_documents": q_lm_perplexity_documents,
        "bpe_merges_documents": q_bpe_merges_documents,
        # -- temporal joins / windows / OLAP shapes
        "asof_join_events": q_asof_join_events,
        "rolling_window_events": q_rolling_window_events,
        "chunk_documents": q_chunk_documents,
        "interval_join_events": q_interval_join_events,
        "pivot_event_counts": q_pivot_event_counts,
        "rollup_revenue": q_rollup_revenue,
        "sessionize_events": q_sessionize_events,
        "time_window_pairs_events": q_time_window_pairs_events,
        # -- flagship operator queries (re-checked each round)
        "pricing_summary": q_pricing_summary,
        "join_topk_revenue": q_join_topk_revenue,
        "doc_stats_documents": q_doc_stats_documents,
        "minhash_pairs_documents": q_minhash_pairs_documents,
        "cosine_topk": q_cosine_topk,
        "dedup_exact_documents": q_dedup_exact_documents,
        "semantic_dedup_embeddings": q_semantic_dedup_embeddings,
        # ---- end of rounds 1-4's gate window; queries() rotates from
        # here (new-in-r5 entries lead so they gate immediately) ----
        "streaming_upsert_store": q_streaming_upsert_store,
        "multimodal_features": q_multimodal_features,  # JPEG leg new r5
        "left_join_order_counts": q_left_join_order_counts,
        "compare_diff_orders": q_compare_diff_orders,
        "topk_events": q_topk_events,
        "substring_part_fields": q_substring_part_fields,
        "json_extract_events": q_json_extract_events,
        "customers_without_orders": q_customers_without_orders,
        "jsonpath_recursive_events": q_jsonpath_recursive_events,
        "seqno_global_events": q_seqno_global_events,
        "seqno_events_per_user": q_seqno_events_per_user,
        "agg_events_stats": q_agg_events_stats,
        "window_hourly_events": q_window_hourly_events,
        "fixedlength_parse": q_fixedlength_parse,
        "manifold_dispatch": q_manifold_dispatch,
        "zip_positional": q_zip_positional,
        "staged_sql_revenue": q_staged_sql_revenue,
        "null_default_boolean_modes": q_null_default_boolean_modes,
        "multikey_sort_lineitems": q_multikey_sort_lineitems,
        "dedup_normalized_documents": q_dedup_normalized_documents,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "embedding_neardup_pairs": q_embedding_neardup_pairs,
        "simhash_documents": q_simhash_documents,
        "html_extract_webpages": q_html_extract_webpages,
        "url_normalize_webpages": q_url_normalize_webpages,
        "domain_stats_webpages": q_domain_stats_webpages,
        "dedup_lines_documents": q_dedup_lines_documents,
        "dedup_spans_documents": q_dedup_spans_documents,
        "normalize_documents": q_normalize_documents,
        "decontaminate_documents": q_decontaminate_documents,
        "pack_shards_documents": q_pack_shards_documents,
        "sample_mixture_documents": q_sample_mixture_documents,
        "split_documents": q_split_documents,
        "cap_per_domain_documents": q_cap_per_domain_documents,
        "dedup_against_documents": q_dedup_against_documents,
        "top_ngrams_documents": q_top_ngrams_documents,
        "connected_components_graph": q_connected_components_graph,
        "dsir_select_documents": q_dsir_select_documents,
    }


_N_PINNED = 15  # flagship prefix of _all_queries(), never rotated out
_N_ROTATING = 35  # gate window (50) minus the pinned flagships
_R04_WINDOW_END = 50  # _all_queries() position where r1-r4's gate ended
_BASE_ROUND = 5  # round whose rotation offset is 0


def _round_number() -> int:
    """The build round, inferred from the driver's own CORRECTNESS
    artifacts next to this file (round N starts with rounds 1..N-1
    recorded). Deterministic for a given checkout — re-running the gate
    within one round always sees the same window."""
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        names = os.listdir(here)
    except OSError:
        return _BASE_ROUND
    rounds = [
        int(m.group(1))
        for n in names
        for m in [re.match(r"CORRECTNESS_r(\d+)\.json$", n)]
        if m
    ]
    return (max(rounds) + 1) if rounds else _BASE_ROUND


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver's correctness gate checks a fixed-size 50-entry prefix
    # of this registry. Slots 1-15 pin the flagship encode/store core;
    # slots 16-50 rotate by round through every other entry (long tail
    # FIRST, so the 39 queries the r4 window pushed out re-earn driver
    # rows immediately), advancing 35 positions per round — full
    # re-verification of the registry every ~2-3 rounds.
    allq = _all_queries()
    names = list(allq)
    pinned = names[:_N_PINNED]
    # rotation order: entries past r4's window lead, then r4's
    # non-pinned window members
    tail = names[_R04_WINDOW_END:] + names[_N_PINNED:_R04_WINDOW_END]
    off = (_N_ROTATING * (_round_number() - _BASE_ROUND)) % len(tail)
    rotated = tail[off:] + tail[:off]
    window = pinned + rotated[:_N_ROTATING]
    rest = [n for n in names if n not in set(window)]
    return {n: allq[n] for n in window + rest}


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL on the same parquet views)
# ---------------------------------------------------------------------------

_WORD = "[A-Za-z0-9']+"
_WORD_SQL = "[A-Za-z0-9'']+"  # SQL-literal-escaped form of _WORD
_STOP_SQL = " + ".join(
    f"len(regexp_extract_all(text, '\\b{w}\\b'))"
    for w in ["the", "of", "and", "to", "in"]
)


def _lang_case() -> str:
    from choetl_spark.operators.textstats import LANG_MARKERS

    score = {
        lang: " + ".join(
            f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in ws
        )
        for lang, ws in LANG_MARKERS.items()
    }
    # same fold as the Spark side: iterate langs ascending, strictly-greater wins
    expr = None
    for lang in sorted(score):
        s = f"({score[lang]})"
        if expr is None:
            expr = f"struct_pack(score := {s}, lang := '{lang}')"
        else:
            expr = (
                f"(CASE WHEN {s} > ({expr}).score THEN "
                f"struct_pack(score := {s}, lang := '{lang}') ELSE {expr} END)"
            )
    return f"({expr}).lang"


# -- generated-SQL helpers for the deterministic ANN / LSH oracles ---------
#
# The hyperplanes / anchors are pure functions of (dim, n, seed), so the
# oracle embeds them as double literals and replicates bucketing, probing
# and the exact cosine re-rank entirely in DuckDB. The cosine expression
# mirrors the Spark formula op-for-op (three sequential-fold dot
# products, greatest(.., 1e-12)) so both engines produce bit-equal
# doubles before rounding.


def _sql_vec(v) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def _sql_dot(vec_expr: str, plane) -> str:
    return f"list_dot_product({vec_expr}, {_sql_vec(plane)})"


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / greatest("
        f"sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))"
        f", 1e-12))"
    )


def _sql_bucket_int(vec_expr: str, planes) -> str:
    """Integer form of lsh_bucket_col's sign-bit string (bit i = plane i)."""
    terms = [
        f"(CASE WHEN {_sql_dot(vec_expr, p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def _oracle_ann_lsh(n_planes: int = 6, probe_hamming: int = 1, k: int = 10) -> str:
    from choetl_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_EMB_DIM, n_planes, 42)
    cos = _sql_cosine("b.v", "q.v")
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        b AS (SELECT vec_id, v, {_sql_bucket_int('v', planes)} AS bkt FROM e),
        q AS (SELECT v, bkt FROM b WHERE vec_id = 0)
        SELECT vec_id, round(c6, 4) AS cosine_r FROM (
          SELECT b.vec_id, round({cos}, 6) AS c6
          FROM b, q
          WHERE bit_count(xor(b.bkt, q.bkt)) <= {probe_hamming}
        ) ORDER BY c6 DESC, vec_id LIMIT {k}
    """


def _oracle_ann_ivf(n_clusters: int = 8, n_probe: int = 4, k: int = 10) -> str:
    from choetl_spark.operators.similarity import ivf_anchor_centroids

    cents = ivf_anchor_centroids(_EMB_DIM, n_clusters, seed=42)
    dots = ", ".join(
        f"{_sql_dot('v', c)} AS d{i}" for i, c in enumerate(cents)
    )
    # argmax over anchor dots, ties -> lowest index (numpy argmax rule)
    cl = f"CAST(0 AS INTEGER)"
    best = "d0"
    for i in range(1, n_clusters):
        cl = f"(CASE WHEN d{i} > {best} THEN {i} ELSE {cl} END)"
        best = f"greatest({best}, d{i})"
    # probe set: cluster c probed iff fewer than n_probe clusters rank
    # strictly ahead of it on the query's anchor dots (ties -> lower idx)
    ranks = []
    for c in range(n_clusters):
        ahead = [
            f"(CASE WHEN q.d{j} > q.d{c} OR (q.d{j} = q.d{c} AND {j} < {c})"
            f" THEN 1 ELSE 0 END)"
            for j in range(n_clusters)
            if j != c
        ]
        ranks.append(f"(({' + '.join(ahead)}) < {n_probe})")
    probed = " OR ".join(
        f"(a.cl = {c} AND {ranks[c]})" for c in range(n_clusters)
    )
    cos = _sql_cosine("a.v", "q.v")
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        d AS (SELECT vec_id, v, {dots} FROM e),
        a AS (SELECT vec_id, v, {cl} AS cl FROM d),
        q AS (SELECT * FROM d WHERE vec_id = 0)
        SELECT vec_id, round(c6, 4) AS cosine_r FROM (
          SELECT a.vec_id, round({cos}, 6) AS c6
          FROM a, q WHERE {probed}
        ) ORDER BY c6 DESC, vec_id LIMIT {k}
    """


def _oracle_embedding_neardup(
    threshold: float = 0.4, n_planes: int = 8
) -> str:
    from choetl_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_EMB_DIM, n_planes, 42)
    cos = _sql_cosine("a.v", "b.v")
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        bk AS (SELECT vec_id, v, {_sql_bucket_int('v', planes)} AS bkt FROM e)
        SELECT id_a, id_b, round(c6, 4) AS cosine_r FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS c6
          FROM bk a JOIN bk b
            ON a.bkt = b.bkt AND a.vec_id < b.vec_id
        ) WHERE c6 >= {threshold}
    """


def _oracle_html_extract() -> str:
    """Mirror of with_html_text's regexp chain (same order, 'g' flag —
    DuckDB replaces only the first match by default)."""
    expr = "html"
    steps = [
        (r"(?is)<script[^>]*>.*?</script>", " "),
        (r"(?is)<style[^>]*>.*?</style>", " "),
        (r"(?s)<[^>]+>", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),  # SQL-escaped single quote
        ("&amp;", "&"),
        (r"\s+", " "),
    ]
    for pat, repl in steps:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return f"""
        WITH t AS (
          SELECT {_URL_SQL} AS url, {_HTML_SQL} AS html FROM documents
        )
        SELECT url, trim({expr}) AS extracted FROM t
    """


# messy-URL corpus: the byte-identical SQL twin of _messy_urls()
_MESSY_URL_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'HTTPS' WHEN 1 THEN 'http' ELSE 'https' END"
    " || '://' || "
    "CASE WHEN doc_id % 7 = 0 THEN 'user:pw@' ELSE '' END || "
    "CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END || source || '-' || lang"
    " || CASE WHEN doc_id % 2 = 0 THEN '.Example.COM' ELSE '.org' END || "
    "CASE doc_id % 5 WHEN 0 THEN ':443' WHEN 1 THEN ':8080' ELSE '' END || "
    "'/p/' || CAST(doc_id AS VARCHAR) || "
    "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END || "
    "CASE doc_id % 3 WHEN 0 THEN '?id=' || CAST(doc_id AS VARCHAR) || "
    "'&utm_source=feed' WHEN 1 THEN '?utm_campaign=x' ELSE '' END || "
    "CASE WHEN doc_id % 2 = 1 THEN '#sec' || CAST(doc_id % 6 AS VARCHAR) "
    "ELSE '' END"
)


def _url_parts_sql() -> dict[str, str]:
    """SQL mirror of operators.weburl._parts — same regexes (Java ∩ RE2,
    no replacement backrefs), same lowercasing, same no-match→'' rule."""
    auth = "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)"
    host_port = f"regexp_replace({auth}, '^[^@]*@', '')"
    host = f"lower(regexp_replace({host_port}, ':[0-9]+$', ''))"
    return {
        "scheme": "lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))",
        "host": host,
        "port": f"regexp_extract({host_port}, ':([0-9]+)$', 1)",
        "path": "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)",
        # query from the PRE-FRAGMENT text (mirror of weburl._parts):
        # a '?' inside an SPA fragment must not resurrect as a query
        "qraw": (
            "regexp_extract(regexp_replace(url, '#.*', '', 'g'),"
            " '\\?([^#]*)', 1)"
        ),
        "registered_domain": f"regexp_extract({host}, '([^.]+\\.[^.]+)$', 1)",
    }


def _oracle_url_normalize() -> str:
    p = _url_parts_sql()
    cols = ", ".join(f"{sql} AS {name}" for name, sql in p.items())
    return f"""
        WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
        p AS (SELECT doc_id, url, {cols} FROM u),
        c AS (SELECT *,
          regexp_replace(regexp_replace(regexp_replace('&' || qraw,
            '&(?:utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid)=[^&]*', '', 'g'),
            '^&+', ''),
            '&+$', '') AS qc,
          regexp_replace(path, '/+$', '') AS pc FROM p)
        SELECT doc_id, scheme, host, port, registered_domain, path,
          qraw AS "query",
          CASE WHEN scheme = '' THEN url ELSE
          scheme || '://' || host ||
          CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
               OR (scheme = 'https' AND port = '443'))
               THEN ':' || port ELSE '' END ||
          CASE WHEN pc = '' THEN '/' ELSE pc END ||
          CASE WHEN qc <> '' THEN '?' || qc ELSE '' END
          END AS url_canon
        FROM c
    """


def _oracle_domain_stats() -> str:
    p = _url_parts_sql()
    return f"""
        WITH u AS (
          SELECT doc_id, text, {_MESSY_URL_SQL} AS url FROM documents
        ),
        p AS (SELECT doc_id, text, {p['host']} AS host,
              {p['registered_domain']} AS registered_domain FROM u)
        SELECT registered_domain,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               round(CAST(sum(length(text)) AS DOUBLE) / count(*), 4)
                 AS avg_chars
        FROM p GROUP BY registered_domain
    """


def _oracle_dedup_spans() -> str:
    return f"""
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 9 = 0
                      THEN text || ' ' || '{_SPAN_SHARED}'
                      ELSE text END AS text
          FROM documents),
        w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
              FROM planted),
        g AS (SELECT doc_id, unnest(
                [{{'pos': i,
                   'gram': array_to_string(ws[i:i+19], ' ')}} for i in
                 generate_series(1, greatest(len(ws) - 19, 0))],
                recursive := true)
              FROM w),
        dup AS (SELECT gram FROM g GROUP BY gram
                HAVING count(DISTINCT doc_id) >= 2),
        st AS (SELECT doc_id, pos FROM g SEMI JOIN dup USING (gram)),
        isl AS (SELECT doc_id, pos,
                  CASE WHEN lag(pos) OVER win IS NULL
                       OR pos - lag(pos) OVER win > 20
                       THEN 1 ELSE 0 END AS nw
                FROM st WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        isl2 AS (SELECT doc_id, pos,
                   sum(nw) OVER (PARTITION BY doc_id ORDER BY pos)
                     AS island
                 FROM isl),
        sp AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 19 AS e
               FROM isl2 GROUP BY doc_id, island),
        per AS (SELECT doc_id, count(*) AS n_spans,
                       sum(e - s + 1) AS removed
                FROM sp GROUP BY doc_id),
        tok AS (SELECT doc_id, unnest(
                  [{{'pos': i, 'word': ws[i]}} for i in
                   generate_series(1, len(ws))], recursive := true)
                FROM w),
        kept AS (SELECT t.doc_id, t.pos, t.word FROM tok t
                 WHERE NOT EXISTS (
                   SELECT 1 FROM sp
                   WHERE sp.doc_id = t.doc_id
                     AND t.pos BETWEEN sp.s AND sp.e)),
        reb AS (SELECT doc_id,
                       string_agg(word, ' ' ORDER BY pos) AS clean
                FROM kept GROUP BY doc_id)
        SELECT w.doc_id,
               CAST(len(w.ws) AS INT) AS n_words,
               CAST(coalesce(per.n_spans, 0) AS INT) AS n_dup_spans,
               CAST(coalesce(per.removed, 0) AS INT) AS words_removed,
               md5(CASE WHEN per.doc_id IS NULL THEN w.text
                        ELSE coalesce(reb.clean, '') END) AS clean_md5
        FROM w LEFT JOIN per USING (doc_id) LEFT JOIN reb USING (doc_id)
    """


def _oracle_normalize() -> str:
    return """
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN text || ' cafe' || chr(769) || ' finale'
                      ELSE text END AS text
          FROM documents)
        SELECT doc_id,
               CAST(length(text) AS INT) AS raw_len,
               CAST(length(nfc_normalize(text)) AS INT) AS norm_len,
               md5(nfc_normalize(text)) AS norm_md5
        FROM planted
    """


def _oracle_dedup_lines() -> str:
    return """
        WITH planted AS (
          SELECT doc_id, concat_ws(chr(10), 'NAV HOME SEARCH', text,
            CASE WHEN doc_id % 10 = 0 THEN 'subscribe to our newsletter' END,
            'COPYRIGHT 2026 EXAMPLE') AS text
          FROM documents),
        l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
        t AS (SELECT doc_id, unnest(
                [{'pos': i, 'line': ls[i]} for i in
                 generate_series(1, len(ls))], recursive := true)
              FROM l),
        boiler AS (SELECT line FROM t WHERE trim(line) <> ''
                   GROUP BY line
                   HAVING count(DISTINCT doc_id) > 5),
        kept AS (SELECT t.* FROM t ANTI JOIN boiler USING (line)),
        reb AS (SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS clean,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id)
        SELECT l.doc_id, coalesce(reb.clean, '') AS text_clean,
               CAST(len(l.ls) AS INT) AS n_lines,
               CAST(len(l.ls) - coalesce(reb.n_kept, 0) AS INT) AS n_removed
        FROM l LEFT JOIN reb ON l.doc_id = reb.doc_id
    """


def _oracle_decontaminate() -> str:
    grams = (
        "[array_to_string(ws[i:i+7], ' ') for i in "
        "generate_series(1, greatest(len(ws) - 7, 0))]"
    )
    return f"""
        WITH w AS (SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS ws
                   FROM documents),
        g AS (SELECT doc_id, unnest({grams}) AS gram FROM w),
        ev AS (SELECT regexp_split_to_array(trim(
                 array_to_string(ws[1:12], ' ')), '\\s+') AS ws
               FROM w WHERE doc_id % 97 = 0),
        eg AS (SELECT DISTINCT unnest({grams}) AS gram FROM ev),
        m AS (SELECT doc_id, count(DISTINCT gram) AS n
              FROM g JOIN eg USING (gram) GROUP BY doc_id)
        SELECT d.doc_id, CAST(coalesce(m.n, 0) AS INT) AS n_matched,
               coalesce(m.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
    """


def _oracle_pack_shards() -> str:
    return """
        WITH t AS (SELECT doc_id,
            CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
              AS tokens,
            CAST(doc_id % 8 AS INT) AS writer
          FROM documents)
        , s AS (SELECT doc_id, tokens, writer,
            floor(coalesce(sum(tokens) OVER (
              PARTITION BY writer ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              / 2000.0) AS shard_raw
          FROM t)
        SELECT doc_id, tokens, writer,
          CAST(dense_rank() OVER (
            PARTITION BY writer ORDER BY shard_raw) - 1 AS INT) AS shard
        FROM s
    """


def _bucket_sql(seed: int) -> str:
    """SQL twin of operators.sampling._bucket — bounded Knuth hash
    whose intermediates stay inside int64 in both engines. BOTH mods
    are spelled as pmod (``(x % M + M) % M``) to mirror Spark's F.pmod:
    the inner for negative ids, the outer for negative seeds (a plain
    ``%`` follows the dividend's sign in both engines)."""
    return (
        f"((((doc_id % 1000003 + 1000003) % 1000003)"
        f" * 2654435761 + {int(seed)}) % 1000003 + 1000003) % 1000003"
    )


def _oracle_sample_mixture() -> str:
    return f"""
        SELECT doc_id, source FROM documents
        WHERE {_bucket_sql(0)} < CASE source
          WHEN 'src0' THEN 1.0 * 1000003
          WHEN 'src1' THEN 0.5 * 1000003
          WHEN 'src2' THEN 0.25 * 1000003
          ELSE 0.1 * 1000003 END
    """


def _oracle_split() -> str:
    b = _bucket_sql(17)
    return f"""
        SELECT doc_id,
          CASE WHEN {b} < 0.05 * 1000003 THEN 'val'
               WHEN {b} < 0.10 * 1000003 THEN 'test'
               ELSE 'train' END AS split
        FROM documents
    """


def _oracle_cap_per_domain() -> str:
    p = _url_parts_sql()
    return f"""
        WITH u AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS q,
                          {_MESSY_URL_SQL} AS url FROM documents),
        p AS (SELECT doc_id, q,
              {p['registered_domain']} AS registered_domain FROM u),
        r AS (SELECT *, row_number() OVER (
                PARTITION BY registered_domain
                ORDER BY q DESC, doc_id ASC) AS rn FROM p)
        SELECT doc_id, registered_domain, q FROM r WHERE rn <= 20
    """


def _oracle_dedup_against() -> str:
    norm = "md5(regexp_replace(lower(trim({t})), '\\s+', ' ', 'g'))"
    ref_text = (
        "'  ' || regexp_replace(text, ' ', '   ', 'g') || ' '"
    )
    return f"""
        WITH seen AS (SELECT DISTINCT {norm.format(t=ref_text)} AS fp
                      FROM documents WHERE doc_id % 3 = 0)
        SELECT d.doc_id, d.source FROM documents d
        ANTI JOIN seen ON {norm.format(t='d.text')} = seen.fp
    """


def _oracle_top_ngrams(k: int = 50) -> str:
    # ws[i:i+1] is the 2-element slice (DuckDB slices are end-inclusive)
    grams = (
        "[array_to_string(ws[i:i+1], ' ') for i in "
        "generate_series(1, greatest(len(ws) - 1, 0))]"
    )
    return f"""
        WITH w AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS ws
                   FROM documents),
        g AS (SELECT unnest({grams}) AS gram FROM w)
        SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g
        GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT {k}
    """


def _oracle_semantic_dedup(threshold: float = 0.3, n_clusters: int = 8) -> str:
    """Replicates dedup_semantic with anchor centroids: argmax-dot
    cluster assignment (numpy tie rule: strictly-greater keeps the
    earlier index), within-cluster pairwise cosine (rounded to 6, like
    the Spark filter), losers = higher id of any pair, anti-joined."""
    from choetl_spark.operators.similarity import ivf_anchor_centroids

    cents = ivf_anchor_centroids(_EMB_DIM, n_clusters, seed=42)
    dots = ", ".join(
        f"{_sql_dot('v', c)} AS d{i}" for i, c in enumerate(cents)
    )
    cl = "CAST(0 AS INTEGER)"
    best = "d0"
    for i in range(1, n_clusters):
        cl = f"(CASE WHEN d{i} > {best} THEN {i} ELSE {cl} END)"
        best = f"greatest({best}, d{i})"
    cos = _sql_cosine("x.v", "b.v")
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        d AS (SELECT vec_id, v, {dots} FROM e),
        a AS (SELECT vec_id, v, {cl} AS cl FROM d),
        losers AS (SELECT DISTINCT b.vec_id FROM a x JOIN a b
                   ON x.cl = b.cl AND x.vec_id < b.vec_id
                   WHERE round({cos}, 6) >= {threshold})
        SELECT vec_id FROM a
        WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    """


def _oracle_dsir(buckets: int = 512, k: int = 50) -> str:
    """SQL replay of the DSIR pipeline (operators/importance.py):
    identical gram extraction (unigrams + bigrams, empty tokens
    dropped), md5-slice bucket hash, add-one smoothing over the fixed
    bucket space with 6-decimal model rounding, 4-decimal normalized
    weights, (weight desc, doc_id) top-k."""
    return f"""
        WITH words AS (
          SELECT doc_id, lang,
                 string_split_regex(lower(trim(text)), '\\s+') AS w
          FROM documents
        ), uni AS (
          SELECT doc_id, lang, unnest(w) AS g FROM words
        ), bi AS (
          SELECT doc_id, lang,
                 unnest(list_transform(
                   generate_series(1, len(w) - 1),
                   i -> concat_ws(' ', w[i], w[i + 1])
                 )) AS g
          FROM words WHERE len(w) >= 2
        ), grams AS (
          SELECT * FROM uni WHERE g <> ''
          UNION ALL SELECT * FROM bi
        ), bkt AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(g), 1, 8))::BIGINT % {buckets}
                   AS bucket
          FROM grams
        ), tc AS (
          SELECT bucket, count(*) AS n_t FROM bkt
          WHERE lang = 'en' GROUP BY 1
        ), rc AS (
          SELECT bucket, count(*) AS n_r FROM bkt GROUP BY 1
        ), model AS (
          SELECT b.g AS bucket,
                 round(
                   ln((coalesce(n_t, 0) + 1.0)
                      / ((SELECT sum(n_t) FROM tc) + {buckets}.0))
                   - ln((coalesce(n_r, 0) + 1.0)
                        / ((SELECT sum(n_r) FROM rc) + {buckets}.0))
                 , 6) AS log_ratio
          FROM generate_series(0, {buckets - 1}) b(g)
          LEFT JOIN tc ON tc.bucket = b.g
          LEFT JOIN rc ON rc.bucket = b.g
        ), wts AS (
          SELECT doc_id,
                 round(sum(log_ratio) / count(*), 4) AS log_weight
          FROM bkt JOIN model USING (bucket) GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(w.log_weight, 0.0) AS log_weight
        FROM documents d LEFT JOIN wts w USING (doc_id)
        ORDER BY log_weight DESC, d.doc_id
        LIMIT {k}
    """


def _oracle_doc_stats() -> str:
    """The six per-document stat oracles of rounds 1-3 preserved as
    CTEs of one query, joined on doc_id — each column is still an
    independent mirror of its Spark operator."""
    from choetl_spark.operators.textstats import PII_PATTERNS

    counts = " + ".join(
        f"len(regexp_extract_all(s, '{pat}'))" for _, pat, _ in PII_PATTERNS
    )
    red = "s"
    for _, pat, tok in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return f"""
        WITH fp AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fingerprint
          FROM documents
        ), tok AS (
          SELECT doc_id,
                 len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
                 len(regexp_extract_all(text, '{_WORD_SQL}')) AS re_tokens
          FROM documents
        ), qt AS (
          SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len(regexp_extract_all(text, '{_WORD_SQL}')) AS DOUBLE)
                   AS n_words,
                 CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                   AS n_punct,
                 CAST({_STOP_SQL} AS DOUBLE) AS n_stop
          FROM documents
        ), qual AS (
          SELECT doc_id,
                 round(
                   least(n_words / 100.0, 1.0) * 0.4
                   + least(n_stop / greatest(n_words, 1) * 5.0, 1.0) * 0.3
                   + (1.0 - least(n_punct / greatest(n_chars, 1) * 10.0, 1.0))
                     * 0.2
                   + (CASE WHEN n_chars / greatest(n_words, 1) BETWEEN 3 AND 10
                           THEN 1.0 ELSE 0.0 END) * 0.1
                 , 4) AS quality
          FROM qt
        ), lang AS (
          SELECT doc_id, {_lang_case()} AS lang_pred FROM documents
        ), repw AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
          FROM documents
        ), repg AS (
          SELECT doc_id, w,
                 list_transform(
                   generate_series(1, greatest(len(w) - 1, 1)),
                   i -> concat_ws(' ', w[i], w[i + 1])
                 ) AS grams
          FROM repw
        ), rep AS (
          SELECT doc_id,
                 round(1.0 - len(list_distinct(w)) / greatest(len(w), 1),
                       6) AS dup_word_frac,
                 round(1.0 - len(list_distinct(grams))
                           / greatest(len(grams), 1), 6) AS dup_2gram_frac
          FROM repg
        ), piit AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com tel +1-555 123 4567 ip 10.0.'
                      || CAST(doc_id % 256 AS VARCHAR)
                      || '.7 card 4111 1111 1111 1111' AS s
          FROM documents
        ), pii AS (
          SELECT doc_id,
                 CAST({counts} AS INTEGER) AS pii_hits,
                 md5({red}) AS red_md5
          FROM piit
        )
        SELECT fp.doc_id, fingerprint, ws_tokens, re_tokens, quality,
               lang_pred, dup_word_frac, dup_2gram_frac, pii_hits, red_md5
        FROM fp
        JOIN tok USING (doc_id)
        JOIN qual USING (doc_id)
        JOIN lang USING (doc_id)
        JOIN rep USING (doc_id)
        JOIN pii USING (doc_id)
    """


def _oracle_format_roundtrips() -> str:
    """Expected (format, n_rows, content_md5) rows recomputed straight
    from documents: every format's round-trip must reproduce the input
    exactly, so the expected hash is format-independent within each
    payload family (raw payload vs the 32-char md5 payload used by the
    pad/trim line formats)."""
    hashed = "('fixed'), ('kvp'), ('manifold')"
    return f"""
        WITH base AS (
          SELECT doc_id, text || ' q"c, <&> :v' AS payload FROM documents
        ), h1 AS (
          SELECT count(*) AS n, md5(string_agg(s, '|' ORDER BY s)) AS m
          FROM (SELECT CAST(doc_id AS VARCHAR) || ':' || md5(payload) AS s
                FROM base)
        ), h2 AS (
          SELECT count(*) AS n, md5(string_agg(s, '|' ORDER BY s)) AS m
          FROM (SELECT CAST(doc_id AS VARCHAR) || ':' || md5(md5(payload))
                       AS s
                FROM base)
        )
        SELECT v.fmt,
               (SELECT n FROM h1) AS n_rows,
               CASE WHEN v.fmt IN ({hashed}) THEN (SELECT m FROM h2)
                    ELSE (SELECT m FROM h1) END AS content_md5
        FROM (VALUES ('avro'), ('bson'), ('csv'), ('fixed'), ('json'),
                     ('kvp'), ('manifold'), ('tsv'), ('xml'), ('yaml'))
             AS v(fmt)
    """


_HTML_SQL = (
    "'<html><head><title>d' || CAST(doc_id AS VARCHAR) || "
    "'</title></head><body><p>' || text || '</p></body></html>'"
)
_URL_SQL = (
    "'https://' || source || '.example.com/' || lang || '/' || "
    "CAST(doc_id AS VARCHAR)"
)


def _oracle_bpe(k: int = 8) -> str:
    """Replay the BPE trainer's k merge rounds in SQL. Shares the
    operator's exact rules by construction: adjacent-pair counts
    weighted by word frequency (overlaps included), tie-break
    (count desc, l asc, r asc), and merge application as 4 passes of
    left-to-right non-overlapping ``replace(' l r ' -> ' lr ')`` —
    DuckDB's replace() and Spark's replace() share those scan
    semantics, so the two engines agree bit-for-bit."""

    def rep4(expr: str) -> str:
        for _ in range(4):
            expr = (
                f"replace({expr}, ' ' || m.l || ' ' || m.r || ' ',"
                f" ' ' || m.l || m.r || ' ')"
            )
        return expr

    ctes = [
        """w0 AS (
          SELECT w, COUNT(*) AS cnt FROM (
            SELECT unnest(CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(
                                 trim(lower(text)), '\\s+') END) AS w
            FROM documents)
          WHERE w <> '' GROUP BY w)""",
        """s0 AS (
          SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym,
                 cnt
          FROM w0)""",
    ]
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        ctes.append(f"""p{i} AS (
          SELECT l, r, SUM(cnt) AS n FROM (
            SELECT unnest(ws[1:len(ws) - 1]) AS l,
                   unnest(ws[2:len(ws)]) AS r, cnt
            FROM (SELECT string_split(trim(sym), ' ') AS ws, cnt
                  FROM {prev})
            WHERE len(ws) >= 2)
          GROUP BY l, r)""")
        ctes.append(
            f"m{i} AS (SELECT l, r FROM p{i} "
            f"ORDER BY n DESC, l ASC, r ASC LIMIT 1)"
        )
        ctes.append(f"""s{i} AS (
          SELECT {rep4('sym')} AS sym, cnt
          FROM {prev} CROSS JOIN m{i} m)""")
    union = "\nUNION ALL ".join(
        f"SELECT {i} AS rank, l AS lhs, r AS rhs FROM m{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


def _oracle_bm25(k1: float = 1.2, b: float = 0.75, k: int = 10) -> str:
    """Full BM25 recomputation in SQL: postings from the shared
    whitespace-token contract, corpus stats over token-bearing docs
    (the only docs postings can contain), Robertson idf with the +1
    floor, and the same (score desc, doc_id asc) tiebreak."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(_BM25_QUERY.split())))
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                 END AS ws
          FROM documents),
        post AS (
          SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM toks),
        corpus AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl
          FROM (SELECT DISTINCT doc_id, dl FROM post)),
        hits AS (
          SELECT term, doc_id, dl, COUNT(*) AS tf FROM post
          WHERE term IN ({terms}) GROUP BY term, doc_id, dl),
        dfreq AS (
          SELECT term, COUNT(DISTINCT doc_id) AS dfreq FROM hits
          GROUP BY term),
        scored AS (
          SELECT h.doc_id,
                 ln(1.0 + (c.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5))
                 * (h.tf * ({k1} + 1.0))
                 / (h.tf + {k1} * ((1.0 - {b}) + {b} * h.dl / c.avgdl))
                 AS w
          FROM hits h JOIN dfreq d USING (term) CROSS JOIN corpus c)
        SELECT doc_id, SUM(w) AS score FROM scored
        GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT {k}
    """


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_topk_revenue": """
            SELECT c_custkey, c_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 10
        """,
        "left_join_order_counts": """
            SELECT c_custkey, count(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "compare_diff_orders": """
            WITH old AS (
              SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
            ), new AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 5 = 0
                          THEN round(o_totalprice * 1.1, 2)
                          ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 7 <> 0
            ), diff AS (
              SELECT CASE
                       WHEN n.o_orderkey IS NULL THEN 'Deleted'
                       WHEN o.o_orderkey IS NULL THEN 'New'
                       WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'Changed'
                       ELSE 'Unchanged' END AS status
              FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
            )
            SELECT status, count(*) AS n FROM diff GROUP BY status
        """,
        "topk_events": """
            SELECT event_id, event_type, round(value, 4) AS value_r
            FROM events ORDER BY value DESC, event_id LIMIT 20
        """,
        "substring_part_fields": """
            SELECT p_partkey,
                   trim(substring(p_name, 1, 8)) AS name_head,
                   upper(substring(p_brand, length(p_brand) - 1, 2)) AS brand_code,
                   length(p_type) AS type_len
            FROM part
        """,
        "json_extract_events": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN
              (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        """,
        "jsonpath_recursive_events": """
            SELECT event_id,
                   json_extract_string(props, '$.k') || '|' ||
                   json_extract_string(props, '$.k') AS matches_s
            FROM events
        """,
        "seqno_global_events": """
            SELECT event_id,
                   row_number() OVER (ORDER BY ts, event_id) AS seq
            FROM events
        """,
        "seqno_events_per_user": """
            SELECT user_id, event_id, rn FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn <= 3
        """,
        "agg_events_stats": """
            SELECT event_type, count(*) AS n,
                   round(sum(value), 2) AS sum_value,
                   round(avg(value), 4) AS avg_value,
                   round(min(value), 4) AS min_value,
                   round(max(value), 4) AS max_value
            FROM events GROUP BY event_type
        """,
        "window_hourly_events": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1
        """,
        "fixedlength_parse": """
            WITH lines AS (
              SELECT rpad(p_name, 20, ' ') || rpad(p_brand, 12, ' ')
                     || lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS value
              FROM part
            )
            SELECT trim(substring(value, 1, 20)) AS name,
                   trim(substring(value, 21, 12)) AS brand,
                   CAST(substring(value, 33, 10) AS BIGINT) AS partkey
            FROM lines
        """,
        "manifold_dispatch": """
            WITH stream AS (
              SELECT 'ORD' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
                     || lpad(CAST(o_custkey AS VARCHAR), 12, '0') AS value
              FROM orders
              UNION ALL
              SELECT 'LIN' || lpad(CAST(l_orderkey AS VARCHAR), 12, '0')
                     || lpad(CAST(l_linenumber AS VARCHAR), 12, '0') AS value
              FROM lineitem
            )
            SELECT substring(value, 1, 3) AS rec_type,
                   count(*) AS n,
                   CAST(sum(CAST(substring(value, 4, 12) AS BIGINT))
                        AS BIGINT) AS sum_key
            FROM stream GROUP BY 1
        """,
        "zip_positional": """
            WITH a AS (
              SELECT row_number() OVER (ORDER BY c_custkey) AS rn, c_custkey
              FROM customer WHERE c_custkey <= 50
            ), b AS (
              SELECT row_number() OVER (ORDER BY o_orderkey) AS rn, o_orderkey
              FROM orders WHERE o_orderkey <= 120
            )
            SELECT coalesce(a.rn, b.rn) AS rn, c_custkey, o_orderkey
            FROM a FULL OUTER JOIN b ON a.rn = b.rn
        """,
        "staged_sql_revenue": """
            SELECT r_name, count(*) AS n_suppliers,
                   round(sum(s_acctbal), 2) AS total_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "null_default_boolean_modes": """
            SELECT event_id,
                   coalesce(CAST(json_extract_string(props, '$.missing')
                                 AS BIGINT), -1) AS k_or_default,
                   CASE WHEN value > 0 THEN 'Y' ELSE 'N' END AS flag
            FROM events
        """,
        "multikey_sort_lineitems": """
            SELECT l_orderkey, l_linenumber,
                   strftime(l_shipdate, '%Y-%m-%d') AS ship_d
            FROM lineitem
            ORDER BY l_shipdate DESC, l_orderkey, l_linenumber
            LIMIT 100
        """,
        "dedup_exact_documents": """
            SELECT min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY text
        """,
        "dedup_normalized_documents": """
            SELECT min(doc_id) AS doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents GROUP BY 2
        """,
        "doc_stats_documents": _oracle_doc_stats(),
        "dsir_select_documents": _oracle_dsir(buckets=512, k=50),
        "format_roundtrips": _oracle_format_roundtrips(),
        "embedding_neardup_pairs": _oracle_embedding_neardup(0.4, 8),
        "ann_lsh_topk": _oracle_ann_lsh(n_planes=6, probe_hamming=1, k=10),
        "ann_ivf_topk": _oracle_ann_ivf(n_clusters=8, n_probe=4, k=10),
        "winnowing_fingerprints": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM corpus a JOIN corpus b
              ON a.text = b.text AND a.doc_id < b.doc_id
        """,
        "minhash_pairs_documents": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(1.0 AS DOUBLE) AS jaccard_r
            FROM corpus a JOIN corpus b
              ON a.text = b.text AND a.doc_id < b.doc_id
        """,
        "simhash_documents": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(0 AS INTEGER) AS hamming
            FROM corpus a JOIN corpus b
              ON a.text = b.text AND a.doc_id < b.doc_id
        """,
        "encode_summary": f"""
            WITH t AS (
              SELECT {_URL_SQL} AS url, {_HTML_SQL} AS html, text, lang
              FROM documents
            )
            SELECT 'url' AS "column", count(*) AS n_rows,
                   CAST(sum(strlen(url)) + 4 * count(*) AS BIGINT) AS raw_bytes
            FROM t
            UNION ALL SELECT 'warc_ts', count(*),
                   CAST(8 * count(*) AS BIGINT) FROM t
            UNION ALL SELECT 'html', count(*),
                   CAST(sum(strlen(html)) + 4 * count(*) AS BIGINT) FROM t
            UNION ALL SELECT 'text', count(*),
                   CAST(sum(strlen(text)) + 4 * count(*) AS BIGINT) FROM t
            UNION ALL SELECT 'lang', count(*),
                   CAST(sum(strlen(lang)) + 4 * count(*) AS BIGINT) FROM t
        """,
        "html_extract_webpages": _oracle_html_extract(),
        "sample_mixture_documents": _oracle_sample_mixture(),
        "split_documents": _oracle_split(),
        "cap_per_domain_documents": _oracle_cap_per_domain(),
        "dedup_against_documents": _oracle_dedup_against(),
        "top_ngrams_documents": _oracle_top_ngrams(),
        "semantic_dedup_embeddings": _oracle_semantic_dedup(),
        "url_normalize_webpages": _oracle_url_normalize(),
        "domain_stats_webpages": _oracle_domain_stats(),
        "dedup_lines_documents": _oracle_dedup_lines(),
        "dedup_spans_documents": _oracle_dedup_spans(),
        "normalize_documents": _oracle_normalize(),
        "decontaminate_documents": _oracle_decontaminate(),
        "pack_shards_documents": _oracle_pack_shards(),
        "connected_components_graph": """
            WITH RECURSIVE edges AS (
              SELECT CAST(o_orderkey % 300 AS BIGINT) AS src,
                     CAST(300 + o_orderkey % 450 AS BIGINT) AS dst
              FROM orders WHERE o_orderkey < 2000
            ),
            sym AS (
              SELECT src, dst FROM edges
              UNION SELECT dst AS src, src AS dst FROM edges
            ),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            reach(node, r) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT s.dst, reach.r FROM sym s
                JOIN reach ON reach.node = s.src
            )
            SELECT node, CAST(min(r) AS BIGINT) AS root
            FROM reach GROUP BY node
        """,
        "multimodal_features": f"""
            SELECT md5({_URL_SQL}) AS media_id,
                   CAST(8 AS INTEGER) AS dim,
                   CAST(strlen({_HTML_SQL}) AS INTEGER) AS n_bytes,
                   (SELECT sum((doc_id + 7 * y.g + 3 * x.g + c.g) % 256)
                    FROM generate_series(0, 2) y(g),
                         generate_series(0, 3) x(g),
                         generate_series(0, 2) c(g)) AS px_sum,
                   3 * 64 * (((13 * doc_id + 37) % 256)
                             + ((29 * doc_id + 11) % 256)) AS jpeg_sum
            FROM documents
        """,
        "cosine_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(
                     CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                      WHERE vec_id = 0)), 4) AS cosine_r
            FROM embeddings
            ORDER BY cosine_r DESC, vec_id LIMIT 10
        """,
        "roundtrip_text_identity": """
            SELECT count(*) AS n_match FROM documents
        """,
        "direct_roundtrip": """
            SELECT count(*) AS n_match FROM documents
        """,
        "datasource_roundtrip": """
            SELECT lang, count(*) AS n_match FROM documents
            GROUP BY lang
        """,
        "robots_crawlable": """
            SELECT lang,
                   count(*) AS n_pages,
                   count(*) FILTER (WHERE
                     (lang = 'de' AND CAST(doc_id AS VARCHAR) LIKE '1%')
                     OR (lang = 'zh'
                         AND CAST(doc_id AS VARCHAR) NOT LIKE '%7')
                     OR lang NOT IN ('de', 'zh')
                   ) AS n_allowed
            FROM documents GROUP BY lang
        """,
        "cdx_index_webpages": f"""
            SELECT 'com,example,' || source || ')/' || lang || '/'
                     || CAST(doc_id AS VARCHAR) AS surt,
                   strftime(make_timestamp(1690000000000000
                     + doc_id * 37000000), '%Y%m%d%H%M%S') AS ts14,
                   {_URL_SQL} AS url,
                   md5(text) AS digest
            FROM documents
        """,
        "float_roundtrip_alp": """
            SELECT doc_id,
                   round((doc_id * 37 % 1000) / 100.0, 2) + 5.0 AS price
            FROM documents
        """,
        "mime_sniff_webpages": """
            SELECT doc_id,
                   CASE doc_id % 6
                     WHEN 0 THEN 'image/png'
                     WHEN 1 THEN 'image/jpeg'
                     WHEN 2 THEN 'application/gzip'
                     WHEN 3 THEN 'application/pdf'
                     WHEN 4 THEN 'text/html'
                     ELSE 'text/plain'
                   END AS mime
            FROM documents
        """,
        "crawl_frontier_webpages": f"""
            WITH scored AS (
              SELECT {_URL_SQL} AS url,
                     source || '.example.com' AS host,
                     (doc_id * 37) % 101 AS score
              FROM documents
            ), ranked AS (
              SELECT url, host,
                     row_number() OVER (
                       PARTITION BY host
                       ORDER BY score DESC, url ASC
                     ) AS fetch_rank
              FROM scored
            )
            SELECT url, host, CAST(fetch_rank AS INTEGER) AS fetch_rank,
                   CAST((fetch_rank - 1) * 2.0 AS DOUBLE)
                     AS fetch_offset_sec
            FROM ranked WHERE fetch_rank <= 5
        """,
        "content_extract_webpages": f"""
            WITH cleaned AS (
              SELECT {_URL_SQL} AS url,
                     trim(regexp_replace(text, '\\s+', ' ', 'g')) AS c
              FROM documents
            )
            SELECT url,
                   md5(CASE WHEN len(string_split(c, ' ')) >= 8
                            THEN c ELSE '' END) AS content_md5,
                   CAST(CASE WHEN len(string_split(c, ' ')) >= 8
                             THEN 1 ELSE 0 END AS INTEGER)
                     AS n_content_blocks
            FROM cleaned
        """,
        "warc_ingest_webpages": f"""
            SELECT {_URL_SQL} AS url,
                   md5({_HTML_SQL}) AS html_md5,
                   md5(text) AS text_md5,
                   CAST(1690000000000000 + doc_id * 37000000
                        AS BIGINT) AS ts_us,
                   lang
            FROM documents
        """,
        "pagerank_linkgraph": _oracle_pagerank(n_iter=4),
        "hits_linkgraph": _oracle_hits(n_iter=3),
        "anchor_texts_webpages": """
            SELECT doc_id,
                   'https://ext' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example.org/p^Link ' || CAST(doc_id AS VARCHAR)
                   || '|/local/' || CAST(doc_id AS VARCHAR)
                   || '^see also now' AS anchors_s
            FROM documents
        """,
        "outlinks_webpages": """
            SELECT doc_id,
                   'https://ext' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example.org/p|https://' || source
                   || '.example.com/local/' || CAST(doc_id AS VARCHAR)
                     AS links_s
            FROM documents
        """,
        "html_charset_decode": """
            WITH t AS (
              SELECT doc_id,
                     'é ' || regexp_replace(text, '[^ -~]', '', 'g')
                       AS body
              FROM documents
            )
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 3 = 1
                            THEN '<meta charset="ISO-8859-1">' || body
                            ELSE body END) AS dec_md5
            FROM t
        """,
        "prune_urlrange": f"""
            WITH t AS (SELECT {_URL_SQL} AS url FROM documents)
            SELECT url FROM t
            WHERE url >= 'https://src1' AND url <= 'https://src1~'
        """,
        "prune_bloom_url": f"""
            WITH t AS (SELECT doc_id, {_URL_SQL} AS url FROM documents)
            SELECT url FROM t WHERE doc_id = 77
        """,
        "point_lookup_store": f"""
            WITH t AS (
              SELECT doc_id, {_URL_SQL} AS url, text, lang FROM documents
            )
            SELECT url, text, lang FROM t WHERE doc_id = 77
        """,
        "store_time_travel": """
            WITH c AS (
              SELECT CAST(count(*) FILTER (doc_id % 3 = 0) AS BIGINT) AS c1,
                     CAST(count(*) FILTER (doc_id % 3 <> 0) AS BIGINT) AS c2
              FROM documents
            )
            SELECT CAST(1 AS BIGINT) AS run_seq,
                   CAST(2 AS BIGINT) AS n_partitions,
                   c1 AS n_rows, c1 AS rows_as_of FROM c
            UNION ALL
            SELECT CAST(2 AS BIGINT), CAST(2 AS BIGINT),
                   c2, c1 + c2 FROM c
        """,
        "delete_rows_store": f"""
            SELECT {_URL_SQL} AS url, lang FROM documents
            WHERE lang <> 'de'
        """,
        "rollback_store": f"""
            SELECT 'deleted' AS phase, {_URL_SQL} AS url, lang
            FROM documents WHERE lang <> 'de'
            UNION ALL
            SELECT 'rolled_back' AS phase, {_URL_SQL} AS url, lang
            FROM documents
        """,
        "wap_publish_store": f"""
            SELECT 'staged' AS phase, {_URL_SQL} AS url, lang
            FROM documents WHERE lang <> 'de'
            UNION ALL
            SELECT 'audit' AS phase, {_URL_SQL} AS url, lang
            FROM documents WHERE lang = 'de'
            UNION ALL
            SELECT 'tagged' AS phase, {_URL_SQL} AS url, lang
            FROM documents WHERE lang <> 'de'
            UNION ALL
            SELECT 'published' AS phase, {_URL_SQL} AS url, lang
            FROM documents
        """,
        "schema_evolution_store": """
            SELECT doc_id, text AS content,
                   CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
            FROM documents
        """,
        "upsert_store": f"""
            SELECT {_URL_SQL} AS url,
                   CASE WHEN doc_id % 50 = 0
                        THEN 'UPDATED-' || CAST(doc_id AS VARCHAR)
                        ELSE text END AS text
            FROM documents
        """,
        "streaming_upsert_store": """
            WITH updates AS (
              SELECT doc_id, text, lang, 1 AS version
              FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT doc_id, text || ' (rev 2)', lang, 2
              FROM documents WHERE doc_id % 4 = 0
              UNION ALL
              SELECT doc_id, text || ' (rev 3)', lang, 3
              FROM documents WHERE doc_id % 8 = 0
            ), final AS (
              SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY doc_id ORDER BY version DESC) AS rn
                FROM updates)
              WHERE rn = 1
            )
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(version) AS BIGINT) AS version_sum,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS text_chars
            FROM final GROUP BY lang ORDER BY lang
        """,
        "agg_pushdown_store": f"""
            WITH pages AS (
              SELECT {_URL_SQL} AS url,
                     1690000000000000 + doc_id * 37000000 AS ts_us,
                     text, lang, LENGTH(text) AS text_len
              FROM documents
            ), phases AS (
              SELECT 'full' AS phase, * FROM pages
              UNION ALL
              SELECT 'after_delete' AS phase, * FROM pages
              WHERE lang <> 'de'
            )
            SELECT phase,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(lang) AS BIGINT) AS n_lang,
                   CAST(MIN(ts_us) AS BIGINT) AS min_ts_us,
                   CAST(MAX(ts_us) AS BIGINT) AS max_ts_us,
                   MIN(url) AS min_url,
                   MAX(url) AS max_url,
                   CAST(SUM(text_len) AS BIGINT) AS sum_len,
                   MIN(text) AS min_text
            FROM phases GROUP BY phase
        """,
        "store_partitions_meta": """
            SELECT CAST(doc_id % 8 AS BIGINT) AS part_id,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(2 AS BIGINT) AS n_columns,
                   CAST(COUNT(*) FILTER (doc_id % 10 = 0) AS BIGINT)
                       AS n_deleted,
                   CAST(COUNT(*) FILTER (doc_id % 10 <> 0) AS BIGINT)
                       AS live_rows
            FROM documents GROUP BY doc_id % 8
        """,
        "changelog_store": """
            SELECT doc_id, 'insert' AS change_type FROM documents
            WHERE doc_id % 3 <> 0
            UNION ALL
            SELECT doc_id, 'delete' AS change_type FROM documents
            WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
        """,
        "bm25_search_documents": _oracle_bm25(),
        "quantized_cosine_topk": """
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
            q AS (
              SELECT vec_id,
                     list_transform(e, x -> CAST(round(
                       x / (greatest(list_max(list_transform(e,
                              y -> abs(y))), 1e-30) / 127.0)
                     ) AS INTEGER)) AS qv
              FROM v),
            qq AS (SELECT qv AS q0 FROM q WHERE vec_id = 0),
            sc AS (
              SELECT q.vec_id,
                     list_dot_product(CAST(q.qv AS DOUBLE[]),
                                      CAST(qq.q0 AS DOUBLE[])) AS dot,
                     sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                           CAST(q.qv AS DOUBLE[])))
                   * sqrt(list_dot_product(CAST(qq.q0 AS DOUBLE[]),
                                           CAST(qq.q0 AS DOUBLE[])))
                       AS den
              FROM q CROSS JOIN qq)
            SELECT vec_id, round(dot / den, 4) AS cosine_q
            FROM sc WHERE den > 0
            ORDER BY cosine_q DESC, vec_id ASC LIMIT 10
        """,
        "eq_delete_store": f"""
            WITH pages AS (
              SELECT {_URL_SQL} AS url, lang, doc_id FROM documents)
            SELECT 'deleted' AS phase, url, lang FROM pages
            WHERE doc_id % 9 <> 0
            UNION ALL
            SELECT 'final' AS phase, url, lang FROM pages
            WHERE doc_id % 9 <> 0
            UNION ALL
            SELECT 'final' AS phase, url, 're' AS lang FROM pages
            WHERE doc_id % 18 = 0
        """,
        "lm_perplexity_documents": """
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(
                                 trim(lower(text)), '\\s+')
                     END AS ws
              FROM documents),
            unic AS (
              SELECT w1, COUNT(*) AS c1
              FROM (SELECT unnest(ws) AS w1 FROM toks) GROUP BY w1),
            v AS (SELECT COUNT(*) AS vocab FROM unic),
            bi AS (
              SELECT doc_id,
                     unnest(ws[1:len(ws) - 1]) AS w1,
                     unnest(ws[2:len(ws)]) AS w2
              FROM toks WHERE len(ws) >= 2),
            bic AS (
              SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
            scored AS (
              SELECT b.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                     AVG(ln((c.c12 + 1.0) / (u.c1 + v.vocab)))
                         AS avg_logp
              FROM bi b
              JOIN bic c USING (w1, w2)
              JOIN unic u USING (w1)
              CROSS JOIN v
              GROUP BY b.doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   round(s.avg_logp, 3) AS avg_logp_r
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN scored s USING (doc_id)
        """,
        "bpe_merges_documents": _oracle_bpe(),
        "vector_store_roundtrip": """
            SELECT vec_id,
                   CAST(len(embedding) AS INT) AS dim,
                   CAST(embedding[1] AS DOUBLE) AS first_v,
                   CAST(embedding[len(embedding)] AS DOUBLE) AS last_v,
                   label
            FROM embeddings
        """,
        "interval_join_events": """
            SELECT e.event_id, CAST(t.i AS INT) AS tier_id
            FROM events e
            JOIN (SELECT unnest(range(0, 20)) AS i) t
              ON e.value >= t.i * 5.0 AND e.value <= t.i * 5.0 + 7.5
        """,
        "chunk_documents": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\\s+'),
                                 t -> t != '') AS tk
              FROM documents
            ),
            idx AS (
              SELECT doc_id, tk,
                     generate_subscripts(
                       range(0, greatest(len(tk) - 16, 1), 48), 1) - 1
                         AS chunk_idx,
                     unnest(range(0, greatest(len(tk) - 16, 1), 48))
                         AS start
              FROM toks WHERE len(tk) > 0
            )
            SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                   array_to_string(tk[start + 1 : start + 64], ' ')
                       AS chunk_text,
                   CAST(least(64, len(tk) - start) AS INT) AS n_tokens
            FROM idx
        """,
        "rolling_window_events": """
            SELECT event_id,
                   count(*) OVER w AS n_trailing_1h,
                   round(sum(value) OVER w, 2) AS sum_trailing_1h
            FROM events
            WINDOW w AS (
              PARTITION BY user_id ORDER BY epoch(ts)
              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
            )
        """,
        "pivot_event_counts": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'signup')   AS n_signup,
                   count(*) FILTER (event_type = 'click')    AS n_click,
                   count(*) FILTER (event_type = 'view')     AS n_view,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'error')    AS n_error
            FROM events GROUP BY user_id
        """,
        "rollup_revenue": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "asof_join_events": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'
            ),
            views AS (
              SELECT user_id, ts, max(event_id) AS view_id FROM events
              WHERE event_type = 'view' GROUP BY user_id, ts
            )
            SELECT c.event_id, v.view_id,
                   round(epoch(c.ts) - epoch(v.ts), 3) AS lag_sec
            FROM clicks c
            LEFT JOIN views v
              ON c.user_id = v.user_id AND v.ts <= c.ts
            QUALIFY row_number() OVER (
              PARTITION BY c.event_id ORDER BY v.ts DESC NULLS LAST
            ) = 1
        """,
        "sessionize_events": """
            SELECT event_id, user_id,
                   CAST(sum(CASE WHEN prev_ts IS NULL
                                  OR epoch(ts) - epoch(prev_ts) > 1800.0
                             THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS session_id
            FROM (
              SELECT event_id, user_id, ts,
                     lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS prev_ts
              FROM events
            )
        """,
        "time_window_pairs_events": """
            SELECT a.event_id AS id_a, b.event_id AS id_b
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_id < b.event_id
             AND abs(epoch(a.ts) - epoch(b.ts)) <= 1800.0
        """,
    }
