"""Physical-plan guards: the plan we designed is the plan Spark runs.

Regressions here mean a silent 100TB-scale problem (an extra shuffle, a
lost broadcast, a filter that stopped pushing) even while results stay
correct — exactly what .explain-driven review catches (SURVEY.md §4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from choetl_spark.engine import EncodeConfig, decode_dataframe, encode_dataframe
from choetl_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_wholestage_codegen,
    explain_str,
)
from choetl_spark.synth import webpages


@pytest.fixture(scope="module")
def pages(spark):
    return webpages(spark, 400, partitions=4)


def test_scan_local_encode_has_no_shuffle(pages):
    enc = encode_dataframe(pages, EncodeConfig(shuffle="none"))
    plan = explain_str(enc, "simple")
    assert "Exchange" not in plan, plan


def test_salted_encode_has_exactly_one_data_shuffle(spark, pages):
    from choetl_spark.partitioning import plan_partitions

    planned = plan_partitions(pages, 8, key_col="url")
    enc = encode_dataframe(planned, EncodeConfig(num_partitions=8))
    plan = explain_str(enc, "simple")
    # the big-side data moves once: repartition(part_id); the hot-host
    # census join must be a broadcast, not an extra big-side exchange
    n_big_exchanges = plan.count("Exchange hashpartitioning(part_id")
    assert n_big_exchanges == 1, plan
    assert_broadcast_join(enc)


def test_decode_prunes_columns_before_shuffle(spark, pages):
    enc = encode_dataframe(
        pages, EncodeConfig(num_partitions=4, shuffle="none")
    ).cache()
    enc.count()
    # multi-column read: the column filter must sit BELOW the exchange
    # (plans print top-down, so below = later line): payload bytes of
    # unrequested columns never shuffle
    dec = decode_dataframe(enc, columns=["lang", "url"])
    plan = explain_str(dec, "simple")
    assert "Exchange" in plan and " IN (lang,url)" in plan, plan
    assert plan.index("Exchange") < plan.index(" IN (lang,url)"), plan
    # single-column read: no shuffle at all (chunks decode independently)
    one = decode_dataframe(enc, columns=["lang"])
    plan1 = explain_str(one, "simple")
    assert "Exchange" not in plan1, plan1
    enc.unpersist()


def test_decode_plan_build_launches_no_spark_jobs(spark, pages):
    """Round-2 verdict #4: with a manifest, building a decode plan must
    be pure plan construction — the eager chunk-metadata collect is a
    full metadata pass per decode call at 100 TB."""
    from choetl_spark.engine import column_manifest

    cfg = EncodeConfig(num_partitions=4, shuffle="none")
    enc = encode_dataframe(pages, cfg)
    man = column_manifest(pages, cfg)
    sc = spark.sparkContext
    sc.setJobGroup("decode-plan-build", "must stay lazy")
    try:
        dec = decode_dataframe(enc, columns=["url", "text"], manifest=man)
        _ = explain_str(dec, "simple")  # force analysis + physical planning
        jobs = sc.statusTracker().getJobIdsForGroup("decode-plan-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == [], f"plan build ran Spark jobs: {jobs}"
    # and the plan still decodes correctly
    assert dec.count() == pages.count()


def test_text_filter_ops_are_pure_codegen(spark, pages):
    """PII redaction and repetition stats must stay JVM expression-only:
    no exchange, no Python eval, one whole-stage codegen span over the
    scan — the plan shape that lets them ride a 100 TB curation pass
    for free."""
    from choetl_spark.operators import with_pii_redacted, with_repetition_stats

    df = with_repetition_stats(
        with_pii_redacted(pages, "text"), "text"
    ).select("url", "pii_hits", "dup_word_frac", "dup_2gram_frac")
    plan = explain_str(df, "simple")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    df.collect()
    assert_wholestage_codegen(df)


def test_winnowing_candidates_join_is_hash_not_nlj(spark):
    """The fingerprint-set equality candidate join must execute as a
    hash/sort-merge equi-join on the array key — never a broadcast
    nested loop or cartesian (the all-pairs scale-killer)."""
    import __spark_entry__ as e

    q = e.q_winnowing_fingerprints(spark, "/root/testdata/sf0.001")
    assert_no_cartesian(q)
    plan = explain_str(q, "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_chunk_prune_uses_broadcast_semi_join(spark, pages):
    from choetl_spark.engine import prune_partitions_by_stats

    enc = encode_dataframe(pages, EncodeConfig(num_partitions=4, shuffle="none"))
    pruned = prune_partitions_by_stats(enc, "warc_ts", 0, 10**18)
    assert_broadcast_join(pruned)
    assert_no_cartesian(pruned)


def test_tpch_join_broadcasts_small_dim(spark):
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert_broadcast_join(j)
    j.collect()  # AQE reports codegen only once THIS plan ran to final
    assert_wholestage_codegen(j)


def test_parquet_filter_pushdown(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_orderkey") == 7).select("l_orderkey", "l_quantity")
    assert_pushed_filters(q, "l_orderkey")


def test_seq_no_has_no_single_partition_exchange(spark):
    """Unpartitioned with_seq_no must not funnel rows through one task
    (the round-1 scale-killer: global Window.orderBy)."""
    from choetl_spark.operators import with_seq_no

    df = (
        spark.range(0, 50000, numPartitions=8)
        .select(F.col("id").alias("k"))
        .repartition(7)  # scrambled input, multiple range partitions
    )
    # plan shape on the UNmaterialized variant: the localCheckpoint in
    # the default path truncates lineage, which would hide (and thus
    # vacuously pass) the single-partition check
    shape = with_seq_no(df, ["k"], col_name="rn", materialize=False)
    plan = shape._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()
    out = with_seq_no(df, ["k"], col_name="rn")
    rows = out.collect()
    # exact bijection 1..n (catches the repartitionByRange re-sampling
    # race: boundaries must be pinned across the count and numbering
    # jobs or sequence numbers duplicate/gap)
    assert sorted(r["rn"] for r in rows) == list(range(1, 50001))
    by_rn = sorted(rows, key=lambda r: r["rn"])
    assert [r["k"] for r in by_rn] == sorted(r["k"] for r in rows)


def test_plan_partitions_sample_fraction(spark, pages):
    from choetl_spark.partitioning import plan_partitions

    exact = plan_partitions(pages, 16)
    sampled = plan_partitions(pages, 16, sample_fraction=0.5)
    assert exact.count() == sampled.count() == pages.count()
    assert sampled.select("part_id").distinct().count() <= 16


def test_embedding_neardup_default_has_no_allpairs_join(spark):
    """Round-2 criterion: the default embedding_neardup_pairs path must
    be the bucketed equi-join — no broadcast nested-loop / cartesian
    all-pairs candidate generation anywhere in the plan."""
    from choetl_spark.operators import embedding_neardup_pairs

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    out = embedding_neardup_pairs(df, threshold=0.9, dim=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    out.collect()  # and it runs


def test_url_ops_are_pure_map(spark):
    """URL parse/canonicalize must stay a zero-shuffle codegen'd map."""
    from choetl_spark.operators import with_url_canonical, with_url_parts

    df = spark.createDataFrame(
        [("https://a.example.com/x?utm_source=1",)], "url string"
    )
    plan = explain_str(with_url_canonical(with_url_parts(df)), "simple")
    assert "Exchange" not in plan, plan
    assert_wholestage_codegen(with_url_parts(df))


def test_corpus_ops_scale_shapes(spark):
    """dedup_lines: equi-joins only; pack_shards: the window must hash-
    partition on the writer key, never a global single-partition sort."""
    from choetl_spark.operators import dedup_lines, pack_shards

    df = spark.createDataFrame(
        [(i, f"a\nb{i}\nc", 10 + i) for i in range(50)],
        "doc_id int, text string, tokens int",
    )
    dl = dedup_lines(df)
    assert_no_cartesian(dl)
    packed = pack_shards(df, "tokens", budget=100, n_writers=4)
    plan = explain_str(packed, "simple")
    assert "Exchange hashpartitioning(writer" in plan, plan
    assert "SinglePartition" not in plan, plan
    # the dense-rank renumber window must REUSE the writer partitioning
    # (adds a sort, never a second shuffle)
    assert plan.count("Exchange") == 1, plan


def test_sampling_ops_scale_shapes(spark):
    """sample_mixture / with_split: zero-shuffle codegen maps.
    cap_per_domain: ONE exchange, with Catalyst's rank-limit pushdown
    (WindowGroupLimit Partial) bounding per-task output to k rows per
    domain BEFORE the shuffle."""
    from choetl_spark.operators import (
        cap_per_domain,
        sample_mixture,
        with_split,
    )

    df = spark.createDataFrame(
        [(i, "web", f"https://h{i % 3}.example.com/p/{i}", float(i))
         for i in range(100)],
        "doc_id long, source string, url string, q double",
    )
    mix = sample_mixture(df, {"web": 0.5})
    assert "Exchange" not in explain_str(mix, "simple")
    split = with_split(df)
    assert "Exchange" not in explain_str(split, "simple")

    capped = cap_per_domain(df, k=4, order_col="q")
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    pre_exchange = plan.split("Exchange")[1]
    assert "WindowGroupLimit" in pre_exchange, plan
    assert "Partial" in pre_exchange, plan


def test_dedup_against_plan(spark):
    """dedup_against: anti-join on fingerprints only — the reference
    side must be column-pruned to the single md5 key BEFORE any
    exchange/broadcast (pinned on the optimized plan: the anti-join's
    right child aggregates/projects exactly one _fp column; the
    reference's doc_id/text never reach the join)."""
    import re

    from choetl_spark.operators import dedup_against

    ref = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    batch = spark.createDataFrame([(2, "b")], "doc_id long, text string")
    out = dedup_against(batch, ref)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in opt, opt
    # right (reference) side: a one-column Aggregate over a one-column
    # Project of md5(...) — nothing else survives to shuffle/broadcast
    assert re.search(
        r"Aggregate \[_fp#\d+\], \[_fp#\d+\]", opt
    ), opt
    assert re.search(r"Project \[md5\([^\n]*\) AS _fp#\d+\]\n", opt), opt


def test_top_ngrams_plan(spark):
    """top_ngrams: partial count BEFORE the one exchange (map-side
    combine of the heavy-tailed head), global top-k as
    TakeOrderedAndProject — never a full sort."""
    from choetl_spark.operators import top_ngrams

    df = spark.createDataFrame(
        [(i, "a b c d") for i in range(100)], "doc_id long, text string"
    )
    out = top_ngrams(df, n=2, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    pre = plan.split("Exchange")[1]  # below the exchange = map side
    assert "partial_count" in pre or "HashAggregate" in pre, plan


def test_semantic_neardup_plan_is_cluster_equijoin(spark):
    """semantic_neardup_pairs: candidates only via the cluster-id
    equi-join — no cartesian product, no nested-loop join."""
    from choetl_spark.operators import semantic_neardup_pairs
    from choetl_spark.operators.similarity import ivf_anchor_centroids

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    out = semantic_neardup_pairs(df, 0.9, ivf_anchor_centroids(2, 4))
    plan = explain_str(out, "formatted")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bloom_prune_plan_stays_jvm_side(spark):
    """prune_partitions_by_bloom's metadata pass is whole-stage-codegen
    SQL — no Python evaluation node anywhere in the plan (the pandas-UDF
    probe was replaced by substring/hex/conv/shiftright in round 3)."""
    from choetl_spark.engine import (
        EncodeConfig,
        encode_dataframe,
        prune_partitions_by_bloom,
    )
    from choetl_spark.synth import webpages

    pages = webpages(spark, 200, partitions=2)
    e = encode_dataframe(
        pages, EncodeConfig(num_partitions=2, bloom_columns=("url",))
    )
    out = prune_partitions_by_bloom(e, "url", "https://x.example/1")
    plan = explain_str(out, "formatted")
    assert "EvalPython" not in plan, plan  # Batch/ArrowEvalPython
    assert "PythonUDF" not in plan, plan
