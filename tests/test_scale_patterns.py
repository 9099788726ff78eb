"""Scale-pattern proofs: bucketed co-located joins (no shuffle), the shared-
scan pipeline (reference's double-scan eliminated), and salted-join equality.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipediaetl_spark.operators.etl import categorizer_tables, process_corpus
from wikipediaetl_spark.operators.layout import scoped_tables
from wikipediaetl_spark.session import scoped_confs
from wikipediaetl_spark.sources import load_table


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key co-locate: the join plan contains
    no Exchange — the 100 TB answer to repeated fact-fact joins."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    with scoped_tables(spark, "b_orders", "b_lineitem"):
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        # disable broadcast so the test exercises the co-located path
        with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = (
                bl.join(bo, bl.l_orderkey == bo.o_orderkey).groupBy("o_orderstatus").count()
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            n = joined.count()
            assert n > 0
            assert "Exchange hashpartitioning(l_orderkey" not in plan
            assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_shared_scan_pipeline_equivalence(spark, sf_dir):
    """process_corpus (one persisted scan, both branches) must produce the
    same relations as the independent per-branch pipelines."""
    shared = process_corpus(spark, sf_dir)
    try:
        solo = categorizer_tables(spark, sf_dir)
        for name in ("pages", "categories", "page_categories"):
            a, b = shared[name], solo[name]
            assert a.count() == b.count()
            assert a.join(b, a.columns, "left_anti").count() == 0
        assert shared["converter_output"].count() == shared["pages"].count()
    finally:
        shared["_corpus"].unpersist()


def test_corpus_cached_once(spark, sf_dir):
    shared = process_corpus(spark, sf_dir)
    try:
        assert shared["_corpus"].storageLevel.useMemory
    finally:
        shared["_corpus"].unpersist()


def test_results_invariant_to_partitioning(spark, sf_dir):
    """The same query at different shuffle-partition counts must produce
    identical results — the order-independence property every aggregate in
    this engine is designed for (decimal sums, sorted collects, rank
    tiebreaks)."""
    from wikipediaetl_spark.catalog import all_queries

    qs = all_queries()
    results = {}
    for parts in ("3", "17"):
        with scoped_confs(spark, {"spark.sql.shuffle.partitions": parts}):
            for name in ("q01_pricing_summary", "q44_category_distribution", "q77_string_agg"):
                rows = sorted(map(str, qs[name].fn(spark, sf_dir).collect()))
                results.setdefault(name, []).append(rows)
    for name, (a, b) in results.items():
        assert a == b, f"partitioning-dependent result in {name}"


def test_spread_if_starved(spark, sf_dir, tmp_path):
    """The starved-scan adapter (r5): a compressed single-file scan that
    plans fewer partitions than cores is hash-rebalanced to the core
    count; a relation already at-or-above core parallelism is returned
    UNCHANGED (the 100 TB no-op guarantee — no shuffle inserted)."""
    from wikipediaetl_spark.sources import load_table, spread_if_starved

    target = spark.sparkContext.defaultParallelism
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planned = d.rdd.getNumPartitions()
    out = spread_if_starved(d)
    if planned < target:
        assert out.rdd.getNumPartitions() == target
        assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()
    # a wide relation passes through untouched — same plan object
    wide = spark.range(0, 1000).repartition(target + 4, "id")
    assert spread_if_starved(wide, key="id") is wide
    # content is preserved either way
    assert out.count() == d.count()


def test_q175_serving_matches_stock_q159(spark, sf_dir):
    """The maintained doc-grain feature layout (frozen LM + incremental
    batch scoring + append) must reproduce the full three-pass recompute."""
    from wikipediaetl_spark.operators.text_analysis import (
        q159_ccnet_buckets,
        q175_ccnet_serving,
    )

    got = sorted(map(tuple, q175_ccnet_serving(spark, sf_dir).collect()))
    want = sorted(map(tuple, q159_ccnet_buckets(spark, sf_dir).collect()))
    assert got == want and len(got) > 0
