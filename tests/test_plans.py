"""Plan-shape assertions — scale behavior is part of correctness here:
filters must reach the parquet scan, dims must broadcast, scans must prune.
"""

from __future__ import annotations

from wikipediaetl_spark.operators.relational import (
    q02_scan_project,
    q04_orderby_limit,
    q11_star_join,
    q12_fact_fact_join,
)
from wikipediaetl_spark.plans import explain_str


def test_filter_pushed_to_scan(spark, sf_dir):
    text = explain_str(q02_scan_project(spark, sf_dir))
    assert "PushedFilters: [" in text
    assert "l_quantity" in text.split("PushedFilters", 1)[1][:200]


def test_column_pruning(spark, sf_dir):
    text = explain_str(q02_scan_project(spark, sf_dir))
    # ReadSchema must not include unused wide columns
    read = text.split("ReadSchema", 1)[1][:400]
    assert "l_comment" not in read and "l_returnflag" not in read


def test_dims_broadcast_in_star_join(spark, sf_dir):
    text = explain_str(q11_star_join(spark, sf_dir))
    assert text.count("BroadcastHashJoin") >= 2  # nation & region never shuffle facts
    # eager aggregation: the fact scan feeds a HashAggregate keyed on the
    # join key (o_custkey) before any join — the only fact-side exchange
    # carries |customer|-grain partial aggregates, not raw orders rows
    assert "Keys [1]: [o_custkey" in text


def test_fact_join_prefilters_build_side(spark, sf_dir):
    text = explain_str(q12_fact_fact_join(spark, sf_dir))
    # the orders filter must sit below the join, not above it
    assert "o_orderstatus" in text
    join_pos = text.find("Join")
    filt_pos = text.find("o_orderstatus = F") if "o_orderstatus = F" in text else text.find(
        "o_orderstatus"
    )
    assert filt_pos > -1 and join_pos > -1


def test_global_topn_avoids_full_sort(spark, sf_dir):
    text = explain_str(q04_orderby_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in text  # heap-based top-N, not Sort+Exchange


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """With scan-size thresholds lowered to fixture scale, Catalyst injects a
    runtime bloom filter on the probe side of a shuffled join — rows that
    cannot match are dropped before the exchange (the at-scale default)."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.session import scoped_confs
    from wikipediaetl_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_confs(spark, confs):
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower()
        assert j.count() > 0  # and it still computes correctly


def test_duplicate_spans_is_keyed_join(spark, sf_dir):
    """q141's pair stage must be the inverted-index shingle join — a keyed
    equi-join, never a cartesian/nested-loop pairing of documents."""
    from wikipediaetl_spark.operators.dedup import q141_duplicate_spans

    text = explain_str(q141_duplicate_spans(spark, sf_dir))
    assert "CartesianProduct" not in text


def test_perplexity_vocab_broadcasts(spark, sf_dir):
    """q144's LM lookup table must reach the token stream as a broadcast
    hash join (map-side), not a shuffled join of the exploded tokens."""
    from wikipediaetl_spark.operators.text_analysis import q144_unigram_perplexity

    text = explain_str(q144_unigram_perplexity(spark, sf_dir))
    assert "BroadcastHashJoin" in text
    assert "CartesianProduct" not in text


def test_semdedup_pairs_stay_within_clusters(spark, sf_dir):
    """q145's quadratic stage must be keyed on the cluster id (hash or
    sort-merge equi-join) — the only nested-loop allowed is the k-row
    broadcast centroid table."""
    from wikipediaetl_spark.operators.dedup import q145_semdedup

    text = explain_str(q145_semdedup(spark, sf_dir))
    assert "CartesianProduct" not in text
    assert "cluster" in text


def test_decontamination_corpus_never_shuffles(spark, sf_dir):
    """q86's 100TB property: the full trigram occurrence stream reaches the
    bench-shingle BroadcastHashJoin in the SAME narrow stage as the scan —
    no Exchange may sit between the documents scan/explode and that join.
    Only post-join (pruned) data may shuffle."""
    from wikipediaetl_spark.operators.pipeline_ops import q86_decontamination

    text = explain_str(q86_decontamination(spark, sf_dir))
    assert "BroadcastHashJoin" in text
    assert "CartesianProduct" not in text
    # in the tree printout the join's streamed (left) subtree is the block of
    # ":"-prefixed lines between the join node and its "+- BroadcastExchange"
    # build side; that block is the corpus scan→split→explode→hash chain and
    # must contain no Exchange
    tree = text.split("BroadcastHashJoin", 1)[1].split("BroadcastExchange", 1)[0]
    streamed = [ln for ln in tree.splitlines() if ln.lstrip().startswith(":")]
    assert streamed, "expected a printed streamed-side subtree"
    assert not any("Exchange" in ln for ln in streamed), "\n".join(streamed)


def test_top_supplier_broadcasts_scalar_side(spark, sf_dir):
    """VERDICT r2 #4: q127 must broadcast the ~1-row max-revenue result onto
    supplier — never the (SF-scaled) supplier table onto the scalar. The
    supplier parquet scan must NOT sit under a BroadcastExchange."""
    from wikipediaetl_spark.operators.tpch import q127_top_supplier

    text = explain_str(q127_top_supplier(spark, sf_dir))
    # both joins build their right (broadcast) side...
    assert "BroadcastHashJoin Inner BuildRight" in text
    assert "BuildLeft" not in text
    # ...and supplier is the left-most leaf = the streamed probe side:
    # node (1) in formatted explain is the first (left-most, depth-first)
    # scan of the plan tree.
    first_scan = text.split("(1) Scan parquet", 1)[1][:400]
    assert "supplier.parquet" in first_scan


def test_bigram_lift_broadcasts_vocab(spark, sf_dir):
    """q155: unigram-count joins must broadcast (vocab ≪ corpus) and the
    scalar attaches must be broadcast nested loops — no shuffled join of the
    bigram table against 1-row aggregates, no cartesian product."""
    from wikipediaetl_spark.operators.advanced import q155_bigram_lift

    text = explain_str(q155_bigram_lift(spark, sf_dir))
    assert text.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" in text  # the lazy 1-row scalar attaches


def test_upsert_merge_anti_join_no_sort(spark, sf_dir):
    """q158 (r5): latest-wins merge is an ANTI-JOIN, not a window — the
    plan must contain no window sort of base ∪ changes; the base is
    hash-anti-joined against change keys and the union is exchange-free
    row concatenation."""
    from wikipediaetl_spark.operators.advanced import q158_upsert_snapshot

    text = explain_str(q158_upsert_snapshot(spark, sf_dir))
    assert "Window" not in text  # no per-key sort of the merged table
    assert "LeftAnti" in text or "left_anti" in text.lower()
    # the only orderkey exchanges feed the hash anti-join (base + keys);
    # the final 5-group aggregate adds its own tiny exchange
    assert text.count("hashpartitioning(o_orderkey") <= 2


def test_unpivot_is_row_local(spark, sf_dir):
    """q157: the wide→long expansion must not shuffle; only the 4-group
    aggregate exchanges."""
    from wikipediaetl_spark.operators.advanced import q157_unpivot_measures

    text = explain_str(q157_unpivot_measures(spark, sf_dir))
    assert text.count("Exchange") <= 2  # partial→final agg only


def test_no_tokenization_inside_lambdas():
    """Source lint: referencing split(text) inside a transform()/filter()
    lambda re-tokenizes the document once per array element — O(tokens²)
    per row; it cost the shingle family ~4 s at sf0.1 before round 4's
    hoist. Token arrays must be materialized as a column first."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "wikipediaetl_spark"
    # flag split() in a lambda BODY (after '->'), not as a transform input —
    # `list_transform(string_split(text,...), w -> ...)` tokenizes once and
    # is fine; `i -> slice(split(text ...))` tokenizes per element
    pat = re.compile(r"->[^\n]*\bsplit\(text|slice\(split\(")
    offenders = []
    for path in root.rglob("*.py"):
        src = path.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            if pat.search(line):
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_readme_and_coverage_counts_match_catalog():
    """One source of truth for the catalog counters (VERDICT r6 #7): the
    query/oracle/rows-only counts stated in README.md and COVERAGE.md must
    equal the live catalog's. gen_coverage.py derives COVERAGE's line; this
    test keeps README honest too."""
    import pathlib

    from wikipediaetl_spark.catalog import all_queries

    qs = all_queries()
    n = len(qs)
    n_oracle = sum(1 for q in qs.values() if q.oracle)
    n_rows_only = n - n_oracle
    root = pathlib.Path(__file__).resolve().parents[1]
    coverage = (root / "COVERAGE.md").read_text()
    assert (
        f"{n} catalog queries: {n_oracle} oracle-checked, "
        f"{n_rows_only} rows-only." in coverage
    ), "COVERAGE.md counts stale — rerun tools/gen_coverage.py > COVERAGE.md"
    readme = " ".join((root / "README.md").read_text().split())
    assert f"{n} catalog queries" in readme, "README.md total stale"
    assert f"{n_oracle} of them carry an ANSI-SQL twin" in readme, (
        "README.md oracle count stale"
    )
    assert f"{n_oracle} pass / {n_rows_only} rows-only / 0 fail" in readme, (
        "README.md sweep line stale"
    )


def test_bfs_recursion_plans_as_union_loop(spark):
    """q38's fixpoint must plan ENGINE-side: the recursive CTE lowers to a
    UnionLoop operator (one query, no Python driver rounds). Asserted on
    the recursion shape itself — the catalog fn returns the eagerly
    materialized result, whose outer plan is just the checkpoint scan."""
    spark.range(1, 100).selectExpr(
        "id div 2 AS src", "id AS dst"
    ).createOrReplaceTempView("ul_edges")
    text = explain_str(
        spark.sql("""
            WITH RECURSIVE reach(node, depth) AS (
              SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
              UNION ALL
              SELECT e.dst, r.depth + 1 FROM ul_edges e
              JOIN reach r ON e.src = r.node WHERE r.depth < 10
            ) SELECT * FROM reach
        """)
    )
    spark.catalog.dropTempView("ul_edges")
    assert "UnionLoop" in text, text[:500]


def test_lsh_index_joins_reuse_bucketing(spark, sf_dir):
    """VERDICT r8 #5: q174 returns a materialized checkpoint, so its catalog
    plan shows only Scan ExistingRDD — the scale claim lives in the
    PRE-checkpoint plans. With broadcast off (the 100 TB regime: a corpus
    index never broadcasts), the base-base self-join over the
    (band_idx, band_hash)-bucketed index must be exchange-FREE on both
    sides, and the batch probe must shuffle ONLY the batch side — per-batch
    maintenance cost O(batch), never O(index)."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.dedup import (
        _shingles,
        lsh_index_probe,
        lsh_index_self_pairs,
        portable_minhash_bands,
    )
    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.session import scoped_confs
    from wikipediaetl_spark.sources import load_table

    t = "t_plans_lsh_index"
    d = load_table(spark, sf_dir, "documents")
    is_batch = F.pmod(F.col("doc_id") * 31 + 7, F.lit(10)) == 3
    with scoped_tables(spark, t):
        (
            portable_minhash_bands(_shingles(d.filter(~is_batch), n=2))
            .write.bucketBy(16, "band_idx", "band_hash")
            .sortBy("band_idx", "band_hash")
            .saveAsTable(t)
        )
        with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            idx = spark.table(t)
            self_plan = explain_str(lsh_index_self_pairs(idx), mode="simple")
            assert self_plan.count("Exchange hashpartitioning") == 0, self_plan[:800]
            assert self_plan.count("Bucketed: true") == 2, self_plan[:800]
            batch = portable_minhash_bands(
                _shingles(d.filter(is_batch), n=2)
            ).localCheckpoint(eager=True)
            probe_plan = explain_str(lsh_index_probe(batch, idx), mode="simple")
            # exactly ONE exchange — the batch side; the index scan stays bucketed
            assert probe_plan.count("Exchange hashpartitioning") == 1, probe_plan[:800]
            assert probe_plan.count("Bucketed: true") == 1, probe_plan[:800]


def test_semdedup_index_joins_reuse_bucketing(spark, sf_dir):
    """q180's scale claim, on the pre-checkpoint plans (the q174 test's
    embedding-family sibling): with broadcast off (a 100 TB vector index
    never broadcasts), the base-base self-join over the label-bucketed
    index must be exchange-FREE on both sides; the batch probe must carry
    exactly two exchanges — the batch side shuffling INTO the index's
    layout, and the O(survivors) pair-canonicalization aggregate — never a
    shuffle of the index itself."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.dedup import (
        semdedup_index_probe,
        semdedup_index_self_pairs,
    )
    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.similarity import dot_expr
    from wikipediaetl_spark.session import scoped_confs
    from wikipediaetl_spark.sources import load_table

    t = "t_plans_semdedup_index"
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    e = e.withColumn("nrm", F.sqrt(dot_expr(F.col("v"), F.col("v"))))
    is_batch = F.pmod(F.col("vec_id") * 31 + 7, F.lit(10)) == 3
    with scoped_tables(spark, t):
        e.filter(~is_batch).write.bucketBy(8, "label").sortBy("label").saveAsTable(t)
        with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            idx = spark.table(t)
            self_plan = explain_str(semdedup_index_self_pairs(idx), mode="simple")
            assert self_plan.count("Exchange hashpartitioning") == 0, self_plan[:800]
            assert self_plan.count("Bucketed: true") == 2, self_plan[:800]
            batch = e.filter(is_batch).localCheckpoint(eager=True)
            probe_plan = explain_str(semdedup_index_probe(batch, idx), mode="simple")
            assert probe_plan.count("Exchange hashpartitioning") == 2, probe_plan[:800]
            assert probe_plan.count("Bucketed: true") == 1, probe_plan[:800]


def test_decontam_ledger_serve_plan(spark, sf_dir):
    """q181's serve-plan contract: the postings⋈df cap join rides the shared
    tok bucketing with NO exchange (even with auto-broadcast disabled — the
    explicit broadcasts in the serve are the bench-set prunes only), the
    benchmark prune reaches the postings scan as a pushed doc_id filter,
    and the only exchanges are the two O(survivors) aggregations."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.pipeline_ops import (
        _trigram_occurrences,
        decontam_ledger_serve,
    )
    from wikipediaetl_spark.session import scoped_confs
    from wikipediaetl_spark.sources import load_table

    pt, dt = "t_plans_decontam_post", "t_plans_decontam_df"
    d = load_table(spark, sf_dir, "documents")
    is_batch = F.pmod(F.col("doc_id") * 31 + 7, F.lit(10)) == 3
    with scoped_tables(spark, pt, dt):
        base = _trigram_occurrences(d.filter(~is_batch)).distinct()
        base.write.bucketBy(8, "tok").sortBy("tok").saveAsTable(pt)
        (
            spark.table(pt)
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .write.bucketBy(8, "tok")
            .sortBy("tok")
            .saveAsTable(dt)
        )
        with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            plan = explain_str(
                decontam_ledger_serve(spark.table(pt), spark.table(dt), 500),
                mode="simple",
            )
            assert plan.count("Exchange hashpartitioning") == 2, plan[:1200]
            assert "LessThan(doc_id,50)" in plan, plan[:1200]


def test_ccnet_serve_plan_scans_only_feature_layout(spark, sf_dir):
    """VERDICT r8 #5 (q175 half): the serve stage must be O(docs) on the
    feature table alone — a single bucketed scan, the ntile window and the
    grain aggregate both riding the lang bucketing with ZERO exchanges, and
    no token pass / documents scan anywhere in the plan."""
    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.text_analysis import (
        ccnet_serve_from_features,
        score_docs,
        unigram_lm,
    )
    from wikipediaetl_spark.sources import load_table

    t = "t_plans_ccnet_feats"
    d = load_table(spark, sf_dir, "documents")
    lp, oov = unigram_lm(spark, sf_dir)
    with scoped_tables(spark, t):
        (
            score_docs(d, lp, oov)
            .join(d.select("doc_id", "lang"), "doc_id")
            .write.bucketBy(4, "lang")
            .sortBy("lang")
            .saveAsTable(t)
        )
        plan = explain_str(ccnet_serve_from_features(spark.table(t)), mode="simple")
        assert plan.count("Exchange") == 0, plan[:900]
        assert plan.count("FileScan") == 1 and "Bucketed: true" in plan, plan[:900]
        assert "documents" not in plan  # no raw-corpus scan at serve time


def test_star_mv_serve_plan_is_single_scan(spark, sf_dir):
    """q176's serve stage must be O(answer family): one scan of the MV
    table + an aggregate — no join operator, no orders/customer scan. The
    agg rides a tiny (~175-row) input, so the plan containing exchanges is
    immaterial; what matters is that NO fact table appears."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables, star_mv_serve
    from wikipediaetl_spark.operators.relational import _t
    from wikipediaetl_spark.sources import load_table

    t = "t_plans_star_mv"
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("o_year"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("o_cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    with scoped_tables(spark, t):
        (
            o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name", "n_name", "o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("o_cents").alias("cents"),
            )
            .write.bucketBy(4, "o_year")
            .sortBy("o_year")
            .saveAsTable(t)
        )
        plan = explain_str(star_mv_serve(spark, t), mode="simple")
        assert "Join" not in plan, plan[:900]
        assert plan.count("FileScan") == 1, plan[:900]
        # the single scan is the MV table — no raw-fact parquet anywhere
        assert "t_plans_star_mv" in plan and "testdata" not in plan, plan[:900]


def test_ivf_probe_plan_prunes_partitions_and_broadcasts(spark, sf_dir):
    """q177's probe must never shuffle or fully scan the index: the cell-
    partitioned scan carries a PartitionFilters entry on the probed cells
    (directory pruning) and the probe side reaches it as a broadcast hash
    join — zero Exchange hashpartitioning on the index path up to the
    per-query top-k window (whose input is candidates only)."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.similarity import _vectors, ivf_index_probe

    t = "t_plans_ivf_index"
    e = _vectors(spark, sf_dir)
    with scoped_tables(spark, t):
        (
            e.select("vec_id", "v", F.col("label").alias("cell"))
            .write.partitionBy("cell")
            .saveAsTable(t)
        )
        probes = (
            e.filter(F.col("vec_id") < 10)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("qv"),
                F.col("label").alias("cell"),
            )
            .localCheckpoint(eager=True)
        )
        idx = spark.table(t).filter(F.col("cell").isin([0, 1, 2]))
        for k in (5, 20):  # q177's top-5 probe and q187's top-20 serve
            plan = explain_str(ivf_index_probe(probes, idx, k=k), mode="formatted")
            assert "BroadcastHashJoin" in plan, plan[:900]
            assert "SortMergeJoin" not in plan, plan[:900]
            # the scan itself prunes to the probed cells' directories
            assert "PartitionFilters" in plan and "cell" in plan, plan[:900]


def test_dedup_ledger_probe_reuses_bucketing(spark, sf_dir):
    """q178's downstream probe shape — "which batch contents are NEW?" as an
    anti-join against the md5-keyed ledger — must be exchange-free on the
    ledger side (the batch alone shuffles into the 16-bucket layout), with
    broadcast off to show the at-scale form: a corpus-sized ledger never
    broadcasts."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.session import scoped_confs
    from wikipediaetl_spark.sources import load_table

    t = "t_plans_dedup_ledger"
    d = load_table(spark, sf_dir, "documents")
    is_batch = F.pmod(F.col("doc_id") * 17 + 3, F.lit(10)) == 6
    with scoped_tables(spark, t):
        (
            d.filter(~is_batch)
            .groupBy(F.md5(F.col("text")).alias("content_key"))
            .agg(
                F.min("doc_id").alias("keeper_doc_id"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
            )
            .write.bucketBy(16, "content_key")
            .sortBy("content_key")
            .saveAsTable(t)
        )
        with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            batch_keys = (
                d.filter(is_batch)
                .select(F.md5(F.col("text")).alias("content_key"))
                .distinct()
            )
            new_keys = batch_keys.join(spark.table(t), "content_key", "left_anti")
            plan = explain_str(new_keys, mode="simple")
            # both exchanges are BATCH-side (the distinct's partial agg, then
            # alignment into the 16-bucket hashing); the ledger side must stay
            # a bucketed scan feeding the anti-join with no exchange of its own
            assert plan.count("Exchange hashpartitioning") <= 2, plan[:900]
            assert plan.count("Bucketed: true") == 1, plan[:900]
            ledger_side = plan.split("FileScan parquet spark_catalog.default." + t, 1)
            assert len(ledger_side) == 2, plan[:900]
            assert new_keys.count() >= 0


def test_bm25_probe_bucket_prunes_and_never_scans_corpus(spark, sf_dir):
    """q179's keyword probe must read only the query terms' buckets of the
    postings layout (SelectedBucketsCount < total in the scan), attach df/
    N/L from the probed rows + the doc-grain layout (one O(docs) scan),
    and never touch the raw documents table."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.text_analysis import bm25_index_probe
    from wikipediaetl_spark.sources import load_table

    pt, lt = "t_plans_bm25_postings", "t_plans_bm25_doclen"
    d = load_table(spark, sf_dir, "documents")
    with scoped_tables(spark, pt, lt):
        (
            d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
            .localCheckpoint(eager=False)
            .select(
                "doc_id",
                F.size("w").cast("long").alias("dl"),
                F.explode("w").alias("tok"),
            )
            .groupBy("tok", "doc_id", "dl")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .write.bucketBy(8, "tok")
            .sortBy("tok")
            .saveAsTable(pt)
        )
        (
            d.select(
                "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("dl")
            ).write.saveAsTable(lt)
        )
        plan = explain_str(
            bm25_index_probe(spark.table(pt), spark.table(lt)), mode="simple"
        )
        m = [ln for ln in plan.splitlines() if "SelectedBucketsCount" in ln]
        assert m, plan[:900]
        assert "out of 8" in m[0] and "8 out of 8" not in m[0], m[0]
        assert "documents" not in plan  # layouts only, no corpus text scan
        assert "BroadcastHashJoin" in plan, plan[:900]


def test_cluster_ledger_relabel_plan_broadcasts_mapping(spark):
    """q184's scale claim: applying a batch to the cluster ledger relabels
    history through a BROADCAST hash join on cluster_id — the ledger side
    must not shuffle (no Exchange feeding its scan side), because at 100 TB
    the ledger is corpus-sized while the touched-label map is O(batch)."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables

    t = "t_plans_q184_ledger"
    with scoped_tables(spark, t):
        spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
            "doc_id long, cluster_id long",
        ).write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(t)
        mapping = spark.createDataFrame(
            [(1, 1), (10, 1)], "old_label long, new_label long"
        )
        old = spark.table(t)
        relabel = old.join(
            F.broadcast(mapping), old.cluster_id == mapping.old_label, "left"
        ).select(
            "doc_id", F.coalesce("new_label", "cluster_id").alias("cluster_id")
        )
        plan = explain_str(relabel, mode="simple")
        assert "BroadcastHashJoin" in plan, plan[:900]
        # the only exchange allowed is the broadcast of the mapping side
        assert "Exchange hashpartitioning" not in plan, plan[:900]


def test_dsir_serve_plan_rides_histogram_bucketing(spark, sf_dir):
    """q185's serve stage must be O(stored histograms): the doc-grain
    weight sum rides the hist table's doc_id bucketing (no Exchange
    before the aggregate on the hist side — broadcast of the 64-row ratio
    table is the only data movement), and no documents/text scan appears
    anywhere in the serve plan."""
    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.pipeline_ops import (
        _dsir_buckets,
        dsir_serve,
    )
    from wikipediaetl_spark.sources import load_table

    ht, ct_t = "t_plans_dsir_hist", "t_plans_dsir_counts"
    d = load_table(spark, sf_dir, "documents")
    with scoped_tables(spark, ht, ct_t):
        toks = _dsir_buckets(d)
        from pyspark.sql import functions as F

        (
            toks.groupBy("doc_id", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .write.bucketBy(8, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(ht)
        )
        (
            toks.groupBy("b")
            .agg(
                F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                .cast("long")
                .alias("ct"),
                F.count(F.lit(1)).cast("long").alias("cs"),
            )
            .write.bucketBy(8, "b")
            .sortBy("b")
            .saveAsTable(ct_t)
        )
        plan = explain_str(dsir_serve(spark.table(ht), spark.table(ct_t)), mode="simple")
        assert "documents" not in plan  # no raw-corpus scan at serve time
        # the doc-grain agg must consume the bucketed scan directly: no
        # hash-partitioning exchange keyed on doc_id anywhere
        assert "Exchange hashpartitioning(doc_id" not in plan, plan[:1200]
        assert "BroadcastExchange" in plan, plan[:1200]


def test_q116_static_shipdate_pushdown_reaches_scan(spark, sf_dir):
    """r10 adopted wave (VERDICT r9 #4): the implied static filter
    l_shipdate > window_start must reach the lineitem parquet scan as a
    PushedFilter — that pushdown (not a post-scan Filter) is what drops
    ~2/3 of the 240M-row probe at 400× before the semi-join shuffle."""
    from wikipediaetl_spark.operators.relational import q116_priority_checking

    text = explain_str(q116_priority_checking(spark, sf_dir), mode="formatted")
    pushed = [
        seg[:300] for seg in text.split("PushedFilters: [")[1:]
    ]
    assert any("l_shipdate" in p and "GreaterThan" in p for p in pushed), pushed


def test_q138_semireduce_semi_join_below_grain_aggregate(spark, sf_dir):
    """r10 adopted wave (VERDICT r9 #3): the 'F'-status semi-reduction must
    sit BELOW the (orderkey, suppkey) grain aggregate — lineitem is
    semi-joined to the finalized-order keys FIRST, so both aggregates work
    on the reduced stream and no f_orders join remains above the grain.
    The exchange count itself is AQE-dependent at fixture scale (the tiny
    profile side re-plans as a broadcast); the measured single-exchange
    behavior at 400× is BENCH_Q138_ADJUDICATION.json's 31.7 s row. Here we
    pin the semantics-bearing shape: a LeftSemi under the grain aggregate,
    the grain aggregate with map-side partials, and the supplier dim
    broadcast."""
    from wikipediaetl_spark.operators.tpch import q138_waiting_suppliers

    text = explain_str(q138_waiting_suppliers(spark, sf_dir), mode="simple")
    assert "LeftSemi" in text, text[:900]
    grain = text.find("HashAggregate(keys=[l_orderkey")
    semi = text.find("LeftSemi")
    # tree printout: parents print before children, so the semi join must
    # appear AFTER (= beneath) the grain aggregate that consumes it
    assert -1 < grain < semi, (grain, semi)
    assert "partial_max" in text  # map-side combine on the grain aggregate
    assert "BroadcastHashJoin" in text  # supplier dim never shuffles


def test_grouping_family_expands_above_fine_grain_aggregate(spark, sf_dir):
    """r11 adopted wave: ROLLUP/CUBE/GROUPING SETS plan as Expand × |sets|,
    which duplicates every input row per grouping set — 3-4× the shuffle
    input at 400× (q66 measured 19.05×, the worst work-dominated tranche
    row). All three queries' aggregates are decomposable, so the fine-grain
    aggregate must sit BELOW the Expand: Expand's subtree contains the
    HashAggregate over the natural grouping grain, and the big-table scan
    feeds a partial aggregate, not the Expand. Tree printout: parents print
    before children, so Expand must appear before (= above) the fine-grain
    aggregate and the scan."""
    from wikipediaetl_spark.operators.relational import (
        q09_rollup,
        q10_cube,
        q66_grouping_sets,
    )

    for fn, grain_key in (
        (q09_rollup, "HashAggregate(keys=[l_returnflag"),
        (q10_cube, "HashAggregate(keys=[o_orderstatus"),
        (q66_grouping_sets, "HashAggregate(keys=[o_orderstatus"),
    ):
        text = explain_str(fn(spark, sf_dir), mode="simple")
        expand = text.find("Expand")
        grain = text.find(grain_key, expand)
        scan = text.find("FileScan")
        assert -1 < expand < grain < scan, (fn.__name__, expand, grain, scan)
        # the fine grain combines map-side before its exchange
        assert "partial_count(1)" in text or "partial_sum" in text, fn.__name__


def test_sentiment_is_shuffle_free(spark, sf_dir):
    """r11 adopted wave: q69's lexicon scoring is a row-local fold over the
    tokenized text (literal-map lookup inside aggregate()), so the plan
    must contain NO exchange and NO join — per-doc output is a projection
    of the documents scan. The explode → broadcast-join → re-aggregate
    form it replaced materialized every token as a row and paid an
    exchange back to document grain (within-run A/B in the docstring)."""
    from wikipediaetl_spark.operators.text_analysis import q69_sentiment

    text = explain_str(q69_sentiment(spark, sf_dir), mode="simple")
    assert "Exchange" not in text, text[:900]
    assert "Join" not in text, text[:900]


def test_q81_salt_rides_preaggregation_not_join(spark, sf_dir):
    """r11 adopted wave: q81's salt lives on the per-(user, salt) PARTIAL
    AGGREGATE, not on an exploded-dim shuffle join — the fact is collapsed
    by map-side combine before any exchange, and both dim joins broadcast.
    Shape pinned: no Expand (no ×8 dim explode), no SortMergeJoin (the fact
    is never shuffled at event grain), a partial aggregate keyed on
    (user_id, salt) below two BroadcastHashJoins, and the salt computed from
    SPARK_PARTITION_ID (constant per map task — the clustered-probe property
    the within-run A/B in the docstring adopted over a per-row hash salt)."""
    from wikipediaetl_spark.operators.relational_ext import q81_salted_join

    text = explain_str(q81_salted_join(spark, sf_dir), mode="simple")
    assert "SortMergeJoin" not in text, text[:900]
    assert "Expand" not in text, text[:900]
    assert "BroadcastHashJoin" in text, text[:900]
    assert "SPARK_PARTITION_ID" in text, text[:900]
    grain = text.find("HashAggregate(keys=[user_id")
    scan = text.find("FileScan")
    bhj = text.find("BroadcastHashJoin")
    # parents print before children: broadcast join above the salted grain
    # aggregate, grain aggregate above the events scan
    assert -1 < bhj < grain < scan, (bhj, grain, scan)


def test_q13_q15_fact_collapses_below_broadcast_join(spark, sf_dir):
    """r11 adopted wave: q13's per-custkey aggregate and q15's o_custkey
    distinct must sit BELOW their joins, so the orders fact collapses via
    map-side combine before any exchange and the join side broadcasts —
    no SortMergeJoin, no order-grain shuffle of the fact. Tree printout:
    parents print before children, so the broadcast join appears above the
    fact-grain HashAggregate, which appears above the orders scan."""
    from wikipediaetl_spark.operators.relational import q13_left_join, q15_anti_join

    for fn, key in (
        (q13_left_join, "HashAggregate(keys=[o_custkey"),
        (q15_anti_join, "HashAggregate(keys=[o_custkey"),
    ):
        text = explain_str(fn(spark, sf_dir), mode="simple")
        assert "SortMergeJoin" not in text, (fn.__name__, text[:900])
        assert "BroadcastHashJoin" in text, (fn.__name__, text[:900])
        bhj = text.find("BroadcastHashJoin")
        grain = text.find(key)
        assert -1 < bhj < grain, (fn.__name__, bhj, grain)
        # orders scans only the columns the pushed aggregate needs
        assert "partial_count" in text or "Distinct" in text or "HashAggregate" in text


def test_q106_object_agg_fed_by_codegen_distinct(spark, sf_dir):
    """r11 adopted wave: collect_set/collect_list is an ObjectHashAggregate
    (object buffers, outside whole-stage codegen), so it must NOT consume
    the raw orders fact — a codegen'd DISTINCT on (o_custkey,
    o_orderstatus) collapses the 60M-row stream to <=|statuses| rows per
    key first, and only those reach the object path. Tree printout: parents
    print before children, so the ObjectHashAggregate appears above the
    pair-grain HashAggregate, which appears above the scan; the distinct
    runs map-side partials before its exchange."""
    from wikipediaetl_spark.operators.relational_ext import q106_collect_set

    text = explain_str(q106_collect_set(spark, sf_dir), mode="simple")
    obj = text.find("ObjectHashAggregate")
    pair = text.find("HashAggregate(keys=[o_custkey")
    scan = text.find("FileScan")
    assert -1 < obj < pair < scan, (obj, pair, scan)
    # the pair-grain distinct combines map-side before its exchange
    assert text.find("Exchange", pair) != -1, text[:900]


def test_q88_regex_walks_are_gated_and_split(spark, sf_dir):
    """r12 adopted wave (VERDICT r11 #6, guide §4): the PII regexes must not
    walk the document body unconditionally. The body's regexp_replace calls
    sit inside CASE WHEN Contains(...) gates (a failed literal gate proves
    zero matches), and the synthetic contact suffix redacts separately so a
    suffix hit never re-walks the body. Pinned: every body-side
    regexp_replace in the projection is preceded by a Contains gate, and
    the plan stays a single scan-project (no exchange, no Python)."""
    from wikipediaetl_spark.operators.pipeline_ops import q88_pii_redaction

    text = explain_str(q88_pii_redaction(spark, sf_dir), mode="simple")
    assert "Exchange" not in text and "EvalPython" not in text, text[:900]
    # the body column (text#N) is only regex-walked behind a Contains gate:
    # each "regexp_replace(text#" occurrence must follow "CASE WHEN Contains"
    proj = text[text.find("Project") :]
    idx = proj.find("regexp_replace(text#")
    assert idx != -1, proj[:400]
    while idx != -1:
        gate = proj.rfind("Contains(text#", 0, idx)
        assert gate != -1 and idx - gate < 700, proj[max(0, idx - 200) : idx + 40]
        idx = proj.find("regexp_replace(text#", idx + 1)


def test_q47_single_regex_remains(spark, sf_dir):
    """r12: sanitize_filename keeps exactly one regex (the character-class
    replace); basename extraction is substring_index and the '.html' strip
    is endswith + substr — 2 of the 3 per-row regex walks removed
    (exactness argued in the sanitize_filename docstring)."""
    from wikipediaetl_spark.operators.etl import q47_sanitize_filename

    text = explain_str(q47_sanitize_filename(spark, sf_dir), mode="simple")
    assert "substring_index" in text, text[:900]
    assert "regexp_extract" not in text, text[:900]
    # only the char-class pattern remains as a regex: every regexp_replace
    # occurrence carries it (the other two regexes are gone entirely)
    n_rr = text.count("regexp_replace(")
    assert n_rr >= 1 and n_rr == text.count(", [^a-zA-Z0-9._-], "), text[:900]
    assert ".html$" not in text and "([^/]*)$" not in text, text[:900]


def test_q108_moments_accumulate_long_below_decimal_combine(spark, sf_dir):
    """r12 adopted wave (VERDICT r11 #7): the five moment components must
    accumulate as LONGs inside whole-stage codegen at the fact grain — the
    r11 per-row DECIMAL(38,0) products/sums were 87-90% of q108's wall
    (OPTIMIZATION_r12.md). Decimal arithmetic may only appear at and
    above the (l_returnflag, spark_partition_id) partial-combine grain
    (~|tasks|·3 rows). Tree printout: parents before children, so nothing
    at or below the LAST pair-grain HashAggregate may mention decimal."""
    from wikipediaetl_spark.operators.relational_ext import q108_exact_correlation

    text = explain_str(q108_exact_correlation(spark, sf_dir), mode="simple")
    assert "SPARK_PARTITION_ID" in text, text[:900]
    pair_aggs = [
        i
        for i in range(len(text))
        if text.startswith("HashAggregate(keys=[l_returnflag", i)
        and ", p#" in text[i : i + 80]
    ]
    assert pair_aggs, text[:900]
    below = text[pair_aggs[-1] :]
    assert "decimal" not in below, below[:600]
    assert "decimal(38,0)" in text[: pair_aggs[-1]], text[:900]


def test_decfold_wave_money_accumulates_long_at_fact_grain(spark, sf_dir):
    """r12 decimal-fold wave (the q32/q108 finding): in every converted
    query the aggregate that consumes the FACT-grain stream must carry no
    decimal in its partial functions — money folds as LONG cents/1e-4
    units in whole-stage codegen; decimal appears only in/above the tiny
    combine. Pinned per query: the r11 per-row fold type 'decimal(18,'
    is gone from the whole plan, and the exact DECIMAL(38,0) combine is
    present — the only decimal arithmetic left runs on partial rows."""
    from wikipediaetl_spark.catalog import all_queries

    qs = all_queries()
    for name in (
        "q32_date_funcs",
        "q13_left_join",
        "q10_cube",
        "q66_grouping_sets",
        "q18_range_join",
        "q76_conditional_agg",
        "q81_salted_join",
        "q127_top_supplier",
    ):
        # formatted mode: simple-mode truncates long function lists, hiding
        # the combine's decimal cast
        text = explain_str(qs[name].fn(spark, sf_dir))
        assert "decimal(18," not in text, (name, text[:600])
        assert "decimal(38,0)" in text, (name, text[:600])
