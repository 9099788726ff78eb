"""Regenerate PLANS.md: formatted physical plans of representative queries
with the scale-relevant properties called out. Run from the repo root:
    python tools/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import contextlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wikipediaetl_spark.catalog import all_queries
from wikipediaetl_spark.plans import count_exchanges, explain_str
from wikipediaetl_spark.session import get_spark, scoped_confs

SHOWCASE = {
    "q01_pricing_summary": "Pushed timestamp filter; partial+final hash agg inside one "
    "WholeStageCodegen span; shuffle carries 6 groups.",
    "q02_scan_project": "PushedFilters on l_quantity; ReadSchema pruned to 5 of 11 columns.",
    "q04_orderby_limit": "TakeOrderedAndProject — per-partition heap, no global sort exchange.",
    "q11_star_join": "EAGER AGG: orders pre-aggregated to o_custkey grain before any join (map-side combine → |customer|-sized exchange); all three dims broadcast onto the aggregate — the fact table never shuffles.",
    "q12_fact_fact_join": "SHUFFLE_HASH on the filtered orders build side (no 240M-row sort at scale); the revenue term quantized to exact 1e-4-unit LONGS before the shuffle (r5: the per-row decimal accumulator was half the join stage's task time); partition-salted long partials merge as decimal at the 5-row final. Eager agg measured and rejected: a 60M-key grain spills.",
    "q19_asof_join": "inequality join + max_by hash aggregate (map-side partial), no window sort.",
    "q20_window_topk": "WindowGroupLimit pushes rn<=3 below the shuffle.",
    "q44_category_distribution": "one corpus projection chain collapsed by CollapseProject; "
    "category dim broadcast back.",
    "q53_shingle_neardup": "inverted-index self-join: shuffle key = shingle, no cross product.",
    "q57_cosine_topk": "10-row query side broadcast; corpus scanned once with precomputed norms.",
    "q86_decontamination": "corpus trigram stream codegen-built and broadcast-semi-joined "
    "against the bench shingle set in ONE narrow stage — the corpus never shuffles; "
    "df cap applied on the post-join survivors.",
    "q98_shipping_priority": "three pushed filters; broadcast customer dim; single fact-fact "
    "shuffle; TakeOrderedAndProject top-10.",
    "q99_local_supplier_volume": "five-way join, three broadcast dims, facts shuffle once each.",
    "q55_simhash": "pigeonhole band equi-join on (band_idx, band_bits) — no cartesian; "
    "bit_count verifies candidates only (r2: replaced all-pairs cross join).",
    "q56_embedding_neardup": "LSH bucket-union candidates (equi-join on (tbl, bucket)), "
    "exact cosine on candidates — no cartesian (r2: replaced cross join).",
    "q131_blocked_neardup": "label-blocked exact near-dup over the FULL table: pair space "
    "is per-block, shuffle key = block.",
    "q132_min_cost_supplier": "window min rides partsupp's (partkey) grouping; "
    "supplier⋈nation⋈region broadcast; TakeOrderedAndProject top-100.",
    "q133_product_type_profit": "p_name-filtered part broadcast-semi onto lineitem before "
    "the composite-key partsupp join; supplier⋈nation broadcast; exact decimal profit sum.",
    "q135_shipping_modes": "all derived-column predicates element-wise at the scan; one "
    "fact-fact shuffle; 2-group conditional agg is map-side partial.",
    "q141_duplicate_spans": "k-grams from a pre-materialized token array (in-row, no "
    "per-position re-split); cross-doc dup flag = min!=max doc over one window on the "
    "shingle; coverage via the interval-union identity — no position explode, linear, "
    "never pairwise.",
    "q142_gopher_rules": "all five rule features are in-row array expressions — one "
    "WholeStageCodegen span over the scan, zero exchanges.",
    "q144_unigram_perplexity": "LM vocab (top-50k + OOV floor) broadcast onto the token "
    "stream; per-doc sum is an exact BIGINT reduce with map-side partials.",
    "q145_semdedup": "centroid table broadcast for assignment; the quadratic pair stage "
    "is keyed on the cluster id — no pair crosses clusters.",
    "q150_minhash_portable": "8 signature mins in ONE map-side-combinable aggregate; "
    "band bucket equi-join — no cross product; md5 family keeps it oracle-verifiable.",
    "q152_simhash_portable": "32 bit-votes in one aggregate pass; 4×8-bit pigeonhole "
    "band join over DISTINCT fingerprints (doc posting lists explode after); "
    "bit_count verify on candidates only.",
    "q153_session_windows": "native session_window: ONE keyed shuffle on user_id with "
    "in-partition session merge — no window sort of the events table.",
    "q155_bigram_lift": "ONE corpus explode to (token, next|NULL) pair grain, "
    "materialized once via lazy localCheckpoint (ReuseExchange cannot fire: the "
    "null-filter pushes below the aggregate for bigram consumers); starved scan "
    "rebalanced to core width; vocab counts broadcast back; 1-row n/m scalars "
    "attach as BroadcastNestedLoopJoin — fully lazy, no mid-plan collect.",
    "q157_unpivot_measures": "aggregate-through-unpivot: four columnwise sums in one scan pass (no Expand of fact rows); unpivot melts the single aggregate row.",
    "q158_upsert_snapshot": "base ∪ changes is exchange-free concatenation; ONE "
    "hashpartitioning(o_orderkey) feeds the latest-wins row_number window.",
    "q159_ccnet_buckets": "doc-grain rows only reach the per-language ntile window; "
    "the token-level work collapses in q144's broadcast-LM partial aggregate.",
    "q160_outlier_zscore": "ONE scan to the (event_type, cents) value grain "
    "(~10k distinct cents per group; r6), checkpointed once; stats (INT64 n,S,Q), "
    "the exact-integer threshold, and the flag count all evaluate grain-side — "
    "no second pass, no float threshold boundary.",
    "q161_funnel": "three keyed aggregations with monotonically shrinking build sides; "
    "stage counts attach as broadcast 1-row scalars.",
    "q162_cohort_retention": "first-seen table broadcast onto events; DATE-only "
    "arithmetic; distinct + count ride one exchange on (cohort, offset).",
    "q164_stateful_stats_native": "q149's semantics on the JVM state path: streaming "
    "agg in update mode, state keyed per user — no Python worker in the loop "
    "(r6: within ~2x of q149's micro-sharded Python state at 400x, vs 12x over "
    "the per-key form it replaced).",
    "q165_pagerank_exact": "integer-state PageRank, pagerank(..., exact=True): per-round "
    "join + BIGINT aggregate + broadcast dangling scalar, lineage cut per round; "
    "bit-exact under any partitioning, hash-verified against an unrolled SQL oracle.",
    "q138_waiting_suppliers": "ONE lineitem scan, 'F'-status SEMI-REDUCED before "
    "the (order,supplier) grain aggregate (r10: halves both aggregates' input, "
    "deletes the late f_orders join — 6.69x -> 3.02x at 400x, "
    "BENCH_Q138_ADJUDICATION); every later stage works on the reduced grain; "
    "supplier broadcasts.",
    "q163_ivf_ann_oracle": "IVF probe with a deterministic medoid quantizer: tiny "
    "centroid table broadcast twice (cell ranking, then candidate join); the corpus "
    "is pruned to probed cells BEFORE any exact scoring.",
    # r7 plan-variant fixes (TPC-H at 100×, BENCH_NOTES)
    "q125_customer_distribution": "EAGER AGG (r7): orders counted per custkey "
    "scan-side (map-side combine) BEFORE the customer left join — the textbook "
    "form shuffled a fact-sized join result; 6.07 s → ~0.9 s at 100×.",
    "q116_priority_checking": "column-pruned probe + SHUFFLE_HASH semi-join + "
    "runtime bloom (r7) + the IMPLIED static pushdown l_shipdate > window_start "
    "reaching the parquet scan (r10: drops ~2/3 of the probe where the 2.3M-key "
    "bloom build is out of regime — 6.38x -> 4.2x within-run at 400x, "
    "BENCH_Q116_STOCK_WAVE).",
    "q167_rollup_serving": "the q12 shape answered FROM a maintained bucketed "
    "rollup after an incremental merge batch — exchange-light probe over "
    "~|orders| grain rows; hash-matches the raw-lineitem oracle (r7).",
    "q38_bfs_reachability": "the BFS fixpoint as ONE Spark 4 recursive CTE "
    "(UnionLoopExec) stepping over the cached edges^4 power table — no "
    "Python driver rounds; 0.90x/0.53x vs the comparator at 100x/400x (r7). "
    "The fn returns the EAGER localCheckpoint of the recursion (so its "
    "pinned session confs can be restored), hence the plan below is the "
    "materialized RDD scan; the recursion itself plans as UnionLoop inside "
    "streaming/crawler.py:recursive_bfs_tree.",
    # r8: serving ladder + maintained near-dup index
    "q168_shingle_neardup_full": "UNCAPPED full-corpus exact shingle-Jaccard: "
    "exact-dedup prepass collapses identical texts, q150's md5-minhash "
    "banding blocks the pair space, exact Jaccard verifies CANDIDATES only "
    "— the quadratic stage never sees the corpus (r8).",
    "q169_simhash_wide": "64-bit SimHash, 4×16-bit pigeonhole bands over "
    "DISTINCT fingerprints — the 1e9-doc-regime variant; candidate stage "
    "bounded by band-bucket occupancy n/2^16 (r8, BENCH_SIMHASH_WIDE).",
    "q173_shipmode_mv_serving": "TPC-H Q12 family from a (year, mode, "
    "priority) answer-grain MV with 3-key incremental sum maintenance — "
    "serve is an O(answer) scan + 2-group agg, 0.09x vs the comparator at "
    "400x (r8; the top rung of the q170-q173 serving ladder).",
    "q175_ccnet_serving": "q159's CCNet terciles from a MAINTAINED doc-grain "
    "feature layout under a frozen LM: O(batch tokens) maintenance, O(docs) "
    "serve riding the lang-bucketed layout — 17.5 s stock -> 1.81 s serve "
    "(0.66x) at 400x (r8, BENCH_CCNET_SERVING). Returns an eager "
    "localCheckpoint (table dropped before returning), so the plan below is "
    "the materialized scan — the REAL serve plan (single bucketed scan, "
    "zero exchanges) is printed beneath it and asserted by "
    "tests/test_plans.py (r9).",
    "q174_lsh_index_maintenance": "incrementally-MAINTAINED MinHash-LSH "
    "band index: batch signatures O(batch tokens), APPEND into the "
    "16-bucket layout, one equi-join probe for the batch's collisions — "
    "result hash-matches q150's full-recompute oracle (r8). The fn "
    "returns an eager localCheckpoint (the index table is dropped before "
    "returning), so the plan below is the materialized scan — the REAL "
    "scale-bearing plans (exchange-free self-join, batch-only-shuffle "
    "probe) are printed beneath it and asserted by tests/test_plans.py "
    "(r9).",
    # r9 flagships
    "q176_star_mv_serving": "q11's star family from a (region, nation, "
    "year) answer-grain MV: dims attached at ingest, exact integer-cents "
    "partials, 3-key incremental sum merge — serve is ONE ~175-row MV scan "
    "+ a 2-key agg, NO join, no fact scan (r9). Returns an eager "
    "localCheckpoint (table dropped before returning); the REAL serve plan "
    "is printed beneath and asserted by tests/test_plans.py.",
    "q179_bm25_index_maintenance": "incrementally-MAINTAINED BM25 lexical "
    "search: append-only tok-bucketed postings + doc-grain length layout; "
    "keyword probe BUCKET-PRUNES to the query terms' buckets, df/N/L "
    "derived at serve (always consistent as-of the last append), integer "
    "micro-nat idf + analytically-cleared tf normalization hash-match the "
    "full-recompute oracle (r9). Returns an eager localCheckpoint; the "
    "REAL probe plan is printed beneath and asserted by "
    "tests/test_plans.py.",
    "q177_ivf_index_maintenance": "incrementally-MAINTAINED IVF ANN index: "
    "frozen medoid coarse quantizer, O(batch x k) assignment, APPEND into "
    "a cell-PARTITIONED layout; probe = directory-pruned scan of the "
    "probed cells + broadcast probe join + exact cosine on candidates "
    "only — hash-matches the full-recompute oracle (r9). Returns an eager "
    "localCheckpoint; the REAL probe plan is printed beneath and asserted "
    "by tests/test_plans.py.",
    # r9 late flagships
    "q182_rrf_hybrid_search": "hybrid retrieval: BM25 top-20 and cosine "
    "top-20 each end in a WindowGroupLimit (only ~k rows cross the final "
    "exchange); the RRF fusion is a full-outer join of two <=20-row lists "
    "with exact integer contributions — driver-scale regardless of corpus "
    "size (r9).",
    "q183_dsir_importance_selection": "DSIR data selection: ONE token-stream "
    "aggregation to the (doc, bucket) histogram grain (map-side partials "
    "absorb the explode), the 64-row log-ratio table BROADCAST back, one "
    "doc-grain exact BIGINT sum, WindowGroupLimit top-k — the corpus "
    "shuffles once, at the histogram grain, not the token grain (r9).",
    "q185_dsir_layout_maintenance": "maintained DSIR layouts: per-doc "
    "bucket histograms append-only (doc_id-bucketed), the 64-row count "
    "rollup sum-merged per batch; the globally-retroactive ratio table is "
    "recomputed O(buckets) at serve and BROADCAST over the stored "
    "histograms — the doc-grain sum rides the bucketing, exchange-free "
    "(r9). Returns an eager localCheckpoint; the REAL serve plan is "
    "printed beneath and asserted by tests/test_plans.py.",
    "q186_hybrid_index_serving": "hybrid retrieval SERVED from the "
    "maintained BM25 layouts: q182's fused answer with the lexical list "
    "from q179's tok-bucketed postings (bucket-pruned probe, plan-asserted "
    "there) + the exact semantic pass + O(k) integer RRF — hash-matches "
    "q182's full-recompute oracle (r9). Returns an eager localCheckpoint; "
    "the serve-side probe plan is q179's, asserted by tests/test_plans.py.",
    "q188_streaming_curation_capstone": "the ingest-time curation funnel "
    "as one foreachBatch sink driven batch-style (r10): scan-side quality "
    "filter, q86-shaped broadcast contamination gate (the batch never "
    "self-joins), FIRST-SEEN exact-dedup = within-batch window + anti-join "
    "riding the maintained ledger's content_key bucketing, replay-gated "
    "accepted append + staged-swap ledger merge. Returns an eager "
    "localCheckpoint; the real writeStream entry is curation_sink, "
    "exercised in tests/test_streaming.py.",
    "q187_hybrid_ivf_serving": "hybrid retrieval with BOTH lists served "
    "from maintained indexes (r10): bucket-pruned BM25 probe for the "
    "lexical list + directory-pruned IVF cell probe for the semantic one "
    "(broadcast quantizer ranks top-3 cells; the cell-partitioned scan "
    "reads only those directories; exact cosine inside probed cells only) "
    "+ O(k) integer RRF — its own full-recompute oracle restates the "
    "frozen quantizer in SQL; serve 0.43x vs the index-less pass on a 2M-"
    "vector corpus at recall@20 1.0 (BENCH_HYBRID_IVF_SERVING). Returns an "
    "eager localCheckpoint; probe plans asserted by tests/test_plans.py.",
    "q184_cluster_ledger_maintenance": "incrementally-MAINTAINED near-dup "
    "cluster ledger: a batch's edges contract to an O(batch) LABEL graph "
    "(old components are closed — new edges only merge), components run on "
    "the contracted graph only, and history is relabeled via a BROADCAST "
    "join on cluster_id — the ledger side never shuffles; hash-matches "
    "q83's full-recompute closure (r9). Returns an eager localCheckpoint; "
    "the REAL relabel plan is printed beneath and asserted by "
    "tests/test_plans.py.",
}


@contextlib.contextmanager
def _pre_checkpoint_plans(spark, sf_dir: str, name: str):
    """(title, DataFrame) pairs for operators whose catalog fn returns a
    materialized checkpoint (VERDICT r8 #5): the scale-bearing plans are the
    PRE-checkpoint ones, rebuilt here exactly as the operator builds them —
    broadcast disabled to show the 100 TB shape (a corpus index/layout never
    broadcasts). The tables they read live for the ``with`` body. Asserted
    by tests/test_plans.py."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.functions.fixedpoint import scaled_long
    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.sources import load_table

    if name == "q174_lsh_index_maintenance":
        from wikipediaetl_spark.operators.dedup import (
            _shingles,
            lsh_index_probe,
            lsh_index_self_pairs,
            portable_minhash_bands,
        )

        t = "plans_q174_idx"
        d = load_table(spark, sf_dir, "documents")
        is_batch = F.pmod(F.col("doc_id") * 31 + 7, F.lit(10)) == 3
        with scoped_tables(spark, t):
            (
                portable_minhash_bands(_shingles(d.filter(~is_batch), n=2))
                .write.bucketBy(16, "band_idx", "band_hash")
                .sortBy("band_idx", "band_hash")
                .saveAsTable(t)
            )
            idx = spark.table(t)
            batch = portable_minhash_bands(
                _shingles(d.filter(is_batch), n=2)
            ).localCheckpoint(eager=True)
            yield [
                ("base-base self-join over the bucketed index", lsh_index_self_pairs(idx)),
                ("batch probe (only the batch side shuffles)", lsh_index_probe(batch, idx)),
            ]
    elif name == "q175_ccnet_serving":
        from wikipediaetl_spark.operators.text_analysis import (
            ccnet_serve_from_features,
            score_docs,
            unigram_lm,
        )

        t = "plans_q175_feats"
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
            yield [
                ("serve from the lang-bucketed feature layout", ccnet_serve_from_features(spark.table(t))),
            ]
    elif name == "q176_star_mv_serving":
        from wikipediaetl_spark.operators.layout import star_mv_serve
        from wikipediaetl_spark.operators.relational import _t

        t = "plans_q176_mv"
        o = load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            F.year("o_orderdate").alias("o_year"),
            scaled_long(F.col("o_totalprice"), 100).alias("o_cents"),
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
            yield [
                ("serve: one MV scan + 2-key agg, no join", star_mv_serve(spark, t)),
            ]
    elif name == "q177_ivf_index_maintenance":
        from wikipediaetl_spark.operators.similarity import (
            _vectors,
            ivf_index_probe,
        )

        t = "plans_q177_idx"
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
            yield [
                (
                    "batch probe: partition-pruned cell scan + broadcast probe join",
                    ivf_index_probe(probes, idx),
                ),
            ]
    elif name == "q179_bm25_index_maintenance":
        from wikipediaetl_spark.operators.text_analysis import bm25_index_probe

        t = "plans_q179_postings"
        lt = "plans_q179_doclen"
        d = load_table(spark, sf_dir, "documents")
        with scoped_tables(spark, t, lt):
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
                .saveAsTable(t)
            )
            (
                d.select(
                    "doc_id",
                    F.size(F.split(F.col("text"), " ")).cast("long").alias("dl"),
                ).write.saveAsTable(lt)
            )
            probe_df = bm25_index_probe(spark.table(t), spark.table(lt))
            yield [
                ("keyword probe: bucket-pruned postings + doc-grain stats", probe_df),
            ]
    elif name == "q185_dsir_layout_maintenance":
        from wikipediaetl_spark.operators.pipeline_ops import (
            _dsir_buckets,
            dsir_serve,
        )

        ht, ct_t = "plans_q185_hist", "plans_q185_counts"
        d = load_table(spark, sf_dir, "documents")
        with scoped_tables(spark, ht, ct_t):
            toks = _dsir_buckets(d)
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
            yield [
                (
                    "selection serve: broadcast O(buckets) ratio over bucketed "
                    "histograms, exchange-free doc-grain sum",
                    dsir_serve(spark.table(ht), spark.table(ct_t)),
                ),
            ]
    elif name == "q184_cluster_ledger_maintenance":
        t = "plans_q184_ledger"
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
            ).select("doc_id", F.coalesce("new_label", "cluster_id").alias("cluster_id"))
            yield [
                (
                    "batch apply: history relabel via broadcast touched-label map "
                    "(ledger side never shuffles)",
                    relabel,
                ),
            ]
    else:
        yield []


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("plans")
    qs = all_queries()
    print("# PLANS — physical plans of representative queries")
    print()
    print(f"Generated by `python tools/dump_plans.py` at `{sf_dir}`. The plan is the")
    print("product: these are the shapes that must survive a 1000-executor scale-up.")
    for name, note in SHOWCASE.items():
        df = qs[name].fn(spark, sf_dir)
        n_ex = count_exchanges(df)
        print(f"\n## {name}\n")
        print(f"**Scale property:** {note}")
        print(f"**Shuffle exchanges in plan:** {n_ex}")
        print("\n```")
        text = explain_str(df, "formatted")
        # keep the operator tree + scan details, trim the long field lists
        lines = text.splitlines()
        keep: list[str] = []
        for ln in lines:
            if ln.startswith("(") and ")" in ln[:6]:
                break
            keep.append(ln.rstrip())
        detail = [
            ln.rstrip()
            for ln in lines
            if "PushedFilters" in ln or "ReadSchema" in ln or "PartitionFilters" in ln
        ]
        print("\n".join(keep + ["..."] + detail[:6]))
        print("```")
        with (
            _pre_checkpoint_plans(spark, sf_dir, name) as pres,
            scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}),
        ):
            for title, pdf in pres:
                print(f"\n**Pre-checkpoint plan — {title}** "
                      f"(broadcast off = the at-scale shape; "
                      f"exchanges: {count_exchanges(pdf)}):")
                print("\n```")
                plines = explain_str(pdf, "simple").splitlines()
                print("\n".join(ln.rstrip()[:160] for ln in plines[:24]))
                print("```")


if __name__ == "__main__":
    main()
