"""Post-process BENCH_SCALE_400x.json after the r11 full-catalog tranche.

Three jobs, all about keeping the canonical artifact self-documenting:

1. Attach caveat notes to rows whose ratio needs context to read correctly:
   - capped-input queries (the q53 precedent): their WHERE doc_id < N subset
     makes the input scale-invariant under replication, so the row measures
     fixed cost, not scaled work;
   - the batch one-shot streaming rows WITHOUT amortize twins (q37, q70-q74):
     their ratio is the whole replicated history as cold micro-batch 0 vs one
     comparator recompute — the harness artifact decomposed in
     BENCH_STREAM_BATCH0 and pinned in BENCH_NOTES.
2. Write an `excluded` table naming every oracle-carrying catalog native that
   is deliberately NOT a row, with its reason, so "N of M measured" is
   recomputable from the artifact alone:
   - dim-only: inputs are dimension tables copied unchanged under replication
     (a "400x" row would re-measure sf0.1 fixed costs — BENCH_FULL's regime);
   - quadratic: doc replication makes every replica an exact near-dup of its
     base, so doc-level pair output grows as FACTOR^2 (the q83 adversarial
     case; scale stories for these are structural/plan-asserted or live in
     their fp-level side experiments);
   - no-oracle: rows-only natives have no DuckDB comparator to time.
3. Recompute median_ratio over all measured rows and refresh median_note.
"""

from __future__ import annotations

import json
import os
import statistics

PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_SCALE_400x.json")

CAP_NOTES = {
    "q52_token_jaccard": (
        "doc_id<200 subset cap makes the input scale-invariant under "
        "replication BY DESIGN (the q53 caveat): the cap bounds the exact "
        "verify stage of a MinHash pipeline; the ratio is fixed-cost regime"
    ),
    "q114_lateral_explode": (
        "doc_id<20 subset cap (scale-invariant input, the q53 caveat): the "
        "ratio is the fixed-cost regime, reported for ladder completeness"
    ),
    "q109_dedup_decision": (
        "doc_id<200 subset cap on both the q53-derived pair stage and the "
        "final accounting scan (scale-invariant input, the q53 caveat): the "
        "capstone's scaled stories are its components' — q51/q168 for the "
        "dedup stages, the connected-components loop is O(log diameter) "
        "rounds by pointer doubling; the ratio is fixed-cost regime"
    ),
    "q121_chunking": (
        "doc_id<100 subset cap (scale-invariant input, the q53 caveat): "
        "the ratio is fixed-cost regime"
    ),
    "q110_cross_modal_join": (
        "embeddings side is copied unchanged under replication, so only the "
        "base replicas' doc_ids match; the documents scan side scales, the "
        "join output does not"
    ),
}

ONE_SHOT_STREAM = ["q37_tumbling_window", "q70_stream_tumbling",
                   "q71_stream_dedup", "q72_stream_fanout",
                   "q73_sliding_window"]
ONE_SHOT_NOTE = (
    "one-shot: the whole replicated history processed as cold micro-batch 0 "
    "vs one comparator recompute — bootstrap machinery, same regime as "
    "q100/q147's one_shot_* fields (decomposed in BENCH_STREAM_BATCH0, "
    "steady-state marginals measured flat in BENCH_STREAM_AMORTIZE, pinned "
    "in BENCH_NOTES); no amortize twin is run for these window shapes "
    "because their state machinery is the measured q100/q149/q164 family's"
)

EXCLUDED = {
    # dimension-only inputs (copied unchanged under replication)
    **{q: "dim-only" for q in [
        "q05_group_agg", "q16_full_outer", "q23_window_rank", "q24_ntile",
        "q25_surrogate_keys", "q26_union", "q27_intersect", "q28_except",
        "q30_case_bucket", "q31_string_funcs", "q35_unpivot",
        "q39_percentiles", "q49_fuzzy_match", "q77_string_agg",
        "q80_histogram", "q94_window_distribution", "q95_regex_groups",
    ]},
    # embeddings copied unchanged (the q57 scale-invariant-input caveat)
    **{q: "embeddings-copied" for q in [
        "q56_embedding_neardup", "q57_cosine_topk", "q131_blocked_neardup",
        "q163_ivf_ann_oracle", "q180_semdedup_index_maintenance",
        "q182_rrf_hybrid_search",
    ]},
    # doc-level pair output grows FACTOR^2 under replication (q83 case)
    **{q: "quadratic-under-replication" for q in [
        "q83_neardup_clusters", "q150_minhash_portable",
        "q152_simhash_portable", "q169_simhash_wide",
        "q174_lsh_index_maintenance", "q184_cluster_ledger_maintenance",
    ]},
    # the complete-mode memory-sink harness shape materializes O(history)
    # on the driver by construction — at 40M events (up to one session-state
    # row per event) it OOMs a 24g AND a 48g single-JVM heap, with RocksDB
    # state A/B'd (state moves off-heap; the complete-mode sink result and
    # session-merge buffers still die in-heap). The operator's scale
    # contract is watermark-finalized APPEND (state O(open sessions), output
    # streamed to a sink); its sessionization work IS measured at 400x as
    # q36_sessionize (the batch twin, same oracle family), and
    # state-beyond-heap posture is measured in BENCH_STATE_BEYOND_MEM.
    "q74_stream_session": "complete-mode-harness-shape",
    # no DuckDB oracle to time (rows-only natives)
    **{q: "no-oracle" for q in [
        "q08_approx_count_distinct", "q54_minhash_lsh", "q55_simhash",
        "q58_ivf_ann", "q59_lsh_ann", "q65_media_features",
        "q91_cosine_topk_blas", "q102_approx_percentile", "q103_pagerank",
        "q118_bpe_vocab", "q143_pq_ann", "q145_semdedup", "q146_bpe_encode",
    ]},
}

EXCLUDED_LEGEND = {
    "dim-only": (
        "input is a dimension table copied unchanged under replication; a "
        "400x row would re-measure sf0.1 fixed costs (BENCH_FULL's regime)"
    ),
    "embeddings-copied": (
        "embeddings is copied unchanged (scale-invariant input); vector-scale "
        "stories live in BENCH_HYBRID_IVF_SERVING/BENCH_BUCKETED on a real "
        "2M-vector corpus"
    ),
    "quadratic-under-replication": (
        "doc replication makes every replica an exact near-dup of its base, "
        "so doc-level pair output grows as FACTOR^2 — adversarial, not "
        "representative; scale stories are structural (plan-asserted O(batch) "
        "maintenance) or fp-level side experiments (BENCH_SIMHASH_WIDE.json)"
    ),
    "no-oracle": "rows-only native: no DuckDB comparator to time",
    "complete-mode-harness-shape": (
        "the bounded-fixture harness drives this stream in complete mode "
        "into a memory sink, which materializes O(history) on the driver by "
        "construction; at 40M events it OOMs 24g and 48g heaps (RocksDB "
        "state A/B'd: state moves off-heap, the sink result does not). The "
        "operator's scale contract is watermark-finalized append; its "
        "sessionization work is measured as q36_sessionize and the "
        "state-beyond-heap posture in BENCH_STATE_BEYOND_MEM"
    ),
}


def main() -> None:
    with open(PATH) as f:
        d = json.load(f)
    qs = d["queries"]
    for name, note in CAP_NOTES.items():
        if name in qs:
            qs[name]["cap_note"] = note
    for name in ONE_SHOT_STREAM:
        if name in qs and "amortized_note" not in qs[name]:
            qs[name]["one_shot_note"] = ONE_SHOT_NOTE
    missing = [q for q in EXCLUDED if q in qs]
    assert not missing, f"excluded queries unexpectedly measured: {missing}"
    d["excluded"] = EXCLUDED
    d["excluded_legend"] = EXCLUDED_LEGEND
    ratios = [v["ratio"] for v in qs.values()
              if isinstance(v, dict) and "ratio" in v]
    d["median_ratio"] = round(statistics.median(ratios), 2)
    # the two-regime split pinned since r4/r8: rows whose comparator runs in
    # tens of milliseconds measure Spark's fixed per-query floor (scheduler +
    # codegen + Python<->JVM), not plan quality. 0.5 s of comparator work is
    # the threshold where the measured work term dominates that floor.
    work = [v["ratio"] for v in qs.values()
            if isinstance(v, dict) and "ratio" in v and v["duckdb_s"] >= 0.5]
    d["median_ratio_work_dominated"] = round(statistics.median(work), 2)
    d["median_note"] = (
        f"median_ratio is across ALL {len(ratios)} measured entries — the "
        "r11 full-catalog tranche adds every remaining fact-table native, "
        "including fixed-cost rows whose comparator runs in milliseconds "
        "(the q122/q130 regime pinned since r8: those measure Spark's "
        "per-query floor, not plan quality) and capped/one-shot rows "
        "carrying cap_note/one_shot_note. median_ratio_work_dominated is "
        f"the same statistic over the {len(work)} rows with >=0.5 s of "
        "comparator work, where the work term dominates the floor. "
        "Serving/maintenance rungs' 'ratio' is build-inclusive (see "
        "build_note per row; serve-only ratios in the serve_* fields). "
        "Every oracle-carrying native not measured here is named in "
        "`excluded` with its reason."
    )
    with open(PATH, "w") as f:
        json.dump(d, f, indent=1, sort_keys=True)
    under = sum(1 for r in ratios if r < 1.0)
    print(json.dumps({"entries": len(ratios), "median": d["median_ratio"],
                      "under_comparator": under}))


if __name__ == "__main__":
    main()
