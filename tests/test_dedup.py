"""Dedup operator invariants: LSH candidate recall vs exact Jaccard, SimHash
determinism and Hamming locality, exact-dedup key uniqueness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikipediaetl_spark.operators.dedup import (
    _shingles,
    _tokens,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    q50_exact_dedup,
    q55_simhash,
    q56_embedding_neardup,
    q131_blocked_neardup,
    simhash_fingerprints,
    simhash_pairs,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    rows = [
        (0, base),
        (1, base),  # exact dup
        (2, base.replace("lazy", "sleepy")),  # near dup
        (3, "completely different words about spark catalyst optimizer plans"),
        (4, "another unrelated document mentioning minhash banding techniques"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_unique_keys(spark, sf_dir):
    df = q50_exact_dedup(spark, sf_dir)
    assert df.count() == df.select("norm_text").distinct().count()


def test_jaccard_exact_values(spark):
    d = _near_dup_docs(spark)
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(_shingles(d, 2), threshold=0.0).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs
    assert 0.5 < pairs[(0, 2)] < 1.0  # near dup
    assert (0, 3) not in pairs  # no shared bigrams


def test_minhash_lsh_recall_on_near_dups(spark):
    """LSH banding (16 hashes, 4×4) must recover pairs with very high
    Jaccard: P(miss) = (1-s^4)^4 ≈ 0.002 at s=0.9 — identical and one-word-
    edit docs must be candidates."""
    d = _near_dup_docs(spark)
    sh = _shingles(d, 2)
    cands = {
        (r.doc_a, r.doc_b) for r in lsh_candidate_pairs(minhash_signatures(sh)).collect()
    }
    assert (0, 1) in cands
    assert (0, 2) in cands


def test_minhash_signature_deterministic(spark):
    d = _near_dup_docs(spark)
    s1 = sorted(minhash_signatures(_shingles(d, 2)).collect())
    s2 = sorted(minhash_signatures(_shingles(d, 2)).collect())
    assert s1 == s2


def test_simhash_banding_equals_allpairs(spark, sf_dir):
    """The pigeonhole band join (7 bands for Hamming ≤ 6 on 32 bits) must
    return EXACTLY the pairs the naive all-pairs formulation returns —
    banding is a guaranteed-superset candidate generator, not approximate."""
    from wikipediaetl_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    fps = simhash_fingerprints(_tokens(d), bits=32).cache()
    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(fps, bits=32, max_hamming=6).collect()
    }
    a = fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    naive = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    assert banded == naive and banded


def test_simhash_and_embedding_neardup_plans_have_no_cartesian(spark, sf_dir):
    """VERDICT r1 #4/#5: the scale-killers must be gone from the physical
    plans — candidate generation is equi-join shaped."""
    from wikipediaetl_spark.operators.dedup import q152_simhash_portable

    for q in (q55_simhash, q56_embedding_neardup, q152_simhash_portable):
        plan = _plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoop" not in plan, q.__name__


def test_jaccard_max_df_drops_hot_token_pairs(spark):
    """Skew guard: a stopword-like token present in every doc must not by
    itself create candidate pairs when max_df caps document frequency."""
    rows = [(i, f"unique{i} hot") for i in range(12)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    toks = _tokens(d)
    with_guard = jaccard_pairs(toks, threshold=0.0, max_df=10)
    assert with_guard.count() == 0  # only 'hot' is shared, and it is dropped
    without = jaccard_pairs(toks, threshold=0.0)
    assert without.count() == 12 * 11 / 2  # every pair shares 'hot'


def test_jaccard_sizes_use_post_guard_universe(spark):
    """When the guard actually fires, |A| and |B| must be the FILTERED set
    sizes (the oracles' post-guard `sizes` CTE). Pre-guard sizes deflate
    every score: here the true post-guard Jaccard of d1/d2 is 1.0, while
    the pre-guard computation would report 2/(3+3-2)=0.5 — a recall
    collapse first observed on the full sf0.1 corpus (Spark 0 pairs vs
    oracle 96813 at threshold 0.5)."""
    rows = [(1, "hot a b"), (2, "hot a b"), (3, "hot x y")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(_tokens(d), threshold=0.9, max_df=2).collect()
    }
    assert out == {(1, 2): 1.0}


def test_embedding_neardup_lsh_matches_bruteforce(spark, sf_dir):
    """q56's LSH-union candidates must reach recall 1.0 at the fixture: the
    final pair set equals the brute-force all-pairs answer."""
    from wikipediaetl_spark.operators.similarity import dot_expr
    from wikipediaetl_spark.sources import load_table

    got = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in q56_embedding_neardup(spark, sf_dir).collect()
    }
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 500)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", F.sqrt(dot_expr(F.col("v"), F.col("v"))))
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = F.round(dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    brute = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= 0.35)
        .collect()
    }
    assert got == brute and got


def test_blocked_neardup_pairs_share_block(spark, sf_dir):
    """q131: every returned pair shares the blocking label, scores are in
    the threshold range, and the full (uncapped) table is covered."""
    from wikipediaetl_spark.sources import load_table

    out = q131_blocked_neardup(spark, sf_dir)
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    rows = out.collect()
    assert rows
    for r in rows:
        assert labels[r.vec_a] == labels[r.vec_b]
        assert r.cos_sim >= 0.35


def test_simhash_hamming_locality(spark, sf_dir):
    """Hamming pairs include every identical-text pair, and the full
    fingerprint set is deterministic across runs."""
    out1 = q55_simhash(spark, sf_dir)
    rows1 = sorted((r.doc_a, r.doc_b, r.hamming) for r in out1.collect())
    rows2 = sorted((r.doc_a, r.doc_b, r.hamming) for r in q55_simhash(spark, sf_dir).collect())
    assert rows1 == rows2
    for _, _, h in rows1:
        assert 0 <= h <= 6


def test_semdedup_invariants(spark, sf_dir):
    """q145: the kept set is exactly tau-separated inside every cluster, the
    lowest-(centroid_sim, id) member of each cluster is always kept, and
    assignment covers every vector exactly once."""
    import numpy as np

    from wikipediaetl_spark.operators.dedup import q145_semdedup
    from wikipediaetl_spark.operators.similarity import _vectors

    rows = q145_semdedup(spark, sf_dir).collect()
    vecs = {r.vec_id: np.array(r.v) for r in _vectors(spark, sf_dir).collect()}
    assert len(rows) == len(vecs)  # every vector assigned exactly once
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    for members in by_cluster.values():
        first = min(members, key=lambda r: (r.centroid_sim, r.vec_id))
        assert first.keep == 1
        kept = [r for r in members if r.keep]
        for i in range(len(kept)):
            for j in range(i + 1, len(kept)):
                a, b = vecs[kept[i].vec_id], vecs[kept[j].vec_id]
                cos = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
                assert cos < 0.30, (kept[i].vec_id, kept[j].vec_id, cos)


def test_minhash_portable_exact_dups_share_all_bands(spark):
    """q150's md5 minhash: identical texts get identical signatures, so the
    pair must surface with all 4 bands shared; disjoint-vocabulary docs must
    not pair at all."""
    from wikipediaetl_spark.operators.dedup import q150_minhash_portable

    d = _near_dup_docs(spark)
    import wikipediaetl_spark.operators.dedup as dd

    orig = dd.load_table
    try:
        dd.load_table = lambda spark, sf_dir, name: d
        out = {(r.doc_a, r.doc_b): r.n_shared_bands for r in q150_minhash_portable(spark, "x").collect()}
    finally:
        dd.load_table = orig
    assert out[(0, 1)] == 4
    assert not any({a, b} & {3} and {a, b} & {0, 1, 2} for (a, b) in out)


def test_minhash_portable_plan_no_cartesian(spark, sf_dir):
    from wikipediaetl_spark.operators.dedup import q150_minhash_portable

    plan = _plan(q150_minhash_portable(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_simhash_portable_matches_python_reference(spark):
    """q152's nibble-arithmetic bit decode must equal a python md5 bit
    reference on a crafted doc set, and exact dups must pair at hamming 0."""
    import hashlib

    import wikipediaetl_spark.operators.dedup as dd
    from wikipediaetl_spark.operators.dedup import q152_simhash_portable

    d = _near_dup_docs(spark)
    orig = dd.load_table
    try:
        dd.load_table = lambda spark, sf_dir, name: d
        out = {(r.doc_a, r.doc_b): r.hamming for r in q152_simhash_portable(spark, "x").collect()}
    finally:
        dd.load_table = orig
    assert out[(0, 1)] == 0  # identical texts -> identical fingerprints

    def fp(text):
        votes = [0] * 32
        for tok in set(text.split(" ")):
            h = int(hashlib.md5(("sh|" + tok).encode()).hexdigest()[:8], 16)
            # nibble j of the hex digest holds bits 4j..4j+3 (MSB-first hex,
            # so bit (4j+b) of our fingerprint = bit b of nibble j)
            for i in range(32):
                j, b = divmod(i, 4)
                nib = (h >> (4 * (7 - j))) & 0xF
                votes[i] += 1 if (nib >> b) & 1 else -1
        return sum(1 << i for i in range(32) if votes[i] > 0)

    rows = {r.doc_id: r.text for r in d.collect()}
    f0, f2 = fp(rows[0]), fp(rows[2])
    ham = bin(f0 ^ f2).count("1")
    if ham <= 3:
        assert out.get((0, 2)) == ham
    else:
        assert (0, 2) not in out


def test_duplicate_span_interval_union_identity():
    """q141's coverage rewrite rests on |∪ᵢ [sᵢ, sᵢ+k)| = k + Σ min(k, gapᵢ)
    for sorted distinct starts — pin the identity against the naive position
    set over randomized cases (seeded; hypothesis-style property)."""
    import random

    rng = random.Random(42)
    for _ in range(300):
        k = rng.randint(1, 8)
        n = rng.randint(1, 25)
        starts = sorted(rng.sample(range(1, 120), n))
        naive = len({p for s in starts for p in range(s, s + k)})
        folded = k + sum(
            min(k, b - a) for a, b in zip(starts, starts[1:])
        )
        assert naive == folded, (k, starts)


def _with_docs(spark, d, fn, *args, **kw):
    """Run a catalog query fn against an injected documents DataFrame."""
    import wikipediaetl_spark.operators.dedup as dd

    orig = dd.load_table
    try:
        dd.load_table = lambda spark, sf_dir, name: d
        return fn(spark, "x", *args, **kw)
    finally:
        dd.load_table = orig


def test_shingle_neardup_full_jaccards_are_exact(spark):
    """q168's verify stage must emit TRUE set Jaccards: every emitted pair's
    score equals the inverted-index exact computation on the rep corpus, and
    emitted pairs = (banded candidates) ∩ (exact pairs ≥ 0.5)."""
    from wikipediaetl_spark.operators.dedup import (
        portable_minhash_bands,
        q168_shingle_neardup_full,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    rows = [
        (0, base),
        (7, base),  # exact dup -> collapsed by the prepass, n_docs == 2
        (2, base.replace("lazy", "sleepy")),
        (3, "completely different words about spark catalyst optimizer plans"),
        (4, "another unrelated document mentioning minhash banding techniques"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_a, r.doc_b): (r.jaccard, r.n_docs_a, r.n_docs_b)
        for r in _with_docs(spark, d, q168_shingle_neardup_full).collect()
    }
    # the exact-dup prepass collapsed (0, 7): no 0-7 pair, rep 0 has n_docs 2
    assert (0, 7) not in out
    reps = d.filter(F.col("doc_id") != 7)
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(_shingles(reps, n=2), threshold=0.5).collect()
    }
    banded = portable_minhash_bands(_shingles(reps, n=2))
    a = banded.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    cands = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .collect()
    }
    assert set(out) == {p for p in exact if p in cands}
    for p, (jac, na, nb) in out.items():
        assert abs(jac - exact[p]) < 1e-12
        assert (na, nb) == (2, 1) if p[0] == 0 else (na, nb) == (1, 1)


def test_shingle_neardup_full_uncapped_and_no_cartesian(spark, sf_dir):
    """The q53 successor must read the WHOLE documents table (no doc_id cap
    — VERDICT r7 #4) and keep every join an equi-join."""
    from wikipediaetl_spark.operators.dedup import q168_shingle_neardup_full

    df = q168_shingle_neardup_full(spark, sf_dir)
    plan = _plan(df)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # the scan carries no doc_id pushdown filter: uncapped by construction
    import re

    scans = [l for l in plan.splitlines() if "PushedFilters" in l and "documents" in l]
    for line in scans:
        assert "doc_id" not in re.findall(r"PushedFilters: \[(.*?)\]", line)[0]


def test_simhash_wide_low_bits_equal_q152_fingerprints(spark):
    """q169's bits 0..31 (bands b0, b1) must reconstruct q152's 32-bit
    fingerprint exactly: same vote stream, wider nibble range."""
    import wikipediaetl_spark.operators.dedup as dd

    d = _near_dup_docs(spark)
    toks = _tokens(d)
    hashed = toks.select("doc_id", F.md5(F.concat(F.lit("sh|"), F.col("tok"))).alias("h"))
    votes32 = hashed.groupBy("doc_id").agg(
        *[F.expr(dd._simhash_vote_sql(i, "h")).alias(f"v{i}") for i in range(32)]
    )
    fp32 = {
        r.doc_id: r.fp
        for r in votes32.select(
            "doc_id", F.expr(dd._SIMHASH_FP_SQL).cast("long").alias("fp")
        ).collect()
    }
    votes64 = hashed.groupBy("doc_id").agg(
        *[F.expr(dd._simhash_vote_sql(i, "h")).alias(f"v{i}") for i in range(64)]
    )
    wide = {
        r.doc_id: (r.b0, r.b1)
        for r in votes64.select(
            "doc_id",
            F.expr(dd._simhash_wide_band_sql(0, 16)).alias("b0"),
            F.expr(dd._simhash_wide_band_sql(1, 16)).alias("b1"),
        ).collect()
    }
    for doc, (b0, b1) in wide.items():
        assert b0 + (b1 << 16) == fp32[doc], doc


def test_simhash_wide_banding_equals_allpairs(spark):
    """Pigeonhole completeness at 64 bits / 4×16 bands: the banded candidate
    join must emit EXACTLY the Hamming ≤ 3 pairs the brute-force all-pairs
    formulation finds (superset by pigeonhole, subset by the verify)."""
    import itertools

    from wikipediaetl_spark.operators.dedup import simhash_wide_pairs

    # 40 docs: 8 clusters of small perturbations + noise docs
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for c in range(8):
        base = " ".join(words[i % 10] + str((c * 7 + i * 3) % 13) for i in range(12))
        for v in range(3):
            rows.append((c * 5 + v, base.replace(words[v] + "0", "mut" + str(v))
                         if v else base))
    for n in range(16):
        rows.append((100 + n, " ".join(f"noise{n}w{i}" for i in range(10))))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_wide_pairs(d, bits=64, n_bands=4).collect()
    }
    # brute force from the fps the same pipeline computes
    import wikipediaetl_spark.operators.dedup as dd

    toks = _tokens(d)
    hashed = toks.select("doc_id", F.md5(F.concat(F.lit("sh|"), F.col("tok"))).alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[F.expr(dd._simhash_vote_sql(i, "h")).alias(f"v{i}") for i in range(64)]
    )
    fps = {
        r.doc_id: sum((r[f"b{k}"] << (16 * k)) for k in range(4))
        for r in votes.select(
            "doc_id",
            *[F.expr(dd._simhash_wide_band_sql(k, 16)).alias(f"b{k}") for k in range(4)],
        ).collect()
    }
    want = {}
    for x, y in itertools.combinations(sorted(fps), 2):
        ham = bin(fps[x] ^ fps[y]).count("1")
        if ham <= 3:
            want[(x, y)] = ham
    assert got == want


def test_q174_incremental_index_matches_full_recompute(spark, sf_dir):
    """q174's maintained-index path (build 90% -> bucketed self-join ->
    append 10% batch bands -> batch-vs-index probe) must reproduce q150's
    full-recompute pair set exactly — the maintenance contract."""
    from wikipediaetl_spark.operators.dedup import (
        q150_minhash_portable,
        q174_lsh_index_maintenance,
    )

    inc = sorted(map(tuple, q174_lsh_index_maintenance(spark, sf_dir).collect()))
    full = sorted(map(tuple, q150_minhash_portable(spark, sf_dir).collect()))
    assert inc == full and len(inc) > 0


def test_q180_incremental_index_matches_full_recompute(spark, sf_dir):
    """q180's maintained block index (build 90% -> bucketed self-join ->
    append 10% batch with precomputed norms -> batch-vs-index probe) must
    reproduce q131's full-recompute blocked near-dup pair set exactly —
    the maintenance contract, embedding-family edition."""
    from wikipediaetl_spark.operators.dedup import (
        q131_blocked_neardup,
        q180_semdedup_index_maintenance,
    )

    inc = sorted(map(tuple, q180_semdedup_index_maintenance(spark, sf_dir).collect()))
    full = sorted(map(tuple, q131_blocked_neardup(spark, sf_dir).collect()))
    assert inc == full and len(inc) > 0


def test_q174_failing_build_leaves_no_table(spark, sf_dir, monkeypatch):
    """A maintained-layout builder that raises after its saveAsTable must
    not leak its scratch table: neither the catalog entry nor the
    warehouse directory may outlive the failed call."""
    from pathlib import Path
    from urllib.parse import urlparse

    from wikipediaetl_spark.operators import dedup

    def boom(idx):
        raise RuntimeError("injected self-join failure")

    monkeypatch.setattr(dedup, "lsh_index_self_pairs", boom)
    with pytest.raises(RuntimeError, match="injected"):
        dedup.q174_lsh_index_maintenance(spark, sf_dir)
    assert not spark.catalog.tableExists("q174_lsh_band_index")
    wh = Path(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    assert not (wh / "q174_lsh_band_index").exists()


def test_q184_incremental_merge_unites_components(spark):
    """The case the fixture graph is too sparse to produce: one batch edge
    MERGING two existing multi-doc components (plus a brand-new pair and a
    late-entering node), applied through merge_pairs_into_cluster_ledger,
    must equal full connected components over the union of all edges —
    including the min-label flowing through the contracted label graph.
    A replay of the same batch_id must be a no-op."""
    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.relational_ext import (
        connected_components,
        merge_pairs_into_cluster_ledger,
    )

    table = "t_q184_synth_ledger"
    with scoped_tables(spark, table):
        base = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
        )
        connected_components(base).write.bucketBy(4, "doc_id").sortBy(
            "doc_id"
        ).saveAsTable(table)
        # (3,10) merges {1,2,3} with {10,11}; (20,21) is a fresh component;
        # (11,30) pulls a never-seen node into the merged component
        batch = spark.createDataFrame(
            [(3, 10), (20, 21), (11, 30)], "doc_a long, doc_b long"
        )
        merge_pairs_into_cluster_ledger(spark, batch, table, batch_id=1)
        got = sorted(map(tuple, spark.table(table).collect()))
        want = sorted(
            map(tuple, connected_components(base.unionByName(batch)).collect())
        )
        assert got == want
        assert {r for r in got if r[0] in (10, 11, 30)} == {(10, 1), (11, 1), (30, 1)}
        assert (20, 20) in got and (21, 20) in got
        # replay: watermark makes it a no-op (and must not corrupt labels)
        merge_pairs_into_cluster_ledger(spark, batch, table, batch_id=1)
        assert sorted(map(tuple, spark.table(table).collect())) == want


def test_q184_incremental_merge_batching_invariance(spark):
    """Property: for a random graph split into arbitrary edge batches, the
    chained incremental merges must produce the same ledger as one-shot
    connected components — the batching-invariance the q184/streaming-sink
    contract rests on. Random but seeded (permanent reproducers)."""
    import random

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.relational_ext import (
        connected_components,
        merge_pairs_into_cluster_ledger,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        nodes = list(range(40))
        edges = sorted(
            {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(30)
            }
        )
        rng.shuffle(edges)
        cut1, cut2 = rng.randint(1, len(edges) - 2), rng.randint(1, len(edges) - 2)
        lo, hi = min(cut1, cut2), max(cut1, cut2)
        parts = [edges[:lo], edges[lo:hi], edges[hi:]]
        table = f"t_q184_prop_{seed}"
        with scoped_tables(spark, table):
            spark.createDataFrame([], "doc_id long, cluster_id long").write.bucketBy(
                4, "doc_id"
            ).sortBy("doc_id").saveAsTable(table)
            for i, part in enumerate(parts):
                if not part:
                    continue
                merge_pairs_into_cluster_ledger(
                    spark,
                    spark.createDataFrame(part, "doc_a long, doc_b long"),
                    table,
                    batch_id=i,
                )
            want = sorted(
                map(
                    tuple,
                    connected_components(
                        spark.createDataFrame(edges, "doc_a long, doc_b long")
                    ).collect(),
                )
            )
            got = sorted(map(tuple, spark.table(table).collect()))
            assert got == want, f"seed {seed}: batched merge != one-shot CC"


def test_cluster_ledger_crash_window_recovers_not_bootstraps(spark):
    """ADVICE r9 (high): inside the drop→rename crash window the ledger
    table is ABSENT while the committed staging holds the full history. The
    streaming sink must recover the staging — NOT bootstrap an empty ledger
    that masks the recovery branch, resets the replay watermark, and lets
    the next merge drop the committed staging (total silent history loss).
    The direct merge entry point (ADVICE r9 medium) must likewise recover
    instead of raising table-not-found on its eager ledger read."""
    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.relational_ext import (
        cluster_ledger_sink,
        connected_components,
        merge_pairs_into_cluster_ledger,
    )

    table = "t_ledger_crashwin"
    with scoped_tables(spark, table):
        sink = cluster_ledger_sink(spark, table)
        b0 = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
        sink(b0, 0)
        want0 = sorted(map(tuple, spark.table(table).collect()))
        # simulate the crash between drop(table) and rename(staging→table): the
        # committed result (props ride the rename) sits in staging, main gone
        spark.sql(f"ALTER TABLE {table} RENAME TO {table}_staging")
        # sink path: redelivered batch 0 must recover + no-op, preserving history
        sink(b0, 0)
        assert sorted(map(tuple, spark.table(table).collect())) == want0
        # again crash, then the DIRECT merge path with a NEW batch: must recover
        # (not raise), keep history, and fold the new edge exactly once
        spark.sql(f"ALTER TABLE {table} RENAME TO {table}_staging")
        b1 = spark.createDataFrame([(3, 10)], "doc_a long, doc_b long")
        merge_pairs_into_cluster_ledger(spark, b1, table, batch_id=1)
        want1 = sorted(
            map(tuple, connected_components(b0.unionByName(b1)).collect())
        )
        assert sorted(map(tuple, spark.table(table).collect())) == want1


def test_connected_components_long_chain_converges(spark):
    """r11 regression: a >20-hop path graph. The propagation-only loop under
    the old silent max_rounds=20 cap returned NON-converged labels here
    (caught live by the combined-ingest twin check at sf0.01); pointer
    doubling converges in O(log diameter) rounds and non-convergence now
    raises instead of silently returning."""
    from wikipediaetl_spark.operators.relational_ext import connected_components

    n = 60  # one path component of diameter 59, plus a separate triangle
    edges = [(i, i + 1) for i in range(n - 1)] + [(1000, 1001), (1001, 1002),
                                                  (1000, 1002)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert all(got[i] == 0 for i in range(n))
    assert got[1000] == got[1001] == got[1002] == 1000


def test_connected_components_shallow_graph_converges_before_doubling(spark):
    """r12 (VERDICT r11 #2): the first ``hop_start`` rounds propagate only —
    a propagation fixed point is already full convergence — so shallow
    graphs (the near-dup common case) never pay the r11 per-round hop join.
    Pinned by running with max_rounds == 3 < hop_start: if convergence
    needed any doubling round, this would raise."""
    from wikipediaetl_spark.operators.relational_ext import connected_components

    # star (diameter 2) + an edge pair: propagation alone converges in 2
    # rounds; round 3 observes stability
    edges = [(0, i) for i in range(1, 8)] + [(100, 101)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, max_rounds=3, hop_start=4).collect()
    }
    assert all(got[i] == 0 for i in range(8))
    assert got[100] == got[101] == 100


def test_connected_components_hop_start_zero_matches_adaptive(spark):
    """The hop_start=0 arm (r11 always-double behavior, the A/B
    baseline recorded in OPTIMIZATION_r12.md) and the adaptive default produce
    identical labelings on a mixed shallow+deep graph."""
    from wikipediaetl_spark.operators.relational_ext import connected_components

    edges = [(i, i + 1) for i in range(24)] + [(500, 501), (501, 502)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    adaptive = sorted(map(tuple, connected_components(pairs).collect()))
    always = sorted(map(tuple, connected_components(pairs, hop_start=0).collect()))
    assert adaptive == always
    assert all(c == 0 for n, c in adaptive if n <= 24)


def test_connected_components_runs_one_job_per_checkpoint(spark, jobs_of, monkeypatch):
    """The per-round stability check rides the round's eager checkpoint (an
    Observation), so the loop launches exactly one job per checkpoint —
    none for the check — and the lazily seeded labels (one propagation
    step) launch none either. Same star graph as the shallow-graph test:
    the seed already holds its components, so one round observes
    stability."""
    from wikipediaetl_spark.operators.relational_ext import connected_components

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 8)] + [(100, 101)], "doc_a long, doc_b long"
    )
    cls, checkpoints = type(pairs), []
    real = cls.localCheckpoint

    def counted(self, *args, **kwargs):
        checkpoints.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counted)
    _, jobs = jobs_of(lambda: connected_components(pairs, max_rounds=3, hop_start=4))
    assert len(checkpoints) == 2  # edges, one round
    assert jobs == 2


def test_connected_components_raises_when_not_converged(spark):
    """Non-convergence raises instead of returning unconverged labels: one
    round cannot settle a 60-node chain."""
    from wikipediaetl_spark.operators.relational_ext import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(59)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(pairs, max_rounds=1)
