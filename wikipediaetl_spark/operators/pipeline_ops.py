"""Training-data pipeline operators (SURVEY.md §2.11 continuation).

The operations a 100 TB pretraining-data pipeline runs after crawl+extract:
benchmark decontamination, intra-document repetition detection, PII
redaction, deterministic stratified sampling (dataset mixing), and sequence
packing. All native expressions; all oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from wikipediaetl_spark.catalog import query
from wikipediaetl_spark.functions.fixedpoint import scaled_long
from wikipediaetl_spark.sources import load_table


def _trigram_occurrences(d: DataFrame) -> DataFrame:
    """(doc_id, trigram-hash) OCCURRENCES (not per-doc distinct), fully
    whole-stage-codegen'd: explode the position sequence, then hash the three
    words as a TOP-LEVEL ``xxhash64(w[i], w[i+1], w[i+2])`` expression.
    Measured 2.6x faster than the transform-lambda variant (5.9 s vs 15.4 s
    at 26M shingles) because higher-order-function lambdas evaluate
    interpreted per element while top-level expressions stay in codegen; the
    trigram also never exists as a string (8-byte key, no concat). Consumers
    that need per-doc-distinct semantics dedupe in their aggregate
    (count_distinct / collect_set) — cheap because they run AFTER the
    bench-shingle broadcast semi-join prunes the stream.

    Hash-collision budget: expected colliding trigram pairs is n^2/2^65 —
    ~1e-5 at 26M distinct shingles, and even at 1e12 (~100 TB) a few
    thousand merged df counts cannot move a >=5-overlap contamination
    decision. The SQL oracle keeps plain strings; outputs carry no shingle
    column, so results match."""
    return (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(1), F.size("w") - F.lit(2))).alias("i"),
        )
        .select(
            "doc_id",
            F.xxhash64(
                F.element_at("w", F.col("i")),
                F.element_at("w", F.col("i") + 1),
                F.element_at("w", F.col("i") + 2),
            ).alias("tok"),
        )
    )


def _bench_overlap(d: DataFrame, n_docs: int, bench_max_id: int = 50) -> DataFrame:
    """Contamination overlap counts (doc_id, bench_id, n_shared) — the
    100 TB-shaped plan: the corpus NEVER shuffles.

    1. The benchmark suite (doc_id < bench_max_id) is ~fixed-size; its
       distinct trigram-hash set is derived from a pushdown-pruned scan and
       broadcast.
    2. The full occurrence stream semi-joins that broadcast set in the same
       codegen stage as the trigram build — only bench-touching occurrences
       (a tiny fraction) ever reach an exchange.
    3. ONE aggregation over the survivors computes, per shingle: the
       per-doc-distinct document frequency (hot-shingle cap — shingles in
       more than half the docs carry no contamination signal), the distinct
       benchmark ids, and the distinct corpus ids.
    4. Pairs explode from those posting lists; each list row is one distinct
       shared shingle, so the pair count IS the distinct-shingle overlap.
    """
    tri = _trigram_occurrences(d)
    bench_set = _trigram_occurrences(d.filter(F.col("doc_id") < bench_max_id)).select(
        "tok"
    ).distinct()
    hits = tri.join(F.broadcast(bench_set), "tok")
    tok_stats = hits.groupBy("tok").agg(
        F.count_distinct("doc_id").alias("df"),
        F.collect_set(
            F.when(F.col("doc_id") < bench_max_id, F.col("doc_id"))
        ).alias("bench_ids"),
        F.collect_set(
            F.when(F.col("doc_id") >= bench_max_id, F.col("doc_id"))
        ).alias("corpus_ids"),
    )
    rel = tok_stats.filter(F.col("df") <= n_docs // 2)
    return (
        rel.select(F.explode("bench_ids").alias("bench_id"), "corpus_ids")
        .select("bench_id", F.explode("corpus_ids").alias("doc_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# Shared full-recompute oracle for benchmark decontamination: q86 computes it
# batch-style, q181 must reproduce it byte-for-byte from a maintained postings
# ledger (the q150/q174/q131/q180 oracle-sharing contract).
_Q86_ORACLE = """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tri AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS tok
      FROM words, unnest(range(1, len(w) - 1)) t(i)
    ),
    kept AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, tok, count(*) OVER (PARTITION BY tok) AS df FROM tri)
      WHERE df <= (SELECT count(*) FROM documents) // 2
    ),
    bench AS (SELECT doc_id AS bench_id, tok FROM kept WHERE doc_id < 50),
    corpus AS (SELECT doc_id, tok FROM kept WHERE doc_id >= 50),
    overlap AS (
      SELECT c.doc_id, b.bench_id, count(*) AS n_shared
      FROM corpus c JOIN bench b USING (tok)
      GROUP BY c.doc_id, b.bench_id
    )
    SELECT doc_id,
           arg_max(bench_id, n_shared * 10000000000 + bench_id) AS worst_benchmark,
           max(n_shared) AS max_shared
    FROM overlap
    WHERE n_shared >= 5
    GROUP BY doc_id
    """


@query("q86_decontamination", oracle=_Q86_ORACLE)
def q86_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing ≥5 distinct word
    3-grams with any held-out benchmark doc (doc_id < 50 plays the
    benchmark). The standard n-gram-overlap contamination check, as an
    inverted-index join on the shingle with a document-frequency cap on
    hot shingles — the benchmark side is small and effectively broadcasts;
    the corpus side never self-joins."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny action (count-only scan, no explode)
    overlap = _bench_overlap(d, n_docs)
    # integer-packed (n_shared, bench_id) tiebreak — cheaper than a formatted
    # string in the agg loop and identical on both engines (bench_id < 50)
    rank = F.col("n_shared") * F.lit(10_000_000_000) + F.col("bench_id")
    return (
        overlap.filter(F.col("n_shared") >= 5)
        .groupBy("doc_id")
        .agg(
            F.max_by("bench_id", rank).alias("worst_benchmark"),
            F.max("n_shared").alias("max_shared"),
        )
    )


def decontam_ledger_serve(
    postings: DataFrame, df_tbl: DataFrame, n_docs: int, bench_max_id: int = 50
) -> DataFrame:
    """Serve the q86 contamination answer from the maintained ledger —
    O(bench-touching postings) per serve, zero corpus re-tokenization:

    1. The benchmark trigram set comes from a pushdown-pruned postings scan
       (doc_id < bench_max_id) and broadcasts — q86's discipline, but over
       stored postings instead of a fresh explode of the corpus text.
    2. Both the postings probe and the df probe semi-join that broadcast
       set in the scan stage; the ledger sides never shuffle.
    3. The df cap joins postings⋈df on tok — BOTH tables are tok-bucketed
       with the same bucket count, so the join is exchange-free
       (plan-asserted by tests/test_plans.py).
    4. The overlap count is one aggregation over the survivors; postings
       are per-doc DISTINCT, so count(*) per (doc, bench) IS the distinct
       shared-shingle overlap.
    """
    bench_toks = (
        postings.filter(F.col("doc_id") < bench_max_id).select("tok").distinct()
    )
    hits = postings.join(F.broadcast(bench_toks), "tok")
    dfh = df_tbl.join(F.broadcast(bench_toks), "tok")
    kept = hits.join(dfh, "tok").filter(F.col("df") <= n_docs // 2)
    bench = kept.filter(F.col("doc_id") < bench_max_id).select(
        F.col("doc_id").alias("bench_id"), "tok"
    )
    overlap = (
        kept.filter(F.col("doc_id") >= bench_max_id)
        .join(F.broadcast(bench), "tok")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    rank = F.col("n_shared") * F.lit(10_000_000_000) + F.col("bench_id")
    return (
        overlap.filter(F.col("n_shared") >= 5)
        .groupBy("doc_id")
        .agg(
            F.max_by("bench_id", rank).alias("worst_benchmark"),
            F.max("n_shared").alias("max_shared"),
        )
    )


@query("q181_decontam_ledger_maintenance", oracle=_Q86_ORACLE)
def q181_decontam_ledger_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-MAINTAINED decontamination ledger — the q174/q177/q180
    append-only-index discipline applied to benchmark decontamination. At
    100 TB the corpus cannot be re-tokenized per contamination audit (every
    new benchmark suite, every eval refresh triggers one); the maintained
    structure is the corpus's distinct trigram POSTINGS (doc_id, tok) plus
    a per-tok document-frequency ROLLUP:

    - postings are pure APPEND under doc ingest (per-doc-distinct rows of
      new docs are additive; history never changes) — stored bucketed by
      tok, so every probe and the df join reuse the layout;
    - df is associative-sum mergeable (per-doc-distinct rows over disjoint
      doc sets) — maintained through merge_batch_into_keyed_rollup, the
      q170-q173 staged-swap machinery, replay-safe batch-id stamped;
    - the corpus doc COUNT rides the same keyed-rollup merge as a
      single-row grain — the global statistic the df cap needs.

    The design point the docstring exists to state: the df CAP
    (df ≤ n_docs/2) is a GLOBAL statistic that changes retroactively as the
    corpus grows, so it must live OUTSIDE the append-only ledger and be
    applied at serve time from the maintained df/count tables — bake it
    into the postings and every ingest batch invalidates history.

    In-query exercise: documents split 90/10 on the deterministic doc_id
    hash; the 90% bootstrap all three tables; the 10% batch appends
    postings (trigrams computed for ITS rows only, O(batch tokens)) and
    merges df/count partials; the serve (decontam_ledger_serve) is
    hash-verified against q86's FULL-RECOMPUTE oracle. Trigram keys are
    xxhash64 like q86 (collision budget in _trigram_occurrences); the
    output carries no shingle column, so results match the string oracle.
    The one collect is the 1-row stats table (bounded, documented).
    Extends the reference's planned 'Filter (validate content)' stage
    (README.md:24) to the eval-leakage audit a pretraining pipeline runs."""
    from wikipediaetl_spark.operators.layout import (
        append_batch_to_layout,
        merge_batch_into_keyed_rollup,
        scoped_tables,
    )

    post_t = "q181_trigram_postings"
    df_t = "q181_trigram_df"
    st_t = "q181_corpus_stats"
    with scoped_tables(spark, post_t, df_t, st_t):
        d = load_table(spark, sf_dir, "documents")
        is_batch = F.pmod(F.col("doc_id") * 31 + 7, F.lit(10)) == 3
        base_post = _trigram_occurrences(d.filter(~is_batch)).distinct()
        append_batch_to_layout(spark, base_post, post_t, bucket_key="tok", batch_id=0)
        # df bootstrap from the STORED postings: tok-bucketed scan → the groupBy
        # is exchange-free; count(*) = distinct-doc df because postings are
        # per-doc distinct
        (
            spark.table(post_t)
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .write.bucketBy(8, "tok")
            .sortBy("tok")
            .saveAsTable(df_t)
        )
        (
            d.filter(~is_batch)
            .select(F.lit(0).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .write.bucketBy(1, "k")
            .sortBy("k")
            .saveAsTable(st_t)
        )
        # ingest batch: trigrams for ITS docs only — postings append keeps the
        # bucket layout; df/count partials merge through the staged-swap path
        batch_post = (
            _trigram_occurrences(d.filter(is_batch)).distinct().localCheckpoint(eager=True)
        )
        # replay-gated append (ADVICE r9: a bare mode('append') here would
        # double-append postings on redelivery while the df merge no-ops)
        append_batch_to_layout(spark, batch_post, post_t, bucket_key="tok", batch_id=1)
        merge_batch_into_keyed_rollup(
            spark,
            batch_post.groupBy("tok").agg(F.count(F.lit(1)).alias("df")),
            df_t,
            keys=["tok"],
            merge_aggs=[F.sum("df").alias("df")],
            bucket_key="tok",
            batch_id=1,
        )
        merge_batch_into_keyed_rollup(
            spark,
            d.filter(is_batch)
            .select(F.lit(0).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_docs")),
            st_t,
            keys=["k"],
            merge_aggs=[F.sum("n_docs").alias("n_docs")],
            bucket_key="k",
            n_buckets=1,
            batch_id=1,
        )
        stat_rows = spark.table(st_t).collect()  # bounded: ≤1 stats row
        # empty corpus → the count rollup has no grain row; serve with n_docs=0
        # (df cap 0 keeps nothing, result is the empty ledger answer)
        n_docs = stat_rows[0]["n_docs"] if stat_rows else 0
        return decontam_ledger_serve(
            spark.table(post_t), spark.table(df_t), int(n_docs)
        ).localCheckpoint(eager=True)


def decontam_ledger_sink(spark: SparkSession, post_t: str, df_t: str, st_t: str):
    """Streaming maintenance for the decontamination ledger (VERDICT r9 #5's
    discipline extended to q181's three tables):
    ``docs.writeStream.foreachBatch(decontam_ledger_sink(spark, post_t,
    df_t, st_t))`` folds each micro-batch of (doc_id, text) rows into the
    trigram postings (replay-gated append), the per-tok df rollup, and the
    1-row corpus count (both staged-swap keyed merges) — all stamped with
    the micro-batch id, so a redelivered batch is a no-op on every table.
    Per-doc-distinct trigram rows over disjoint doc sets are additive, so
    the final ledger is invariant to stream batching (asserted by the
    streaming test). A crash between the three steps leaves the later
    tables one batch behind; redelivery no-ops the completed steps and
    finishes the rest — the same pairwise-reconvergence argument as
    ``bm25_index_sink``. The serve path (``decontam_ledger_serve``) reads
    the df cap from the maintained tables at query time, so it is always
    consistent as-of the last completed batch. Delegates the recover→apply
    shape to ``maintained_layout_sink`` (VERDICT r10 #4)."""
    from wikipediaetl_spark.operators.layout import (
        append_batch_to_layout,
        maintained_layout_sink,
        merge_batch_into_keyed_rollup,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        post = _trigram_occurrences(batch).distinct().localCheckpoint(eager=True)
        append_batch_to_layout(spark, post, post_t, bucket_key="tok", batch_id=batch_id)
        merge_batch_into_keyed_rollup(
            spark,
            post.groupBy("tok").agg(F.count(F.lit(1)).alias("df")),
            df_t,
            keys=["tok"],
            merge_aggs=[F.sum("df").alias("df")],
            bucket_key="tok",
            batch_id=batch_id,
        )
        merge_batch_into_keyed_rollup(
            spark,
            batch.select(F.lit(0).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_docs")),
            st_t,
            keys=["k"],
            merge_aggs=[F.sum("n_docs").alias("n_docs")],
            bucket_key="k",
            n_buckets=1,
            batch_id=batch_id,
        )

    return maintained_layout_sink(
        spark, apply_batch, recover_tables=[post_t, df_t, st_t]
    )


@query(
    "q87_repetition",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bi AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] AS tok
      FROM words, unnest(range(1, len(w))) t(i)
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           count(DISTINCT tok) AS n_distinct,
           1.0 - count(DISTINCT tok) * 1.0 / count(*) AS rep_ratio
    FROM bi
    GROUP BY doc_id
    """,
)
def q87_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style filter signal): fraction of
    repeated word bigrams. High rep_ratio = boilerplate/spam candidate.

    Shuffle-free: repetition is a per-document property, so instead of
    explode → groupBy(doc_id) → countDistinct (which shuffles every bigram
    and doubles the agg input via the distinct Expand), the bigram array is
    built and deduplicated inside the row (array_distinct). The plan is a
    single narrow projection — embarrassingly parallel at any scale, state
    bounded by the longest document, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("w")).filter(F.size("w") >= 2)
    bg = F.expr(
        "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    bi = w.select("doc_id", bg.alias("bg"))
    n_bi = F.size("bg").cast("long")
    n_di = F.size(F.array_distinct("bg")).cast("long")
    return bi.select(
        "doc_id",
        n_bi.alias("n_bigrams"),
        n_di.alias("n_distinct"),
        (1.0 - n_di * 1.0 / n_bi).alias("rep_ratio"),
    )


@query(
    "q88_pii_redaction",
    oracle="""
    WITH enriched AS (
      SELECT doc_id,
             concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                    '@example.com or +1-555-', lpad(CAST(doc_id AS VARCHAR), 4, '0'))
               AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(raw,
             '[a-zA-Z0-9._-]+@[a-zA-Z0-9.-]+', '[EMAIL]', 'g'),
             '\\+?[0-9][0-9-]{7,}', '[PHONE]', 'g') AS redacted
    FROM enriched
    """,
)
def q88_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email/phone regex redaction over synthetically enriched
    text — the pattern-redaction stage of a data-cleaning pipeline as pure
    regexp_replace (codegen, pushdown-safe).

    r12 (guide §4 "stay on the JVM", VERDICT r11 #6 — the per-row
    Java-regex floor attacked with literal-anchored prefilters): the two
    regexes are gated so the expensive per-char regex walk only runs where
    a cheap vectorized substring scan says a match is possible, and the
    long document body and the short synthetic contact suffix redact
    SEPARATELY so the regexes never re-walk the body just to hit the
    suffix. Exactness (any input, not just the fixture):
    - the email pattern requires a literal '@' and the phone pattern a
      leading [0-9], so ``contains('@')`` / contains-any-digit gates can
      never drop a real match — a failed gate means zero matches and the
      untouched value IS regexp_replace's output;
    - the split at the body/suffix boundary is exact because the suffix
      starts with a space and neither pattern can match a space, so no
      match spans the boundary; '[EMAIL]' introduces no digits, so the
      phone pass composes per-half too.
    Measured within-run at 400× (OPTIMIZATION_r12.md): the body's gate
    hit-rate is 0% on the fixture (no '@', no digits in document text), so
    the body pays two substring scans instead of two full regex wallks."""
    d = load_table(spark, sf_dir, "documents")
    suffix = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )

    def redact(col: Column) -> Column:
        has_digit = F.lit(False)
        for ch in "0123456789":
            has_digit = has_digit | col.contains(ch)
        emailed = F.when(
            col.contains("@"),
            F.regexp_replace(col, r"[a-zA-Z0-9._-]+@[a-zA-Z0-9.-]+", "[EMAIL]"),
        ).otherwise(col)
        # gate evaluated on the pre-email value: emailed's characters are a
        # subset of col's plus '[EMAIL]' (digit-free), so digit-in-emailed
        # ⇒ digit-in-col ⇒ gate passes; a gate that passes with no digit
        # left only costs a wasted regex pass, never a missed match
        return F.when(
            has_digit, F.regexp_replace(emailed, r"\+?[0-9][0-9-]{7,}", "[PHONE]")
        ).otherwise(emailed)

    redacted = F.concat(
        redact(F.col("text")),
        # the suffix always contains '@' and digits by construction: no gate
        F.regexp_replace(
            F.regexp_replace(suffix, r"[a-zA-Z0-9._-]+@[a-zA-Z0-9.-]+", "[EMAIL]"),
            r"\+?[0-9][0-9-]{7,}",
            "[PHONE]",
        ),
    )
    return d.select("doc_id", redacted.alias("redacted"))


SAMPLE_RATES = {"en": 50, "de": 20, "es": 10, "fr": 10, "zh": 10}

_RATES_SQL = " ".join(
    f"WHEN '{lang}' THEN {rate}" for lang, rate in sorted(SAMPLE_RATES.items())
)


@query(
    "q89_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE (doc_id * 2654435761) % 100 <
          CASE lang {_RATES_SQL} ELSE 0 END
    """,
)
def q89_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the dataset-mixing step: per-lang
    keep rates applied via a Knuth-hash of the stable id, so the sample is
    reproducible across runs/engines/partitionings (unlike rand())."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.lit(0)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    keep = (F.col("doc_id") * 2654435761) % 100 < rate
    return d.filter(keep).select("doc_id", "lang")


@query(
    "q151_content_hash_sample",
    oracle="""
    SELECT lang,
           count(*) AS n_sampled,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM documents
    WHERE substr(md5('s1|' || text), 1, 4) < '2900'
    GROUP BY lang
    """,
)
def q151_content_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed consistent sampling: keep a doc iff the first 16 bits of
    md5(seed || text) fall under a threshold (0x2900/0x10000 ≈ 16%). Keyed on
    content rather than id, the decision survives re-crawls, re-sharding and
    id reassignment, and exact duplicates sample identically — the
    reproducible-subsample primitive for ablation corpora. Pure narrow
    projection + filter + partial agg: no shuffle of document bodies, and the
    lexicographic hex comparison makes the identical decision in any engine
    (both sides emit lowercase hex; binary collation)."""
    d = load_table(spark, sf_dir, "documents")
    keep = F.substring(F.md5(F.concat(F.lit("s1|"), F.col("text"))), 1, 4) < "2900"
    return (
        d.filter(keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@query(
    "q90_sequence_packing",
    oracle="""
    WITH sized AS (
      SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 2048) AS BIGINT) AS pack_id
    FROM sized
    """,
)
def q90_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to fixed token-budget packs (2048) per
    language via a running-sum window on the stable doc order — the
    deterministic, distributed approximation of greedy packing used to batch
    pretraining sequences."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pack = F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048).cast("long")
    return sized.select("doc_id", "lang", "n_tokens", pack.alias("pack_id"))


@query(
    "q109_dedup_decision",
    oracle="""
    WITH RECURSIVE words AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE doc_id < 200
    ),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS tok
      FROM words, unnest(range(1, len(w))) t(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    clusters AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
    removed AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    SELECT d.lang,
           count(*) FILTER (removed.doc_id IS NULL) AS n_kept,
           count(*) FILTER (removed.doc_id IS NOT NULL) AS n_removed
    FROM documents d LEFT JOIN removed ON d.doc_id = removed.doc_id
    WHERE d.doc_id < 200
    GROUP BY d.lang
    """,
)
def q109_dedup_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE dedup decision: shingle-Jaccard pairs → connected components
    → drop non-representative members → per-lang kept/removed accounting.
    The complete near-dup removal a pretraining corpus goes through, as one
    composed plan over the operators already proven individually (q53 +
    q83)."""
    from wikipediaetl_spark.operators.dedup import q53_shingle_neardup
    from wikipediaetl_spark.operators.relational_ext import connected_components

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = q53_shingle_neardup(spark, sf_dir).select("doc_a", "doc_b")
    comps = connected_components(pairs)
    removed = comps.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        d.join(removed.withColumn("is_removed", F.lit(True)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count_if(F.col("is_removed").isNull()).alias("n_kept"),
            F.count_if(F.col("is_removed").isNotNull()).alias("n_removed"),
        )
    )


@query(
    "q120_train_val_test_split",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, lang,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, count(*) AS n_docs
    FROM assigned GROUP BY split, lang
    """,
)
def q120_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment via stable-id hash
    ranges — reproducible across engines, partitionings and reruns (the
    property rand()-based splits lack), with per-split/lang accounting."""
    d = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * 2654435761) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias("split")
    )
    return d.select(split, "lang").groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "q121_chunking",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 100
    ),
    chunks AS (
      SELECT doc_id,
             CAST((start - 1) / 25 AS INTEGER) AS chunk_idx,
             array_to_string(w[start:start + 49], ' ') AS chunk_text
      FROM words,
           LATERAL (SELECT unnest(range(1, greatest(len(w) - 25, 1) + 1, 25)) AS start)
    )
    SELECT doc_id, chunk_idx, chunk_text FROM chunks
    """,
)
def q121_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: overlapping 50-token windows with stride 25 — the
    sequence-windowing step before tokenization/packing. Offsets generated
    with sequence(), chunks sliced natively; one explode, no UDF."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    w = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(w) - 25, F.lit(1)), F.lit(25)
    )
    return (
        d.select("doc_id", w.alias("w"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (((F.col("start") - 1) / 25).cast("int")).alias("chunk_idx"),
            F.array_join(F.slice(F.col("w"), F.col("start"), 50), " ").alias("chunk_text"),
        )
    )


@query(
    "q139_data_mixing",
    oracle="""
    WITH counts AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
    mn AS (SELECT min(cnt) AS mn FROM counts),
    rates AS (
      SELECT source, cnt, sqrt(CAST(mn AS DOUBLE) / cnt) AS keep_rate
      FROM counts, mn
    ),
    kept AS (
      SELECT d.source
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE CAST((d.doc_id * 2654435761) % 1000000 AS DOUBLE) < r.keep_rate * 1000000
    )
    SELECT r.source, r.cnt AS n_total,
           (SELECT count(*) FROM kept k WHERE k.source = r.source) AS n_kept,
           r.keep_rate
    FROM rates r
    """,
)
def q139_data_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted data mixing (the multinomial source-sampling
    step of LLM pretraining pipelines, temperature α=0.5): source s with
    corpus share p_s is down-sampled at rate √(p_min/p_s), flattening the
    source distribution toward p_s^α without ever up-weighting the rarest
    source past 1.0.

    Sampling is a DETERMINISTIC hash gate — keep iff
    (doc_id·2654435761) mod 1e6 < rate·1e6 — so the decision is
    engine-identical (Knuth multiplicative hash on integers; √ is
    IEEE-correctly-rounded on both engines) and reproducible under any
    partitioning: no rand(), no seed drift across retries/stragglers, the
    property a 100 TB sampling job needs. One count aggregate + a broadcast
    of the tiny per-source rate table; the corpus is filtered in a single
    pass."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("mn"))
    rates = counts.join(F.broadcast(mn)).select(
        "source",
        "cnt",
        F.sqrt(F.col("mn").cast("double") / F.col("cnt")).alias("keep_rate"),
    )
    gate = ((F.col("doc_id") * F.lit(2654435761)) % 1000000).cast("double")
    kept = (
        d.join(F.broadcast(rates), "source")
        .filter(gate < F.col("keep_rate") * 1000000)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(kept, "source", "left").select(
        "source",
        F.col("cnt").alias("n_total"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        "keep_rate",
    )


@query(
    "q148_pipeline_capstone",
    oracle="""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id >= 50),
    feats AS (
      SELECT doc_id, lang, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             string_split(text, ' ') AS w
      FROM corpus
    ),
    q AS (
      SELECT doc_id, lang, text, n_tokens,
             (n_tokens BETWEEN 30 AND 5000
              AND len(list_distinct(w)) * 1.0 / n_tokens >= 0.2
              AND len(list_filter(w, t -> list_contains(['the','a','and','of','to'], t)))
                  * 1.0 / n_tokens >= 0.02) AS q_ok
      FROM feats
    ),
    reps AS (
      SELECT min(doc_id) AS doc_id FROM q WHERE q_ok GROUP BY lower(trim(text))
    ),
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tri AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS tok
      FROM words, unnest(range(1, len(w) - 1)) t(i)
    ),
    kept AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, tok, count(*) OVER (PARTITION BY tok) AS df FROM tri)
      WHERE df <= (SELECT count(*) FROM documents) // 2
    ),
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, tok FROM kept WHERE doc_id >= 50) c
      JOIN (SELECT doc_id AS bench_id, tok FROM kept WHERE doc_id < 50) b USING (tok)
      GROUP BY c.doc_id, b.bench_id
      HAVING count(*) >= 5
    ),
    status AS (
      SELECT q.doc_id, q.lang, q.n_tokens, q.q_ok,
             q.doc_id IN (SELECT doc_id FROM reps) AS is_rep,
             q.doc_id NOT IN (SELECT doc_id FROM contaminated) AS clean
      FROM q
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (q_ok) AS BIGINT) AS n_quality,
           CAST(count(*) FILTER (q_ok AND is_rep) AS BIGINT) AS n_unique,
           CAST(count(*) FILTER (q_ok AND is_rep AND clean) AS BIGINT) AS n_final,
           CAST(coalesce(sum(n_tokens) FILTER (q_ok AND is_rep AND clean), 0) AS BIGINT)
             AS tokens_final
    FROM status GROUP BY lang
    """,
)
def q148_pipeline_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE: the full training-data curation funnel as ONE declarative
    plan — Gopher-style quality gate → exact dedup among survivors →
    benchmark decontamination — reported as a per-language funnel (docs in,
    after quality, after dedup, after decontamination, final token budget).
    This is the query a dataset curator actually ships; every stage is a
    column predicate or keyed join, so Catalyst fuses the funnel into one
    DAG with no driver round-trips between stages.

    Scale shape: quality bits are in-row (q142's expressions); dedup is one
    hash agg on the normalized-text key carrying min(doc_id); the decontam
    flag reuses q86's capped inverted-index join (bench side broadcast);
    final funnel counts are conditional aggregates (q76's shape) — integer
    outputs end-to-end, no float parity surface at all."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= 50)
    w = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in ("the", "a", "and", "of", "to")])
    n = F.size(w).cast("long")
    q_ok = (
        n.between(30, 5000)
        & (F.size(F.array_distinct(w)) * 1.0 / n >= 0.2)
        & (F.size(F.filter(w, lambda t: F.array_contains(stop_arr, t))) * 1.0 / n >= 0.02)
    )
    q = corpus.select("doc_id", "lang", "text", n.alias("n_tokens"), q_ok.alias("q_ok"))
    # dedup key = sha256 of the normalized text (q51's content key): the
    # exchange carries 32-byte digests instead of full document bodies
    reps = (
        q.filter("q_ok")
        .groupBy(F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("nt"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .withColumn("is_rep", F.lit(True))
    )
    # decontamination flags: q86's bench-broadcast overlap chain — the
    # corpus-side trigram stream never shuffles (see _bench_overlap)
    n_docs = d.count()
    contaminated = (
        _bench_overlap(d, n_docs)
        .filter(F.col("n_shared") >= 5)
        .select("doc_id")
        .distinct()
        .withColumn("dirty", F.lit(True))
    )
    status = (
        q.join(reps, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .select(
            "lang",
            "n_tokens",
            "q_ok",
            F.coalesce("is_rep", F.lit(False)).alias("is_rep"),
            F.col("dirty").isNull().alias("clean"),
        )
    )
    final = F.col("q_ok") & F.col("is_rep") & F.col("clean")
    return status.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(F.col("q_ok")).cast("long").alias("n_quality"),
        F.count_if(F.col("q_ok") & F.col("is_rep")).cast("long").alias("n_unique"),
        F.count_if(final).cast("long").alias("n_final"),
        F.coalesce(F.sum(F.when(final, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("tokens_final"),
    )


# Shared full-recompute oracle for DSIR selection: q183 computes it
# batch-style, q185 must reproduce it byte-for-byte from maintained
# histogram + bucket-count layouts (the q86/q181, q83/q184 contract).
_Q183_ORACLE = """
    WITH toks AS (
      SELECT doc_id, lang,
             (ascii(substr(tok, 1, 1)) * 31 + len(tok)) % 64 AS b
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> ''
    ),
    tgt AS (
      SELECT b, CAST(count(*) AS BIGINT) AS ct
      FROM toks WHERE lang = 'en' GROUP BY b
    ),
    src AS (SELECT b, CAST(count(*) AS BIGINT) AS cs FROM toks GROUP BY b),
    tot AS (
      SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt,
             CAST(count(*) AS BIGINT) AS ts
      FROM toks
    ),
    lr AS (
      SELECT s.b,
             CAST(floor(
               ln(CAST((COALESCE(t.ct, 0) + 1) * (tot.ts + 64) AS DOUBLE)
                  / CAST((s.cs + 1) * (tot.tt + 64) AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS lr_u
      FROM src s LEFT JOIN tgt t USING (b) CROSS JOIN tot
    ),
    hist AS (
      SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
      FROM toks GROUP BY doc_id, b
    ),
    wts AS (
      SELECT doc_id, CAST(sum(n * lr_u) AS BIGINT) AS weight_micro
      FROM hist JOIN lr USING (b) GROUP BY doc_id
    )
    SELECT doc_id, weight_micro, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY weight_micro DESC, doc_id ASC) AS rnk
      FROM wts
    ) WHERE rnk <= 100
    """


@query("q183_dsir_importance_selection", oracle=_Q183_ORACLE)
def q183_dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every corpus document
    by the log importance ratio of a TARGET distribution over a SOURCE
    distribution, both estimated as Laplace-smoothed hashed-unigram bag
    models, and keep the top-k. The target here is the fixture's 'en' slice
    (the "looks like my high-quality corpus" proxy); the source is the whole
    corpus — exactly the framing DSIR uses with Wikipedia/books as target
    and Common Crawl as source.

    log w(doc) = Σ_tok [ log p_tgt(b(tok)) − log p_src(b(tok)) ] with
    b(tok) a 64-bucket feature hash. Deterministic + portable by the q144/
    q179 recipe: the per-bucket log-ratio quantizes ONCE to integer
    micro-nats — ln of a ratio of exactly-representable integer-valued
    doubles ((ct+1)(ts+64)) / ((cs+1)(tt+64)), products < 2^53 up to ~10^8
    tokens per side (re-derive the scaling beyond) — and each document's
    weight is then an exact BIGINT dot product of its bucket histogram with
    the 64-row ratio table, order-independent under any partitioning. The
    bucket hash is arithmetic (first-char codepoint ×31 + length, mod 64)
    so both engines compute it natively; selection ranks by (weight desc,
    doc_id asc), a pure top-k.

    Scale shape: one token-stream aggregation to the (doc, bucket)
    histogram grain (map-side partials absorb the explode), a BROADCAST of
    the 64-row ratio table onto it, one doc-grain sum, and a WindowGroupLimit
    top-k — no self-joins, no collect. The ratio table is the only global
    state and it is O(buckets), not O(corpus): at 100 TB the target/source
    estimation pass is the same single scan, and scoring any new ingest
    batch reuses the frozen ratio table as a broadcast (the DSIR paper's
    own two-phase structure). Extends the reference's planned quality-filter
    stage (README.md:24) to distribution-targeted selection."""
    toks = _dsir_buckets(load_table(spark, sf_dir, "documents"))
    hist = toks.groupBy("doc_id", "b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    counts = toks.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("ct"),
        F.count(F.lit(1)).cast("long").alias("cs"),
    )
    return dsir_serve(hist, counts)


def _dsir_buckets(d: DataFrame) -> DataFrame:
    """(doc_id, lang, b): the hashed-unigram feature stream — one narrow
    explode + arithmetic bucket, the only pass that ever touches text."""
    return (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            "lang",
            F.pmod(
                F.ascii(F.substring("tok", 1, 1)) * 31 + F.length("tok"), F.lit(64)
            ).alias("b"),
        )
    )


def _dsir_hist_of(docs: DataFrame) -> DataFrame:
    """Per-doc bucket histograms — the shared tokenize path of q185's batch
    build and the streaming sink."""
    return (
        _dsir_buckets(docs)
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _dsir_counts_of(docs: DataFrame) -> DataFrame:
    return _dsir_buckets(docs).groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("ct"),
        F.count(F.lit(1)).cast("long").alias("cs"),
    )


def dsir_layout_sink(spark: SparkSession, hist_t: str, counts_t: str):
    """Streaming maintenance for the DSIR layouts (VERDICT r9 #5's
    discipline extended to q185): each micro-batch of (doc_id, lang, text)
    rows appends its per-doc bucket histograms (replay-gated) and merges
    its 64-row bucket-count partials (staged-swap keyed rollup), both
    stamped with the micro-batch id. Histogram rows are per-doc and bucket
    counts associative sums, so the layouts are batching-invariant; the
    globally-retroactive weights stay OUT of storage and are recomputed
    O(buckets) at serve (``dsir_serve``) — always consistent as-of the
    last completed batch. Delegates the recover→apply shape to
    ``maintained_layout_sink`` (VERDICT r10 #4)."""
    from wikipediaetl_spark.operators.layout import (
        append_batch_to_layout,
        maintained_layout_sink,
        merge_batch_into_keyed_rollup,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        append_batch_to_layout(
            spark, _dsir_hist_of(batch), hist_t, bucket_key="doc_id",
            batch_id=batch_id,
        )
        merge_batch_into_keyed_rollup(
            spark,
            _dsir_counts_of(batch),
            counts_t,
            keys=["b"],
            merge_aggs=[
                F.sum("ct").cast("long").alias("ct"),
                F.sum("cs").cast("long").alias("cs"),
            ],
            bucket_key="b",
            batch_id=batch_id,
        )

    return maintained_layout_sink(spark, apply_batch, recover_tables=[hist_t, counts_t])


def dsir_serve(hist: DataFrame, counts: DataFrame) -> DataFrame:
    """DSIR selection from the two layouts alone (q183's algebra, factored
    for q185 and plan-assertion): the 64-row (b, ct, cs) bucket-count table
    yields the corpus totals by its OWN O(buckets) aggregate (tt = Σct,
    ts = Σcs — no separate totals state), quantizes the per-bucket
    log-ratio to integer micro-nats, and BROADCASTS onto the stored
    histograms; the doc-grain exact BIGINT sum rides the histogram table's
    doc_id bucketing (exchange-free when hist is a bucketed layout), and
    the top-k is a WindowGroupLimit. Exactness argument in q183's
    docstring; this function is the shared serve path that makes
    q183 ≡ q185 by construction."""
    tot = counts.agg(
        F.sum("ct").cast("long").alias("tt"), F.sum("cs").cast("long").alias("ts")
    )
    lr_u = scaled_long(
        F.log(
            ((F.col("ct") + 1) * (F.col("ts") + 64)).cast("double")
            / ((F.col("cs") + 1) * (F.col("tt") + 64)).cast("double")
        ),
        1_000_000,
    )
    lr = counts.crossJoin(F.broadcast(tot)).select("b", lr_u.alias("lr_u"))
    wts = (
        hist.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("lr_u")).cast("long").alias("weight_micro"))
    )
    w = W.orderBy(F.col("weight_micro").desc(), F.col("doc_id").asc())
    return (
        wts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 100)
        .select("doc_id", "weight_micro", "rnk")
    )


@query("q185_dsir_layout_maintenance", oracle=_Q183_ORACLE)
def q185_dsir_layout_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-MAINTAINED DSIR selection layouts — the maintained-index
    discipline (q174/q177-q181/q184) applied to distribution-targeted data
    selection. The design point mirrors q181's df cap: DSIR's importance
    weights are GLOBALLY RETROACTIVE — every ingest batch shifts p_src (and
    possibly p_tgt), re-weighting ALL history — so weights must never be
    baked into storage. What IS stored is exactly the invariant part:

    - HIST (doc_id, b, n), the per-doc bucket histograms — pure APPEND
      under doc ingest (a new doc's rows touch nothing), bucketed by
      doc_id so the serve-time doc-grain sum is exchange-free; maintained
      through ``append_batch_to_layout`` so the append side carries the
      SAME replay watermark as the paired rollup (ADVICE r9: a bare
      mode('append') would double-append on foreachBatch redelivery while
      the counts merge no-ops — silently corrupting served selections);
    - BUCKET COUNTS (b, ct, cs), a 64-row keyed rollup with associative
      sum merge — maintained through merge_batch_into_keyed_rollup
      (staged-swap, replay-safe batch-id stamped).

    The serve (``dsir_serve``) recomputes the O(buckets) ratio table from
    the rollup and broadcasts it over the stored histograms — always
    consistent as-of the last append, zero text re-tokenization, O(corpus
    histogram) per selection sweep instead of O(corpus tokens). In-query
    exercise: documents split 90/10 on a deterministic doc_id hash, both
    layouts bootstrapped from the 90%, the batch appended/merged through
    the same bucket path, and the selection hash-verified against q183's
    FULL-RECOMPUTE oracle. Reference tie: the reference plans a 'Filter
    (validate content)' stage it never builds (README.md:24); q183/q185
    are that stage grown into distribution-targeted selection at corpus
    scale."""
    from wikipediaetl_spark.operators.layout import (
        append_batch_to_layout,
        merge_batch_into_keyed_rollup,
        scoped_tables,
    )

    ht, ct_t = "q185_dsir_hist", "q185_dsir_bucket_counts"
    with scoped_tables(spark, ht, ct_t):
        d = load_table(spark, sf_dir, "documents")
        is_batch = F.pmod(F.col("doc_id") * 17 + 3, F.lit(10)) == 6

        base, batch = d.filter(~is_batch), d.filter(is_batch)
        append_batch_to_layout(
            spark, _dsir_hist_of(base), ht, bucket_key="doc_id", batch_id=0
        )
        _dsir_counts_of(base).write.bucketBy(8, "b").sortBy("b").saveAsTable(ct_t)
        # append-only histogram maintenance: O(batch tokens), layout preserved,
        # replay-gated on the same batch stamp as the counts rollup below
        append_batch_to_layout(
            spark, _dsir_hist_of(batch), ht, bucket_key="doc_id", batch_id=1
        )
        merge_batch_into_keyed_rollup(
            spark,
            _dsir_counts_of(batch),
            ct_t,
            keys=["b"],
            merge_aggs=[
                F.sum("ct").cast("long").alias("ct"),
                F.sum("cs").cast("long").alias("cs"),
            ],
            bucket_key="b",
            batch_id=1,
        )
        return dsir_serve(spark.table(ht), spark.table(ct_t)).localCheckpoint(eager=True)


# ------------------------------------------------- streaming curation capstone


def curation_sink(
    spark: SparkSession, bench_set: DataFrame, ledger_t: str, accepted_t: str
):
    """The ingest-time curation funnel as ONE foreachBatch sink — the r10
    capstone composing the maintained structures under streaming delivery:
    ``docs.writeStream.foreachBatch(curation_sink(spark, bench_set, led,
    acc))``. Per micro-batch of (doc_id, text) rows:

    1. QUALITY gate — word count >= 20 (JVM-side size/split, no UDF);
    2. CONTAMINATION gate — >= 5 distinct trigrams shared with the
       broadcast benchmark shingle set (q86's plan shape per batch: the
       batch's occurrence stream semi-joins the broadcast set in one
       codegen stage; the batch never self-joins);
    3. EXACT-DEDUP gate — FIRST-SEEN wins, the reference's Redis SADD
       semantics (filter/app/main.py:16-24): within the batch the smallest
       doc_id per content key, across batches an anti-join against the
       maintained md5 ledger (q178's MIN-keeper/SUM-count algebra);
    4. accepted rows APPEND to the accepted layout (replay-gated), then
       the batch's content partials MERGE into the ledger (staged-swap).

    Ordering is load-bearing: accepted rows are computed and MATERIALIZED
    before the ledger merge (the merge drop→renames the table the
    anti-join reads), and the accepted append commits before the merge —
    on redelivery the append no-ops on its watermark while the merge
    completes, so a crash between the two steps reconverges without
    double-accepting or re-accepting ledgered content. First-seen (not
    global-min-id) is the real streaming semantic: a duplicate arriving in
    an EARLIER batch wins even against a smaller doc_id later — exactly
    what q188's oracle restates with the (wave, doc_id) arrival key.
    Delegates the recover→apply shape to ``maintained_layout_sink``
    (VERDICT r10 #4): the skeleton recovers BOTH tables before the funnel's
    ledger read — the read that made the inline recovery load-bearing here."""
    from wikipediaetl_spark.operators.layout import (
        append_batch_to_layout,
        maintained_layout_sink,
        merge_batch_into_keyed_rollup,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        q = (
            batch.withColumn("w", F.split(F.col("text"), " "))
            .filter(F.size("w") >= 20)
            .select(
                "doc_id",
                "text",
                F.size("w").cast("long").alias("n_words"),
                F.md5(F.col("text")).alias("content_key"),
            )
        )
        tri = _trigram_occurrences(q.select("doc_id", "text"))
        contam = (
            tri.join(F.broadcast(bench_set), "tok")
            .groupBy("doc_id")
            .agg(F.count_distinct("tok").alias("n_shared"))
            .filter(F.col("n_shared") >= 5)
            .select("doc_id")
        )
        clean = q.join(contam, "doc_id", "left_anti").localCheckpoint(eager=True)
        wk = W.partitionBy("content_key").orderBy(F.col("doc_id").asc())
        firsts = (
            clean.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if spark.catalog.tableExists(ledger_t):
            fresh = firsts.join(
                spark.table(ledger_t).select("content_key"), "content_key", "left_anti"
            )
        else:
            fresh = firsts
        accepted = fresh.select("doc_id", "content_key", "n_words").localCheckpoint(
            eager=True  # materialize BEFORE the ledger swap drops its table
        )
        append_batch_to_layout(
            spark, accepted, accepted_t, bucket_key="doc_id", batch_id=batch_id
        )
        merge_batch_into_keyed_rollup(
            spark,
            clean.groupBy("content_key").agg(
                F.min("doc_id").alias("keeper_doc_id"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
            ),
            ledger_t,
            keys=["content_key"],
            merge_aggs=[
                F.min("keeper_doc_id").alias("keeper_doc_id"),
                F.sum("n_docs").cast("long").alias("n_docs"),
            ],
            bucket_key="content_key",
            n_buckets=16,
            batch_id=batch_id,
        )

    return maintained_layout_sink(
        spark, apply_batch, recover_tables=[ledger_t, accepted_t]
    )


_Q188_ORACLE = """
    WITH corpus0 AS (SELECT doc_id, text FROM documents WHERE doc_id >= 50),
    ingest AS (
      SELECT doc_id, text FROM corpus0
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM corpus0 WHERE doc_id % 7 = 2
    ),
    q AS (
      SELECT doc_id, text, doc_id % 3 AS wave, md5(text) AS content_key,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      FROM ingest
      WHERE len(string_split(text, ' ')) >= 20
    ),
    bench AS (
      SELECT DISTINCT w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS tok
      FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id < 50) b,
           unnest(range(1, len(w) - 1)) t(i)
    ),
    doctri AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM q) d,
           unnest(range(1, len(w) - 1)) t(i)
    ),
    contaminated AS (
      SELECT doc_id FROM doctri JOIN bench USING (tok)
      GROUP BY doc_id HAVING count(*) >= 5
    ),
    clean AS (
      SELECT * FROM q
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    first_arrival AS (
      SELECT content_key, min(wave * 1000000 + doc_id) AS arr
      FROM clean GROUP BY content_key
    )
    SELECT c.doc_id, CAST(c.wave AS BIGINT) AS wave, c.n_words
    FROM clean c
    JOIN first_arrival f
      ON c.content_key = f.content_key
     AND c.wave * 1000000 + c.doc_id = f.arr
    """


@query("q188_streaming_curation_capstone", oracle=_Q188_ORACLE)
def q188_streaming_curation_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INGEST-TIME curation funnel — q148's batch capstone re-run as a
    streaming pipeline over the maintained structures (the r10 capstone):
    three arrival waves of documents flow through ``curation_sink``
    (quality gate → broadcast contamination gate → first-seen exact-dedup
    against the maintained md5 ledger → replay-gated accepted append), and
    the accepted set must hash-match a DECLARATIVE restatement of the whole
    funnel, arrival semantics included.

    The semantic this exercises that no batch query can: FIRST-SEEN
    dedup under arrival order. The ingest stream is the corpus (doc_id >=
    50; the bench suite is not training data) plus a declared clone wave —
    docs with doc_id % 7 = 2 re-arrive as doc_id + 10000 (both engines
    declare the identical relation, the q132-q138 derived-input precedent).
    A clone's wave is (doc_id + 1) % 3, so wave-2 originals' clones arrive
    in wave 0 — BEFORE the original: the accepted doc is the clone (larger
    id, earlier arrival), which the oracle restates with the
    (wave, doc_id) arrival key min. Global-min-id dedup (q50/q178's batch
    semantics) would pick the original — the two semantics genuinely
    diverge on this fixture, so the hash check would catch an
    implementation that quietly substituted one for the other.

    Scale shape per batch: the quality gate is a scan-side size/split
    filter; the contamination gate is q86's broadcast-semi shape (batch
    occurrences never shuffle); the dedup probe is an anti-join that rides
    the ledger's content_key bucketing (q178's layout, plan-asserted for
    the probe shape in tests/test_plans.py); maintenance cost is O(batch +
    |ledger grain|) via the staged swap. The REAL writeStream entry is
    ``curation_sink`` — exercised with forced micro-batches in
    tests/test_streaming.py; this catalog query drives the same sink
    batch-style so the funnel is externally hash-checked."""
    from wikipediaetl_spark.operators.layout import scoped_tables

    led, acc = "q188_dedup_ledger", "q188_accepted"
    with scoped_tables(spark, led, acc):
        d = load_table(spark, sf_dir, "documents")
        corpus0 = d.filter(F.col("doc_id") >= 50).select("doc_id", "text")
        clones = corpus0.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 2).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
        ingest = corpus0.unionByName(clones)
        bench_set = (
            _trigram_occurrences(d.filter(F.col("doc_id") < 50).select("doc_id", "text"))
            .select("tok")
            .distinct()
            .localCheckpoint(eager=True)
        )
        sink = curation_sink(spark, bench_set, led, acc)
        for wave in range(3):
            sink(ingest.filter(F.pmod(F.col("doc_id"), F.lit(3)) == wave), wave)
        return (
            spark.table(acc)
            .select("doc_id", F.col("ingest_batch").cast("long").alias("wave"), "n_words")
            .localCheckpoint(eager=True)
        )


# ---------------------------------------------------- combined-ingest sink


def _synthetic_embedding(d: DataFrame, dims: int = 8) -> DataFrame:
    """Deterministic stand-in embedding for the combined-ingest demo: 8
    unit-interval doubles hashed from the text (the image/audio decode
    stubs' discipline — the Spark-side plumbing is real, the model is a
    deterministic fake). Per-row JVM-side expression, no UDF."""
    return d.select(
        F.col("doc_id").alias("vec_id"),
        F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.col("text"), F.lit(i)), F.lit(1000)).cast(
                        "double"
                    )
                    / 1000.0
                )
                for i in range(dims)
            ]
        ).alias("v"),
    )


def demo_centroids(spark: SparkSession, dims: int = 8, k: int = 4) -> DataFrame:
    """Frozen quantizer for the combined-ingest demo's IVF stage (real IVF
    systems train offline and freeze — q177's contract)."""
    rows = [
        (c, [((c * 31 + i * 17) % 97) / 97.0 for i in range(dims)])
        for c in range(k)
    ]
    return spark.createDataFrame(rows, "cell int, centroid array<double>")


def combined_ingest_sink(spark: SparkSession, prefix: str, cents: DataFrame):
    """THE full training-data ingest posture (VERDICT r10 #5): ONE document
    stream maintaining EVERY layout family in a single foreachBatch —
    exact-dedup ledger (q178), decontamination postings/df/stats (q181),
    BM25 postings/doclens (q179), DSIR histograms/bucket-counts (q185),
    MinHash-LSH band index (q174), near-dup cluster ledger (q184, fed from
    the band index's collision probe), and IVF cells (q177, deterministic
    demo embeddings against a frozen quantizer). Every step is the SAME
    algebra as its standalone sink/catalog query, composed under one
    ``maintained_layout_sink`` skeleton, so each table is independently
    replay-gated by its own watermark: a crash between ANY two steps
    reconverges on redelivery (completed steps no-op, remaining steps
    finish) — the pairwise-reconvergence argument each standalone sink
    already carries, inherited here because the steps never read a table
    another step writes EXCEPT the band index, which is read only AFTER
    its own append (a replayed append no-ops, leaving exactly the state
    the pair probe needs).

    Cost per batch is O(batch) for every family: appends are O(batch) by
    the append protocol, keyed merges O(batch + grain), the cluster merge
    O(batch pairs + touched components), and the LSH probe shuffles only
    the batch side into the index's (band_idx, band_hash) bucket layout.
    The per-batch cost of the full suite vs the sum of its parts is
    measured at 400x in BENCH_COMBINED_INGEST.json; after any run each
    layout must hash-match its one-shot batch-built twin (asserted in
    tests/test_streaming.py — batching-invariance for the whole suite)."""
    from wikipediaetl_spark.operators.dedup import (
        _shingles,
        lsh_index_probe,
        portable_minhash_bands,
    )
    from wikipediaetl_spark.operators.layout import (
        append_batch_to_layout,
        maintained_layout_sink,
        merge_batch_into_keyed_rollup,
    )
    from wikipediaetl_spark.operators.relational_ext import (
        merge_pairs_into_cluster_ledger,
    )
    from wikipediaetl_spark.operators.similarity import _ivf_assign
    from wikipediaetl_spark.operators.text_analysis import (
        _bm25_doclen,
        _bm25_postings,
    )

    p = prefix
    tables = [
        f"{p}_dedup_ledger",
        f"{p}_decontam_postings",
        f"{p}_decontam_df",
        f"{p}_decontam_stats",
        f"{p}_bm25_postings",
        f"{p}_bm25_doclens",
        f"{p}_dsir_hist",
        f"{p}_dsir_counts",
        f"{p}_lsh_bands",
        f"{p}_cluster_ledger",
        (f"{p}_ivf_cells", ("cell",)),
    ]

    def bootstrap() -> None:
        spark.createDataFrame([], "doc_id long, cluster_id long").write.bucketBy(
            8, "doc_id"
        ).sortBy("doc_id").saveAsTable(f"{p}_cluster_ledger")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        docs = batch.select("doc_id", "lang", "text").localCheckpoint(eager=True)
        # 1. exact-dedup ledger (q178's MIN-keeper/SUM-count algebra)
        merge_batch_into_keyed_rollup(
            spark,
            docs.groupBy(F.md5(F.col("text")).alias("content_key")).agg(
                F.min("doc_id").alias("keeper_doc_id"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
            ),
            f"{p}_dedup_ledger",
            keys=["content_key"],
            merge_aggs=[
                F.min("keeper_doc_id").alias("keeper_doc_id"),
                F.sum("n_docs").cast("long").alias("n_docs"),
            ],
            bucket_key="content_key",
            n_buckets=16,
            batch_id=batch_id,
        )
        # 2. decontamination ledger (q181's three tables)
        post = (
            _trigram_occurrences(docs.select("doc_id", "text"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        append_batch_to_layout(
            spark, post, f"{p}_decontam_postings", bucket_key="tok",
            batch_id=batch_id,
        )
        merge_batch_into_keyed_rollup(
            spark,
            post.groupBy("tok").agg(F.count(F.lit(1)).alias("df")),
            f"{p}_decontam_df",
            keys=["tok"],
            merge_aggs=[F.sum("df").alias("df")],
            bucket_key="tok",
            batch_id=batch_id,
        )
        merge_batch_into_keyed_rollup(
            spark,
            docs.select(F.lit(0).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_docs")),
            f"{p}_decontam_stats",
            keys=["k"],
            merge_aggs=[F.sum("n_docs").alias("n_docs")],
            bucket_key="k",
            n_buckets=1,
            batch_id=batch_id,
        )
        # 3. BM25 lexical index (q179's two layouts)
        append_batch_to_layout(
            spark,
            _bm25_postings(docs.select("doc_id", "text")),
            f"{p}_bm25_postings",
            bucket_key="tok",
            batch_id=batch_id,
        )
        append_batch_to_layout(
            spark,
            _bm25_doclen(docs.select("doc_id", "text")),
            f"{p}_bm25_doclens",
            bucket_key="doc_id",
            batch_id=batch_id,
        )
        # 4. DSIR layouts (q185's histogram + bucket counts)
        append_batch_to_layout(
            spark,
            _dsir_hist_of(docs),
            f"{p}_dsir_hist",
            bucket_key="doc_id",
            batch_id=batch_id,
        )
        merge_batch_into_keyed_rollup(
            spark,
            _dsir_counts_of(docs),
            f"{p}_dsir_counts",
            keys=["b"],
            merge_aggs=[
                F.sum("ct").cast("long").alias("ct"),
                F.sum("cs").cast("long").alias("cs"),
            ],
            bucket_key="b",
            batch_id=batch_id,
        )
        # 5. LSH band index (q174) then the cluster ledger (q184) fed from
        # its collision probe: append batch bands FIRST, then probe the
        # post-append index — batch<->history AND batch<->batch collisions
        # in one O(batch)-shuffle equi-join; over all batches the union of
        # probes is exactly the full self-join pair set (a pair surfaces
        # when its LATER member arrives), so the ledger equals the one-shot
        # closure regardless of batching.
        bands = portable_minhash_bands(
            _shingles(docs.select("doc_id", "text"), n=2)
        ).localCheckpoint(eager=True)
        append_batch_to_layout(
            spark,
            bands,
            f"{p}_lsh_bands",
            bucket_key=("band_idx", "band_hash"),
            n_buckets=16,
            batch_id=batch_id,
        )
        pairs = (
            lsh_index_probe(bands, spark.table(f"{p}_lsh_bands"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        merge_pairs_into_cluster_ledger(
            spark, pairs, f"{p}_cluster_ledger", batch_id=batch_id
        )
        # 6. IVF cells (q177) over the deterministic demo embeddings
        append_batch_to_layout(
            spark,
            _ivf_assign(_synthetic_embedding(docs), cents),
            f"{p}_ivf_cells",
            partition_cols=("cell",),
            batch_id=batch_id,
        )

    return maintained_layout_sink(
        spark,
        apply_batch,
        recover_tables=tables,
        bootstrap=bootstrap,
        bootstrap_table=f"{p}_cluster_ledger",
    )
