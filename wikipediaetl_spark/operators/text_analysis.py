"""Text-analysis operators over ``documents`` (SURVEY.md §2.8 [E], §2.11).

The reference *describes* downstream text analysis (sentiment/neutrality,
README.md:24,40-43) but never builds it; these operators implement the
text-analysis surface a training-data pipeline needs — language ID scoring,
quality heuristics, token counting, document fingerprints — all as native
column expressions (no UDFs in the hot path, SURVEY.md §2.10 policy).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from wikipediaetl_spark.catalog import query
from wikipediaetl_spark.functions.fixedpoint import scaled_long
from wikipediaetl_spark.sources import load_table

# Tiny per-language marker lexicons (heuristic n-gram/stopword lang-ID; the
# real-world analogue maps char n-grams → langs, same dataflow shape).
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "table"),
    "de": ("der", "und", "window", "batch"),
    "es": ("el", "la", "data", "query"),
    "fr": ("le", "et", "merge", "stream"),
    "zh": ("de5", "shi4", "vector", "hash"),
}

_LEXICON_VALUES = ", ".join(
    f"('{lang}', '{tok}')" for lang, toks in sorted(LANG_LEXICON.items()) for tok in toks
)

STOPWORDS = ("the", "a", "and", "of", "to")
_STOPWORDS_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


@query(
    "q60_lang_id",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    lex(lex_lang, tok) AS (VALUES {_LEXICON_VALUES}),
    scores AS (
      SELECT doc_id, lex_lang, count(*) AS score
      FROM toks JOIN lex USING (tok)
      GROUP BY doc_id, lex_lang
    ),
    best AS (
      SELECT doc_id, lex_lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lex_lang ASC) AS rn
      FROM scores
    )
    SELECT doc_id, lex_lang AS predicted_lang, score
    FROM best WHERE rn = 1
    """,
)
def q60_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-overlap language ID: tokens ⋈ (broadcast) marker lexicon,
    argmax score per doc with lexicographic tiebreak."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    lex = spark.createDataFrame(
        [(lang, tok) for lang, toks_ in sorted(LANG_LEXICON.items()) for tok in toks_],
        "lex_lang string, tok string",
    )
    scores = toks.join(F.broadcast(lex), "tok").groupBy("doc_id", "lex_lang").agg(
        F.count(F.lit(1)).alias("score")
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lex_lang").asc())
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lex_lang").alias("predicted_lang"), "score")
    )


@query(
    "q61_quality_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars_m,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> list_contains([{_STOPWORDS_SQL}], t))) AS BIGINT)
               AS n_stopwords
      FROM documents
    )
    SELECT doc_id, n_tokens, n_stopwords,
           n_chars_m * 1.0 / n_tokens AS avg_token_len,
           n_stopwords * 1.0 / n_tokens AS stopword_ratio,
           least(n_tokens, 400) / 400.0 * 0.7
             + least(n_stopwords * 1.0 / n_tokens, 0.2) / 0.2 * 0.3 AS quality
    FROM feats
    """,
)
def q61_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics: length, stopword ratio, avg token length,
    and a weighted quality score — the Gopher-rules-style filter shape, as
    pure expressions."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    feats = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_m"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("long")
        .alias("n_stopwords"),
    )
    n_tok = F.col("n_tokens")
    n_stop = F.col("n_stopwords")
    quality = (
        F.least(n_tok, F.lit(400)) / 400.0 * 0.7
        + F.least(n_stop * 1.0 / n_tok, F.lit(0.2)) / 0.2 * 0.3
    )
    return feats.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        (F.col("n_chars_m") * 1.0 / n_tok).alias("avg_token_len"),
        (n_stop * 1.0 / n_tok).alias("stopword_ratio"),
        quality.alias("quality"),
    )


@query(
    "q62_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER)
             AS n_bpe_tokens
    FROM documents
    """,
)
def q62_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter-runs | digit-runs | single other chars) — the pretokenizer shape
    of GPT-style BPE vocabularies."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)).alias(
            "n_bpe_tokens"
        ),
    )


@query(
    "q63_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 w -> CAST(length(w) * 131 + ascii(substr(w, 1, 1)) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def q63_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (Horner fold, base 31,
    mod 1e9+7) over per-word values — order-sensitive, so reordered
    near-identical docs fingerprint differently (unlike token-set hashes).
    Native fold via F.aggregate; mirrored in SQL via list_reduce."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    values = F.transform(
        words, lambda w: (F.length(w) * 131 + F.ascii(F.substring(w, 1, 1))).cast("long")
    )
    fp = F.aggregate(
        values,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "q67_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT lang, tok, count(*) AS tf FROM toks GROUP BY lang, tok),
    df AS (SELECT tok, count(DISTINCT lang) AS df FROM toks GROUP BY tok),
    n AS (SELECT count(DISTINCT lang) AS n_langs FROM toks),
    scored AS (
      SELECT tf.lang, tf.tok, tf.tf,
             (floor(tf.tf * ln(n.n_langs * 1.0 / df.df) * 1000000 + 0.5)) / 1000000.0
               AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT lang, tok, tf, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY tfidf DESC, tok ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def q67_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring with languages as 'documents': explode → tf counts →
    document-frequency join → score → top-5 terms per lang.

    The classic two-aggregate + broadcast-join text pipeline; at corpus
    scale the df table is small (vocab-sized) and broadcasts, so the token
    stream shuffles once for tf. Scores are grid-rounded (floor(x*1e6+.5))
    because ln() may differ in the last ulp across libm implementations.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("lang").alias("df"))
    n_langs = toks.select(F.countDistinct("lang").alias("n_langs"))
    tfidf = (
        scaled_long(F.col("tf") * F.log(F.col("n_langs") * 1.0 / F.col("df")), 1_000_000)
        / 1000000.0
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n_langs))
        .withColumn("tfidf", tfidf)
    )
    w = W.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("lang", "tok", "tf", "tfidf", "rnk")
    )


@query(
    "q68_stopword_filter",
    oracle=f"""
    SELECT doc_id,
           array_to_string(
             list_filter(string_split(text, ' '),
                         t -> NOT list_contains([{_STOPWORDS_SQL}], t))[1:10],
             ' ') AS content_head
    FROM documents
    """,
)
def q68_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal as a pure array expression (filter + slice + join) —
    the README's planned text-analysis step (README.md:24) without UDFs."""
    d = load_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    kept = F.filter(F.split("text", " "), lambda t: ~F.array_contains(stop_arr, t))
    return d.select(
        "doc_id", F.array_join(F.slice(kept, 1, 10), " ").alias("content_head")
    )


# Lexicon-based sentiment — the analysis the reference describes but never
# builds (reference README.md:24 "sentiment analysis to assess neutrality").
SENTIMENT_LEXICON: dict[str, int] = {
    "fast": 1,
    "small": 1,
    "big": 1,
    "slow": -1,
    "dup": -1,
    "error": -1,
}

_SENT_VALUES = ", ".join(f"('{w}', {s})" for w, s in sorted(SENTIMENT_LEXICON.items()))


@query(
    "q69_sentiment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    lex(tok, polarity) AS (VALUES {_SENT_VALUES}),
    scored AS (
      SELECT t.doc_id, coalesce(sum(l.polarity), 0) AS score, count(l.tok) AS n_hits
      FROM toks t LEFT JOIN lex l USING (tok)
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(score AS BIGINT) AS score, n_hits,
           CASE WHEN score > 0 THEN 'positive'
                WHEN score < 0 THEN 'negative'
                ELSE 'neutral' END AS sentiment
    FROM scored
    """,
)
def q69_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-scored sentiment / neutrality assessment — the reference's
    declared-but-unbuilt analysis (README.md:24,41).

    r11 adopted wave: computed ROW-LOCALLY — one ``aggregate`` fold over the
    tokenized text with a literal-map polarity lookup — instead of the
    explode → broadcast-join → re-aggregate pipeline. The explode shape
    materializes every token as a row (~100× the corpus) through the join
    probe and pays an exchange to get back to document grain; the fold
    visits each token once in place and the query plans with ZERO shuffles
    (per-doc output is a projection of the scan). Within-run A/B at 400×/2M
    docs, 3 alternated reps per variant: explode+join 11.7–13.2 s,
    map-lookup fold 9.1–9.9 s, CASE-chain fold 10.3–10.7 s, per-word
    filter×15 12.3–13.2 s — the fold wins and the shuffle elimination is
    the structural scale win. Boundary (documented, not hit here): beyond
    ~10k lexicon entries a literal map stops constant-folding cheaply and
    the broadcast-join form wins again; this lexicon is O(10) words.
    Results verified identical (exceptAll empty both directions at 400×) —
    null text is filtered to match the explode form's drop-empty semantics
    (both oracles emit no row for NULL text)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pol_map = F.create_map(
        *[F.lit(x) for kv in sorted(SENTIMENT_LEXICON.items()) for x in kv]
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("score"), F.lit(0).cast("long").alias("hits")
    )

    def step(acc, tok):
        p = F.element_at(pol_map, tok)
        return F.struct(
            (acc["score"] + F.coalesce(p, F.lit(0))).alias("score"),
            (acc["hits"] + F.when(p.isNotNull(), 1).otherwise(0)).alias("hits"),
        )

    acc = F.aggregate(F.split("text", " "), zero, step)
    scored = d.select(
        "doc_id",
        acc["score"].alias("score"),
        acc["hits"].cast("long").alias("n_hits"),
    )
    return scored.select(
        "doc_id",
        "score",
        "n_hits",
        F.when(F.col("score") > 0, "positive")
        .when(F.col("score") < 0, "negative")
        .otherwise("neutral")
        .alias("sentiment"),
    )


def bpe_merges(word_counts: list[tuple[str, int]], n_merges: int) -> list[tuple[str, str]]:
    """Deterministic BPE merge induction over a weighted word vocabulary.

    Standard byte-pair-encoding training: words split to symbol sequences
    (with an end-of-word marker), repeatedly merge the most frequent
    adjacent symbol pair (count desc, then lexicographic pair for
    determinism). Pure driver-side — this is how production tokenizer
    trainers work too: the corpus-scale work is the word-frequency count
    (distributed); the merge loop runs on the small weighted vocab.
    """
    vocab: dict[tuple[str, ...], int] = {
        tuple(word) + ("</w>",): cnt for word, cnt in word_counts if word
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for symbols, cnt in vocab.items():
            for a, b in zip(symbols, symbols[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + cnt
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged_sym = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for symbols, cnt in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(symbols):
                if i + 1 < len(symbols) and (symbols[i], symbols[i + 1]) == best:
                    out.append(merged_sym)
                    i += 2
                else:
                    out.append(symbols[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + cnt
        vocab = new_vocab
    return merges


@query("q118_bpe_vocab")
def q118_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-vocabulary induction: distributed word-frequency count
    (the corpus-scale stage — explode + groupBy, shuffles once on the word)
    feeding the deterministic merge loop on the driver-small weighted vocab.
    Returns the first 20 merges ranked. Rows-only (BPE is not
    SQL-expressible); tests pin known merges on crafted corpora.

    The driver collect is BOUNDED: only the top-50k words by (cnt desc,
    word) leave the cluster — at 100 TB the distinct-word set is billions of
    rows and an unbounded collect dies. Production BPE trainers prune the
    same way (a word seen once among trillions of tokens cannot steer a
    merge); tests assert merge-identity between pruned and unpruned vocabs
    on the fixture (where distinct words ≪ 50k, pruning is a provable
    no-op)."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(50_000)
        .collect()
    )
    merges = bpe_merges([(r.word, r.cnt) for r in counts], n_merges=20)
    return spark.createDataFrame(
        [(i + 1, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, left string, right string, merged string",
    )


@query(
    "q142_gopher_rules",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             string_split(text, ' ') AS w,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_tokens,
             (length(array_to_string(w, '')) * 1.0) / n_tokens AS mean_tok_len,
             len(list_filter(w, t -> list_contains([{_STOPWORDS_SQL}], t))) * 1.0
               / n_tokens AS stop_frac,
             list_max(list_transform(list_distinct(w),
                      t -> len(list_filter(w, x -> x = t)))) * 1.0
               / n_tokens AS top_tok_frac,
             len(list_distinct(w)) * 1.0 / n_tokens AS uniq_ratio
      FROM feats
    )
    SELECT doc_id, n_tokens, mean_tok_len, stop_frac, top_tok_frac, uniq_ratio,
           CAST(n_tokens BETWEEN 30 AND 5000 AS INT) AS r_len,
           CAST(mean_tok_len BETWEEN 2 AND 10 AS INT) AS r_tok_len,
           CAST(stop_frac >= 0.02 AS INT) AS r_stopwords,
           CAST(top_tok_frac <= 0.2 AS INT) AS r_dominance,
           CAST(uniq_ratio >= 0.2 AS INT) AS r_diversity,
           CAST(n_tokens BETWEEN 30 AND 5000
                AND mean_tok_len BETWEEN 2 AND 10
                AND stop_frac >= 0.02
                AND top_tok_frac <= 0.2
                AND uniq_ratio >= 0.2 AS INT) AS keep
    FROM m
    """,
)
def q142_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule filter (Rae et al., arXiv:2112.11446,
    Appendix A1.1 shape): per-document rule booleans — token-count bounds,
    mean token length bounds, minimum stopword fraction, top-token dominance
    cap, unique-token diversity floor — and the conjunctive keep decision.
    Pipelines keep the per-rule bits (not just `keep`) so rejection reasons
    are aggregable.

    Every feature is an IN-ROW array expression over the token vector —
    including top-token dominance, computed as max over distinct tokens of
    the token's occurrence count (O(u·n) per row, u = per-doc vocab) instead
    of an explode+groupBy — so the whole filter is a narrow shuffle-free
    projection that scales embarrassingly: the plan is one WholeStageCodegen
    over the scan, nothing else. Extends q61's weighted score with the
    rule-bit surface."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    feats = d.select(
        "doc_id",
        w.alias("w"),
        F.size(w).cast("long").alias("n_tokens"),
    )
    n = F.col("n_tokens")
    m = feats.select(
        "doc_id",
        "n_tokens",
        (F.length(F.array_join(F.col("w"), "")) * 1.0 / n).alias("mean_tok_len"),
        (
            F.size(F.filter(F.col("w"), lambda t: F.array_contains(stop_arr, t))) * 1.0 / n
        ).alias("stop_frac"),
        (
            F.array_max(
                F.transform(
                    F.array_distinct(F.col("w")),
                    lambda t: F.size(F.filter(F.col("w"), lambda x: x == t)),
                )
            )
            * 1.0
            / n
        ).alias("top_tok_frac"),
        (F.size(F.array_distinct(F.col("w"))) * 1.0 / n).alias("uniq_ratio"),
    )
    r_len = F.col("n_tokens").between(30, 5000)
    r_tok_len = F.col("mean_tok_len").between(2, 10)
    r_stop = F.col("stop_frac") >= 0.02
    r_dom = F.col("top_tok_frac") <= 0.2
    r_div = F.col("uniq_ratio") >= 0.2
    return m.select(
        "doc_id",
        "n_tokens",
        "mean_tok_len",
        "stop_frac",
        "top_tok_frac",
        "uniq_ratio",
        r_len.cast("int").alias("r_len"),
        r_tok_len.cast("int").alias("r_tok_len"),
        r_stop.cast("int").alias("r_stopwords"),
        r_dom.cast("int").alias("r_dominance"),
        r_div.cast("int").alias("r_diversity"),
        (r_len & r_tok_len & r_stop & r_dom & r_div).cast("int").alias("keep"),
    )


def perdoc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage for q144/q159: per-doc EXACT integer log-prob sum under
    the corpus-trained unigram LM (top-50k vocab, OOV floor 1/total).
    Returns (doc_id, n_tokens BIGINT, sum_lp_micro BIGINT). Per-token
    log-probs are quantized once vocab-side to micro-nats, so the per-doc
    reduction is an order-independent integer sum.

    Measured negative result (r5, recorded so it isn't retried): widening
    the starved 4-task scan of the 400× fixture to 32 tasks
    (``spread_if_starved``) left the wall UNCHANGED while total task time
    grew ~8× — the tokenize/explode passes are memory-bandwidth-bound, not
    parallelism-starved, so the extra exchange was pure cost. The two
    corpus passes (vocab count, then score) are inherent to train-then-
    score; a (doc_id, tok) term-frequency grain that would share one
    explode measured 2-3× WORSE (BENCH_NOTES.md r5 q159) because the pair-grain
    shuffle dwarfs the explode saving."""
    d = load_table(spark, sf_dir, "documents")
    lp, oov = unigram_lm(spark, sf_dir)
    return score_docs(d, lp, oov)


def unigram_lm(spark: SparkSession, sf_dir: str):
    """The corpus-trained unigram LM as two small DataFrames:
    (tok, lp micro-nats BIGINT) for the top-50k vocab, and the 1-row OOV
    floor. This is the frozen model artifact of the q144/q159 family —
    trained once, broadcast to every scoring pass (q175 maintains per-doc
    scores under it incrementally, the CCNet pretrained-KenLM shape)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # full (untruncated) per-token counts serve BOTH the vocabulary and the
    # corpus total: total = Σcnt folds over the same groupBy exchange the
    # vocab branch shuffles (ReuseExchange), where a separate toks.count()
    # was a third full corpus scan+explode pass
    full_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total_df = full_counts.agg(F.sum("cnt").alias("total"))
    vocab = full_counts.orderBy(F.col("cnt").desc(), F.col("tok")).limit(50_000)
    micro = lambda p: scaled_long(F.log(p), 1_000_000)
    lp = vocab.crossJoin(F.broadcast(total_df)).select(
        "tok", micro(F.col("cnt") * 1.0 / F.col("total")).alias("lp")
    )
    oov = total_df.select(
        micro(F.lit(1.0) / F.greatest(F.col("total"), F.lit(1))).alias("oov_lp")
    )
    return lp, oov


def score_docs(d: DataFrame, lp: DataFrame, oov: DataFrame) -> DataFrame:
    """Per-doc exact integer log-prob features for ``d(doc_id, text)`` under
    a frozen LM: (doc_id, n_tokens BIGINT, sum_lp_micro BIGINT).  O(tokens
    of d) — the incremental-maintenance unit of the q175 serving layout."""
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.join(F.broadcast(lp), "tok", "left")
        .crossJoin(F.broadcast(oov))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce("lp", "oov_lp")).cast("long").alias("sum_lp_micro"),
        )
    )


@query(
    "q144_unigram_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tot AS (SELECT count(*) AS total FROM toks),
    vocab AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
      ORDER BY cnt DESC, tok LIMIT 50000
    ),
    lp AS (
      SELECT tok,
             CAST(floor(ln(cnt * 1.0 / total) * 1000000 + 0.5) AS BIGINT) AS lp
      FROM vocab CROSS JOIN tot
    ),
    oov AS (
      -- greatest(total,1): on an empty corpus the OOV row still evaluates;
      -- its value is never joined to anything, but ln(1/0) must not raise
      SELECT CAST(floor(ln(1.0 / greatest(total, 1)) * 1000000 + 0.5) AS BIGINT) AS lp
      FROM tot
    ),
    perdoc AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(coalesce(lp.lp, oov.lp)) AS BIGINT) AS sum_lp_micro
      FROM toks t LEFT JOIN lp ON t.tok = lp.tok CROSS JOIN oov
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, sum_lp_micro,
           floor(exp(-(sum_lp_micro / 1000000.0) / n_tokens) * 1000000 + 0.5)
             / 1000000.0 AS perplexity,
           CAST(floor(exp(-(sum_lp_micro / 1000000.0) / n_tokens) * 1000000 + 0.5)
                / 1000000.0 <= 35.0 AS INT) AS keep
    FROM perdoc
    """,
)
def q144_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape LM-perplexity quality filter (Wenzek et al.,
    arXiv:1911.00359 §4.3): score each document by the perplexity of a
    language model and keep the low-perplexity head. CCNet uses a
    pretrained 5-gram KenLM; with no model artifacts in the environment the
    LM here is a corpus-trained unigram model — the dataflow (model lookup
    join + per-doc log-prob reduction) is identical, only the scoring table
    differs.

    Exactness: per-token log-probs are quantized ONCE, vocab-side, to
    integer micro-nats (floor(ln(p)*1e6+0.5) as BIGINT), so the per-doc
    reduction is an exact integer sum — order-independent across any
    partitioning, bit-identical on both engines; only the final per-doc
    exp() is float, grid-rounded on the same lattice (q67's recipe, one
    boundary-risk call per DOC rather than per token).

    Scale shape: the vocab is capped to the top-50k tokens by frequency
    (TakeOrdered, tree-reduced — no global sort) with an OOV floor prob of
    1/total, exactly how production LM vocabs bound Zipfian tails; the
    capped table broadcasts, so the token stream joins map-side and the
    only real shuffles are the vocab count and the per-doc partial-agg
    reduce (exploded tokens of a doc are co-partitioned, so partial
    aggregation collapses them before the wire)."""
    perdoc = perdoc_logprob(spark, sf_dir)
    ppl = (
        scaled_long(
            F.exp(-(F.col("sum_lp_micro") / 1_000_000.0) / F.col("n_tokens")), 1_000_000
        )
        / 1_000_000.0
    )
    return perdoc.select(
        "doc_id",
        "n_tokens",
        "sum_lp_micro",
        ppl.alias("perplexity"),
        (ppl <= 35.0).cast("int").alias("keep"),
    )


# q159's full-recompute oracle, shared verbatim by q175: the maintained
# doc-grain serving layout must reproduce the three-corpus-pass recompute.
_Q159_ORACLE = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tot AS (SELECT count(*) AS total FROM toks),
    vocab AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
      ORDER BY cnt DESC, tok LIMIT 50000
    ),
    lp AS (
      SELECT tok,
             CAST(floor(ln(cnt * 1.0 / total) * 1000000 + 0.5) AS BIGINT) AS lp
      FROM vocab CROSS JOIN tot
    ),
    oov AS (
      SELECT CAST(floor(ln(1.0 / greatest(total, 1)) * 1000000 + 0.5) AS BIGINT) AS lp
      FROM tot
    ),
    perdoc AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(coalesce(lp.lp, oov.lp)) AS BIGINT) AS sum_lp_micro
      FROM toks t LEFT JOIN lp ON t.tok = lp.tok CROSS JOIN oov
      GROUP BY t.doc_id
    ),
    scored AS (
      SELECT d.lang, p.doc_id, p.n_tokens,
             CAST((-p.sum_lp_micro * 1000) // p.n_tokens AS BIGINT) AS nll_milli
      FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id
    ),
    buck AS (
      SELECT lang, doc_id, n_tokens, nll_milli,
             ntile(3) OVER (PARTITION BY lang ORDER BY nll_milli, doc_id)
               AS ppl_tercile
      FROM scored
    )
    SELECT lang, ppl_tercile,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(nll_milli) AS min_nll_milli,
           max(nll_milli) AS max_nll_milli
    FROM buck
    GROUP BY lang, ppl_tercile
    """


@query("q159_ccnet_buckets", oracle=_Q159_ORACLE)
def q159_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus partitioning (Wenzek et al.,
    arXiv:1911.00359 §4.3): per language, rank documents by LM score and cut
    into perplexity terciles — the head feeds training directly, the middle
    is re-filtered, the tail is dropped. Builds on q144's exact-integer
    per-doc log-prob stage (``perdoc_logprob``): the ranking key is
    ``(-sum_lp_micro * 1000) DIV n_tokens`` — pure BIGINT arithmetic, so the
    per-language total order (key, doc_id) is engine-identical and ntile(3)
    is deterministic. Scale: one window sort per language partition over
    doc-level rows (not tokens); skewed languages split fine because the
    tercile is a rank cut, not a value threshold."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    perdoc = perdoc_logprob(spark, sf_dir)
    scored = perdoc.join(d, "doc_id").select(
        "lang",
        "doc_id",
        "n_tokens",
        F.expr("CAST((-sum_lp_micro * 1000) DIV n_tokens AS BIGINT)").alias("nll_milli"),
    )
    w = W.partitionBy("lang").orderBy("nll_milli", "doc_id")
    buck = scored.withColumn("ppl_tercile", F.ntile(3).over(w))
    return buck.groupBy("lang", "ppl_tercile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("nll_milli").alias("min_nll_milli"),
        F.max("nll_milli").alias("max_nll_milli"),
    )


@query("q175_ccnet_serving", oracle=_Q159_ORACLE)
def q175_ccnet_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q159 served from a MAINTAINED doc-grain feature layout — the serving
    treatment (q170-q174) applied to the last ≥5× family (the per-token
    curation scalars; q144/q159 measured 4.8×/5.3× at 400× and are pinned
    memory-bandwidth-bound in BENCH_NOTES r5). The production shape is
    CCNet's own: the LM is a FROZEN artifact (Wenzek et al. use a
    pretrained KenLM; here it is trained once at layout-build time —
    unigram_lm), and each ingest batch pays ONLY its own token pass
    (score_docs, O(batch tokens)), appending doc-grain rows (doc_id, lang,
    n_tokens, sum_lp_micro) into a lang-bucketed table. Serve-time work is
    then O(docs), not O(tokens): the ntile window rides the bucket layout's
    lang partitioning and the three corpus passes of the recompute path
    never happen. In-query exercise: 90/10 doc split, batch scored and
    APPENDED (pure append — per-doc scalars never merge), result
    hash-matched against q159's full-recompute oracle."""
    from wikipediaetl_spark.operators.layout import scoped_tables

    table = "q175_doc_features"
    d = load_table(spark, sf_dir, "documents")
    lp, oov = unigram_lm(spark, sf_dir)
    lp = lp.localCheckpoint(eager=True)  # freeze the model artifact once
    oov = oov.localCheckpoint(eager=True)
    is_batch = F.pmod(F.col("doc_id") * 13 + 5, F.lit(10)) == 7
    lang = d.select("doc_id", "lang")
    with scoped_tables(spark, table):
        (
            score_docs(d.filter(~is_batch), lp, oov)
            .join(lang, "doc_id")
            .write.bucketBy(4, "lang")
            .sortBy("lang")
            .saveAsTable(table)
        )
        (
            score_docs(d.filter(is_batch), lp, oov)
            .join(lang, "doc_id")
            .write.mode("append")
            .bucketBy(4, "lang")
            .sortBy("lang")
            .saveAsTable(table)
        )
        return ccnet_serve_from_features(spark.table(table)).localCheckpoint(eager=True)


def ccnet_serve_from_features(feats: DataFrame) -> DataFrame:
    """Serve q159's tercile buckets from the doc-grain feature layout:
    O(docs) work — one ntile window over lang + the grain aggregate, no
    token pass, no documents scan (asserted on this pre-checkpoint plan by
    tests/test_plans.py, since q175 itself returns a materialized
    checkpoint whose plan shows only Scan ExistingRDD)."""
    scored = feats.select(
        "lang",
        "doc_id",
        "n_tokens",
        F.expr("CAST((-sum_lp_micro * 1000) DIV n_tokens AS BIGINT)").alias("nll_milli"),
    )
    w = W.partitionBy("lang").orderBy("nll_milli", "doc_id")
    buck = scored.withColumn("ppl_tercile", F.ntile(3).over(w))
    return buck.groupBy("lang", "ppl_tercile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("nll_milli").alias("min_nll_milli"),
        F.max("nll_milli").alias("max_nll_milli"),
    )


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word with trained merges: repeatedly apply the
    present pair with the LOWEST training rank (standard BPE inference
    order — training order, not greedy-by-count)."""
    syms = list(word) + ["</w>"]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


@query("q146_bpe_encode")
def q146_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization apply — the inference half of q118's trainer: encode
    every document with the trained merge table and report exact token
    accounting (whitespace words in, BPE symbols out, compression vs
    character-level).

    Spark shape: training reuses q118's bounded path (distributed word
    count → top-50k collect → driver merge loop); the merge table (tiny,
    rank-ordered) broadcasts; encoding is an Arrow-batched pandas UDF with a
    per-batch word memo — each DISTINCT word in a batch is encoded once,
    which at corpus scale collapses the Zipfian token stream to near-vocab
    cost per partition. Outputs are exact integers (+ one deterministic
    division), so the op is reproducible run-to-run; rows-only because the
    merge loop is iterative, not SQL. Tests assert parity with a driver-side
    reference encode."""
    from pyspark.sql.functions import pandas_udf

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(50_000)
        .collect()
    )
    merges = bpe_merges([(r.word, r.cnt) for r in counts], n_merges=20)
    ranks = {pair: i for i, pair in enumerate(merges)}
    b_ranks = spark.sparkContext.broadcast(ranks)

    @pandas_udf("long")
    def bpe_token_count(texts: pd.Series) -> pd.Series:
        rk = b_ranks.value
        memo: dict[str, int] = {}

        def count_doc(text: str) -> int:
            n = 0
            for w in text.split(" "):
                if w not in memo:
                    memo[w] = len(bpe_encode_word(w, rk))
                n += memo[w]
            return n

        return texts.map(count_doc)

    n_words = F.size(F.split("text", " ")).cast("long")
    # char-level baseline: every char + one </w> per word
    n_chars = (F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + n_words).cast("long")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_char_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    ).withColumn(
        "compression",
        F.round(F.col("n_char_tokens") * 1.0 / F.col("n_bpe_tokens"), 6),
    )


# ------------------------------------------------ maintained BM25 search index

_BM25_TERMS = ("hash", "window", "spark")  # fixed query set, the q57 pattern


def bm25_index_probe(
    postings: DataFrame,
    doclen: DataFrame,
    terms: tuple[str, ...] = _BM25_TERMS,
    k: int = 10,
) -> DataFrame:
    """q179's serve plan, factored for plan-assertion: keyword top-k from
    the maintained layouts alone. The postings scan BUCKET-PRUNES on the
    query terms (tok is the bucket key, so `tok IN (...)` reads only those
    terms' buckets — SelectedBucketsCount < total in the plan); df per term
    comes from the probed rows themselves (a window over O(Σdf) rows);
    corpus stats (N, total length) aggregate the doc-grain doclen layout —
    one O(docs) scan, the q175 serve class — and attach as a broadcast
    1-row scalar. No full postings scan, no corpus text scan, anywhere.

    Exactness (the q144 recipe): the only engine-divergent op is ln, so
    idf quantizes ONCE per term to integer micro-nats; the BM25 tf
    normalization (k1=1.2, b=0.75) is cleared of decimals analytically —
    tf_norm = 22·tf·L / (10·tf·L + 3·L + 9·dl·N) with L=total corpus
    tokens, N=docs — so both engines divide identical exactly-representable
    integer-valued doubles (IEEE-deterministic); each per-term score is
    grid-rounded to micro-units and the per-doc total is an exact BIGINT
    sum, order-independent under any partitioning. (Products stay under
    2^53 up to ~10^12 corpus tokens; re-derive the scaling for bigger.)"""
    stats = doclen.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    probe = postings.filter(F.col("tok").isin(*terms))
    # df per term as an AGGREGATE (map-side partials) joined back broadcast —
    # a window partitioned by tok would make one partition per query term,
    # single-threading the whole probe through ≤|terms| tasks on high-df
    # terms (measured: the dominant serve cost at 400× before this)
    dfs = probe.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # NO doc-grain join at serve time: the doc length rides inside each
    # posting (the Lucene norms design — dl is known at ingest, postings
    # stay append-only), which removed the dominant serve cost at 400x
    # (probe ⋈ doclen measured 2.84 s of a 3.66 s serve). doclen exists for
    # the corpus scalars (N, total length) only.
    scored = probe.join(F.broadcast(dfs), "tok").crossJoin(F.broadcast(stats))
    idf_u = scaled_long(
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        1_000_000,
    )
    ratio = (22.0 * F.col("tf") * F.col("total_len")) / (
        10.0 * F.col("tf") * F.col("total_len")
        + 3.0 * F.col("total_len")
        + 9.0 * F.col("dl") * F.col("n_docs")
    )
    per_term = scored.select(
        "doc_id",
        scaled_long(idf_u.cast("double") * ratio, 1).alias("st_u"),
    )
    agg = per_term.groupBy("doc_id").agg(
        F.sum("st_u").cast("long").alias("score_micro")
    )
    w = W.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "score_micro", "rnk")
    )


@query(
    "q179_bm25_index_maintenance",
    oracle="""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_len
      FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok IN ('hash', 'window', 'spark')
      GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    per_term AS (
      SELECT tf.doc_id,
             CAST(floor(
               CAST(floor(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                          * 1000000 + 0.5) AS BIGINT)
               * (22.0 * tf.tf * s.total_len)
               / (10.0 * tf.tf * s.total_len + 3.0 * s.total_len
                  + 9.0 * dl.dl * s.n_docs)
               + 0.5) AS BIGINT) AS st_u
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats s
    ),
    agg AS (
      SELECT doc_id, CAST(sum(st_u) AS BIGINT) AS score_micro
      FROM per_term GROUP BY doc_id
    )
    SELECT doc_id, score_micro, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rnk
      FROM agg
    ) WHERE rnk <= 10
    """,
)
def q179_bm25_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-MAINTAINED BM25 lexical search — the retrieval sibling
    of q177's embedding ANN: a training-data pipeline's keyword search
    (targeted audits, decontamination spot-checks, corpus QA) served from
    maintained layouts instead of re-tokenizing the corpus per query.
    Completes the maintained-index family: q174 (near-dup), q177 (ANN),
    q178 (exact dedup), q179 (lexical relevance).

    Two layouts, both APPEND-ONLY under ingest (a new doc's postings and
    length touch no existing rows): POSTINGS (tok, doc_id, tf), bucketed
    by tok so a keyword probe bucket-prunes to the query terms' buckets;
    DOCLEN (doc_id, dl), the doc-grain scalar layout. The corpus-global
    quantities BM25 needs — df per term, N, total length — are NOT stored
    denormalized (they change with every append): df falls out of the
    probed postings themselves, N/L from one doc-grain aggregate, so
    serving is always consistent with the index as-of the last append
    with zero read-modify-write maintenance. In-query exercise: documents
    split 90/10 on a deterministic doc_id hash, both layouts bootstrapped
    from the 90% and appended with the batch through the same tokenize
    path; the top-10 for a fixed 3-term query must then hash-match the
    full-recompute oracle (BM25 k1=1.2, b=0.75; exactness argument in
    bm25_index_probe's docstring). Reference tie: the planned text-search
    analysis the reference never built (README.md:24,41) — and the q67
    TF-IDF scalars are this operator's per-doc form."""
    from wikipediaetl_spark.operators.layout import scoped_tables

    pt, lt = "q179_bm25_postings", "q179_bm25_doclen"
    with scoped_tables(spark, pt, lt):
        build_bm25_layouts(spark, sf_dir, pt, lt)
        return bm25_index_probe(spark.table(pt), spark.table(lt)).localCheckpoint(
            eager=True
        )


def build_bm25_layouts(spark: SparkSession, sf_dir: str, pt: str, lt: str) -> None:
    """q179's layout build, factored so q186 exercises the SAME maintained
    lexical index: bootstrap both tables from the 90% split, then
    append the 10% batch through the same tokenize path (append-only,
    O(batch tokens), bucket layouts preserved). Both steps go through
    ``append_batch_to_layout`` so postings and doclens carry a replay
    watermark + mid-append crash recovery (ADVICE r9: a bare
    mode('append') double-appends on foreachBatch redelivery). The caller
    holds both tables in ``scoped_tables``, so the build starts from none."""
    from wikipediaetl_spark.operators.layout import append_batch_to_layout

    d = load_table(spark, sf_dir, "documents")
    is_batch = F.pmod(F.col("doc_id") * 23 + 1, F.lit(10)) == 4
    base, batch = d.filter(~is_batch), d.filter(is_batch)
    append_batch_to_layout(spark, _bm25_postings(base), pt, bucket_key="tok", batch_id=0)
    append_batch_to_layout(spark, _bm25_doclen(base), lt, bucket_key="doc_id", batch_id=0)
    # append-only maintenance: O(batch tokens), bucket layout preserved,
    # replay-gated + crash-recoverable via the shared append watermark
    append_batch_to_layout(spark, _bm25_postings(batch), pt, bucket_key="tok", batch_id=1)
    append_batch_to_layout(spark, _bm25_doclen(batch), lt, bucket_key="doc_id", batch_id=1)


def _bm25_postings(docs: DataFrame) -> DataFrame:
    """(tok, doc_id, dl, tf) postings rows for a set of documents — the
    shared tokenize path of the batch build and the streaming sink. Split
    ONCE into a materialized column, then size+explode reference it —
    inlining split(text) into both re-splits the document per emitted
    token (the _shingles hoist lesson; measured 7x on build)."""
    arr = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).localCheckpoint(eager=False)
    toks = arr.select(
        "doc_id",
        F.size("w").cast("long").alias("dl"),
        F.explode("w").alias("tok"),
    )
    return toks.groupBy("tok", "doc_id", "dl").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def _bm25_doclen(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("dl")
    )


def bm25_index_sink(spark: SparkSession, pt: str, lt: str):
    """Streaming maintenance for the BM25 lexical index (VERDICT r9 #5 —
    the q184 foreachBatch discipline extended to q179's layouts):
    ``docs.writeStream.foreachBatch(bm25_index_sink(spark, pt, lt))`` folds
    each micro-batch of (doc_id, text) rows through the SAME tokenize path
    as the batch build, appending postings and doc lengths with the
    micro-batch id as the replay watermark (``append_batch_to_layout``'s
    two-property protocol: a redelivered batch is a no-op; a crash
    mid-append is scrubbed on the next call). Because both layouts are
    append-only and per-doc rows are independent, the final index is
    invariant to how the doc stream is batched — asserted by the
    batching-invariance streaming test. A crash BETWEEN the two appends
    leaves postings committed and doclens one batch behind; redelivery
    no-ops the postings append and completes the doclen one, so the pair
    reconverges without double-applying either. Delegates the
    recover→apply shape to ``maintained_layout_sink`` (VERDICT r10 #4)."""
    from wikipediaetl_spark.operators.layout import (
        append_batch_to_layout,
        maintained_layout_sink,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        append_batch_to_layout(
            spark, _bm25_postings(batch), pt, bucket_key="tok", batch_id=batch_id
        )
        append_batch_to_layout(
            spark, _bm25_doclen(batch), lt, bucket_key="doc_id", batch_id=batch_id
        )

    return maintained_layout_sink(spark, apply_batch, recover_tables=[pt, lt])
