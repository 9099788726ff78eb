"""Property-based tests (hypothesis) for the scalar function layer, plus
robustness checks on hostile inputs."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from wikipediaetl_spark.functions.urls import normalize_url, sanitize_filename

SETTINGS = settings(max_examples=30, deadline=None)

url_paths = st.text(
    alphabet="abcdefghij/_-.",
    min_size=0,
    max_size=20,
)
hosts = st.sampled_from(
    ["en.wikipedia.org", "EN.WIKIPEDIA.ORG", "Example.COM", "a.b.c"]
)


def _one(spark, col_expr, value):
    df = spark.createDataFrame([(value,)], "x string")
    return df.select(col_expr(F.col("x")).alias("y")).collect()[0].y


class TestNormalizeUrlProperties:
    @SETTINGS
    @given(host=hosts, path=url_paths)
    def test_idempotent(self, spark, host, path):
        """normalize(normalize(u)) == normalize(u) — canonical forms are
        fixed points (required for the seen-set to converge)."""
        url = f"https://{host}/{path}"
        once = _one(spark, normalize_url, url)
        twice = _one(spark, normalize_url, once)
        assert once == twice

    @SETTINGS
    @given(host=hosts, path=url_paths)
    def test_drops_query_and_fragment(self, spark, host, path):
        url = f"http://{host}/{path}?q=1&x=2#frag"
        got = _one(spark, normalize_url, url)
        assert "?" not in got and "#" not in got
        assert got.startswith("http://")
        assert host.lower() in got


class TestSanitizeFilenameProperties:
    @SETTINGS
    @given(name=st.text(min_size=0, max_size=30))
    def test_output_charset(self, spark, name):
        """Whatever goes in, the output is file-safe: only [a-zA-Z0-9._-]."""
        got = _one(spark, sanitize_filename, name)
        assert re.fullmatch(r"[a-zA-Z0-9._-]*", got), got

    @SETTINGS
    @given(name=st.from_regex(r"[a-zA-Z0-9_-]{1,12}", fullmatch=True))
    def test_safe_names_preserved(self, spark, name):
        """Already-safe basenames pass through unchanged (modulo .html
        stripping) — parity with utils.py:4-11."""
        got = _one(spark, sanitize_filename, f"/dir/{name}.html")
        assert got == name


def test_malformed_json_yields_null(spark):
    df = spark.createDataFrame(
        [("{",), ("not json",), ("",), (None,), ('{"k": 1}',)], "props string"
    )
    got = [r.k for r in df.select(F.get_json_object("props", "$.k").alias("k")).collect()]
    assert got == [None, None, None, None, "1"]


def test_jaccard_symmetric_and_bounded(spark):
    from wikipediaetl_spark.operators.dedup import _shingles, jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "z z z z z")],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(_shingles(docs), 0.0).collect()}
    for (a, b), j in pairs.items():
        assert a < b  # canonical orientation: each unordered pair exactly once
        assert 0.0 <= j <= 1.0


def test_salted_join_equals_plain_on_skewed_data(spark):
    """The salting pattern must be result-identical on a pathologically
    skewed key distribution (90% of facts on one key)."""
    facts = spark.createDataFrame(
        [(i, 0 if i % 10 else i % 3, float(i % 7)) for i in range(2000)],
        "fact_id long, key long, v double",
    )
    dim = spark.createDataFrame([(0, "hot"), (1, "a"), (2, "b")], "key long, name string")
    plain = {
        (r.name, r.n)
        for r in facts.join(dim, "key").groupBy("name").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_salts = 8
    salted_f = facts.withColumn("salt", F.pmod(F.xxhash64("fact_id"), F.lit(n_salts)))
    salted_d = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(n_salts)]))
    )
    salted = {
        (r.name, r.n)
        for r in salted_f.join(salted_d, ["key", "salt"])
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert plain == salted


@given(
    cents=st.integers(min_value=0, max_value=11_000_000),  # price ≤ 110,000.00
    disc_pct=st.integers(min_value=0, max_value=10),
)
@settings(max_examples=500, deadline=None)
def test_q12_long_quantization_matches_decimal_cast(cents, disc_pct):
    """The q12 r5 rewrite's load-bearing identity: for 2+2-decimal money
    inputs, floor(e·(1−d)·1e4 + 0.5)·100 equals the micros of
    CAST(e·(1−d) AS DECIMAL(18,6)) — i.e. rounding the DOUBLE product at
    4 decimals and at 6 decimals agree, because the true product lies on
    the 1e-4 grid and the double's error (~1e-11 relative) never reaches
    the 5e-7 rounding boundary. Spark's decimal cast is modeled faithfully:
    BigDecimal.valueOf(double) takes the shortest repr (Python
    ``Decimal(repr(v))``) then setScale(6, HALF_UP)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    price = cents / 100.0  # the fixture's double-typed 2-decimal price
    disc = disc_pct / 100.0
    v = price * (1.0 - disc)
    micros_long = math.floor(v * 10000 + 0.5) * 100
    micros_dec = int(
        Decimal(repr(v)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        * 1_000_000
    )
    assert micros_long == micros_dec


class TestStorageMergeProperties:
    """upsert_partitioned (layout.py, r6) against an in-memory reference
    model: any sequence of upsert/delete batches must leave the warehouse
    equal to a dict fold of the same batches — unique keys, latest write
    wins, deletes remove."""

    @settings(max_examples=6, deadline=None)
    @given(
        batches=st.lists(
            st.tuples(
                # upserts: key -> price tag for this batch
                st.dictionaries(st.integers(0, 30), st.integers(0, 999), max_size=8),
                # deletes
                st.sets(st.integers(0, 30), max_size=4),
            ),
            min_size=1,
            max_size=4,
        ),
        n_parts=st.sampled_from([1, 4, 7]),
    )
    def test_upsert_sequence_matches_dict_fold(self, spark, batches, n_parts):
        import tempfile
        import shutil as _sh

        from wikipediaetl_spark.operators.layout import (
            create_partitioned_table,
            read_partitioned,
            upsert_partitioned,
        )

        schema = "o_orderkey long, o_totalprice double"
        first_ups, first_dels = batches[0]
        model: dict[int, float] = {k: float(v) for k, v in first_ups.items()}
        for k in first_dels:
            model.pop(k, None)
        tmp = tempfile.mkdtemp(prefix="prop_upsert_")
        try:
            base = spark.createDataFrame(
                [(k, float(v)) for k, v in first_ups.items()], schema
            )
            create_partitioned_table(base, tmp, "o_orderkey", n_partitions=n_parts)
            if first_dels:
                upsert_partitioned(
                    spark,
                    tmp,
                    spark.createDataFrame([], schema),
                    "o_orderkey",
                    delete_keys=spark.createDataFrame(
                        [(k,) for k in first_dels], "o_orderkey long"
                    ),
                )
            for ups, dels in batches[1:]:
                changes = spark.createDataFrame(
                    [(k, float(v)) for k, v in ups.items()], schema
                )
                dk = (
                    spark.createDataFrame([(k,) for k in dels], "o_orderkey long")
                    if dels
                    else None
                )
                upsert_partitioned(spark, tmp, changes, "o_orderkey", delete_keys=dk)
                model.update({k: float(v) for k, v in ups.items()})
                for k in dels:
                    model.pop(k, None)
            got = {
                r.o_orderkey: r.o_totalprice
                for r in read_partitioned(spark, tmp).collect()
            }
            assert got == model
        finally:
            _sh.rmtree(tmp, ignore_errors=True)


def test_q160_grain_rewrite_matches_exact_integer_reference(spark, tmp_path):
    """The r6 value-grain q160 against an arbitrary-precision Python
    reference on adversarial data: values ON the half-cent rounding
    boundary, giant outliers (forcing wide M), constant groups (σ=0), and
    a singleton group. The reference computes d₀ = max{d ≥ 0 : n·d² ≤ M}
    with exact ints (math.isqrt), so any float drift in the engine's
    seed-and-adjust threshold would surface here."""
    import math
    import random

    from wikipediaetl_spark.operators.advanced import q160_outlier_zscore

    rng = random.Random(7)
    rows = []
    for g, spec in (("a", "uniform"), ("b", "boundary"), ("c", "const"), ("d", "single")):
        if spec == "uniform":
            vals = [round(rng.uniform(0, 500), 2) for _ in range(4000)]
            vals += [9_999_999.99] * 3  # giant outliers widen M past int64
        elif spec == "boundary":
            vals = [i + 0.005 for i in range(2000)]  # exactly on the grid edge
        elif spec == "const":
            vals = [123.45] * 1500
        else:
            vals = [42.0]
        rows += [(len(rows) + i, g, float(v)) for i, v in enumerate(vals)]
    spark.createDataFrame(rows, "event_id long, event_type string, value double").write.parquet(
        str(tmp_path / "events.parquet")
    )

    def ref(vals):
        cents = [math.floor(v * 100 + 0.5) for v in vals]
        n, s = len(cents), sum(cents)
        q = sum(c * c for c in cents)
        m = 9 * n * (n * q - s * s)
        d0 = math.isqrt(m // n) if m >= 0 else 0
        flags = sum(1 for c in cents if abs(n * c - s) > d0)
        return n, flags

    by_group: dict[str, list[float]] = {}
    for _, g, v in rows:
        by_group.setdefault(g, []).append(v)
    want = {g: ref(vs) for g, vs in by_group.items()}
    got = {
        r.event_type: (r.n, r.n_outliers)
        for r in q160_outlier_zscore(spark, str(tmp_path)).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# r7: independent exact-reference battery for algebra-derived oracles
# (VERDICT r6 #2 — a SQL twin derived from the engine's own rewrite verifies
# self-consistency, not correctness; each test below recomputes the declared
# semantics from first principles with arbitrary-precision Python on
# adversarial inputs).
# ---------------------------------------------------------------------------


@given(
    cents=st.integers(min_value=0, max_value=11_000_000),  # price ≤ 110,000.00
    disc_pct=st.integers(min_value=0, max_value=10),
)
@settings(max_examples=500, deadline=None)
def test_q115_scaled_long_identity(cents, disc_pct):
    """q115's load-bearing identity: for a 2-decimal price and a 2-decimal
    discount, floor(price·disc·1e4 + 0.5) recovers EXACTLY the integer
    cents·pct — the true product lies on the 1e-4 grid and the double
    product's relative error (~1e-16, value ≤ 1.1e8) never reaches the 0.5
    rounding boundary. This is the whole reason the scaled-long sum equals
    the exact decimal revenue."""
    import math

    price = cents / 100.0
    disc = disc_pct / 100.0
    assert math.floor(price * disc * 10000 + 0.5) == cents * disc_pct


@given(cents=st.integers(min_value=0, max_value=100_000_000_00))
@settings(max_examples=500, deadline=None)
def test_q166_cents_identity(cents):
    """q166/q158's snapshot hash rides on floor(p·100 + 0.5) recovering the
    exact cents of a 2-decimal double price — including after the merge's
    `p + 1` update arithmetic (a +100-cent shift on the same grid)."""
    import math

    p = cents / 100.0
    assert math.floor(p * 100 + 0.5) == cents
    assert math.floor((p + 1) * 100 + 0.5) == cents + 100


def test_q108_correlation_matches_fraction_reference(spark, tmp_path):
    """q108 against an exact-Fraction Pearson reference on adversarial
    groups: perfectly linear (corr must be 1 to 1e-12), anti-linear (−1),
    CONSTANT column (exact-degenerate → NULL — the case that ANSI-crashed
    the pre-r7 double-space form), a singleton group (degenerate), and a
    well-conditioned random group (reference match to 1e-12 relative).
    The reference computes centered moments with fractions.Fraction, i.e.
    a DIFFERENT algebraic route (two-sided exact) than the engine's raw
    integer moments."""
    import math
    import random
    from fractions import Fraction

    from wikipediaetl_spark.operators.relational_ext import q108_exact_correlation

    rng = random.Random(11)
    rows = []
    groups: dict[str, list[tuple[int, int]]] = {
        # (x_cents, y_cents) per row
        "lin": [(i * 100 + 50, 2 * (i * 100 + 50) + 300) for i in range(500)],
        "anti": [(i * 100, 10_000_000 - 3 * i * 100) for i in range(500)],
        "const": [(12345, rng.randrange(1, 10_000_00)) for _ in range(300)],
        "single": [(1000, 2000)],
        "rand": [
            (rng.randrange(1, 5_000_00), rng.randrange(1, 11_000_000))
            for _ in range(2000)
        ],
    }
    for g, pts in groups.items():
        for x, y in pts:
            rows.append((len(rows), g, x / 100.0, y / 100.0))
    spark.createDataFrame(
        rows, "l_linenumber long, l_returnflag string, l_quantity double, l_extendedprice double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    def ref(pts):
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        cov = Fraction(sum(n * x * y for x, y in pts) - sx * sy)
        dx = Fraction(n * sum(x * x for x, _ in pts) - sx * sx)
        dy = Fraction(n * sum(y * y for _, y in pts) - sy * sy)
        if dx == 0 or dy == 0:
            return None
        # sign(cov)·sqrt(cov²/(dx·dy)) keeps everything exact until one sqrt
        mag = math.sqrt(float(cov * cov / (dx * dy)))
        return math.copysign(mag, float(cov))

    want = {g: ref(pts) for g, pts in groups.items()}
    got = {
        r.l_returnflag: r.corr_qty_price
        for r in q108_exact_correlation(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(want)
    for g in want:
        if want[g] is None:
            assert got[g] is None, f"group {g}: expected NULL, got {got[g]}"
        else:
            assert got[g] is not None, f"group {g}: unexpected NULL"
            assert abs(got[g] - want[g]) <= 1e-12 * max(1.0, abs(want[g])), (
                g,
                got[g],
                want[g],
            )
    assert abs(got["lin"] - 1.0) <= 1e-12
    assert abs(got["anti"] + 1.0) <= 1e-12


def _lm_corpus():
    """Deterministic corpus for the q144/q159 references: 30 'natural' docs
    over a 30-token common vocabulary (multi-occurrence counts) plus 25
    docs carrying 50,500 DISTINCT singleton tokens, so the top-50k vocab
    cap BINDS and the OOV floor path is genuinely exercised (the sf
    fixtures never reach 50k distinct tokens)."""
    import random

    rng = random.Random(13)
    common = [f"w{i}" for i in range(30)]
    langs = ["en", "de", "fr"]
    docs = []
    for _ in range(30):
        toks = [rng.choice(common) for _ in range(rng.randrange(5, 60))]
        docs.append((len(docs), langs[len(docs) % 3], " ".join(toks)))
    rare = iter(f"r{i:06d}" for i in range(50_500))
    for _ in range(25):
        chunk = [next(rare) for _ in range(2020)]
        docs.append((len(docs), langs[len(docs) % 3], " ".join(chunk)))
    return docs


def _ref_perdoc(docs):
    """First-principles unigram-LM scorer: top-50k vocab by (cnt desc, tok),
    OOV floor 1/total, per-token micro-nat quantization. Asserts every
    quantized value sits ≥ 1e-4 away from its rounding boundary so 1-ulp
    libm differences between CPython and the JVM cannot flip a floor."""
    import math
    from collections import Counter

    toks = {d: t.split(" ") for d, _l, t in docs}
    cnt = Counter(tok for seq in toks.values() for tok in seq)
    total = sum(cnt.values())
    vocab = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:50_000]

    def micro(p):
        v = math.log(p) * 1_000_000 + 0.5
        frac = v - math.floor(v)
        assert 1e-4 < frac < 1 - 1e-4, f"quantization boundary risk: {v}"
        return math.floor(v)

    lp = {tok: micro(c / total) for tok, c in vocab}
    oov = micro(1.0 / max(total, 1))
    return {
        d: (len(seq), sum(lp.get(t, oov) for t in seq)) for d, seq in toks.items()
    }


def test_q144_perplexity_matches_reference(spark, tmp_path):
    """q144 against the independent scorer, exact on the integer columns and
    on the grid-rounded perplexity/keep flag (boundary margin asserted in
    the reference)."""
    import math

    from wikipediaetl_spark.operators.text_analysis import q144_unigram_perplexity

    docs = _lm_corpus()
    spark.createDataFrame(docs, "doc_id long, lang string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    ref = _ref_perdoc(docs)

    def ppl(n, s):
        v = math.exp(-(s / 1_000_000.0) / n) * 1_000_000 + 0.5
        frac = v - math.floor(v)
        assert 1e-4 < frac < 1 - 1e-4, f"ppl boundary risk: {v}"
        return math.floor(v) / 1_000_000.0

    want = {d: (n, s, ppl(n, s), int(ppl(n, s) <= 35.0)) for d, (n, s) in ref.items()}
    got = {
        r.doc_id: (r.n_tokens, r.sum_lp_micro, r.perplexity, r.keep)
        for r in q144_unigram_perplexity(spark, str(tmp_path)).collect()
    }
    assert got == want


def test_q159_terciles_match_reference(spark, tmp_path):
    """q159 against an independent ntile(3) reference: integer nll ranking
    key recomputed with Python floor-div, tercile sizes derived from the
    SQL-standard ntile rule (first n%3 buckets take the extra row), and the
    per-(lang, tercile) aggregate compared exactly."""
    from collections import defaultdict

    from wikipediaetl_spark.operators.text_analysis import q159_ccnet_buckets

    docs = _lm_corpus()
    spark.createDataFrame(docs, "doc_id long, lang string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    ref = _ref_perdoc(docs)
    lang_of = {d: l for d, l, _t in docs}
    by_lang = defaultdict(list)
    for d, (n, s) in ref.items():
        nll = (-s * 1000) // n  # -s ≥ 0: Python // == SQL DIV here
        by_lang[lang_of[d]].append((nll, d, n))
    want = {}
    for lang, rows in by_lang.items():
        rows.sort()
        n_rows = len(rows)
        q, r = divmod(n_rows, 3)
        start = 0
        for t in range(1, 4):
            size = q + (1 if t <= r else 0)
            part = rows[start : start + size]
            start += size
            if not part:
                continue
            want[(lang, t)] = (
                len(part),
                sum(p[2] for p in part),
                min(p[0] for p in part),
                max(p[0] for p in part),
            )
    got = {
        (r.lang, r.ppl_tercile): (
            r.n_docs,
            r.total_tokens,
            r.min_nll_milli,
            r.max_nll_milli,
        )
        for r in q159_ccnet_buckets(spark, str(tmp_path)).collect()
    }
    assert got == want


def test_q152_banded_simhash_matches_bruteforce_reference(spark, tmp_path):
    """q152 against a pure-Python brute-force reference: fingerprints
    recomputed from hashlib.md5 nibbles (little-endian 4-bit votes over
    DISTINCT tokens), then ALL O(n²) pairs at Hamming ≤ 3 — so the vote
    SQL, fingerprint assembly, 4×8-bit pigeonhole banding (completeness!),
    and the posting-list expansion are each verified against an
    implementation that shares none of their code. Corpus is engineered
    for near-dups: variant docs differing by 1-3 tokens, exact duplicates
    (within-group hamming-0 path), and unrelated docs."""
    import hashlib
    from itertools import combinations

    from wikipediaetl_spark.operators.dedup import q152_simhash_portable

    base = [f"tok{i}" for i in range(40)]
    docs = []
    # 6 families of 4 variants: drop/replace a couple of tokens
    for fam in range(6):
        fam_toks = base[fam * 5 : fam * 5 + 15] + [f"fam{fam}x{j}" for j in range(10)]
        for v in range(4):
            toks = list(fam_toks)
            if v:
                toks = toks[v:] + [f"var{fam}_{v}_{k}" for k in range(v)]
            docs.append((len(docs), " ".join(toks)))
    # exact duplicates
    docs.append((len(docs), docs[0][1]))
    docs.append((len(docs), docs[0][1]))
    # unrelated
    for u in range(8):
        docs.append((len(docs), " ".join(f"solo{u}_{j}" for j in range(25))))
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )

    def fp(text):
        votes = [0] * 32
        for tok in set(text.split(" ")):
            h = hashlib.md5(f"sh|{tok}".encode()).hexdigest()
            for j in range(8):
                d = int(h[j], 16)
                for b in range(4):
                    votes[4 * j + b] += 1 if (d >> b) & 1 else -1
        return sum(1 << i for i in range(32) if votes[i] > 0)

    fps = {d: fp(t) for d, t in docs}
    want = {
        (a, b): (fps[a] ^ fps[b]).bit_count()
        for a, b in combinations(sorted(fps), 2)
        if (fps[a] ^ fps[b]).bit_count() <= 3
    }
    assert want, "corpus must actually produce near-dup pairs"
    assert any(h == 0 for h in want.values()), "need an exact-dup pair"
    assert any(h > 0 for h in want.values()), "need a cross-fingerprint pair"
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in q152_simhash_portable(spark, str(tmp_path)).collect()
    }
    assert got == want


def test_q155_lift_matches_fraction_reference(spark, tmp_path):
    """q155 against a first-principles collocation reference: positions,
    unigram/bigram counts and totals recomputed from raw tokenization, and
    lift verified TWO ways — the exact Fraction value (engine's floor'd
    micro-lift must sit within 1 of floor(exact·1e6), catching any algebra
    error while tolerating the one double rounding) and the IEEE
    double-chain replay (must match the engine bit-exactly, pinning the
    c_xy ≥ 5 threshold, ordering, and limit)."""
    import math
    import random
    from collections import Counter
    from fractions import Fraction

    from wikipediaetl_spark.operators.advanced import q155_bigram_lift

    rng = random.Random(17)
    vocab = [f"t{i}" for i in range(12)]
    docs = []
    for i in range(40):
        toks = []
        for _ in range(rng.randrange(4, 30)):
            # engineered collocation: "Alpha" is followed by "Beta" often
            if toks and toks[-1] == "Alpha" and rng.random() < 0.8:
                toks.append("Beta")
            elif rng.random() < 0.25:
                toks.append("Alpha")
            else:
                toks.append(rng.choice(vocab))
        docs.append((i, " ".join(toks)))
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    uni: Counter = Counter()
    big: Counter = Counter()
    n = m = 0
    for _, text in docs:
        w = text.lower().split(" ")
        uni.update(w)
        n += len(w)
        for a, b in zip(w, w[1:]):
            big[(a, b)] += 1
            m += 1
    cand = []
    for (x, y), c_xy in big.items():
        if c_xy < 5:
            continue
        exact = Fraction(c_xy * n * n, m * uni[x] * uni[y])
        exact_micro = (exact.numerator * 1_000_000) // exact.denominator
        # IEEE replay of the engine's left-associated double chain
        dbl = (float(c_xy) * float(n) * float(n)) / (
            float(m) * float(uni[x]) * float(uni[y])
        )
        dbl_micro = math.floor(dbl * 1_000_000)
        assert abs(dbl_micro - exact_micro) <= 1, (x, y, dbl_micro, exact_micro)
        cand.append((x, y, c_xy, dbl_micro, exact_micro))
    assert cand, "corpus must produce ≥5-count bigrams"
    cand.sort(key=lambda r: (-r[3], r[0], r[1]))
    want = [(x, y, c, dm) for x, y, c, dm, _em in cand[:100]]
    rows = q155_bigram_lift(spark, str(tmp_path)).collect()
    got = [(r.x, r.y, r.c_xy, r.lift_micro) for r in rows]
    assert got == want
    # and the exact-Fraction bound on the engine's own output
    em = {(x, y): e for x, y, _c, _d, e in cand}
    for r in rows:
        assert abs(r.lift_micro - em[(r.x, r.y)]) <= 1


def _events_fixture(spark, tmp_path):
    """Adversarial event log for the funnel/retention references: stage
    events exactly AT the previous stage's timestamp (>= boundary), stages
    in the wrong order, users missing stages entirely, duplicate same-day
    activity, and midnight-boundary timestamps."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 3, 1, 0, 0, 0)
    rows = []

    def ev(uid, et, minutes):
        rows.append((len(rows), t0 + timedelta(minutes=minutes), uid, et))

    ev(1, "view", 10); ev(1, "click", 20); ev(1, "purchase", 30)  # full funnel
    ev(2, "click", 5); ev(2, "view", 10); ev(2, "purchase", 15)   # click BEFORE view, but purchase... click>=view missing -> no click stage
    ev(3, "view", 0); ev(3, "click", 0); ev(3, "purchase", 0)     # all AT the same ts (>= boundaries all hold)
    ev(4, "view", 10); ev(4, "purchase", 20)                      # no click: purchase must NOT count
    ev(5, "purchase", 1); ev(5, "view", 2)                        # purchase only before view
    ev(6, "view", 100); ev(6, "view", 5); ev(6, "click", 50)      # min(view)=5 -> click at 50 counts
    ev(7, "click", 1)                                             # click with no view
    # retention shapes: multi-day + duplicates + midnight boundary
    ev(8, "view", 0); ev(8, "click", 24 * 60); ev(8, "view", 24 * 60 + 1)
    ev(8, "purchase", 3 * 24 * 60)
    ev(9, "view", 24 * 60 - 1); ev(9, "click", 24 * 60)           # first-seen 23:59, next event 1 min later = offset 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    return rows


def test_q161_funnel_matches_bruteforce_reference(spark, tmp_path):
    """q161 against a per-user brute-force fold of the declared semantics:
    earliest view, earliest click >= that view, earliest purchase >= that
    click — boundary (>=) and ordering cases engineered in the fixture."""
    from collections import defaultdict

    from wikipediaetl_spark.operators.advanced import q161_funnel

    rows = _events_fixture(spark, tmp_path)
    by_user = defaultdict(list)
    for _eid, ts, uid, et in rows:
        by_user[uid].append((ts, et))
    n_view = n_click = n_purchase = 0
    for evs in by_user.values():
        views = [t for t, e in evs if e == "view"]
        if not views:
            continue
        n_view += 1
        vt = min(views)
        clicks = [t for t, e in evs if e == "click" and t >= vt]
        if not clicks:
            continue
        n_click += 1
        ct = min(clicks)
        purchases = [t for t, e in evs if e == "purchase" and t >= ct]
        if purchases:
            n_purchase += 1
    got = q161_funnel(spark, str(tmp_path)).collect()[0]
    assert (got.n_view, got.n_click_after_view, got.n_purchase_after_click) == (
        n_view,
        n_click,
        n_purchase,
    ), (got, (n_view, n_click, n_purchase))


def test_q162_retention_matches_bruteforce_reference(spark, tmp_path):
    """q162 against a dict-fold retention reference: cohort = DATE of the
    user's first event, one (cohort, offset) cell per user per active day,
    duplicates collapsed — midnight-boundary users pinned in the fixture."""
    from collections import defaultdict

    from wikipediaetl_spark.operators.advanced import q162_cohort_retention

    rows = _events_fixture(spark, tmp_path)
    by_user = defaultdict(list)
    for _eid, ts, uid, _et in rows:
        by_user[uid].append(ts)
    cells = defaultdict(set)
    for uid, tss in by_user.items():
        cohort = min(tss).date()
        for ts in tss:
            cells[(cohort, (ts.date() - cohort).days)].add(uid)
    want = {k: len(v) for k, v in cells.items()}
    got = {
        (r.cohort_day, r.day_offset): r.n_active_users
        for r in q162_cohort_retention(spark, str(tmp_path)).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# functions/fixedpoint.py: the one rounding contract, against exact Python
# ---------------------------------------------------------------------------

_fp_values = st.one_of(
    st.integers(-(10**10), 10**10).map(lambda c: c / 100.0),  # money ≤ 1e8
    st.integers(-(10**6), 10**6).map(lambda k: (2 * k + 1) / 8),  # .5 ties at 100
    st.floats(min_value=-1e8, max_value=1e8, allow_nan=False),
)


@given(
    xs=st.lists(_fp_values, min_size=1, max_size=20),
    scale=st.sampled_from([100, 10_000, 1_000_000]),
)
@SETTINGS
def test_fixedpoint_helpers_match_exact_reference(spark, xs, scale):
    """scaled_long is Python's floor(x·s + 0.5) (half toward +inf), its
    numpy twin agrees, and unscale / sum_unscaled are the correctly rounded
    exact quotient ``float(Fraction(total, s))``."""
    import math
    from fractions import Fraction

    import numpy as np

    from wikipediaetl_spark.functions.fixedpoint import (
        scaled_long,
        scaled_long_np,
        sum_unscaled,
        unscale,
    )

    want = [math.floor(x * scale + 0.5) for x in xs]
    df = spark.createDataFrame([(x,) for x in xs], "x double").select(
        scaled_long(F.col("x"), scale).alias("q")
    )
    rows = df.select("q", unscale(F.col("q"), scale).alias("u")).collect()
    assert [r.q for r in rows] == want
    assert scaled_long_np(np.array(xs), scale).tolist() == want
    assert [r.u for r in rows] == [float(Fraction(q, scale)) for q in want]
    total = df.agg(sum_unscaled(F.col("q"), scale).alias("t")).collect()[0].t
    assert total == float(Fraction(sum(want), scale))


def test_fixedpoint_negative_tie_rounds_toward_positive_infinity(spark):
    """The documented contract: -0.125 at scale 100 is the tie -12.5, which
    goes to -12 (HALF_UP would give -13) on Spark and in numpy alike."""
    import numpy as np

    from wikipediaetl_spark.functions.fixedpoint import scaled_long, scaled_long_np

    got = spark.range(1).select(scaled_long(F.lit(-0.125), 100).alias("q")).first().q
    assert got == -12
    assert scaled_long_np(np.array([-0.125, 0.125]), 100).tolist() == [-12, 13]


def test_fixedpoint_rejects_non_power_of_ten_scale():
    import pytest

    from wikipediaetl_spark.functions.fixedpoint import (
        scaled_long,
        scaled_long_np,
        sum_unscaled,
        unscale,
    )

    for bad in (100.0, 1e6, 50, 0, -100, 110, True):
        for helper in (scaled_long, sum_unscaled, unscale):
            with pytest.raises(ValueError):
                helper(F.col("x"), bad)
        with pytest.raises(ValueError):
            scaled_long_np([1.0], bad)
