"""Differential query fuzzing: randomly generated filter+aggregate queries
executed on Spark AND DuckDB over the same parquet, compared exactly.

This goes beyond the fixed catalog: a seeded generator builds predicates
(comparisons, IN, BETWEEN, LIKE, AND/OR, null checks) and aggregate picks,
so any engine/oracle semantic divergence in the predicate or aggregation
surface shows up here without having been hand-enumerated.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wikipediaetl_spark.sources import load_table

SF = "/root/testdata/sf0.001"
TOOLS_DIR = Path(__file__).resolve().parents[1] / "tools"

# (name, sql_expr, spark_builder) predicate atoms over orders
ATOMS = [
    ("o_totalprice > 250000", lambda: F.col("o_totalprice") > 250000),
    ("o_totalprice <= 100000", lambda: F.col("o_totalprice") <= 100000),
    ("o_orderstatus = 'O'", lambda: F.col("o_orderstatus") == "O"),
    ("o_orderstatus <> 'F'", lambda: F.col("o_orderstatus") != "F"),
    (
        "o_orderpriority IN ('1-URGENT', '5-LOW')",
        lambda: F.col("o_orderpriority").isin("1-URGENT", "5-LOW"),
    ),
    (
        "o_totalprice BETWEEN 50000 AND 300000",
        lambda: F.col("o_totalprice").between(50000, 300000),
    ),
    ("o_orderpriority LIKE '%H'", lambda: F.col("o_orderpriority").like("%H")),
    ("o_custkey % 7 = 3", lambda: F.col("o_custkey") % 7 == 3),
    ("o_orderkey % 2 = 1", lambda: F.col("o_orderkey") % 2 == 1),
    (
        "o_orderdate < TIMESTAMP '1998-06-01 00:00:00'",
        lambda: F.col("o_orderdate") < F.lit("1998-06-01 00:00:00").cast("timestamp"),
    ),
    ("o_orderpriority IS NOT NULL", lambda: F.col("o_orderpriority").isNotNull()),
]

GROUPS = ["o_orderstatus", "o_orderpriority"]


def _gen_predicate(rng: random.Random):
    n = rng.randint(1, 3)
    picks = rng.sample(range(len(ATOMS)), n)
    ops = [rng.choice(["AND", "OR"]) for _ in range(n - 1)]
    negate = [rng.random() < 0.25 for _ in range(n)]
    sql_parts, spark_pred = [], None
    for i, (idx, neg) in enumerate(zip(picks, negate)):
        sql_atom, spark_fn = ATOMS[idx]
        sql_atom_s = f"NOT ({sql_atom})" if neg else f"({sql_atom})"
        atom_col = ~spark_fn() if neg else spark_fn()
        if i == 0:
            sql_parts.append(sql_atom_s)
            spark_pred = atom_col
        else:
            op = ops[i - 1]
            sql_parts.append(f"{op} {sql_atom_s}")
            spark_pred = (spark_pred & atom_col) if op == "AND" else (spark_pred | atom_col)
    return " ".join(sql_parts), spark_pred


def _canon_rows(rows) -> list[str]:
    """Rows as an order-insensitive list of canonical strings, with the
    oracle sweep's exact comparison (floats by ``repr``, not 9 digits)."""
    if str(TOOLS_DIR) not in sys.path:
        sys.path.insert(0, str(TOOLS_DIR))
    from check_oracle import canon

    return sorted("|".join(canon(v) for v in row) for row in rows)


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{SF}/orders.parquet')")
    return con


@pytest.mark.parametrize("seed", range(25))
def test_random_filter_aggregate(spark, ducks, seed):
    rng = random.Random(1000 + seed)
    sql_pred, spark_pred = _gen_predicate(rng)
    group = rng.choice(GROUPS)

    sql = f"""
      SELECT {group} AS g, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
             min(o_orderkey) AS mn, max(o_orderkey) AS mx
      FROM orders WHERE {sql_pred} GROUP BY {group}
    """
    want = _canon_rows(ducks.execute(sql).fetchall())

    o = load_table(spark, SF, "orders")
    got_rows = (
        o.filter(spark_pred)
        .groupBy(F.col(group).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("s"),
            F.min("o_orderkey").alias("mn"),
            F.max("o_orderkey").alias("mx"),
        )
        .collect()
    )
    got = _canon_rows(got_rows)
    assert got == want, f"divergence for predicate: {sql_pred}"


JOIN_TYPES = [
    ("JOIN", "inner"),
    ("LEFT JOIN", "left"),
    ("SEMI JOIN", "left_semi"),
    ("ANTI JOIN", "left_anti"),
]


@pytest.mark.parametrize("seed", range(12))
def test_random_join_shapes(spark, ducks, seed):
    """Random join type × random right-side predicate: orders vs a filtered
    self-projection, counted per status — Spark and DuckDB must agree."""
    rng = random.Random(7000 + seed)
    sql_pred, spark_pred = _gen_predicate(rng)
    sql_jt, spark_jt = rng.choice(JOIN_TYPES)

    sql = f"""
      WITH rhs AS (SELECT o_custkey AS k FROM orders WHERE {sql_pred})
      SELECT o_orderstatus AS g, count(*) AS n
      FROM orders {sql_jt} rhs ON o_custkey = rhs.k
      GROUP BY o_orderstatus
    """
    want = _canon_rows(ducks.execute(sql).fetchall())

    o = load_table(spark, SF, "orders")
    rhs = o.filter(spark_pred).select(F.col("o_custkey").alias("k"))
    joined = o.join(rhs, o.o_custkey == rhs.k, spark_jt)
    got_rows = (
        joined.groupBy(F.col("o_orderstatus").alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = _canon_rows(got_rows)
    assert got == want, f"join divergence: {sql_jt} with predicate {sql_pred}"


PARTS = [("o_orderstatus", "o_orderstatus"), ("o_custkey % 50", "o_custkey % 50")]
ORDERS_BY = [
    ("o_orderdate, o_orderkey", ["o_orderdate", "o_orderkey"]),
    ("o_totalprice, o_orderkey", ["o_totalprice", "o_orderkey"]),
    ("o_orderkey DESC", [("o_orderkey", "desc")]),
]
WFNS = [
    ("CAST(row_number() OVER w AS BIGINT)", lambda w: F.row_number().over(w).cast("long")),
    ("CAST(rank() OVER w AS BIGINT)", lambda w: F.rank().over(w).cast("long")),
    (
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER "
        "(w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)",
        lambda w: F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double"),
    ),
    ("lag(o_orderkey) OVER w", lambda w: F.lag("o_orderkey").over(w)),
    ("lead(o_orderkey, 2) OVER w", lambda w: F.lead("o_orderkey", 2).over(w)),
]


@pytest.mark.parametrize("seed", range(10))
def test_random_window_functions(spark, ducks, seed):
    """Random partition × order × window function over orders — ranking,
    framed decimal sums and lag/lead must agree exactly with DuckDB."""
    rng = random.Random(4000 + seed)
    part_sql, part_spark = rng.choice(PARTS)
    order_sql, order_spark = rng.choice(ORDERS_BY)
    fn_sql, fn_spark = rng.choice(WFNS)

    sql = f"""
      SELECT o_orderkey, {fn_sql} AS wv
      FROM orders
      WINDOW w AS (PARTITION BY {part_sql} ORDER BY {order_sql})
    """
    want = _canon_rows(ducks.execute(sql).fetchall())

    cols = []
    for c in order_spark:
        if isinstance(c, tuple):
            cols.append(F.col(c[0]).desc())
        else:
            cols.append(F.col(c).asc())
    w = W.partitionBy(F.expr(part_spark)).orderBy(*cols)
    o = load_table(spark, SF, "orders")
    got_rows = o.select("o_orderkey", fn_spark(w).alias("wv")).collect()
    got = _canon_rows(got_rows)
    assert got == want, f"window divergence: {fn_sql} / {part_sql} / {order_sql}"


STR_FNS = [
    ("upper({x})", lambda c: F.upper(c)),
    ("lower({x})", lambda c: F.lower(c)),
    ("substr({x}, 2, 5)", lambda c: F.substring(c, 2, 5)),
    ("reverse({x})", lambda c: F.reverse(c)),
    ("replace({x}, '-', '_')", lambda c: F.replace(c, F.lit("-"), F.lit("_"))),
    ("trim({x})", lambda c: F.trim(c)),
    ("lpad({x}, 12, '*')", lambda c: F.lpad(c, 12, "*")),
    ("concat({x}, '|', {x})", lambda c: F.concat(c, F.lit("|"), c)),
]

DATE_FNS = [
    ("CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)", lambda: F.year("o_orderdate")),
    ("CAST(EXTRACT(month FROM o_orderdate) AS INTEGER)", lambda: F.month("o_orderdate")),
    ("CAST(EXTRACT(day FROM o_orderdate) AS INTEGER)", lambda: F.dayofmonth("o_orderdate")),
    (
        "CAST(date_trunc('quarter', o_orderdate) AS DATE)",
        lambda: F.date_trunc("quarter", "o_orderdate").cast("date"),
    ),
    (
        "CAST(o_orderdate AS DATE) + INTERVAL 90 DAY",
        lambda: F.date_add(F.col("o_orderdate").cast("date"), 90).cast("timestamp"),
    ),
]


@pytest.mark.parametrize("seed", range(15))
def test_random_scalar_compositions(spark, ducks, seed):
    """Random 2-deep string-function composition over o_orderpriority plus a
    random date extraction — per-row scalar semantics must agree exactly."""
    rng = random.Random(9000 + seed)
    f1_sql, f1 = rng.choice(STR_FNS)
    f2_sql, f2 = rng.choice(STR_FNS)
    d_sql, d_fn = rng.choice(DATE_FNS)

    inner_sql = f1_sql.format(x="o_orderpriority")
    outer_sql = f2_sql.format(x=inner_sql)
    sql = f"""
      SELECT o_orderkey, {outer_sql} AS s, {d_sql} AS d
      FROM orders WHERE o_orderkey < 500
    """
    want = _canon_rows(ducks.execute(sql).fetchall())
    o = load_table(spark, SF, "orders").filter(F.col("o_orderkey") < 500)
    got_rows = o.select(
        "o_orderkey", f2(f1(F.col("o_orderpriority"))).alias("s"), d_fn().alias("d")
    ).collect()
    got = _canon_rows(got_rows)
    assert got == want, f"scalar divergence: {outer_sql} / {d_sql}"


# ------------------------------------------------------- AST dual-rendering


def test_ast_fuzz_campaign_nullable(spark, tmp_path):
    """The AST fuzz campaign over a NULL-injected copy of the fixture:
    ~8% NULLs in every non-key column, so isnull, 3VL predicates, NULL
    propagation through arithmetic/||/CASE, aggregate NULL-skipping, and
    NULLS FIRST ordering are exercised on real base-column NULLs rather
    than only on left-join-manufactured ones."""
    from wikipediaetl_spark.plans.fuzz import make_nullable_fixture, run_campaign

    make_nullable_fixture(SF, str(tmp_path))
    res = run_campaign(spark, str(tmp_path), n=40, seed0=2000)
    assert res["fail"] == 0, [
        (f["seed"], f.get("problems")) for f in res["failures"]
    ]


def test_ast_fuzz_campaign(spark):
    """Compositional AST fuzz (wikipediaetl_spark/plans/fuzz.py): 60 seeded
    random queries — nested expressions, FK join paths, grouped and
    projection shapes — each rendered independently to PySpark DataFrame ops
    AND to ANSI SQL for DuckDB, compared with the typed exact discipline.
    Unlike the atom tests above, nothing here is hand-enumerated: the AST is
    the only shared artifact, so the two renderings cannot share a bug
    (the VERDICT r6 oracle-circularity class)."""
    from wikipediaetl_spark.plans.fuzz import run_campaign

    res = run_campaign(spark, SF, n=60, seed0=0)
    assert res["fail"] == 0, [
        (f["seed"], f.get("problems")) for f in res["failures"]
    ]


# ---------------------------------------------------------------- curation ops


_FUZZ_VOCAB = (
    "the a and of to spark duck table row shuffle join scan filter "
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
).split()


def _random_corpus(rng: random.Random, n_docs: int):
    """Random documents with injected exact duplicates and shared spans —
    the adversarial inputs for dedup/quality operators."""
    docs = []
    for i in range(n_docs):
        n = rng.randint(1, 60)
        toks = [rng.choice(_FUZZ_VOCAB) for _ in range(n)]
        docs.append((i, rng.choice(["en", "de"]), "fuzz", " ".join(toks)))
    # exact duplicate pair
    if n_docs >= 4:
        docs[1] = (1, docs[0][1], "fuzz", docs[0][3])
    # shared 8-token span between two otherwise-random docs
    if n_docs >= 6:
        span = " ".join(rng.choice(_FUZZ_VOCAB) for _ in range(8))
        docs[2] = (2, "en", "fuzz", docs[2][3] + " " + span)
        docs[3] = (3, "en", "fuzz", span + " " + docs[3][3])
    return docs


@pytest.mark.parametrize("seed", range(8))
def test_curation_ops_differential_on_random_corpora(spark, tmp_path, seed):
    """q141/q142/q144/q148 on a random corpus: the Spark plan and its DuckDB
    oracle must agree exactly on inputs neither was hand-tuned for
    (duplicate injection, shared spans, 1-token docs, skewed vocab)."""
    import sys

    sys.path.insert(0, str(TOOLS_DIR))
    from check_oracle import canon_rows

    from wikipediaetl_spark.catalog import all_queries

    rng = random.Random(4200 + seed)
    docs = _random_corpus(rng, rng.randint(6, 30))
    path = str(tmp_path / f"fuzz{seed}")
    spark.createDataFrame(
        docs, "doc_id long, lang string, source string, text string"
    ).write.parquet(f"{path}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        # Spark writes a directory of part files; DuckDB needs the glob
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/documents.parquet/*.parquet')"
    )
    qs = all_queries()
    for name in (
        "q141_duplicate_spans",
        "q142_gopher_rules",
        "q144_unigram_perplexity",
        "q148_pipeline_capstone",
    ):
        sdf = qs[name].fn(spark, path)
        srows = sdf.collect()
        ores = con.execute(qs[name].oracle)
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
        assert len(srows) == len(orows), name
        assert sorted(sdf.columns) == sorted(ocols), name
        assert canon_rows(sdf.columns, [tuple(r) for r in srows]) == canon_rows(
            ocols, orows
        ), f"{name} seed={seed}"


def _doc_only_queries():
    """Catalog queries whose oracle touches ONLY the documents table — the
    set that can run against a crafted random corpus."""
    from wikipediaetl_spark.catalog import all_queries
    from wikipediaetl_spark.sources import TABLE_NAMES

    others = [t for t in TABLE_NAMES if t != "documents"]
    return sorted(
        n
        for n, q in all_queries().items()
        if q.oracle and "documents" in q.oracle and not any(t in q.oracle for t in others)
    )


@pytest.mark.parametrize("seed", range(2))
def test_all_document_queries_differential_on_random_corpus(spark, tmp_path, seed):
    """Catalog-wide random-corpus sweep: EVERY documents-only oracle query
    must agree with its DuckDB twin on a corpus it was never tuned for —
    1-token docs, duplicated docs, skewed vocab. This is the harness that
    caught the short-doc shingle crash."""
    import sys

    sys.path.insert(0, str(TOOLS_DIR))
    from check_oracle import canon_rows

    from wikipediaetl_spark.catalog import all_queries

    rng = random.Random(9000 + seed)
    docs = []
    for i in range(25):
        n = rng.randint(1, 60)
        t = " ".join(rng.choice(_FUZZ_VOCAB) for _ in range(n))
        docs.append((i, t, rng.choice(["en", "de"]), "fuzz", len(t)))
    docs[1] = (1, docs[0][1], docs[0][2], "fuzz", docs[0][4])  # exact dup
    path = str(tmp_path / "sweep")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{path}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/documents.parquet/*.parquet')"
    )
    qs = all_queries()
    failures = []
    for name in _doc_only_queries():
        sdf = qs[name].fn(spark, path)
        srows = sdf.collect()
        ores = con.execute(qs[name].oracle)
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
        if not (
            len(srows) == len(orows)
            and sorted(sdf.columns) == sorted(ocols)
            and canon_rows(sdf.columns, [tuple(r) for r in srows]) == canon_rows(ocols, orows)
        ):
            failures.append(name)
    assert not failures, f"seed={seed}: {failures}"


@pytest.mark.parametrize("seed", range(2))
def test_all_event_queries_differential_on_random_events(spark, tmp_path, seed):
    """Events-family sweep (batch AND streaming): every events-only oracle
    query must agree with DuckDB on random events — malformed/empty/null
    JSON props, negative values, duplicated rows, session-gap-spanning
    timestamps. Caught: non-total JSON oracles, whole-map-nulling
    from_json(map<string,int>). Written as ONE tz-aware parquet file (the
    file-stream source layout)."""
    import datetime as dt
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, str(TOOLS_DIR))
    from check_oracle import canon_rows

    from wikipediaetl_spark.catalog import all_queries
    from wikipediaetl_spark.sources import TABLE_NAMES

    rng = random.Random(5100 + seed)
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(200):
        ts = base + dt.timedelta(seconds=rng.randint(0, 2 * 86400))
        props = rng.choice(
            [
                '{"k": %d, "s": "x"}' % rng.randint(0, 9),
                '{"k": %d}' % rng.randint(0, 9),
                "not json at all",
                "",
                None,
                '{"nested": {"deep": 1}}',
            ]
        )
        rows.append(
            (
                i,
                ts,
                rng.randint(0, 8),
                rng.choice(["click", "view", "purchase", "scroll"]),
                rng.randint(-5000, 100000) / 100.0,  # exact 2-decimal values
                props,
            )
        )
    rows[10] = (10,) + rows[9][1:]  # duplicate payload, distinct event_id
    path = str(tmp_path / f"ev{seed}")
    import os

    os.makedirs(path)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ),
        f"{path}/events.parquet",
    )
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/events.parquet')"
    )
    others = [t for t in TABLE_NAMES if t != "events"]
    qs = all_queries()
    names = sorted(
        n
        for n, q in qs.items()
        if q.oracle and "events" in q.oracle and not any(t in q.oracle for t in others)
    )
    failures = []
    for name in names:
        sdf = qs[name].fn(spark, path)
        srows = sdf.collect()
        ores = con.execute(qs[name].oracle)
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
        if not (
            len(srows) == len(orows)
            and sorted(sdf.columns) == sorted(ocols)
            and canon_rows(sdf.columns, [tuple(r) for r in srows]) == canon_rows(ocols, orows)
        ):
            failures.append(name)
    assert not failures, f"seed={seed}: {failures}"


def test_ast_fuzz_derived_join_production(spark):
    """r8 production: aggregate-then-join (a grouped derived table in the
    FROM — the TPC-H Q13/Q15 shape). Spark renders df.join(sub.groupBy(k)
    .agg(..)), SQL renders JOIN (SELECT k, agg .. GROUP BY k); a dedicated
    sweep over seeds dense in the production gives it direct coverage
    beyond its ~25% share of the main campaigns."""
    from wikipediaetl_spark.plans.fuzz import FuzzGen, run_campaign

    seeds = [s for s in range(5000, 5600)
             if FuzzGen(s).gen().derived_join is not None][:40]
    assert len(seeds) >= 30, "production stopped firing — generator drift"
    res = run_campaign(spark, SF, n=0, seeds=seeds)
    assert res["fail"] == 0, [
        (f["seed"], f.get("problems")) for f in res["failures"]
    ]


def test_ast_fuzz_not_in_null_trap(spark, tmp_path):
    """r8 production: [NOT] IN subquery with full ANSI 3VL. The Spark
    rendering is built from first principles (semi join for IN; left join
    vs the DISTINCT non-NULL set + a broadcast (count(*), count(col))
    stats row for NOT IN), the SQL rendering is the bare predicate — the
    classic NOT-IN-with-NULLs empty-result rule is differentially checked,
    not assumed. Seeds are trap-dense: negated, with a nullable (non-key)
    sub column, run over the NULL-injected fixture."""
    from wikipediaetl_spark.plans.fuzz import (
        FuzzGen,
        make_nullable_fixture,
        run_campaign,
    )

    trap = [s for s in range(6000, 9000)
            if (q := FuzzGen(s).gen()).in_sub is not None and not q.windows
            and q.in_sub[3] and not q.in_sub[2].endswith("key")][:20]
    assert len(trap) >= 15, "trap production stopped firing — generator drift"
    make_nullable_fixture(SF, str(tmp_path))
    res = run_campaign(spark, str(tmp_path), n=0, seeds=trap)
    assert res["fail"] == 0, [
        (f["seed"], f.get("problems")) for f in res["failures"]
    ]


def test_ast_fuzz_expression_group_keys(spark):
    """r8 production: expression GROUP BY keys (year/month/day, substr,
    length, CASE buckets) — both renderings group by the expression and
    alias it identically; plain-column seeds keep their pre-r8 aliases."""
    from wikipediaetl_spark.plans.fuzz import FuzzGen, run_campaign

    seeds = [s for s in range(9000, 10500)
             if any(g.kind != "col" for g in FuzzGen(s).gen().group_by)][:40]
    assert len(seeds) >= 30, "production stopped firing — generator drift"
    res = run_campaign(spark, SF, n=0, seeds=seeds)
    assert res["fail"] == 0, [
        (f["seed"], f.get("problems")) for f in res["failures"]
    ]


def test_ast_fuzz_window_ntile_and_range_frames(spark):
    """r8 window productions: ntile(k) over the total key order and a
    RANGE 1000-PRECEDING frame over the key's value, differentially
    checked against the SQL window rendering."""
    from wikipediaetl_spark.plans.fuzz import FuzzGen, run_campaign

    seeds = [s for s in range(12000, 14000)
             if any(w[1] in ("ntile", "sum_range")
                    for w in FuzzGen(s).gen().windows)][:30]
    assert len(seeds) >= 20, "production stopped firing — generator drift"
    res = run_campaign(spark, SF, n=0, seeds=seeds)
    assert res["fail"] == 0, [
        (f["seed"], f.get("problems")) for f in res["failures"]
    ]


def test_ast_fuzz_post_aggregation_windows(spark):
    """r9 production: window functions over the GROUPED result (the
    serving-rollup / rank-the-aggregates shape) — row_number, lag,
    running sum, and ntile over ORDER BY all group keys NULLS FIRST,
    which is total because plain GROUP BY makes the key combination
    unique per row. Spark's withColumn-over-Window rendering is checked
    against the SQL subselect-with-OVER rendering, every fn covered."""
    from wikipediaetl_spark.plans.fuzz import FuzzGen, run_campaign

    picked, fns = [], set()
    for s in range(15000, 19000):
        q = FuzzGen(s).gen()
        if q.post_window is not None:
            picked.append(s)
            fns.add(q.post_window[0])
        if len(picked) >= 40:
            break
    assert len(picked) >= 30, "production stopped firing — generator drift"
    assert fns >= {"row_number", "lag", "sum_running", "ntile"}, fns
    res = run_campaign(spark, SF, n=0, seeds=picked)
    assert res["fail"] == 0, [
        (f["seed"], f.get("problems")) for f in res["failures"]
    ]


def test_ast_fuzz_grouping_sets_and_null_flags(spark):
    """r10 productions (VERDICT r9 #8): explicit GROUPING SETS (Spark
    df.groupingSets vs the SQL clause — the full key set always a member,
    plus random subsets incl. the grand total) and GROUPING() null-flag
    columns on every subtotal-capable shape — the only way to distinguish
    a subtotal NULL from a data-NULL key group, differentially checked
    across both renderings. Seeds are scanned for each production firing
    so the test is robust to generator-order drift."""
    from wikipediaetl_spark.plans.fuzz import FuzzGen, run_campaign

    gs, gf = [], []
    for s in range(21000, 27000):
        q = FuzzGen(s).gen()
        if q.group_kind == "gsets":
            gs.append(s)
        elif q.grouping_flags:
            gf.append(s)
        if len(gs) >= 25 and len(gf) >= 25:
            break
    assert len(gs) >= 20 and len(gf) >= 20, (
        f"production stopped firing — generator drift ({len(gs)}/{len(gf)})"
    )
    res = run_campaign(spark, SF, n=0, seeds=gs[:25] + gf[:25])
    assert res["fail"] == 0, [
        (f["seed"], f.get("problems")) for f in res["failures"]
    ]
