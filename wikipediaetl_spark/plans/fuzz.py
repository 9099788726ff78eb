"""Seeded differential query fuzzer: random relational ASTs, dual-rendered.

The q160 incident (VERDICT r6) proved the class risk of hand-derived
oracles: when the SQL twin is derived from the engine's own algebraic
rewrite, the differential harness verifies self-consistency, not
correctness.  The per-query antidote is the independent exact-reference
battery in tests/test_properties.py; THIS module is the systematic one:

  1. generate a random relational query as a small typed AST (a neutral
     artifact derived from neither engine),
  2. render it twice, through two independent code paths —
     once to PySpark DataFrame operations (``to_spark``), once to ANSI
     SQL for DuckDB (``to_sql``),
  3. execute both and compare row count, column names, typed canonical
     schema families, and the order-insensitive exact value multiset —
     the same comparison discipline as tools/check_oracle.py (which
     mirrors the external driver's hash).

Any divergence is a bug in one of: the Spark rendering, the SQL
rendering, Spark itself, or DuckDB — never "both wrong the same way",
because the two renderings share no algebra beyond the AST node
definitions.

The grammar is restricted to the deterministic-exact subset where ANSI
semantics agree bit-for-bit between the engines (documented per
production below):

  * integer arithmetic on BIGINT (magnitudes bounded so neither engine's
    ANSI overflow check fires),
  * double columns enter only through (a) exact comparisons and min/max
    (IEEE total order on the generated positive values) and (b) the
    cents quantization CAST(ROUND(x*100) AS BIGINT) — round-half-up on
    positive values is identical in both engines (the q12 identity,
    property-tested in tests/test_properties.py),
  * string ops with ASCII-identical semantics (length/upper/lower/
    substr/||-concat/LIKE); DuckDB's variadic concat() ignores NULLs
    unlike Spark's, so concatenation always renders as ``||`` which
    propagates NULL in both,
  * timestamp comparisons and EXTRACT(YEAR/MONTH/DAY),
  * aggregates count(*)/count/count(DISTINCT)/sum/min/max; DuckDB's
    sum(BIGINT) is HUGEINT so the SQL rendering wraps every sum in
    CAST(... AS BIGINT) to match Spark's long (the q111/q135 family
    divergence, see tools/lint_oracles.py),
  * inner/left/FULL OUTER equi-joins along the real FK edges of the test
    schema (each table at most once per query, so the globally-unique
    TPC-H column prefixes guarantee no name collisions), optionally with
    an extra ON-clause conjunct over the newly joined table — equivalent
    to WHERE under inner joins, NULL-EXTENDING under outer joins (the
    ON-vs-WHERE trap; r9) — so null-extended rows feed the WHERE/
    aggregate/group-key/window 3VL downstream,
  * WHERE with 3-valued AND/OR/NOT logic (identical in both),
  * SELECT DISTINCT, HAVING on a long-typed aggregate, UNION ALL of two
    filtered branches (DISTINCT and UNION ALL never compose — the two
    renderings would disagree on application order), and ORDER BY every
    output column ASC NULLS FIRST + LIMIT (explicit NULLS FIRST because
    the engines' bare-ASC null placement defaults differ; ties at the
    LIMIT boundary are whole-row duplicates, interchangeable under the
    multiset compare),
  * window functions (row_number/rank/lag/lead/framed sum/min/max/count)
    on single-table shapes — or, r9, over an N:1 LEFT JOIN whose
    null-extended dim columns feed window partitions and arguments —
    ordered by the base table's single-column unique key
    — a total order, so both engines agree row-for-row; frames render as
    explicit ROWS BETWEEN on both sides, and window sums pin DuckDB's
    HUGEINT back to BIGINT outside the OVER,
  * correlated [NOT] EXISTS along an FK edge not already in the join path,
    optionally with its own subquery filter — the Spark rendering is a
    left_semi/left_anti join, the SQL rendering a correlated subquery, so
    the two encodings of semi/anti semantics check each other (NULL keys
    included: a NULL correlation value never matches in either encoding),
  * set operations INTERSECT [ALL] / EXCEPT [ALL] between two filtered
    branches of the same FROM (Spark intersect/intersectAll/subtract/
    exceptAll vs the SQL keywords; SQL set ops treat NULLs as equal in
    both engines, and projections are int/str-typed so no float equality
    is ever compared),
  * ROLLUP / CUBE grouped shapes (Spark df.rollup/df.cube vs GROUP BY
    ROLLUP/CUBE) — subtotal rows carry NULL keys in both engines, and a
    data-NULL key group stays distinct from the subtotal row in both, so
    the multiset compare is exact.  One engine-level divergence is pinned:
    on EMPTY input ANSI emits the grand-total grouping-set row while
    Spark's Expand rewrite emits nothing, so the SQL rendering appends
    HAVING count(*) > 0 — a strict no-op on non-empty input,
  * explicit GROUPING SETS (r10: Spark df.groupingSets vs the SQL clause)
    over plain-column keys — the full key set is always a member (every
    selected key must appear in >=1 set to be a legal grouped projection)
    plus random distinct subsets incl. the grand total, under the same
    empty-input HAVING pin; and GROUPING() null-flag columns on every
    subtotal-capable shape (F.grouping vs SQL GROUPING(), both CAST to
    BIGINT) — the flag × key-NULL interaction distinguishes subtotal rows
    from data-NULL key groups in both renderings,
  * FILTER (WHERE cond) aggregates — the SQL FILTER clause vs Spark's
    agg(when(cond, x)) encoding (NULL where the condition is false or
    NULL, which every aggregate skips: exactly FILTER's rule) — plus
    sum(DISTINCT) pinned to BIGINT on both sides,
  * correlated scalar subqueries in the SELECT list along an unused FK
    edge (r9) — the SQL rendering stays correlated (DuckDB decorrelates
    it internally), the Spark rendering is hand-decorrelated (LEFT JOIN
    on the key-grouped aggregate, count's left-join NULL coalesced to 0
    because a scalar count(*) over zero rows is 0 while sum/min/max are
    NULL) — two independent decorrelations checking each other,
  * uncorrelated scalar subqueries in WHERE — SQL scalar subquery vs
    Spark crossJoin(broadcast(1-row agg)) + filter; when the inner
    filter empties the subquery, agg-on-empty yields a NULL scalar and
    the 3VL comparison drops every row in both engines,
  * BETWEEN (SQL keyword vs the Spark >=/<= conjunction — independent
    encodings of the same 3VL range predicate), greatest/least on
    BIGINT-cast args (both engines skip NULLs, all-NULL yields NULL —
    verified empirically), multi-WHEN searched CASE, and LIMIT k
    OFFSET n under the total ORDER BY (Spark .offset().limit() vs the
    SQL clause; boundary ties are whole-row duplicates, interchangeable
    under the multiset compare).

Excluded by design, with reasons: float aggregation (order-dependent),
division (int '/' promotes differently across engines' histories),
regex (dialect differences), non-ASCII collation, avg (accumulation
strategy is engine-internal).

Determinism: everything derives from ``random.Random(seed)``; a failing
seed is a permanent reproducer (``python tools/fuzz_differential.py
--seed N --n 1``).

Reference tie: the reference repo verifies its ETL output with
hand-written expected rows (`tests/unit/test_parse_page.py`); this
harness is the scale-appropriate generalization — machine-generated
cases with an independent comparator.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from wikipediaetl_spark.sources import parquet_schema

# ---------------------------------------------------------------------------
# Schema model: the driver-generated TPC-H-ish tables (TESTDATA.md).
# Column prefixes are globally unique, so multi-table queries never collide.
# ---------------------------------------------------------------------------

# dtype in {"long", "int", "double", "str", "ts"}
TABLES: dict[str, dict[str, str]] = {
    "lineitem": {
        "l_orderkey": "long", "l_partkey": "long", "l_suppkey": "long",
        "l_linenumber": "int", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
        "l_returnflag": "str", "l_linestatus": "str", "l_shipdate": "ts",
    },
    "orders": {
        "o_orderkey": "long", "o_custkey": "long", "o_orderstatus": "str",
        "o_totalprice": "double", "o_orderdate": "ts", "o_orderpriority": "str",
    },
    "customer": {
        "c_custkey": "long", "c_name": "str", "c_nationkey": "int",
        "c_acctbal": "double", "c_mktsegment": "str",
    },
    "supplier": {
        "s_suppkey": "long", "s_name": "str", "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "long", "p_name": "str", "p_brand": "str",
        "p_type": "str", "p_size": "int", "p_retailprice": "double",
    },
    "nation": {"n_nationkey": "int", "n_name": "str", "n_regionkey": "int"},
    "region": {"r_regionkey": "int", "r_name": "str"},
}

# FK edges: (left_table, left_col, right_table, right_col).  Queries walk a
# simple path from a random start table, so each table appears at most once.
FK_EDGES: list[tuple[str, str, str, str]] = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

# Single-column unique keys per table (windowed shapes order by these, so
# every window's row order is total and both engines agree row-for-row).
# lineitem is absent: its key is composite.
UNIQUE_KEYS: dict[str, str] = {
    "orders": "o_orderkey", "customer": "c_custkey", "part": "p_partkey",
    "supplier": "s_suppkey", "nation": "n_nationkey", "region": "r_regionkey",
}

# Low-cardinality columns preferred as group keys (bounded result sizes).
GROUPABLE: dict[str, list[str]] = {
    "lineitem": ["l_returnflag", "l_linestatus", "l_linenumber"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "customer": ["c_mktsegment", "c_nationkey"],
    "supplier": ["s_nationkey"],
    "part": ["p_brand", "p_size"],
    "nation": ["n_name", "n_regionkey"],
    "region": ["r_name"],
}

# Closed-domain columns usable as PIVOT spread columns (r11): the explicit
# value list makes the pivot deterministic and the output schema fixed.
PIVOTABLE: dict[str, list[tuple[str, list[str]]]] = {
    "lineitem": [("l_returnflag", ["A", "N", "R"]),
                 ("l_linestatus", ["O", "F"])],
    "orders": [("o_orderstatus", ["O", "F", "P"]),
               ("o_orderpriority",
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"])],
    "customer": [("c_mktsegment",
                  ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                   "MACHINERY"])],
    "region": [("r_name",
                ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
}

# Literal pools per string column so predicates are selective-but-nonempty.
STR_LITERALS: dict[str, list[str]] = {
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["O", "F"],
    "o_orderstatus": ["O", "F", "P"],
    "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
}


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Expr:
    """A typed expression node; ``kind`` selects the production."""

    kind: str               # col | lit | bin | not | func | case | agg
    dtype: str              # long | int | double | str | ts | bool
    op: str = ""            # for bin/func/agg: operator or function name
    args: tuple = field(default_factory=tuple)
    value: object = None    # for lit


def col(name: str, dtype: str) -> Expr:
    return Expr("col", dtype, value=name)


def lit(value, dtype: str) -> Expr:
    return Expr("lit", dtype, value=value)


# ---------------------------------------------------------------------------
# Rendering path 1: PySpark Column
# ---------------------------------------------------------------------------

def to_spark(e: Expr) -> Column:
    if e.kind == "col":
        return F.col(e.value)
    if e.kind == "lit":
        if e.dtype == "ts":
            return F.lit(e.value).cast("timestamp")
        if e.dtype == "long":
            return F.lit(int(e.value)).cast("long")
        return F.lit(e.value)
    if e.kind == "bin":
        l, r = to_spark(e.args[0]), to_spark(e.args[1])
        if e.op in ("+", "-", "*"):
            l = l.cast("long") if e.args[0].dtype in ("int", "long") else l
            r = r.cast("long") if e.args[1].dtype in ("int", "long") else r
        return {
            "+": lambda: l + r, "-": lambda: l - r, "*": lambda: l * r,
            "<": lambda: l < r, "<=": lambda: l <= r, ">": lambda: l > r,
            ">=": lambda: l >= r, "=": lambda: l == r, "<>": lambda: l != r,
            "and": lambda: l & r, "or": lambda: l | r,
        }[e.op]()
    if e.kind == "not":
        return ~to_spark(e.args[0])
    if e.kind == "func":
        a = [to_spark(x) for x in e.args]
        if e.op == "length":
            return F.length(a[0])
        if e.op == "upper":
            return F.upper(a[0])
        if e.op == "lower":
            return F.lower(a[0])
        if e.op == "substr":
            return F.substring(a[0], e.args[1].value, e.args[2].value)
        if e.op == "concat":
            return F.concat(a[0], a[1])  # both-NULL-propagating, like SQL ||
        if e.op == "like":
            return to_spark(e.args[0]).like(e.args[1].value)
        if e.op == "in":
            return to_spark(e.args[0]).isin([x.value for x in e.args[1:]])
        if e.op == "abs":
            return F.abs(a[0])
        if e.op == "coalesce":
            return F.coalesce(*a)
        if e.op == "year":
            return F.year(a[0])
        if e.op == "month":
            return F.month(a[0])
        if e.op == "day":
            return F.dayofmonth(a[0])
        if e.op == "cents":
            return F.round(a[0] * F.lit(100.0), 0).cast("long")
        if e.op == "isnull":
            return a[0].isNull()
        if e.op in ("vget_int", "vget_str"):
            # r11 production: VariantType — a JSON document is ASSEMBLED from
            # row values, parsed to VARIANT, and a typed path extracted.
            # Spark renders parse_json/variant_get (the Spark-4 semi-
            # structured path, q156's surface); SQL renders string-built
            # JSON + json_extract_string — independent encodings including
            # the NULL row (concat null-propagates → NULL payload → NULL
            # extraction on both engines).
            payload = F.concat(
                F.lit('{"a":'),
                to_spark(e.args[0]).cast("long").cast("string"),
                F.lit(',"s":"'),
                to_spark(e.args[1]),
                F.lit('"}'),
            )
            v = F.try_parse_json(payload)
            if e.op == "vget_int":
                return F.variant_get(v, "$.a", "bigint")
            return F.variant_get(v, "$.s", "string")
        raise ValueError(f"unknown func {e.op}")
    if e.kind == "case":
        cond, then, els = (to_spark(x) for x in e.args)
        return F.when(cond, then).otherwise(els)
    if e.kind == "case2":
        c1, t1, c2, t2, els = (to_spark(x) for x in e.args)
        return F.when(c1, t1).when(c2, t2).otherwise(els)
    if e.kind == "between":
        # independent encoding: SQL renders BETWEEN, Spark the conjunction
        x, lo, hi = (to_spark(a) for a in e.args)
        return (x >= lo) & (x <= hi)
    if e.kind == "gl":
        args = [to_spark(a).cast("long") for a in e.args]
        return (F.greatest if e.op == "greatest" else F.least)(*args)
    if e.kind == "agg":
        if e.op == "count_star":
            return F.count(F.lit(1))
        if e.op == "count_starf":
            return F.count(F.when(to_spark(e.args[0]), F.lit(1)))
        if e.op.endswith("f") and e.op != "countd":
            # FILTER (WHERE cond) aggregates: the Spark encoding routes the
            # condition through when(cond, x) — NULL where cond is false or
            # NULL, which every aggregate skips, exactly FILTER's semantics.
            arg = F.when(to_spark(e.args[1]), to_spark(e.args[0]))
            base = e.op[:-1]
            if base == "sum":
                return F.sum(arg.cast("long"))
            if base == "count":
                return F.count(arg)
            return getattr(F, base)(arg)
        a = to_spark(e.args[0])
        if e.op == "count":
            return F.count(a)
        if e.op == "countd":
            return F.countDistinct(a)
        if e.op == "sumd":
            return F.sum_distinct(a.cast("long"))
        if e.op == "sum":
            return F.sum(a.cast("long"))
        if e.op == "min":
            return F.min(a)
        if e.op == "max":
            return F.max(a)
        raise ValueError(f"unknown agg {e.op}")
    raise ValueError(f"unknown kind {e.kind}")


# ---------------------------------------------------------------------------
# Rendering path 2: ANSI SQL (DuckDB dialect-safe subset)
# ---------------------------------------------------------------------------

def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def to_sql(e: Expr) -> str:
    if e.kind == "col":
        return e.value
    if e.kind == "lit":
        if e.dtype == "str":
            return _sql_str(e.value)
        if e.dtype == "ts":
            return f"TIMESTAMP {_sql_str(e.value)}"
        return str(e.value)
    if e.kind == "bin":
        l, r = to_sql(e.args[0]), to_sql(e.args[1])
        if e.op in ("+", "-", "*"):
            if e.args[0].dtype in ("int", "long"):
                l = f"CAST({l} AS BIGINT)"
            if e.args[1].dtype in ("int", "long"):
                r = f"CAST({r} AS BIGINT)"
        op = {"and": "AND", "or": "OR"}.get(e.op, e.op)
        return f"({l} {op} {r})"
    if e.kind == "not":
        return f"(NOT {to_sql(e.args[0])})"
    if e.kind == "func":
        a = [to_sql(x) for x in e.args]
        if e.op in ("length", "upper", "lower", "abs"):
            return f"{e.op}({a[0]})"
        if e.op == "substr":
            return f"substring({a[0]}, {e.args[1].value}, {e.args[2].value})"
        if e.op == "concat":
            return f"({a[0]} || {a[1]})"
        if e.op == "like":
            return f"({a[0]} LIKE {_sql_str(e.args[1].value)})"
        if e.op == "in":
            vals = ", ".join(to_sql(x) for x in e.args[1:])
            return f"({a[0]} IN ({vals}))"
        if e.op == "coalesce":
            return f"coalesce({', '.join(a)})"
        if e.op in ("year", "month", "day"):
            return f"CAST(EXTRACT({e.op.upper()} FROM {a[0]}) AS INT)"
        if e.op == "cents":
            return f"CAST(ROUND({a[0]} * 100.0) AS BIGINT)"
        if e.op == "isnull":
            return f"({a[0]} IS NULL)"
        if e.op in ("vget_int", "vget_str"):
            payload = (
                "('{\"a\":' || CAST(CAST(" + a[0] + " AS BIGINT) AS VARCHAR)"
                " || ',\"s\":\"' || " + a[1] + " || '\"}')"
            )
            # json_valid guards the (fixture-impossible) invalid-JSON case to
            # mirror Spark's try_parse_json → NULL; NULL payload → NULL CASE.
            ex = (f"(CASE WHEN json_valid({payload}) THEN "
                  f"json_extract_string({payload}, '$.a') END)")
            if e.op == "vget_int":
                return f"CAST({ex} AS BIGINT)"
            return (f"(CASE WHEN json_valid({payload}) THEN "
                    f"json_extract_string({payload}, '$.s') END)")
        raise ValueError(f"unknown func {e.op}")
    if e.kind == "case":
        c, t, els = (to_sql(x) for x in e.args)
        return f"(CASE WHEN {c} THEN {t} ELSE {els} END)"
    if e.kind == "case2":
        c1, t1, c2, t2, els = (to_sql(x) for x in e.args)
        return (f"(CASE WHEN {c1} THEN {t1} WHEN {c2} THEN {t2} "
                f"ELSE {els} END)")
    if e.kind == "between":
        x, lo, hi = (to_sql(a) for a in e.args)
        return f"({x} BETWEEN {lo} AND {hi})"
    if e.kind == "gl":
        args = ", ".join(f"CAST({to_sql(a)} AS BIGINT)" for a in e.args)
        return f"{e.op}({args})"
    if e.kind == "agg":
        if e.op == "count_star":
            return "count(*)"
        if e.op == "count_starf":
            return f"count(*) FILTER (WHERE {to_sql(e.args[0])})"
        if e.op.endswith("f") and e.op != "countd":
            a, cond = to_sql(e.args[0]), to_sql(e.args[1])
            base = e.op[:-1]
            if base == "sum":
                return (f"CAST(sum(CAST({a} AS BIGINT)) "
                        f"FILTER (WHERE {cond}) AS BIGINT)")
            return f"{base}({a}) FILTER (WHERE {cond})"
        a = to_sql(e.args[0])
        if e.op == "count":
            return f"count({a})"
        if e.op == "countd":
            return f"count(DISTINCT {a})"
        if e.op == "sumd":
            return f"CAST(sum(DISTINCT CAST({a} AS BIGINT)) AS BIGINT)"
        if e.op == "sum":
            # DuckDB sum(BIGINT) -> HUGEINT; pin to Spark's long
            return f"CAST(sum(CAST({a} AS BIGINT)) AS BIGINT)"
        if e.op in ("min", "max"):
            return f"{e.op}({a})"
        raise ValueError(f"unknown agg {e.op}")
    raise ValueError(f"unknown kind {e.kind}")


# ---------------------------------------------------------------------------
# Query model
# ---------------------------------------------------------------------------

@dataclass
class FuzzQuery:
    seed: int
    tables: list[str]                       # join path, len>=1
    join_how: list[str]                     # len == len(tables)-1, inner|left|full
    join_on: list[tuple[str, str]]          # (left_col, right_col) per join
    where: Expr | None
    group_by: list[Expr]                    # column refs
    select: list[tuple[str, Expr]]          # (alias, expr)
    # r9 production: extra ON-clause conjunct per join (Expr over the newly
    # joined table, or None; shorter-than-joins lists pad with None).  For
    # INNER joins this is equivalent to WHERE; for LEFT/FULL OUTER joins it
    # changes which rows NULL-EXTEND instead of which rows survive — the
    # classic ON-vs-WHERE outer-join 3VL trap, rendered independently
    # (Spark: `(lc == rc) & pred` join condition; SQL: `ON lc = rc AND
    # (pred)`).
    join_extra: list = field(default_factory=list)
    distinct: bool = False                  # SELECT DISTINCT (projection only)
    having: tuple[str, int] | None = None   # (agg alias, threshold): alias > k
    union_where: Expr | None = None         # UNION ALL twin with this filter
    limit: int | None = None                # ORDER BY all cols NULLS FIRST + k
    # windowed shape (single table, no joins/group_by): list of
    # (alias, fn, arg Expr|None, partition_col) over ORDER BY the table's
    # unique key — total order, so both engines agree row-for-row.
    windows: list[tuple] = field(default_factory=list)
    # correlated existence along an FK edge to a table NOT in the join path:
    # (sub_table, outer_col, sub_col, sub_where Expr|None, negated).  Spark
    # renders a left_semi/left_anti join; SQL renders [NOT] EXISTS — the two
    # independent encodings of the reference's semi/anti join semantics.
    exists_rel: tuple | None = None
    # set-operation twin (projection shape only, exclusive with distinct /
    # union_where): (op in {intersect, intersect_all, except, except_all},
    # twin-branch filter Expr over the same FROM).
    setop: tuple | None = None
    # grouped-shape grouping strategy: Spark df.groupBy/rollup/cube vs SQL
    # GROUP BY [ROLLUP|CUBE] (...).  Subtotal rows carry NULL keys in both
    # engines, interchangeable under the multiset compare.
    group_kind: str = "group"               # group | rollup | cube | gsets
    # r10 production: explicit GROUPING SETS — random distinct key-index
    # subsets (possibly incl. the grand-total ()), Spark df.groupingSets
    # vs the SQL clause.  Plain-column keys only: Spark's DataFrame-side
    # groupingSets resolves set members against the grouping columns by
    # expression identity, which aliased/computed keys break (verified:
    # aliased members silently null every key column).
    grouping_sets: list | None = None       # list[list[int]] when gsets
    # r10 production: GROUPING() null-flag columns (gf_<key> = 1 iff the
    # key is aggregated away in that grouping set) — the only way to
    # distinguish a subtotal row from a data-NULL key group, so the flag
    # values exercise exactly the null-flag interaction VERDICT r9 #8
    # named.  Spark F.grouping vs SQL GROUPING(), both CAST to BIGINT.
    grouping_flags: bool = False
    # uncorrelated scalar subquery in WHERE:
    # (sub_table, agg_op in {min,max}, sub_col, k, cmp, outer_expr, sub_where).
    # Spark renders crossJoin(broadcast(1-row agg)) + filter; SQL renders a
    # scalar subquery — two independent encodings, including the empty-input
    # case (agg-on-empty yields one NULL row; NULL comparison drops all rows
    # in both).
    scalar_sub: tuple | None = None
    # OFFSET under the total ORDER BY (only ever set alongside limit);
    # boundary ties are whole-row duplicates, interchangeable under the
    # multiset compare exactly as at the LIMIT boundary.
    offset: int | None = None
    # aggregate-then-join (the TPC-H Q13/Q15 shape, r8): a grouped derived
    # table over an FK-adjacent table joined into the FROM.  Spark renders
    # df.join(sub.groupBy(key).agg(...)); SQL renders JOIN (SELECT key,
    # agg ... GROUP BY key) — independent encodings incl. the empty-group /
    # left-join-NULL path.  (sub_t, sub_key, agg_op, agg_col|None,
    # outer_col, how in {inner,left}, sub_where Expr|None); projection
    # shape only, the derived value surfaces as output column ``dj``.
    derived_join: tuple | None = None
    # window-over-aggregate (r9): a window function evaluated over the
    # GROUPED result — the serving-rollup / "rank the aggregates" shape
    # (TPC-H Q2/Q17 class).  Restricted to group_kind == "group": plain
    # grouping makes the key combination UNIQUE per output row, so ORDER BY
    # all group keys (NULLS FIRST both sides) is a total order and
    # row_number/lag/running-sum/ntile agree row-for-row across engines.
    # Spark renders withColumn over Window.orderBy(keys); SQL wraps the
    # grouped query in a subselect with OVER (ORDER BY keys) — independent
    # encodings, including the RANGE-default-frame-with-unique-keys
    # equivalence and NULL group keys sorting first.
    # (fn in {row_number, lag, sum_running, ntile}, long-agg alias|None, k|None)
    post_window: tuple | None = None
    # correlated scalar subquery in the SELECT list (r9, projection shape
    # only): (sub_t, outer_col, sub_key, agg_op in {count_star, sum, min,
    # max}, agg_col|None, sub_where Expr|None).  SQL renders the textbook
    # correlated scalar `(SELECT agg(..) FROM sub WHERE sub_key = outer_col
    # ...)` — DuckDB decorrelates it itself; Spark renders the HAND-
    # decorrelated form — LEFT JOIN against the key-grouped aggregate — so
    # the two decorrelations check each other, including the no-matching-
    # rows path: a scalar count(*) over zero rows is 0, so the Spark side
    # coalesces the left-join NULL to 0 for count ONLY (sum/min/max over
    # empty are NULL in both).  NULL outer keys match nothing in both
    # encodings.  Output column ``ssv`` (BIGINT in both renderings).
    select_scalar: tuple | None = None
    # r11 production: PIVOT — a grouped aggregate spread over an explicit
    # low-cardinality value list. Spark renders the native
    # df.groupBy(keys).pivot(pcol, values).agg(...) (q34/q157's surface);
    # SQL renders the canonical conditional-aggregation dual
    # (agg(CASE WHEN pcol = 'v' THEN arg END) AS p_i) — fully independent
    # encodings. Values are the fixture's closed domains; a group with no
    # rows at a value yields NULL in both (sum/min/max over empty — count
    # is deliberately excluded: Spark's missing-pair cell is NULL while
    # SQL count(CASE..) is 0). Pivot columns are RENAMED to positional
    # p{i} aliases on both sides so value strings with spaces/hyphens
    # never become column names. (pcol, values, agg_op, agg_arg Expr).
    pivot: tuple | None = None
    # r11 production: UNPIVOT/melt — computed long measures melted to
    # (measure-name, value) rows. Spark renders the native
    # DataFrame.unpivot (which KEEPS NULL values); SQL renders the
    # UNION-ALL-of-projections dual (which also keeps NULLs — unlike SQL
    # UNPIVOT's default NULL-dropping, so the encodings agree under the
    # nullable fixture by construction, and the NULL-kept rows are a live
    # checked path). (id_col, [(mname, Expr long), ...]).
    unpivot: tuple | None = None
    # [NOT] IN (SELECT col ...) with full ANSI 3VL (r8): SQL renders the
    # subquery predicate; Spark renders it from first principles — IN is a
    # left-semi join; NOT IN is a left join against the DISTINCT non-NULL
    # value set plus a broadcast (count(*), count(col)) stats row, keeping
    # a row iff the set is empty OR (outer IS NOT NULL AND the set has no
    # NULLs AND no match).  The encodings share nothing, so the classic
    # NOT-IN-with-NULLs trap is checked, not assumed.
    # (sub_t, outer_col, sub_col, negated, sub_where Expr|None)
    in_sub: tuple | None = None

    def _group_keys(self) -> list[tuple[str, Expr]]:
        """(alias, expr) per group key.  Plain column refs keep their own
        name (back-compat with every pre-r8 seed); expression keys (r8:
        year/month/day, substr, length, CASE buckets) get positional g{i}
        aliases — both renderings GROUP BY the expression and alias it
        identically in the projection."""
        return [(g.value if g.kind == "col" else f"g{i}", g)
                for i, g in enumerate(self.group_by)]

    def spark_df(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        def read(t: str) -> DataFrame:
            p = f"{sf_dir}/{t}.parquet"
            return spark.read.schema(parquet_schema(spark, p)).parquet(p)

        df = read(self.tables[0])
        for i, t in enumerate(self.tables[1:]):
            right = read(t)
            lc, rc = self.join_on[i]
            cond = F.col(lc) == F.col(rc)
            extra = self.join_extra[i] if i < len(self.join_extra) else None
            if extra is not None:
                cond = cond & to_spark(extra)
            df = df.join(right, on=cond, how=self.join_how[i])
        if self.derived_join is not None:
            sub_t, sk, agg_op, agg_col, oc, how, sub_where = self.derived_join
            sub = read(sub_t)
            if sub_where is not None:
                sub = sub.filter(to_spark(sub_where))
            if agg_op == "count_star":
                aggc = F.count(F.lit(1)).alias("__djv")
            elif agg_op == "sum":
                aggc = F.sum(F.col(agg_col).cast("long")).alias("__djv")
            else:
                aggc = getattr(F, agg_op)(F.col(agg_col)).alias("__djv")
            dj = sub.groupBy(F.col(sk).alias("__djk")).agg(aggc)
            df = df.join(dj, on=F.col(oc) == F.col("__djk"), how=how)
        if self.select_scalar is not None:
            sub_t, oc, sk, agg_op, agg_col, sub_where = self.select_scalar
            sub = read(sub_t)
            if sub_where is not None:
                sub = sub.filter(to_spark(sub_where))
            if agg_op == "count_star":
                aggc = F.count(F.lit(1)).alias("__ssv0")
            elif agg_op == "sum":
                aggc = F.sum(F.col(agg_col).cast("long")).cast("long").alias("__ssv0")
            else:
                aggc = getattr(F, agg_op)(F.col(agg_col)).alias("__ssv0")
            ss = sub.groupBy(F.col(sk).alias("__ssk")).agg(aggc)
            df = df.join(ss, on=F.col(oc) == F.col("__ssk"), how="left")
            ssv = (F.coalesce(F.col("__ssv0"), F.lit(0).cast("long"))
                   if agg_op == "count_star" else F.col("__ssv0"))
            df = df.withColumn("__ssv", ssv).drop("__ssk", "__ssv0")
        base = df
        if self.where is not None:
            df = df.filter(to_spark(self.where))
        if self.exists_rel is not None:
            sub_t, oc, sc, sub_where, neg = self.exists_rel
            sub = read(sub_t)
            if sub_where is not None:
                sub = sub.filter(to_spark(sub_where))
            df = df.join(sub.select(sc), on=F.col(oc) == F.col(sc),
                         how="left_anti" if neg else "left_semi")
        if self.in_sub is not None:
            sub_t, oc, sc, neg, sub_where = self.in_sub
            sub = read(sub_t)
            if sub_where is not None:
                sub = sub.filter(to_spark(sub_where))
            if not neg:
                # alias the sub column: oc and sc may be the SAME name
                # (the random branch can pick sub_t from the join path).
                # When they are, Spark logs a "trivially true equals
                # predicate" warning and applies its self-join resolution
                # (left attr vs right attr) — the differential sweeps
                # include same-name seeds precisely to check that rewrite.
                df = df.join(sub.select(F.col(sc).alias("__inv")),
                             on=F.col(oc) == F.col("__inv"), how="left_semi")
            else:
                stats = sub.agg(F.count(F.lit(1)).alias("__incnt"),
                                F.count(F.col(sc)).alias("__innn"))
                vals = (sub.filter(F.col(sc).isNotNull())
                        .select(F.col(sc).alias("__inv")).distinct())
                df = (df.crossJoin(F.broadcast(stats))
                      .join(F.broadcast(vals),
                            on=F.col(oc) == F.col("__inv"), how="left")
                      .filter((F.col("__incnt") == 0)
                              | (F.col(oc).isNotNull()
                                 & (F.col("__innn") == F.col("__incnt"))
                                 & F.col("__inv").isNull()))
                      .drop("__inv", "__incnt", "__innn"))
        if self.scalar_sub is not None:
            sub_t, agg_op, sc, k, cmp, outer, sub_where = self.scalar_sub
            sub = read(sub_t)
            if sub_where is not None:
                sub = sub.filter(to_spark(sub_where))
            scalar = sub.agg(
                (getattr(F, agg_op)(F.col(sc)).cast("long")
                 + F.lit(int(k))).alias("__scalar0"))
            lhs = to_spark(outer).cast("long")
            rhs = F.col("__scalar0")
            pred = {"<": lhs < rhs, "<=": lhs <= rhs, ">": lhs > rhs,
                    ">=": lhs >= rhs, "=": lhs == rhs, "<>": lhs != rhs}[cmp]
            df = df.crossJoin(F.broadcast(scalar)).filter(pred).drop("__scalar0")
        if self.pivot is not None:
            pcol, values, agg_op, agg_arg = self.pivot
            keys = [to_spark(g) for g in self.group_by]
            arg = to_spark(agg_arg)
            if agg_op == "sum":
                aggc = F.sum(arg.cast("long"))
            else:
                aggc = getattr(F, agg_op)(arg)
            out = df.groupBy(*keys).pivot(pcol, values).agg(aggc)
            for i, v in enumerate(values):
                out = out.withColumnRenamed(str(v), f"p{i}")
            return out
        if self.unpivot is not None:
            id_col, measures = self.unpivot
            sel = [F.col(id_col)] + [to_spark(e).cast("long").alias(m)
                                     for m, e in measures]
            out = df.select(*sel).unpivot(
                [id_col], [m for m, _ in measures], "m", "v")
            if self.limit is not None:
                out = out.orderBy(*[F.col(c).asc_nulls_first()
                                    for c in sorted(out.columns)])
                if self.offset:
                    out = out.offset(self.offset)
                out = out.limit(self.limit)
            return out
        if self.windows:
            from pyspark.sql import Window as W

            key = UNIQUE_KEYS[self.tables[0]]
            cols = [F.col(key)]
            for alias, fn, arg, part in self.windows:
                w = W.partitionBy(part).orderBy(F.col(key).asc())
                if fn in ("sum", "min", "max", "count"):
                    w = w.rowsBetween(W.unboundedPreceding, W.currentRow)
                if fn == "sum_range":
                    # RANGE frame over the key's VALUE (tie-safe by ANSI
                    # definition; key is unique anyway) — r8 production
                    w = w.rangeBetween(-1000, 0)
                if fn == "row_number":
                    e = F.row_number().over(w)
                elif fn == "rank":
                    e = F.rank().over(w)
                elif fn == "lag":
                    e = F.lag(to_spark(arg)).over(w)
                elif fn == "lead":
                    e = F.lead(to_spark(arg), 2).over(w)
                elif fn in ("sum", "sum_range"):
                    e = F.sum(to_spark(arg).cast("long")).over(w)
                elif fn in ("min", "max"):
                    e = getattr(F, fn)(to_spark(arg)).over(w)
                elif fn == "count":
                    e = F.count(F.lit(1)).over(w)
                elif fn == "ntile":
                    e = F.ntile(int(arg.value)).over(w)
                else:
                    raise ValueError(fn)
                cols.append(e.alias(alias))
            out = df.select(*cols)
            if self.limit is not None:
                out = out.orderBy(*[F.col(c).asc_nulls_first()
                                    for c in sorted(out.columns)])
                if self.offset:
                    out = out.offset(self.offset)
                out = out.limit(self.limit)
            return out
        if self.group_by:
            gk = self._group_keys()
            # plain col keys stay UNALIASED (alias == column name anyway):
            # F.grouping resolves grouping columns by expression identity,
            # and even a same-name Alias wrapper breaks the match
            keys = [to_spark(g) if g.kind == "col" else to_spark(g).alias(a)
                    for a, g in gk]
            aggs = [to_spark(e).alias(a) for a, e in self.select
                    if e.kind == "agg"]
            if self.grouping_flags:
                aggs += [F.grouping(to_spark(g)).cast("long").alias(f"gf_{a}")
                         for a, g in gk]
            if self.group_kind == "gsets":
                raw = [to_spark(g) for _, g in gk]
                sets = [[raw[i] for i in s] for s in self.grouping_sets]
                grouped = df.groupingSets(sets, *raw)
            else:
                grouped = {"group": df.groupBy, "rollup": df.rollup,
                           "cube": df.cube}[self.group_kind](*keys)
            out = grouped.agg(*aggs)
            if self.having is not None:
                alias, k = self.having
                out = out.filter(F.col(alias) > k)
            if self.post_window is not None:
                from pyspark.sql import Window as W

                fn, arg, k = self.post_window
                w = W.orderBy(*[F.col(a).asc_nulls_first()
                                for a, _ in self._group_keys()])
                if fn == "row_number":
                    e = F.row_number().over(w)
                elif fn == "lag":
                    e = F.lag(F.col(arg)).over(w)
                elif fn == "sum_running":
                    # default ORDER BY frame (RANGE UNBOUNDED..CURRENT);
                    # key-tie-free by group-key uniqueness, so ≡ ROWS
                    e = F.sum(F.col(arg)).over(w)
                elif fn == "ntile":
                    e = F.ntile(int(k)).over(w)
                else:
                    raise ValueError(fn)
                out = out.withColumn("pw", e)
        else:
            proj = [to_spark(e).alias(a) for a, e in self.select]
            out = df.select(*proj)
            if self.union_where is not None:
                out = out.unionByName(
                    base.filter(to_spark(self.union_where)).select(*proj))
            if self.setop is not None:
                op, tw = self.setop
                twin = base.filter(to_spark(tw)).select(*proj)
                out = {"intersect": out.intersect,
                       "intersect_all": out.intersectAll,
                       "except": out.subtract,
                       "except_all": out.exceptAll}[op](twin)
            if self.distinct:
                out = out.distinct()
        if self.limit is not None:
            # total order over every output column; asc_nulls_first matches
            # the explicit NULLS FIRST in the SQL rendering (the engines'
            # bare-ASC null defaults differ: Spark first, DuckDB last)
            out = out.orderBy(*[F.col(c).asc_nulls_first()
                                for c in sorted(out.columns)])
            if self.offset:
                out = out.offset(self.offset)
            out = out.limit(self.limit)
        return out

    def _where_sql(self, rel) -> str:
        """Main-branch WHERE: the row filter AND-ed with the [NOT] EXISTS
        correlated subquery (the SQL dual of the Spark semi/anti join)."""
        conds = []
        if self.where is not None:
            conds.append(f"({to_sql(self.where)})")
        if self.exists_rel is not None:
            sub_t, oc, sc, sub_where, neg = self.exists_rel
            inner = f"SELECT 1 FROM {rel(sub_t)} WHERE {sc} = {oc}"
            if sub_where is not None:
                inner += f" AND ({to_sql(sub_where)})"
            conds.append(f"{'NOT ' if neg else ''}EXISTS ({inner})")
        if self.in_sub is not None:
            sub_t, oc, sc, neg, sub_where = self.in_sub
            inner = f"SELECT {sc} FROM {rel(sub_t)}"
            if sub_where is not None:
                inner += f" WHERE ({to_sql(sub_where)})"
            conds.append(f"({oc} {'NOT ' if neg else ''}IN ({inner}))")
        if self.scalar_sub is not None:
            sub_t, agg_op, sc, k, cmp, outer, sub_where = self.scalar_sub
            inner = (f"SELECT CAST({agg_op}({sc}) AS BIGINT) + {int(k)} "
                     f"FROM {rel(sub_t)}")
            if sub_where is not None:
                inner += f" WHERE ({to_sql(sub_where)})"
            conds.append(
                f"(CAST({to_sql(outer)} AS BIGINT) {cmp} ({inner}))")
        return " AND ".join(conds)

    def sql(self, sf_dir: str | None = None) -> str:
        """ANSI SQL over the registered table views (or read_parquet paths)."""
        def rel(t: str) -> str:
            if sf_dir is None:
                return t
            return f"read_parquet('{sf_dir}/{t}.parquet') AS {t}"

        frm = rel(self.tables[0])
        for i, t in enumerate(self.tables[1:]):
            kw = {"inner": "JOIN", "left": "LEFT JOIN",
                  "full": "FULL JOIN"}[self.join_how[i]]
            lc, rc = self.join_on[i]
            frm += f" {kw} {rel(t)} ON {lc} = {rc}"
            extra = self.join_extra[i] if i < len(self.join_extra) else None
            if extra is not None:
                frm += f" AND ({to_sql(extra)})"
        if self.derived_join is not None:
            sub_t, sk, agg_op, agg_col, oc, how, sub_where = self.derived_join
            if agg_op == "count_star":
                ex = "count(*)"
            elif agg_op == "sum":
                # DuckDB sum(BIGINT) -> HUGEINT; pin to Spark's long
                ex = f"CAST(sum(CAST({agg_col} AS BIGINT)) AS BIGINT)"
            else:
                ex = f"{agg_op}({agg_col})"
            inner = f"SELECT {sk} AS __djk, {ex} AS __djv FROM {rel(sub_t)}"
            if sub_where is not None:
                inner += f" WHERE ({to_sql(sub_where)})"
            inner += f" GROUP BY {sk}"
            kw = {"inner": "JOIN", "left": "LEFT JOIN"}[how]
            frm += f" {kw} ({inner}) __dj ON {oc} = __djk"
        parts = []
        if self.pivot is not None:
            pcol, values, agg_op, agg_arg = self.pivot
            gk = self._group_keys()
            items = [f"{to_sql(g)} AS {a}" for a, g in gk]
            arg = to_sql(agg_arg)
            for i, v in enumerate(values):
                cond = f"CASE WHEN {pcol} = {_sql_str(v)} THEN {arg} END"
                if agg_op == "sum":
                    ex = f"CAST(sum(CAST({cond} AS BIGINT)) AS BIGINT)"
                else:
                    ex = f"{agg_op}({cond})"
                items.append(f"{ex} AS p{i}")
            parts.append("SELECT " + ", ".join(items))
            parts.append(f"FROM {frm}")
            wc = self._where_sql(rel)
            if wc:
                parts.append(f"WHERE {wc}")
            parts.append("GROUP BY " + ", ".join(to_sql(g) for _, g in gk))
            return "\n".join(parts)
        if self.unpivot is not None:
            id_col, measures = self.unpivot
            inner_items = [id_col] + [
                f"CAST({to_sql(e)} AS BIGINT) AS {m}" for m, e in measures
            ]
            inner = f"SELECT {', '.join(inner_items)}\nFROM {frm}"
            wc = self._where_sql(rel)
            if wc:
                inner += f"\nWHERE {wc}"
            branches = [
                f"SELECT {id_col}, {_sql_str(m)} AS m, {m} AS v "
                f"FROM (\n{inner}\n) __up{i}"
                for i, (m, _) in enumerate(measures)
            ]
            sql = "\nUNION ALL\n".join(branches)
            if self.limit is not None:
                order = ", ".join(f"{c} ASC NULLS FIRST"
                                  for c in sorted([id_col, "m", "v"]))
                sql = (f"SELECT * FROM (\n{sql}\n) q ORDER BY {order} "
                       f"LIMIT {self.limit}"
                       + (f" OFFSET {self.offset}" if self.offset else ""))
            return sql
        if self.windows:
            key = UNIQUE_KEYS[self.tables[0]]
            items = [key]
            for alias, fn, arg, part in self.windows:
                frame = (" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
                         if fn in ("sum", "min", "max", "count") else
                         " RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW"
                         if fn == "sum_range" else "")
                over = f"OVER (PARTITION BY {part} ORDER BY {key} ASC{frame})"
                if fn in ("row_number", "rank"):
                    ex = f"{fn}() {over}"
                elif fn == "lag":
                    ex = f"lag({to_sql(arg)}) {over}"
                elif fn == "lead":
                    ex = f"lead({to_sql(arg)}, 2) {over}"
                elif fn in ("sum", "sum_range"):
                    # DuckDB window sum(BIGINT) is HUGEINT; pin to long
                    ex = f"CAST(sum(CAST({to_sql(arg)} AS BIGINT)) {over} AS BIGINT)"
                elif fn in ("min", "max"):
                    ex = f"{fn}({to_sql(arg)}) {over}"
                elif fn == "count":
                    ex = f"count(*) {over}"
                elif fn == "ntile":
                    ex = f"ntile({int(arg.value)}) {over}"
                else:
                    raise ValueError(fn)
                items.append(f"{ex} AS {alias}")
            parts.append("SELECT " + ", ".join(items))
            parts.append(f"FROM {frm}")
            if self.where is not None:
                parts.append(f"WHERE {to_sql(self.where)}")
            sql = "\n".join(parts)
            if self.limit is not None:
                cols = sorted([key] + [a for a, *_ in self.windows])
                order = ", ".join(f"{c} ASC NULLS FIRST" for c in cols)
                sql = (f"SELECT * FROM (\n{sql}\n) q "
                       f"ORDER BY {order} LIMIT {self.limit}"
                       + (f" OFFSET {self.offset}" if self.offset else ""))
            return sql
        if self.group_by:
            gk = self._group_keys()
            keys = [to_sql(g) for _, g in gk]
            sel = ([f"{to_sql(g)} AS {a}" for a, g in gk]
                   + [f"{to_sql(e)} AS {a}" for a, e in self.select
                      if e.kind == "agg"])
            if self.grouping_flags:
                sel += [f"CAST(GROUPING({to_sql(g)}) AS BIGINT) AS gf_{a}"
                        for a, g in gk]
            parts.append("SELECT " + ", ".join(sel))
            parts.append(f"FROM {frm}")
            wc = self._where_sql(rel)
            if wc:
                parts.append(f"WHERE {wc}")
            klist = ", ".join(keys)
            if self.group_kind == "gsets":
                sets_sql = ", ".join(
                    "(" + ", ".join(keys[i] for i in s) + ")"
                    for s in self.grouping_sets
                )
                parts.append(f"GROUP BY GROUPING SETS ({sets_sql})")
            else:
                parts.append({"group": f"GROUP BY {klist}",
                              "rollup": f"GROUP BY ROLLUP ({klist})",
                              "cube": f"GROUP BY CUBE ({klist})"}[self.group_kind])
            having_conds = []
            if self.having is not None:
                alias, k = self.having
                agg_sql = next(to_sql(e) for a, e in self.select if a == alias)
                having_conds.append(f"{agg_sql} > {k}")
            if self.group_kind != "group":
                # Engine-level divergence (fuzz seeds 8/49): on EMPTY input,
                # ANSI/DuckDB ROLLUP/CUBE emit the grand-total () grouping-set
                # row, while Spark's Expand-based rewrite emits nothing.  Pin
                # the SQL to Spark's behavior; on non-empty input every
                # rollup/cube group has >=1 contributing row, so this guard
                # is exactly a no-op there.
                having_conds.append("count(*) > 0")
            if having_conds:
                parts.append("HAVING " + " AND ".join(having_conds))
            if self.post_window is not None:
                fn, arg, k = self.post_window
                order = ", ".join(f"{a} ASC NULLS FIRST" for a, _ in gk)
                over = f"OVER (ORDER BY {order})"
                if fn == "row_number":
                    ex = f"row_number() {over}"
                elif fn == "lag":
                    ex = f"lag({arg}) {over}"
                elif fn == "sum_running":
                    # DuckDB window sum(BIGINT) is HUGEINT; pin to long
                    ex = f"CAST(sum(CAST({arg} AS BIGINT)) {over} AS BIGINT)"
                elif fn == "ntile":
                    ex = f"ntile({int(k)}) {over}"
                else:
                    raise ValueError(fn)
                inner = "\n".join(parts)
                parts = [f"SELECT *, {ex} AS pw FROM (\n{inner}\n) __pw"]
        else:
            items = []
            for a, e in self.select:
                if a == "ssv" and self.select_scalar is not None:
                    sub_t, oc, sk, agg_op, agg_col, sub_where = self.select_scalar
                    if agg_op == "count_star":
                        ex = "CAST(count(*) AS BIGINT)"
                    elif agg_op == "sum":
                        ex = f"CAST(sum(CAST({agg_col} AS BIGINT)) AS BIGINT)"
                    else:
                        ex = f"{agg_op}({agg_col})"
                    inner = f"SELECT {ex} FROM {rel(sub_t)} WHERE {sk} = {oc}"
                    if sub_where is not None:
                        inner += f" AND ({to_sql(sub_where)})"
                    items.append(f"({inner}) AS ssv")
                else:
                    items.append(f"{to_sql(e)} AS {a}")
            sel = ", ".join(items)
            kw = "SELECT DISTINCT " if self.distinct else "SELECT "
            parts.append(kw + sel)
            parts.append(f"FROM {frm}")
            wc = self._where_sql(rel)
            if wc:
                parts.append(f"WHERE {wc}")
            if self.union_where is not None:
                parts.append("UNION ALL")
                parts.append("SELECT " + sel)
                parts.append(f"FROM {frm}")
                parts.append(f"WHERE {to_sql(self.union_where)}")
            if self.setop is not None:
                op, tw = self.setop
                parts.append({"intersect": "INTERSECT",
                              "intersect_all": "INTERSECT ALL",
                              "except": "EXCEPT",
                              "except_all": "EXCEPT ALL"}[op])
                parts.append("SELECT " + sel)
                parts.append(f"FROM {frm}")
                parts.append(f"WHERE {to_sql(tw)}")
        sql = "\n".join(parts)
        if self.limit is not None:
            cols = sorted(a for a, _ in self.select) if not self.group_by else \
                sorted([a for a, _ in self._group_keys()]
                       + [a for a, e in self.select if e.kind == "agg"]
                       + ([f"gf_{a}" for a, _ in self._group_keys()]
                          if self.grouping_flags else [])
                       + (["pw"] if self.post_window is not None else []))
            order = ", ".join(f"{c} ASC NULLS FIRST" for c in cols)
            sql = (f"SELECT * FROM (\n{sql}\n) q ORDER BY {order} "
                   f"LIMIT {self.limit}"
                   + (f" OFFSET {self.offset}" if self.offset else ""))
        return sql


# ---------------------------------------------------------------------------
# Generator
# ---------------------------------------------------------------------------

class FuzzGen:
    """Deterministic query generator; one instance per seed."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seed = seed

    # -- expressions --------------------------------------------------------

    def _cols_of(self, tables: list[str], dtypes: tuple[str, ...]) -> list[Expr]:
        out = []
        for t in tables:
            for c, d in TABLES[t].items():
                if d in dtypes:
                    out.append(col(c, d))
        return out

    def _int_expr(self, tables: list[str], depth: int = 0) -> Expr:
        rng = self.rng
        pool = self._cols_of(tables, ("int", "long"))
        choices = ["col", "col", "arith", "case", "case2", "gl", "year",
                   "cents", "length"]
        if depth >= 2:
            choices = ["col"]
        k = rng.choice(choices)
        if k == "col" or not pool:
            if pool:
                c = rng.choice(pool)
                return Expr("col", "long", value=c.value) if c.dtype == "long" else c
            return lit(rng.randint(0, 50), "long")
        if k == "arith":
            op = rng.choice(["+", "-", "*"])
            l = self._int_expr(tables, depth + 1)
            r = (lit(rng.randint(1, 997), "long") if rng.random() < 0.5
                 else self._int_expr(tables, depth + 1))
            if op == "*" and r.kind != "lit":
                r = lit(rng.randint(1, 97), "long")  # bound products
            return Expr("bin", "long", op=op, args=(l, r))
        if k == "case":
            cond = self._bool_expr(tables, depth + 1)
            a = self._int_expr(tables, depth + 1)
            b = lit(rng.randint(-100, 100), "long")
            return Expr("case", "long", args=(cond, a, b))
        if k == "case2":
            c1 = self._bool_expr(tables, depth + 1)
            c2 = self._bool_expr(tables, depth + 1)
            t1 = self._int_expr(tables, depth + 1)
            t2 = lit(rng.randint(-100, 100), "long")
            els = lit(rng.randint(-100, 100), "long")
            return Expr("case2", "long", args=(c1, t1, c2, t2, els))
        if k == "gl":
            args = tuple(self._int_expr(tables, depth + 1)
                         for _ in range(rng.randint(2, 3)))
            return Expr("gl", "long", op=rng.choice(["greatest", "least"]),
                        args=args)
        if k == "year":
            ts = self._cols_of(tables, ("ts",))
            if ts:
                return Expr("func", "int", op=rng.choice(["year", "month", "day"]),
                            args=(rng.choice(ts),))
            return self._int_expr(tables, depth + 1)
        if k == "cents":
            dbl = self._cols_of(tables, ("double",))
            if dbl:
                return Expr("func", "long", op="cents", args=(rng.choice(dbl),))
            return self._int_expr(tables, depth + 1)
        if k == "length":
            ss = self._cols_of(tables, ("str",))
            if ss:
                return Expr("func", "int", op="length",
                            args=(self._str_expr(tables, depth + 1),))
            return self._int_expr(tables, depth + 1)
        raise AssertionError

    def _str_expr(self, tables: list[str], depth: int = 0) -> Expr:
        rng = self.rng
        pool = self._cols_of(tables, ("str",))
        if not pool:
            return lit("x", "str")
        base = rng.choice(pool)
        if depth >= 2:
            return base
        k = rng.choice(["col", "col", "upper", "lower", "substr", "concat"])
        if k == "col":
            return base
        if k in ("upper", "lower"):
            return Expr("func", "str", op=k, args=(base,))
        if k == "substr":
            pos = lit(rng.randint(1, 3), "int")
            ln = lit(rng.randint(1, 8), "int")
            return Expr("func", "str", op="substr", args=(base, pos, ln))
        if k == "concat":
            other = rng.choice(pool)
            return Expr("func", "str", op="concat", args=(base, other))
        raise AssertionError

    def _bool_expr(self, tables: list[str], depth: int = 0) -> Expr:
        rng = self.rng
        if depth < 2 and rng.random() < 0.35:
            op = rng.choice(["and", "or"])
            return Expr("bin", "bool", op=op,
                        args=(self._bool_expr(tables, depth + 1),
                              self._bool_expr(tables, depth + 1)))
        if depth < 2 and rng.random() < 0.12:
            return Expr("not", "bool", args=(self._bool_expr(tables, depth + 1),))
        k = rng.choice(["int_cmp", "int_cmp", "str_eq", "str_like", "str_in",
                        "dbl_cmp", "ts_cmp", "isnull", "between"])
        if k == "between":
            x = self._int_expr(tables, depth + 1)
            a, b = sorted((rng.randint(0, 5000), rng.randint(0, 5000)))
            return Expr("between", "bool",
                        args=(x, lit(a, "long"), lit(b, "long")))
        if k == "int_cmp":
            l = self._int_expr(tables, depth + 1)
            op = rng.choice(["<", "<=", ">", ">=", "=", "<>"])
            r = (lit(rng.randint(0, 5000), "long") if rng.random() < 0.7
                 else self._int_expr(tables, depth + 1))
            return Expr("bin", "bool", op=op, args=(l, r))
        if k in ("str_eq", "str_like", "str_in"):
            pool = [c for c in self._cols_of(tables, ("str",))
                    if c.value in STR_LITERALS]
            if not pool:
                return self._bool_expr(tables, depth + 1) if depth < 3 else \
                    Expr("bin", "bool", op="=", args=(lit(1, "long"), lit(1, "long")))
            c = rng.choice(pool)
            vals = STR_LITERALS[c.value]
            if k == "str_eq":
                return Expr("bin", "bool", op=rng.choice(["=", "<>"]),
                            args=(c, lit(rng.choice(vals), "str")))
            if k == "str_like":
                v = rng.choice(vals)
                pat = rng.choice([v[:1] + "%", "%" + v[-1:], "%" + v[1:2] + "%"])
                return Expr("func", "bool", op="like", args=(c, lit(pat, "str")))
            picks = rng.sample(vals, k=min(len(vals), rng.randint(1, 3)))
            return Expr("func", "bool", op="in",
                        args=(c, *[lit(v, "str") for v in picks]))
        if k == "dbl_cmp":
            pool = self._cols_of(tables, ("double",))
            if not pool:
                return Expr("bin", "bool", op="=", args=(lit(1, "long"), lit(1, "long")))
            c = rng.choice(pool)
            thresh = {"l_quantity": (1, 50), "l_discount": (0, 1),
                      "l_tax": (0, 1)}.get(c.value, (0, 100000))
            v = round(rng.uniform(*thresh), 2)
            return Expr("bin", "bool", op=rng.choice(["<", ">", "<=", ">="]),
                        args=(c, lit(v, "double")))
        if k == "ts_cmp":
            pool = self._cols_of(tables, ("ts",))
            if not pool:
                return Expr("bin", "bool", op="=", args=(lit(1, "long"), lit(1, "long")))
            c = rng.choice(pool)
            d = dt.date(2023, 1, 1) + dt.timedelta(days=rng.randint(0, 720))
            return Expr("bin", "bool", op=rng.choice(["<", ">="]),
                        args=(c, lit(f"{d.isoformat()} 00:00:00", "ts")))
        if k == "isnull":
            pool = self._cols_of(tables, ("str", "long", "int", "double"))
            c = rng.choice(pool)
            return Expr("func", "bool", op="isnull", args=(c,))
        raise AssertionError

    def _agg_expr(self, tables: list[str]) -> Expr:
        rng = self.rng
        k = rng.choice(["count_star", "count", "countd", "sum", "sum",
                        "min", "max", "filter", "sumd"])
        if k == "count_star":
            return Expr("agg", "long", op="count_star")
        if k == "sum":
            return Expr("agg", "long", op="sum", args=(self._int_expr(tables),))
        if k == "sumd":
            c = rng.choice(self._cols_of(tables, ("int", "long")))
            return Expr("agg", "long", op="sumd", args=(c,))
        if k == "filter":
            # FILTER (WHERE cond) aggregates: SQL's FILTER clause vs Spark's
            # agg(when(cond, x)) — independent encodings of the same skip rule
            cond = self._bool_expr(tables, depth=1)
            kind = rng.choice(["count_starf", "sumf", "countf", "minf", "maxf"])
            if kind == "count_starf":
                return Expr("agg", "long", op=kind, args=(cond,))
            if kind == "sumf":
                return Expr("agg", "long", op=kind,
                            args=(self._int_expr(tables), cond))
            if kind == "countf":
                c = rng.choice(self._cols_of(tables, ("int", "long", "str")))
                return Expr("agg", "long", op=kind, args=(c, cond))
            c = rng.choice(self._cols_of(tables, ("int", "long", "str", "ts")))
            return Expr("agg", c.dtype, op=kind, args=(c, cond))
        if k in ("count", "countd"):
            c = rng.choice(self._cols_of(tables, ("int", "long", "str")))
            return Expr("agg", "long", op=k, args=(c,))
        # min/max: keep the argument's type
        pools = self._cols_of(tables, ("int", "long", "str", "double", "ts"))
        c = rng.choice(pools)
        return Expr("agg", c.dtype, op=k, args=(c,))

    # -- query --------------------------------------------------------------

    def gen(self) -> FuzzQuery:
        rng = self.rng
        # Walk a simple path through the FK graph.
        start = rng.choice(list(TABLES))
        tables, hows, ons, extras = [start], [], [], []
        while len(tables) < 3 and rng.random() < 0.55:
            frontier = []
            for (lt, lc, rt, rc) in FK_EDGES:
                if lt in tables and rt not in tables:
                    frontier.append((lc, rt, rc))
                elif rt in tables and lt not in tables:
                    frontier.append((rc, lt, lc))
            if not frontier:
                break
            lc, nt, rc = rng.choice(frontier)
            tables.append(nt)
            # r9: FULL OUTER joins added — null-extended rows (from EITHER
            # side) feed the downstream WHERE/aggregate/grouping-key 3VL
            how = rng.choice(["inner", "inner", "inner", "left", "left", "full"])
            hows.append(how)
            ons.append((lc, rc))
            # r9: extra ON-clause conjunct over the newly joined table —
            # equivalent to WHERE under inner, null-extending under outer
            # (the ON-vs-WHERE trap); higher odds on outer joins where the
            # semantics actually differ
            p_extra = 0.4 if how != "inner" else 0.12
            extras.append(self._bool_expr([nt]) if rng.random() < p_extra
                          else None)

        where = self._bool_expr(tables) if rng.random() < 0.8 else None
        limit = rng.randint(1, 200) if rng.random() < 0.15 else None
        offset = rng.randint(1, 50) if limit and rng.random() < 0.35 else None

        # Correlated existence along an unused FK edge: Spark semi/anti join
        # vs SQL [NOT] EXISTS — independent encodings of the same semantics.
        exists_rel = None
        if rng.random() < 0.3:
            frontier = []
            for (lt, lc, rt, rc) in FK_EDGES:
                if lt in tables and rt not in tables:
                    frontier.append((rt, lc, rc))
                elif rt in tables and lt not in tables:
                    frontier.append((lt, rc, lc))
            if frontier:
                sub_t, oc, sc = rng.choice(frontier)
                sub_where = (self._bool_expr([sub_t])
                             if rng.random() < 0.6 else None)
                exists_rel = (sub_t, oc, sc, sub_where, rng.random() < 0.4)

        # Uncorrelated scalar subquery: any table works (no FK needed); the
        # sub_where sometimes filters to empty, exercising the NULL-scalar
        # path in both encodings.
        scalar_sub = None
        if rng.random() < 0.22:
            sub_t = rng.choice(list(TABLES))
            int_cols = [c for c, d in TABLES[sub_t].items()
                        if d in ("int", "long")]
            if int_cols:
                sub_col = rng.choice(int_cols)
                sub_where = (self._bool_expr([sub_t])
                             if rng.random() < 0.5 else None)
                scalar_sub = (sub_t, rng.choice(["min", "max"]), sub_col,
                              rng.randint(-1000, 1000),
                              rng.choice(["<", "<=", ">", ">=", "<>"]),
                              self._int_expr(tables), sub_where)

        # [NOT] IN subquery over any table: half along an FK edge
        # (membership mostly true), half on an arbitrary int column pair
        # (mostly false); non-key sub columns carry NULLs under the
        # nullable fixture, firing the NOT-IN-with-NULLs empty-result rule.
        in_sub = None
        if rng.random() < 0.22:
            if rng.random() < 0.5:
                frontier = []
                for (lt, lc, rt, rc) in FK_EDGES:
                    if lt in tables and rt not in tables:
                        frontier.append((rt, lc, rc))
                    elif rt in tables and lt not in tables:
                        frontier.append((lt, rc, lc))
                pick = rng.choice(frontier) if frontier else None
            else:
                pick = None
            if pick is not None:
                sub_t, oc, sc = pick
            else:
                sub_t = rng.choice(list(TABLES))
                sub_ints = [c for c, d in TABLES[sub_t].items()
                            if d in ("int", "long")]
                outer_ints = [c.value for c in self._cols_of(tables,
                                                             ("int", "long"))]
                if not sub_ints or not outer_ints:
                    sub_t = None
                else:
                    # prefer non-key sub columns: they carry NULLs under the
                    # nullable fixture, making NOT IN's empty-result rule
                    # (any NULL in the set) a LIVE path, not a dead branch
                    nonkey = [c for c in sub_ints if not c.endswith("key")]
                    sc = (rng.choice(nonkey) if nonkey and rng.random() < 0.6
                          else rng.choice(sub_ints))
                    oc = rng.choice(outer_ints)
            if sub_t is not None:
                sub_where = (self._bool_expr([sub_t])
                             if rng.random() < 0.6 else None)
                in_sub = (sub_t, oc, sc, rng.random() < 0.5, sub_where)

        # Aggregate-then-join along an unused FK edge (projection shape
        # only): the derived value must survive the join NULL-intact, so
        # how=left + a selective sub_where exercises the empty-group path.
        derived_join = None
        if rng.random() < 0.25:
            frontier = []
            for (lt, lc, rt, rc) in FK_EDGES:
                if lt in tables and rt not in tables:
                    frontier.append((rt, rc, lc))
                elif rt in tables and lt not in tables:
                    frontier.append((lt, lc, rc))
            if frontier:
                sub_t, sk, oc = rng.choice(frontier)
                int_cols = [c for c, d in TABLES[sub_t].items()
                            if d in ("int", "long")]
                agg_op = rng.choice(["count_star", "sum", "sum", "min", "max"])
                agg_col = rng.choice(int_cols) if int_cols else None
                if agg_col is None:
                    agg_op = "count_star"
                sub_where = (self._bool_expr([sub_t])
                             if rng.random() < 0.5 else None)
                derived_join = (sub_t, sk, agg_op,
                                None if agg_op == "count_star" else agg_col,
                                oc, rng.choice(["inner", "left"]), sub_where)

        # r11: PIVOT shape — the join path contains a closed-domain column;
        # Spark native pivot vs SQL conditional-aggregation dual.
        if rng.random() < 0.12:
            cands = [(pc, vals) for t in tables
                     for pc, vals in PIVOTABLE.get(t, [])]
            pool = [c for t in tables for c in GROUPABLE[t]]
            if cands:
                pcol, values = rng.choice(cands)
                pool = [c for c in pool if c != pcol]
                if pool:
                    gcols = [col(c, TABLES[self._owner(c)][c])
                             for c in rng.sample(
                                 pool, k=min(len(pool), rng.randint(1, 2)))]
                    agg_op = rng.choice(["sum", "sum", "min", "max"])
                    return FuzzQuery(
                        self.seed, tables, hows, ons, where, gcols, [],
                        join_extra=extras,
                        pivot=(pcol, values, agg_op, self._int_expr(tables)))

        # r11: UNPIVOT/melt shape — computed long measures over one table;
        # Spark native unpivot (NULL-keeping) vs SQL UNION-ALL dual.
        if (len(tables) == 1 and tables[0] in UNIQUE_KEYS
                and rng.random() < 0.10):
            t0 = tables[0]
            measures = [(f"m{i}", self._int_expr([t0]))
                        for i in range(rng.randint(2, 3))]
            return FuzzQuery(self.seed, [t0], [], [], where, [], [],
                             unpivot=(UNIQUE_KEYS[t0], measures),
                             limit=limit, offset=offset)

        if (len(tables) == 1 and tables[0] in UNIQUE_KEYS
                and rng.random() < 0.25):
            # windowed shape: ORDER BY the unique key makes every window's
            # row order total, so lag/lead/rank/frames agree row-for-row
            t0 = tables[0]
            wtables = [t0]
            # r9: optionally LEFT JOIN a dim along an N:1 FK edge out of t0
            # (the joined key is the dim's PK, so t0's unique key STAYS
            # unique and the window order stays total) — null-extended
            # right-side columns then feed window PARTITIONS (NULL
            # partitions group together in both engines) and window
            # ARGUMENTS (NULL propagation through lag/frames).  An ON-extra
            # conjunct makes unmatched rows live even on the non-nullable
            # fixture (referential integrity would otherwise match every FK).
            if rng.random() < 0.45:
                n1 = [(lc, rt, rc) for (lt, lc, rt, rc) in FK_EDGES
                      if lt == t0]
                if n1:
                    lc, rt, rc = rng.choice(n1)
                    wtables.append(rt)
                    hows.append("left")
                    ons.append((lc, rc))
                    extras.append(self._bool_expr([rt])
                                  if rng.random() < 0.6 else None)
            wins = []
            for i in range(rng.randint(1, 3)):
                part = rng.choice([c for t in wtables for c in GROUPABLE[t]])
                fn = rng.choice(["row_number", "rank", "lag", "lead",
                                 "sum", "min", "max", "count",
                                 "ntile", "sum_range"])
                arg = None
                if fn in ("lag", "lead", "min", "max"):
                    arg = rng.choice(self._cols_of(wtables, ("int", "long")))
                elif fn in ("sum", "sum_range"):
                    arg = self._int_expr(wtables)
                elif fn == "ntile":
                    arg = lit(rng.randint(2, 5), "int")
                wins.append((f"w{i}", fn, arg, part))
            return FuzzQuery(self.seed, wtables, hows, ons, where, [], [],
                             join_extra=extras, windows=wins, limit=limit,
                             offset=offset)

        if rng.random() < 0.55:
            # grouped query
            gcols = []
            pool = [c for t in tables for c in GROUPABLE[t]]
            for c in rng.sample(pool, k=min(len(pool), rng.randint(1, 2))):
                gcols.append(col(c, TABLES[self._owner(c)][c]))
            group_kind = rng.choice(
                ["group"] * 4 + ["rollup", "cube", "gsets"]
            )
            # r8: expression group keys — year/month/day(ts), substr,
            # length, or a CASE bucket, grouped AS THE EXPRESSION in both
            # renderings (NULL keys group together under the nullable
            # fixture in both engines).  Skipped under gsets (plain-col
            # keys only — see the grouping_sets field note).
            if group_kind != "gsets" and rng.random() < 0.35:
                e = self._group_key_expr(tables)
                if e is not None:
                    gcols.append(e)
            select = [(f"a{i}", self._agg_expr(tables))
                      for i in range(rng.randint(1, 3))]
            having = None
            long_aggs = [a for a, e in select if e.dtype == "long"]
            if long_aggs and rng.random() < 0.3:
                having = (rng.choice(long_aggs), rng.randint(0, 20))
            # r10: explicit GROUPING SETS — 2-4 DISTINCT key-index subsets
            # (duplicate sets would be legal ANSI but emit duplicate groups;
            # distinctness keeps the production about the null-flag algebra,
            # not dialect bag-duplication corners)
            grouping_sets = None
            if group_kind == "gsets":
                import itertools

                full = list(range(len(gcols)))
                subsets = [
                    list(c)
                    for r in range(len(gcols))
                    for c in itertools.combinations(full, r)
                ]
                k = min(len(subsets), rng.randint(1, 3))
                # the full key set is always a member: every selected key
                # column must appear in >=1 grouping set or the SQL side
                # is not a legal grouped projection (DuckDB binder error;
                # Spark would silently treat it as always-aggregated)
                grouping_sets = [full] + rng.sample(subsets, k=k)
            # r10: GROUPING() null-flags on every subtotal-capable shape
            # with plain-col keys (F.grouping on an aliased/computed key
            # does not resolve DataFrame-side)
            grouping_flags = (
                group_kind != "group"
                and all(g.kind == "col" for g in gcols)
                and rng.random() < 0.6
            )
            # r9: window over the grouped result — only under plain GROUP
            # BY (rollup/cube subtotal rows duplicate key combinations, so
            # ORDER BY keys would not be total there)
            post_window = None
            if group_kind == "group" and gcols and rng.random() < 0.3:
                fn = rng.choice(["row_number", "lag", "sum_running", "ntile"])
                if fn in ("lag", "sum_running") and not long_aggs:
                    fn = "row_number"
                post_window = (
                    fn,
                    rng.choice(long_aggs) if fn in ("lag", "sum_running")
                    else None,
                    rng.randint(2, 5) if fn == "ntile" else None,
                )
            return FuzzQuery(self.seed, tables, hows, ons, where, gcols,
                             select, join_extra=extras, having=having,
                             limit=limit, exists_rel=exists_rel,
                             group_kind=group_kind, scalar_sub=scalar_sub,
                             offset=offset, in_sub=in_sub,
                             post_window=post_window,
                             grouping_sets=grouping_sets,
                             grouping_flags=grouping_flags)

        # projection query
        select = []
        for i in range(rng.randint(2, 5)):
            kind = rng.choice(["int", "int", "str"])
            e = self._int_expr(tables) if kind == "int" else self._str_expr(tables)
            select.append((f"c{i}", e))
        # r11: VariantType extraction columns — assemble JSON from row
        # values, parse to VARIANT, extract typed paths (Spark parse_json/
        # variant_get vs SQL json_extract_string).
        if rng.random() < 0.2:
            strs = self._cols_of(tables, ("str",))
            if strs:
                sc = rng.choice(strs)
                select.append(("vj", Expr(
                    "func", "long", "vget_int",
                    (self._int_expr(tables), sc))))
                if rng.random() < 0.5:
                    select.append(("vjs", Expr(
                        "func", "str", "vget_str",
                        (self._int_expr(tables), sc))))
        if derived_join is not None:
            select.append(("dj", col("__djv", "long")))
        # r9: correlated scalar subquery in the SELECT list along an unused
        # FK edge — SQL stays correlated (DuckDB decorrelates internally),
        # Spark is hand-decorrelated (left join on the grouped aggregate);
        # a selective sub_where exercises the zero-matching-rows path
        # (count→0 vs sum/min/max→NULL).
        select_scalar = None
        if rng.random() < 0.25:
            frontier = []
            for (lt, lc, rt, rc) in FK_EDGES:
                if lt in tables and rt not in tables:
                    frontier.append((rt, rc, lc))
                elif rt in tables and lt not in tables:
                    frontier.append((lt, lc, rc))
            if frontier:
                sub_t, sk, oc = rng.choice(frontier)
                int_cols = [c for c, d in TABLES[sub_t].items()
                            if d in ("int", "long")]
                agg_op = rng.choice(["count_star", "sum", "sum", "min", "max"])
                agg_col = rng.choice(int_cols) if int_cols else None
                if agg_col is None:
                    agg_op = "count_star"
                sub_where = (self._bool_expr([sub_t])
                             if rng.random() < 0.5 else None)
                select_scalar = (sub_t, oc, sk, agg_op,
                                 None if agg_op == "count_star" else agg_col,
                                 sub_where)
                select.append(("ssv", col("__ssv", "long")))
        # distinct / UNION ALL / set-op twins are mutually exclusive:
        # composing them would make the SQL rendering order (e.g.
        # DISTINCT-then-union) diverge from the Spark one
        distinct = union_where = setop = None
        r = rng.random()
        if r < 0.15:
            distinct = True
        elif r < 0.3:
            union_where = self._bool_expr(tables)
        elif r < 0.45:
            setop = (rng.choice(["intersect", "intersect_all",
                                 "except", "except_all"]),
                     self._bool_expr(tables))
        return FuzzQuery(self.seed, tables, hows, ons, where, [], select,
                         join_extra=extras, distinct=bool(distinct),
                         union_where=union_where, setop=setop, limit=limit,
                         exists_rel=exists_rel, scalar_sub=scalar_sub,
                         offset=offset, derived_join=derived_join,
                         in_sub=in_sub, select_scalar=select_scalar)

    def _group_key_expr(self, tables: list[str]) -> Expr | None:
        """A deterministic non-column grouping expression (int or str typed;
        doubles are excluded from keys on purpose — exact-repr grouping of
        derived floats is not a semantics we want to pin)."""
        rng = self.rng
        k = rng.choice(["ymd", "substr", "length", "case"])
        if k == "ymd":
            ts = self._cols_of(tables, ("ts",))
            if not ts:
                return None
            return Expr("func", "int", op=rng.choice(["year", "month", "day"]),
                        args=(rng.choice(ts),))
        ss = self._cols_of(tables, ("str",))
        if k == "substr":
            if not ss:
                return None
            return Expr("func", "str", op="substr",
                        args=(rng.choice(ss), lit(1, "int"),
                              lit(rng.randint(1, 2), "int")))
        if k == "length":
            if not ss:
                return None
            return Expr("func", "int", op="length", args=(rng.choice(ss),))
        cond = self._bool_expr(tables, depth=1)
        return Expr("case", "str",
                    args=(cond, lit("hi", "str"), lit("lo", "str")))

    @staticmethod
    def _owner(colname: str) -> str:
        for t, cols in TABLES.items():
            if colname in cols:
                return t
        raise KeyError(colname)


# ---------------------------------------------------------------------------
# Comparison (mirrors tools/check_oracle.py typed mode)
# ---------------------------------------------------------------------------

def _canon(v) -> str:
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def _canon_rows(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def _spark_family(d) -> str:
    """Canonical type family (mirrors tools/check_oracle.py typed mode)."""
    from pyspark.sql import types as T

    if isinstance(d, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(d, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(d, T.DecimalType):
        return f"decimal({d.scale})"
    if isinstance(d, T.BooleanType):
        return "bool"
    if isinstance(d, T.StringType):
        return "str"
    if isinstance(d, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    return d.simpleString()


def _arrow_family(at) -> str:
    import pyarrow as pa

    if pa.types.is_integer(at):
        return "int"
    if pa.types.is_floating(at):
        return "float"
    if pa.types.is_decimal(at):
        return f"decimal({at.scale})"
    if pa.types.is_boolean(at):
        return "bool"
    if pa.types.is_string(at) or pa.types.is_large_string(at):
        return "str"
    if pa.types.is_timestamp(at):
        return "timestamp"
    return str(at)


def _schema_mismatches(sdf, atbl) -> list[str]:
    sfam = {f.name: _spark_family(f.dataType) for f in sdf.schema.fields}
    ofam = {f.name: _arrow_family(f.type) for f in atbl.schema}
    return [f"type[{c}] spark={sfam[c]} duckdb={ofam[c]}"
            for c in sorted(set(sfam) & set(ofam)) if sfam[c] != ofam[c]]


def run_one(spark: SparkSession, con, q: FuzzQuery, sf_dir: str) -> dict:
    """Execute both renderings; return a result record (ok / mismatch detail)."""
    rec: dict = {"seed": q.seed, "sql": q.sql(), "ok": False}
    sdf = q.spark_df(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    atbl = con.execute(q.sql()).fetch_arrow_table()
    orows = [tuple(c[i].as_py() for c in atbl.columns)
             for i in range(atbl.num_rows)]
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
    if sorted(sdf.columns) != sorted(atbl.column_names):
        problems.append(f"columns spark={sorted(sdf.columns)} "
                        f"duckdb={sorted(atbl.column_names)}")
    if not problems:
        problems.extend(_schema_mismatches(sdf, atbl))
    if not problems:
        sc, oc = _canon_rows(sdf.columns, srows), _canon_rows(atbl.column_names, orows)
        if sc != oc:
            so = [r for r in sc if r not in set(oc)][:3]
            oo = [r for r in oc if r not in set(sc)][:3]
            problems.append(f"values differ; spark-only={so} duckdb-only={oo}")
    rec["rows"] = len(srows)
    if problems:
        rec["problems"] = problems
    else:
        rec["ok"] = True
    return rec


def run_campaign(spark: SparkSession, sf_dir: str, n: int, seed0: int = 0,
                 verbose: bool = False,
                 seeds: list[int] | None = None) -> dict:
    """Run ``n`` seeded queries (or an explicit ``seeds`` list, which
    overrides n/seed0 — used for production-targeted sweeps); returns
    {"pass": .., "fail": .., "failures": [..]}."""
    import duckdb

    from wikipediaetl_spark.sources import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")
    n_pass, failures = 0, []
    for s in (seeds if seeds is not None else range(seed0, seed0 + n)):
        q = FuzzGen(s).gen()
        rec = run_one(spark, con, q, sf_dir)
        if rec["ok"]:
            n_pass += 1
            if verbose:
                print(f"ok    seed={s} rows={rec['rows']}")
        else:
            failures.append(rec)
            print(f"FAIL  seed={s}: {rec.get('problems')}\n{rec['sql']}")
    return {"pass": n_pass, "fail": len(failures), "failures": failures}


def make_nullable_fixture(src_dir: str, dst_dir: str,
                          seed: int = 0, null_frac: float = 0.08) -> None:
    """Copy the fuzz schema's tables, injecting NULLs into non-key columns.

    The driver fixtures carry no NULLs in base columns, so without this the
    3-valued-logic productions (isnull, NULL propagation through arithmetic,
    ||-concat, CASE, and aggregates' NULL-skipping) only ever see NULLs
    manufactured by left joins. Every column not ending in ``key`` gets an
    independent deterministic ~``null_frac`` of NULLs, keyed off a DuckDB
    integer hash of the row's first key column, the column's position, and
    ``seed`` — both engines then read identical parquet files.
    """
    import duckdb

    con = duckdb.connect()
    for t, cols in TABLES.items():
        # the hash key must be a numeric key column, not blindly cols[0]: a
        # future TABLES entry with a non-key first column would silently
        # change null-injection semantics or fail at COPY time (ADVICE r7)
        key_cols = [c for c in cols if c.endswith("key")]
        assert key_cols, f"fuzz table {t!r} has no *key column for null hashing"
        key0 = key_cols[0]
        exprs = []
        for i, c in enumerate(cols):
            if c.endswith("key") or c == key0:
                exprs.append(c)
            else:
                exprs.append(
                    f"CASE WHEN hash({key0} * {i + 7} + {seed}) % 1000 < "
                    f"{int(null_frac * 1000)} THEN NULL ELSE {c} END AS {c}")
        con.execute(
            f"COPY (SELECT {', '.join(exprs)} FROM "
            f"read_parquet('{src_dir}/{t}.parquet')) TO "
            f"'{dst_dir}/{t}.parquet' (FORMAT PARQUET)")
    # the campaign registers every TABLE_NAMES view; provide the remaining
    # tables untouched so registration succeeds
    import os
    import shutil

    from wikipediaetl_spark.sources import TABLE_NAMES

    for t in TABLE_NAMES:
        if t not in TABLES:
            dst = f"{dst_dir}/{t}.parquet"
            if not os.path.exists(dst):
                shutil.copyfile(f"{src_dir}/{t}.parquet", dst)
