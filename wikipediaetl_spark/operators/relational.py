"""Relational core: the oracle-checked operator inventory (SURVEY.md §2).

The reference performs its relational work either through PySpark DataFrame
code (ETL/tasks/categorizer.py, converter.py) or procedurally through ORM
point-lookups (categorizer.py:156-187). This module re-expresses every
operator class — scans, projections, filters, joins (inner/left/semi/anti/
full/cross/range/as-of), aggregations (incl. rollup/cube), windows, sorts,
set ops, JSON, CASE, string/date functions — as declarative DataFrame plans
so Catalyst gets pushdown, pruning, join selection and whole-stage codegen.

Scale notes (100 TB posture), applied per query below:
- filters/projections go directly on the scan → parquet pushdown + pruning;
- dimension joins (region/nation/supplier/part/bands) are broadcast — no
  shuffle of the fact side;
- fact-fact joins (lineitem⋈orders) shuffle on the join key once; AQE
  handles skew and coalesces post-shuffle partitions;
- windows partition by high-cardinality keys (custkey), never a global
  orderBy except for deliberately small final results;
- money aggregates fold as exact LONGs on a 10^-k grid and combine as
  DECIMAL(38,0) (``functions/fixedpoint.py``; a few small dimension sums use
  ``dsum``), so results are identical under any partitioning / execution
  order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from wikipediaetl_spark.catalog import query
from wikipediaetl_spark.functions.fixedpoint import scaled_long, sum_unscaled, unscale
from wikipediaetl_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def dsum(col, scale: int = 4):
    """Order-independent money sum: accumulate as exact decimal, return
    double.

    Summing doubles is order-sensitive in the last bits, so results would
    differ run-to-run (and engine-to-engine) under different partitionings.
    Monetary fixture values have ≤scale decimal digits, so casting each term
    to DECIMAL(18,scale) is lossless and the distributed sum is exact —
    bit-identical on Spark and the DuckDB oracle regardless of order. SQL
    twin: CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE).
    """
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def davg(col, scale: int = 4):
    """Exact-sum average: dsum / count — deterministic double division of
    identical operands on both engines. SQL twin:
    CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / count(*)."""
    return dsum(col, scale) / F.count(F.lit(1))


# ---------------------------------------------------------------- scans


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS sum_base_price,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5) AS BIGINT))
                AS DOUBLE) / 1000000.0 AS sum_disc_price,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
           sum(l_quantity) / count(*) AS avg_qty,
           CAST(sum(CAST(floor(l_extendedprice * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / count(*) AS avg_price,
           CAST(sum(CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → pushed filter → two-stage exact aggregation.

    Money sums are two-stage fixed-point folds at scale 1e6
    (``functions/fixedpoint.py``): per-(group, partition) LONG partials
    inside whole-stage codegen — 2.6× faster than per-row DECIMAL
    accumulation — then the tiny partials merge as DECIMAL(28,0) and divide
    in double, as the oracle does. The shuffle carries (groups × partitions)
    partial rows, not data.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    scaled = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        scaled_long(F.col("l_extendedprice"), 1_000_000).alias("s_price"),
        scaled_long(disc_price, 1_000_000).alias("s_disc_price"),
        scaled_long(disc_price * (1 + F.col("l_tax")), 1_000_000).alias("s_charge"),
        scaled_long(F.col("l_discount"), 1_000_000).alias("s_disc"),
        F.spark_partition_id().alias("pid"),
    )
    partials = scaled.groupBy("l_returnflag", "l_linestatus", "pid").agg(
        F.sum("l_quantity").alias("p_qty"),
        F.sum("s_price").alias("p_price"),
        F.sum("s_disc_price").alias("p_disc_price"),
        F.sum("s_charge").alias("p_charge"),
        F.sum("s_disc").alias("p_disc"),
        F.count(F.lit(1)).alias("p_n"),
    )

    def merged(col: str):
        return F.sum(F.col(col).cast("decimal(28,0)")).cast("double") / 1000000.0

    n = F.sum("p_n")
    return partials.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("p_qty").alias("sum_qty"),
        merged("p_price").alias("sum_base_price"),
        merged("p_disc_price").alias("sum_disc_price"),
        merged("p_charge").alias("sum_charge"),
        (F.sum("p_qty") / n).alias("avg_qty"),
        (merged("p_price") / n).alias("avg_price"),
        (merged("p_disc") / n).alias("avg_disc"),
        F.sum("p_n").alias("count_order"),
    )


@query(
    "q02_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           l_extendedprice * (1 - l_discount) AS net_price,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_quantity >= 45
    """,
)
def q02_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + derived column + pushed-down comparison filter.

    Reference parity: the select/withColumn chains of
    ETL/tasks/categorizer.py:131-139 and converter.py:52-58. `.explain`
    must show PushedFilters: [GreaterThanOrEqual(l_quantity,45.0)] and a
    pruned ReadSchema (5 of 11 columns).
    """
    li = _t(spark, sf_dir, "lineitem")
    # net_price is a single double multiply of identical operands on both
    # engines → bit-identical; no rounding needed (or wanted — round() tie
    # semantics differ across engines).
    return li.filter(F.col("l_quantity") >= 45).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


@query(
    "q03_filter_predicates",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
      AND (o_orderpriority IN ('1-URGENT', '2-HIGH') OR o_totalprice BETWEEN 200000 AND 300000)
      AND o_orderpriority NOT LIKE '%NOT%'
      AND o_orderkey % 2 = 0
    """,
)
def q03_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates: AND/OR, IN, BETWEEN, NOT LIKE, modulo arithmetic.

    Reference parity: domain filter (WikipediaCrawler/parser/app/main.py:24)
    and null/emptiness predicates (fetcher/app/main.py:91-94) generalized to
    the full predicate surface. All conjuncts are Catalyst-pushable.
    """
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O")
        & (
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            | F.col("o_totalprice").between(200000, 300000)
        )
        & (~F.col("o_orderpriority").like("%NOT%"))
        & (F.col("o_orderkey") % 2 == 0)
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


@query(
    "q04_orderby_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q04_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject — per-partition heap
    then driver merge of 20-row heads, never a full sort+shuffle. Tiebreak on
    o_orderkey makes the result deterministic."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------- aggregation


@query(
    "q05_group_agg",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal,
           min(c_acctbal) AS min_bal,
           max(c_acctbal) AS max_bal,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q05_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scalar-aggregate surface: count/avg/min/max/sum per group
    (SURVEY.md §2.4 [E])."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        davg(F.col("c_acctbal"), 2).alias("avg_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        dsum(F.col("c_acctbal"), 2).alias("sum_bal"),
    )


@query(
    "q06_distinct",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def q06_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column distinct (hash aggregate without agg exprs).

    Reference parity: global distinct of category names
    (categorizer.py:167-175, unique constraint at :65)."""
    return _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "q07_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q07_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation — Catalyst plans expand + two-phase agg."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@query("q08_approx_count_distinct")
def q08_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate (SURVEY.md §2.4 [E]).

    No SQL oracle: DuckDB's approx_count_distinct uses a different sketch, so
    estimates differ; the driver records a rows-only check. tests assert the
    estimate is within rsd of the exact count."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers")
    )


@query(
    "q09_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q09_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (SURVEY.md §2.4 [E]).

    r11 adopted wave (grouping-family pre-aggregation, see q10/q66):
    Catalyst plans ROLLUP as Expand × |sets| below the aggregate, tripling
    the 240M-row stream through the partial-aggregate codegen stage. Every
    aggregate here is decomposable, so the fine-grain (flag, status)
    aggregate (~6 rows) runs first and ROLLUP re-aggregates the partials —
    the Expand then multiplies 6 rows, not 240M. Adjudication note: a
    cross-session comparison first read this wave as negative here (3.02 s
    native in the tranche sweep vs 3.78 s pre-agg in a fresh session); the
    within-run A/B — the only citable methodology per BENCH_NOTES —
    measured native 3.9–4.2 s vs pre-agg 1.9–2.2 s over 3 alternated reps,
    a 2× win; canonical row 2.53 s / 3.06×. Sum exactness: l_quantity is
    integer-valued (≤50), partial double sums stay ≪2^53. Plan-asserted in
    tests/test_plans.py."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("pq"), F.count(F.lit(1)).alias("pn")
    )
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("pq").alias("sum_qty"), F.sum("pn").alias("n")
    )


@query(
    "q10_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations via CUBE (SURVEY.md §2.4 [E]).

    r11 adopted wave — see q09_rollup: the fine-grain (status, priority)
    aggregate runs below the Expand, so CUBE's 4-way row duplication hits
    partial rows instead of 60M orders.

    r12 (the q32/q108 finding): the fine-grain partial itself was a per-row
    DECIMAL(18,2) cast+accumulate over all 60M rows — 64% of q32's
    identical fold, measured. Money now folds as exact cents in partials
    salted by spark_partition_id() (``functions/fixedpoint.py``). The
    Expand now consumes |tasks|·15 rows instead of 15 — still nothing.
    Within-run A/B at 400× (OPTIMIZATION_r12.md): 3.07 → 1.45 s
    (2.12×), values identical."""
    o = _t(spark, sf_dir, "orders")
    cents = scaled_long(F.col("o_totalprice"), 100)
    base = (
        o.select(
            "o_orderstatus",
            "o_orderpriority",
            cents.alias("c"),
            F.spark_partition_id().alias("p"),
        )
        .groupBy("o_orderstatus", "o_orderpriority", "p")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("c").alias("pc"))
    )
    return base.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum("pn").alias("n"),
        sum_unscaled(F.col("pc"), 100).alias("revenue"),
    )


# ---------------------------------------------------------------- joins


@query(
    "q11_star_join",
    oracle="""
    SELECT r_name, n_name,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q11_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: fact ⋈ three dims, revenue per region/nation.

    Plan: EAGER AGGREGATION — the fact table is pre-aggregated to the join
    key's grain (o_custkey: count + exact integer-CENTS partial sum, both
    associative) BEFORE touching any dimension. Map-side combine collapses
    the fact scan to ~|customer| rows per partition, so the only shuffle
    is |customer|-sized regardless of fact cardinality; the three dims
    then broadcast onto that tiny aggregate and the final regroup to
    (region, nation) is trivial. This is the groupby-pushdown rewrite
    Catalyst does not apply automatically.

    Money accumulates as exact cents (``functions/fixedpoint.py``), not
    DECIMAL, and the final /100.0 of a <2⁵³ integer rounds identically to
    casting the exact decimal total — but the hot aggregate runs integer
    adds instead of decimal128 adds, measured 2.43 s → 0.76 s over the 400×
    fixture's 60M-row scan."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(scaled_long(F.col("o_totalprice"), 100)).alias("pcents"),
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum("pn").alias("n_orders"),
            (F.sum("pcents").cast("double") / 100.0).alias("revenue"),
        )
    )


@query(
    "q12_fact_fact_join",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q12_fact_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join (lineitem ⋈ orders) with pre-join filter.

    The filter on orders is applied *before* the join (Catalyst pushes it
    below), shrinking the shuffled build side. The filtered side carries a
    SHUFFLE_HASH hint: at the 400× fixture the sort-merge default spends
    its time sorting 240M lineitem rows, while a shuffled hash join builds
    on the (⅓-selectivity) orders side and streams lineitem unsorted —
    measured 17.9 s → 12.9 s. Rejected alternatives, all measured at 400×:
    eager pre-aggregation of lineitem to orderkey grain (r4: 48 s; re-tried
    r5 with exchange reuse: 28-47 s — the 60M-key partial map combines
    little and thrashes), and broadcast of the filtered orders side (17 s —
    the driver builds a 30M-row HashedRelation single-threaded).

    r5 (VERDICT r4 #1): the revenue fold runs in INT64, not per-row
    decimal. Each term quantizes ONCE, scan-side, to exact 1e-4 units
    (``functions/fixedpoint.py``): extendedprice/discount carry ≤2+2
    decimal digits, so the product lies on the 1e-4 grid and the long ·100
    equals the oracle's CAST(v AS DECIMAL(18,6)) micros term-by-term
    (asserted bit-exact vs the decimal plan at 400×, BENCH_NOTES.md r5
    q12). The join stage then folds longs in whole-stage codegen
    — profiled 245 s → 115 s of task time at 400× (the decimal accumulator
    was HALF the join stage) — and the shuffle carries an integer column
    that compresses 14% tighter than the double. Partials group by
    (priority, input partition id): a plain per-priority long sum would
    overflow ~1e10 rows/group, the salted partials never do. At 100 TB the
    same trade holds whenever the probe side is much larger than the build
    side and memory fits the build partition; AQE's skew splitting still
    applies to the hash variant.

    r6: the ≤4.0×-at-400× target is RE-FOUNDED on the stored-layout path
    (VERDICT r5 #2): stock oscillates 4.1-5.0× across rounds with this
    plan unchanged (machine noise, BENCH_NOTES r6), while the bucketed
    lineitem→orderkey rollup (operators/layout.py
    materialize_lineitem_rollup, maintained by
    merge_batch_into_lineitem_rollup) serves this exact shape at **1.40×**
    with the join exchange-free — BENCH_BUCKETED_400x.json, exact-match
    asserted in the same run.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    # project + quantize the revenue term BEFORE the join: the 240M-row
    # shuffle carries (orderkey, long units) — pre-SUMMING below the join
    # stays rejected (measured above), pre-COMPUTING is free
    liv = li.select(
        "l_orderkey",
        scaled_long(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 10_000
        ).alias("vu"),
    )
    j = liv.join(o.hint("shuffle_hash"), liv.l_orderkey == o.o_orderkey)
    inner = j.groupBy("o_orderpriority", F.spark_partition_id().alias("pid")).agg(
        F.count(F.lit(1)).alias("pn"), F.sum("vu").alias("pvu")
    )
    return inner.groupBy("o_orderpriority").agg(
        F.sum("pn").cast("long").alias("n_lines"),
        sum_unscaled(F.col("pvu"), 10_000).alias("revenue"),
    )


@query(
    "q13_left_join",
    oracle="""
    SELECT c_custkey, c_name,
           count(o_orderkey) AS n_orders,
           coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def q13_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders; count(col)
    skips nulls so the no-order rows report 0.

    r11 adopted wave: the aggregate is pushed BELOW the join — orders
    collapses to per-custkey (count, decimal-sum) partials via map-side
    combine before any exchange, and the left join then broadcasts the
    ~|customer|-row aggregate instead of shuffling the fact at order grain.
    Exact because (c_custkey, c_name) is functionally dependent on the join
    key and count(o_orderkey) == per-custkey count(*) (o_orderkey is never
    null); zero-order customers surface as null partials → coalesce to 0.
    Within-run A/B at 400× (BENCH_NOTES.md r11 q13/q15): 4.3–4.7 s → 2.2–2.4 s,
    value-identical.

    r12 (the q32/q108 finding — per-row decimal folds, not scans, are the
    wall): the partial accumulates exact cents instead of DECIMAL(18,2)
    (``functions/fixedpoint.py``); per-custkey totals are bounded by a
    customer's order count (~10-40 × ≤5.6e7 cents, nowhere near 2⁶³), and
    the unscale happens on the ~|customer| aggregate rows above the join.
    Within-run A/B at 400× (OPTIMIZATION_r12.md, noop sink):
    2.35 → 0.84 s (2.78×), values identical."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    oa = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(scaled_long(F.col("o_totalprice"), 100)).alias("pcents"),
    )
    return c.join(oa, c.c_custkey == oa.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("pn"), F.lit(0).cast("long")).alias("n_orders"),
        F.coalesce(unscale(F.col("pcents"), 100), F.lit(0.0)).alias("total_spent"),
    )


@query(
    "q14_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def q14_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with at least one big order (EXISTS).

    Reference parity: Redis set-membership admission
    (WikipediaCrawler/filter/app/main.py:16-24) expressed set-wise.
    """
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q15_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q15_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders (NOT EXISTS).

    Reference parity: insert-if-absent lookups (ETL/tasks/categorizer.py:
    156-164 / 167-175) — "staged minus existing" as one distributed anti-join
    instead of N+1 ORM point reads.

    r11 adopted wave: the anti-join only consumes SET MEMBERSHIP of
    o_custkey, so orders pre-distincts to ≤|customer| keys (map-side
    partial distinct) and the anti-join build side broadcasts instead of
    shuffling the 60M-row fact. Within-run A/B at 400×
    (BENCH_NOTES.md r11 q13/q15): 2.6 s → 0.8 s, value-identical.
    """
    c = _t(spark, sf_dir, "customer")
    ok = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    return c.join(ok, c.c_custkey == ok.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q16_full_outer",
    oracle="""
    SELECT coalesce(cn.k, sn.k) AS nationkey,
           cn.k IS NOT NULL AS has_customer,
           sn.k IS NOT NULL AS has_supplier
    FROM (SELECT DISTINCT c_nationkey AS k FROM customer) cn
    FULL OUTER JOIN (SELECT DISTINCT s_nationkey AS k FROM supplier) sn
    ON cn.k = sn.k
    """,
)
def q16_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join over the two sides' distinct key sets."""
    cn = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k")).distinct()
    sn = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k")).distinct()
    return cn.alias("cn").join(sn.alias("sn"), F.col("cn.k") == F.col("sn.k"), "full").select(
        F.coalesce(F.col("cn.k"), F.col("sn.k")).alias("nationkey"),
        F.col("cn.k").isNotNull().alias("has_customer"),
        F.col("sn.k").isNotNull().alias("has_supplier"),
    )


@query(
    "q17_cross_join",
    oracle="""
    SELECT r_name, s.o_orderstatus AS status
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def q17_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two (deliberately tiny) inputs."""
    r = _t(spark, sf_dir, "region").select("r_name")
    s = _t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s).select("r_name", F.col("o_orderstatus").alias("status"))


PRICE_BANDS = [
    ("nano", 0.0, 50_000.0),
    ("small", 50_000.0, 150_000.0),
    ("mid", 150_000.0, 300_000.0),
    ("large", 300_000.0, 450_000.0),
    ("jumbo", 450_000.0, 1_000_000.0),
]

_BANDS_SQL = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)


@query(
    "q18_range_join",
    oracle=f"""
    SELECT band, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN (VALUES {_BANDS_SQL}) bands(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def q18_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/theta) join against a literal band dimension.

    Spark has no native interval join; with a 5-row broadcast side this plans
    as BroadcastNestedLoopJoin — each fact row probes 5 bands, no shuffle.
    (SURVEY.md §2.3 [E]).

    r12 (the q32/q108 finding): revenue folds as exact cents in partials
    salted by spark_partition_id() (``functions/fixedpoint.py``). Within-run
    A/B at 400× (OPTIMIZATION_r12.md): 2.01 → 0.88 s (2.27×), values
    identical."""
    o = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    cents = scaled_long(F.col("o_totalprice"), 100)
    partial = (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .select("band", cents.alias("c"), F.spark_partition_id().alias("p"))
        .groupBy("band", "p")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("c").alias("pc"))
    )
    return partial.groupBy("band").agg(
        F.sum("pn").alias("n_orders"),
        sum_unscaled(F.col("pc"), 100).alias("revenue"),
    )


@query(
    "q19_asof_join",
    oracle="""
    SELECT event_id, user_id, ts, matched_order, matched_date
    FROM (
      SELECT e.event_id, e.user_id, e.ts,
             o.o_orderkey AS matched_order,
             CAST(o.o_orderdate AS DATE) AS matched_date,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      WHERE e.event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def q19_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest order at or before each purchase event's timestamp.

    Composed from an inequality join + per-event argmax (SURVEY.md §2.3
    [E]). Ties broken by o_orderkey DESC for determinism. The argmax is a
    ``max_by`` hash aggregate, not a window: partial aggregation runs
    map-side before the shuffle, so only one candidate row per (event,
    partition) moves — strictly less data than sorting full per-key groups
    through a window.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    o = _t(spark, sf_dir, "orders")
    joined = e.join(o, (o.o_custkey == e.user_id) & (o.o_orderdate <= e.ts))
    rank = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return (
        joined.groupBy("event_id", "user_id", "ts")
        .agg(
            F.max_by("o_orderkey", rank).alias("matched_order"),
            F.max("o_orderdate").cast("date").alias("matched_date"),
        )
        # output timestamps leave as NTZ: PySpark renders LTZ rows in the
        # *process* timezone at collect, which no session conf controls —
        # NTZ under the catalog's pinned-UTC session is environment-portable
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    )


# ---------------------------------------------------------------- windows


@query(
    "q20_window_topk",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM customer JOIN orders ON c_custkey = o_custkey
    ) WHERE rn <= 3
    """,
)
def q20_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via row_number window (SURVEY.md §2.5 [E]).

    Spark pushes a per-partition rank limit (WindowGroupLimit) before the
    shuffle, so only ≤K rows per key reach the final sort."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("c_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("c_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "q21_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
)
def q21_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum with an explicit ROWS frame (SURVEY.md §2.5 [E])."""
    o = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_spend"),
    )


@query(
    "q22_window_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey) AS DATE),
                CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev
    FROM orders
    """,
)
def q22_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic: days since the customer's previous order; null for the
    first order (SURVEY.md §2.5 [E])."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date")).alias("days_since_prev"),
    )


@query(
    "q23_window_rank",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           CAST(rank() OVER w AS BIGINT) AS price_rank,
           CAST(dense_rank() OVER w AS BIGINT) AS price_dense_rank
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC)
    """,
)
def q23_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank with real ties (p_retailprice repeats within brand)."""
    p = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return p.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).cast("long").alias("price_rank"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
    )


@query(
    "q24_ntile",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
    FROM customer
    """,
)
def q24_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartiles over a deterministic total order.

    A single unpartitioned window is a scale smell (all rows through one
    task); acceptable only because the customer dim is small relative to
    facts — for fact-scale quantiles use approx_percentile (q_text ops).
    """
    c = _t(spark, sf_dir, "customer")
    w = W.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey", "c_acctbal", F.ntile(4).over(w).cast("long").alias("quartile")
    )


@query(
    "q25_surrogate_keys",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY c_mktsegment) AS BIGINT) AS segment_id,
           c_mktsegment AS segment_name
    FROM (SELECT DISTINCT c_mktsegment FROM customer)
    """,
)
def q25_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key assignment: distinct names → dense ordered ids.

    Reference parity: MySQL auto-increment ids for the categories dim
    (ETL/tasks/categorizer.py:51,:64). Deterministic row_number over a sorted
    window replaces the sequential database counter; at 100-TB scale prefer
    xxhash64(name) so no single-task window is needed.
    """
    c = _t(spark, sf_dir, "customer")
    w = W.orderBy("c_mktsegment")
    return (
        c.select("c_mktsegment")
        .distinct()
        .select(
            F.row_number().over(w).cast("long").alias("segment_id"),
            F.col("c_mktsegment").alias("segment_name"),
        )
    )


# ---------------------------------------------------------------- set ops


@query(
    "q26_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def q26_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets (SURVEY.md §2.7 [E])."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "q27_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q27_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of two key sets."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "q28_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def q28_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT — the reference's frontier∖seen dedup semantics
    (WikipediaCrawler/filter/app/main.py:16-24) as a set operation."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)  # EXCEPT DISTINCT (exceptAll would keep surplus dups)


# ---------------------------------------------------------------- scalar funcs


@query(
    "q29_json_extract",
    oracle="""
    WITH j AS (
      -- total function: malformed/empty props -> NULL, exactly Spark's
      -- get_json_object semantics (DuckDB's json_extract raises otherwise)
      SELECT event_type,
             CASE WHEN props IS NOT NULL AND json_valid(props)
                  THEN CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
      FROM events
    )
    SELECT event_type,
           count(*) AS n,
           sum(k) * 1.0 / count(*) AS avg_k,
           max(k) AS max_k
    FROM j
    GROUP BY event_type
    """,
)
def q29_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props string column
    (SURVEY.md §2.8 [E])."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(k) * 1.0 / F.count(F.lit(1))).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "q30_case_bucket",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_bucket,
           count(*) AS n,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer
    GROUP BY 1
    """,
)
def q30_case_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + aggregation."""
    c = _t(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_bucket")
    )
    return c.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("c_acctbal"), 2).alias("sum_bal"),
    )


@query(
    "q31_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           CAST(length(p_name) AS INTEGER) AS name_len,
           substr(p_name, 1, 8) AS name_prefix,
           concat(p_brand, '#', p_type) AS brand_type,
           replace(p_type, ' ', '_') AS type_slug
    FROM part
    """,
)
def q31_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface: upper/length/substr/concat/replace
    (SURVEY.md §2.8; reference string normalize ops at
    parser/app/main.py:26-29, categorizer.py:112-113)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_slug"),
    )


@query(
    "q32_date_funcs",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS o_month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
)
def q32_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar extraction + monthly revenue rollup (SURVEY.md §2.8; date
    parsing parity with categorizer.py:116's '%d %B %Y' handled in etl.py).

    r12: the r11 "scan floor" pin was wrong — decomposed at 400×
    (OPTIMIZATION_r12.md), the per-row decimal cast+accumulate was
    64% of wall (stock 2.24 s vs 0.80 s with a double sum on the same
    plan). Money now folds as exact cents in salted partials per (year,
    month, spark_partition_id()) (``functions/fixedpoint.py``). Measured
    within-run at 400×: 2.24 → 0.84 s (2.67×), values identical."""
    o = _t(spark, sf_dir, "orders")
    cents = scaled_long(F.col("o_totalprice"), 100)
    partial = (
        o.select(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            cents.alias("c"),
            F.spark_partition_id().alias("p"),
        )
        .groupBy("o_year", "o_month", "p")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("c").alias("pc"))
    )
    return partial.groupBy("o_year", "o_month").agg(
        F.sum("pn").alias("n_orders"),
        sum_unscaled(F.col("pc"), 100).alias("revenue"),
    )


@query(
    "q33_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) FROM orders)
    """,
)
def q33_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price.

    DataFrame form: broadcast the 1-row aggregate and cross-join — the
    distributed equivalent of a scalar subquery (no driver round-trip).
    Average rounded on both sides so the threshold is bit-identical.
    """
    o = _t(spark, sf_dir, "orders")
    avg_price = o.agg(davg(F.col("o_totalprice"), 2).alias("avg_price"))
    return (
        o.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q34_pivot",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'click') AS DOUBLE), 0.0) AS click,
           coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'error') AS DOUBLE), 0.0) AS error,
           coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'purchase') AS DOUBLE), 0.0) AS purchase,
           coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'signup') AS DOUBLE), 0.0) AS signup,
           coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'view') AS DOUBLE), 0.0) AS view
    FROM events
    GROUP BY 1
    """,
)
def q34_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into columns of daily value sums.

    Explicit value list → no extra distinct-values job; single shuffle.
    """
    e = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    pivoted = (
        e.withColumn("day", F.col("ts").cast("date"))
        .groupBy("day")
        .pivot("event_type", kinds)
        .agg(F.sum(F.col("value").cast("decimal(18,2)")))
    )
    return pivoted.select(
        "day",
        *[F.coalesce(F.col(k).cast("double"), F.lit(0.0)).alias(k) for k in kinds],
    )


@query(
    "q35_unpivot",
    oracle="""
    WITH stats AS (
      SELECT n_name,
             min(c_acctbal) AS min_bal,
             max(c_acctbal) AS max_bal,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, 'min_bal' AS metric, min_bal AS value FROM stats
    UNION ALL SELECT n_name, 'max_bal', max_bal FROM stats
    UNION ALL SELECT n_name, 'avg_bal', avg_bal FROM stats
    """,
)
def q35_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack() over per-nation balance stats."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    stats = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            davg(F.col("c_acctbal"), 2).alias("avg_bal"),
        )
    )
    return stats.select(
        "n_name",
        F.expr(
            "stack(3, 'min_bal', min_bal, 'max_bal', max_bal, 'avg_bal', avg_bal) AS (metric, value)"
        ),
    )


@query(
    "q36_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 3600
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def q36_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap > 1 h starts a new session (lag + cumsum
    pattern); streaming twin uses session_window (streaming/queries.py)."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    flagged = e.withColumn(
        "new_session",
        F.when(gap_sec.isNull() | (gap_sec > 3600), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q37_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q37_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregation in batch (F.window); the
    streaming twin with watermark is q61 (streaming/queries.py)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            # NTZ at the boundary: LTZ collect-rendering is process-TZ
            # dependent (see q19); NTZ under pinned UTC is portable
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "q38_bfs_reachability",
    oracle="""
    WITH RECURSIVE reach(o_orderkey, depth) AS (
      SELECT o_orderkey, 0 AS depth FROM orders WHERE o_orderkey = 1
      UNION
      SELECT o.o_orderkey, r.depth + 1
      FROM orders o JOIN reach r ON o.o_orderkey // 2 = r.o_orderkey
      WHERE r.depth < 31
    )
    SELECT o_orderkey, CAST(min(depth) AS INTEGER) AS depth
    FROM reach GROUP BY o_orderkey
    """,
)
def q38_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability to a fixpoint — the crawler frontier loop as dataflow.

    Reference parity: the fetch→parse→filter→fetch cycle (SURVEY.md §3.2;
    WikipediaCrawler/startup/init_queues.py:32-37). The orderkey graph
    (child = parent via orderkey div 2) is a FOREST — every node has exactly
    one parent — so the whole fixpoint runs as ONE Spark 4 recursive CTE
    (streaming/crawler.py recursive_bfs_tree): UNION ALL recursion is
    duplicate-free on a forest, and the engine's UnionLoopExec iterates
    without Python driver round trips. The recursion steps over the cached
    edges^4 power table (same k-hop lookahead algebra the r6 driver loop
    used) so the level count — the dominant cost — is quartered.

    Measured at sf0.1, per call including hop-table builds (same-session
    A/B, best-of-3): recursive CTE stride 4 = 1.7 s vs 3.4 s for the r6
    driver loop (k-hop lookahead, 5 levels per round) — a 2.0x win.
    General graphs (cycles, multi-parent) still use the driver loop — UNION
    ALL recursion would not terminate on a cycle; bfs_fixpoint remains the
    crawler path and is tested on cyclic graphs in tests/test_streaming.py.
    """
    from wikipediaetl_spark.streaming.crawler import recursive_bfs_tree

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.expr("o_orderkey div 2").alias("src"), F.col("o_orderkey").alias("dst")
    ).filter(F.col("dst") != F.col("src"))
    seeds = o.select(F.col("o_orderkey").alias("node")).filter(F.col("node") == 1)
    reach = recursive_bfs_tree(spark, seeds, edges, max_depth=31, stride=4)
    return reach.select(F.col("node").alias("o_orderkey"), F.col("depth").cast("int"))


@query(
    "q39_percentiles",
    oracle="""
    SELECT c_mktsegment,
           quantile_cont(c_acctbal, 0.5) AS median_bal,
           quantile_cont(c_acctbal, 0.25) AS p25_bal,
           quantile_cont(c_acctbal, 0.75) AS p75_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q39_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (SURVEY.md §2.4 [E]).

    F.percentile is the exact (sort-based) aggregate — fine for bounded
    groups; at fact scale switch to approx_percentile (t-digest, single
    pass, mergeable) — exercised in q08's approx family.
    """
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.5)).alias("median_bal"),
        F.percentile("c_acctbal", F.lit(0.25)).alias("p25_bal"),
        F.percentile("c_acctbal", F.lit(0.75)).alias("p75_bal"),
    )


@query(
    "q48_array_ops",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_toks,
           list_sort(list_distinct(toks))[1] AS first_tok,
           list_sort(list_distinct(toks))[len(list_distinct(toks))] AS last_tok,
           array_to_string(toks[1:3], '-') AS head3
    FROM t
    """,
)
def q48_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface: distinct, sort, index, slice, join —
    all native higher-order/array expressions (SURVEY.md §2.8)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    dtoks = F.array_sort(F.array_distinct(toks))
    return d.select(
        "doc_id",
        F.size(F.array_distinct(toks)).alias("n_distinct_toks"),
        F.element_at(dtoks, 1).alias("first_tok"),
        F.element_at(dtoks, -1).alias("last_tok"),
        F.array_join(F.slice(toks, 1, 3), "-").alias("head3"),
    )


@query(
    "q49_fuzzy_match",
    oracle="""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM part a JOIN part b ON a.p_partkey < b.p_partkey
    WHERE a.p_partkey < 300 AND b.p_partkey < 300
      AND levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q49_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: Levenshtein edit-distance self-join on a
    bounded subset. At corpus scale, prefilter candidates by length band +
    shared n-gram (the dedup.py inverted-index pattern) before the O(len²)
    distance — the bounded-subset cross join here is the verify stage."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300).select("p_partkey", "p_name")
    a = p.select(F.col("p_partkey").alias("part_a"), F.col("p_name").alias("name_a"))
    b = p.select(F.col("p_partkey").alias("part_b"), F.col("p_name").alias("name_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("part_a") < F.col("part_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 3)
        .select("part_a", "part_b", "edit_dist")
    )


@query(
    "q66_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q66_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube) via the SQL API.

    r11 adopted wave — see q09_rollup: the native plan's Expand duplicates
    all 60M orders ×3 grouping sets; every aggregate here is decomposable,
    so the (status, priority) fine-grain aggregate (15 rows) is computed
    first and the native GROUPING SETS runs over the partials (count(*)
    becomes sum(pn), the revenue partial re-sums exactly). The
    GROUPING SETS node itself is unchanged — subtotal-NULL semantics and
    the per-set row identity come from the real Expand, just fed partial
    rows instead of 60M. Within-run A/B at 400× (3 alternated reps):
    native 4.1–4.5 s vs pre-agg 1.7–1.9 s — 2.4×; canonical row 19.05× →
    6.28× (BENCH_SCALE_400x, BENCH_NOTES r11).

    r12 (the q32/q108 finding, see q10_cube): the fine-grain partial folds
    exact cents salted by spark_partition_id() instead of per-row
    DECIMAL(18,2); the SQL combine spells ``sum_unscaled``
    (``functions/fixedpoint.py``). Within-run A/B at 400×
    (OPTIMIZATION_r12.md): 2.39 → 0.95 s (2.51×), values identical."""
    o = _t(spark, sf_dir, "orders")
    cents = scaled_long(F.col("o_totalprice"), 100)
    o.select(
        "o_orderstatus",
        "o_orderpriority",
        cents.alias("c"),
        F.spark_partition_id().alias("p"),
    ).groupBy("o_orderstatus", "o_orderpriority", "p").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("c").alias("pc")
    ).createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               sum(pn) AS n,
               CAST(sum(CAST(pc AS DECIMAL(38,0))) / 100 AS DOUBLE) AS revenue
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "q73_sliding_window",
    oracle="""
    WITH slid AS (
      SELECT e.*,
             make_timestamp(((epoch_us(ts) // 1000000 - off) // 3600 * 3600 + off) * 1000000)
               AS window_start
      FROM events e, unnest([0, 900, 1800, 2700]) t(off)
    )
    SELECT window_start, event_type, count(*) AS n
    FROM slid
    GROUP BY 1, 2
    """,
)
def q73_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h length, 15 min slide) in batch: each
    event lands in 4 overlapping windows. F.window handles the expansion
    natively; the oracle reproduces it with epoch-grid arithmetic."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
        )
    )


@query(
    "q98_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q98_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): selective filters on all three
    tables pushed to their scans, customer dim join, fact-fact join on
    orderkey, grouped revenue, global top-10.

    r7 (400× plan-variant fix, 11.8× → ~6×): on this fixture the shipdate
    filter keeps MOST of lineitem (134M of 240M rows at 400×) while
    customer⋈orders reduces to ~5.5M rows — so c⋈o is the natural
    SHUFFLE_HASH build and the huge lineitem side streams unsorted (the
    sort-merge default sorted 134M rows). The revenue term quantizes to
    exact 1e-4-unit LONGS scan-side (the q12 identity,
    ``functions/fixedpoint.py``) — 134M per-row decimal adds were the other
    half of the wall: 10.5 s → 7.3 s same-session at 400×. Per-order groups
    hold ≤7 lines; the unscale runs at the ~order-count grain."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    liv = li.select(
        "l_orderkey",
        scaled_long(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 10_000
        ).alias("vu"),
    )
    co = c.join(o, c.c_custkey == o.o_custkey).hint("shuffle_hash")
    return (
        co.join(liv, liv.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("vu").alias("svu"))
        .select(
            "l_orderkey",
            unscale(F.col("svu"), 10_000).alias("revenue"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q99_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q99_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): five-way join with the
    customer-nation = supplier-nation equi-condition.

    The ASIA restriction only reaches customer/supplier transitively through
    join conditions, so Catalyst cannot push it to their scans; we push it by
    hand with broadcast semi-joins against the ASIA nation-key set before the
    expensive joins — at scale this shrinks the shuffled customer side by the
    region selectivity (5×) before its orders join. Region/nation/supplier
    stay broadcast; the facts shuffle once each.

    r7 (400× plan-variant fix, 17.9 s → 13.4 s same-session): the reduced
    c⋈o chain is the SHUFFLE_HASH build (lineitem streams unsorted), and
    the revenue term folds as exact 1e-4-unit longs. With only 5 output
    groups a plain long sum WOULD overflow at ~8e9 rows/nation, so the
    partials group by (n_name, partition id), the q12 discipline
    (``functions/fixedpoint.py``).

    r7 second pass (11.9 → 5.5 s warm at 400×, ~5× → ~2.4×): lineitem is
    semi-reduced by the broadcast ASIA-supplier key set BEFORE the fact
    shuffle — any surviving row needs an ASIA supplier, so the semi-join is
    a pure reduction (240M → ~48M rows, 1/5 by region selectivity) applied
    scan-side. This is the manual form of the runtime bloom the session
    enables: exact instead of approximate, and dim-bounded (the key set is
    |ASIA suppliers|), so it holds at any SF where suppliers broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    asia_keys = asia.select("n_nationkey")
    c = c.join(F.broadcast(asia_keys), c.c_nationkey == F.col("n_nationkey"), "left_semi")
    s = s.join(F.broadcast(asia_keys), s.s_nationkey == F.col("n_nationkey"), "left_semi")
    sk = s.select(F.col("s_suppkey").alias("sk")).alias("skv")
    li = li.join(F.broadcast(sk), li.l_suppkey == F.col("skv.sk"), "left_semi")
    liv = li.select(
        "l_orderkey",
        "l_suppkey",
        scaled_long(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 10_000
        ).alias("vu"),
    )
    co = c.join(o, c.c_custkey == o.o_custkey).hint("shuffle_hash")
    sup = s.alias("sup")
    inner = (
        liv.join(co, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(sup),
            (F.col("l_suppkey") == F.col("sup.s_suppkey"))
            & (F.col("c_nationkey") == F.col("sup.s_nationkey")),
        )
        .join(F.broadcast(asia), F.col("sup.s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.spark_partition_id().alias("pid"))
        .agg(F.sum("vu").alias("pvu"))
    )
    return inner.groupBy("n_name").agg(sum_unscaled(F.col("pvu"), 10_000).alias("revenue"))


@query(
    "q112_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q112_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): flagged lineitems joined
    up the chain to customers, top-20 by lost revenue. The returnflag filter
    lands on the lineitem scan; nation broadcasts.

    r7 (400× plan-variant fix, 20.9 s → 10.3 s same-session): the revenue
    term folds as exact 1e-4-unit LONGS (the q12 identity,
    ``functions/fixedpoint.py``) instead of 80M per-row decimal adds; the
    unscale runs at the customer grain. r7 second pass (8.38 → 7.46 s
    best-of-3 at 400×, 4.8× → 1.7×): the fact-fact join runs on NARROW sides — lineitem
    (l_orderkey, vu) probes a (o_orderkey, o_custkey) two-long SHUFFLE_HASH
    build — and aggregates to the copied-dim customer grain (~15k groups,
    partial map-side) BEFORE the string-carrying customer/nation dims
    broadcast onto the tiny aggregate. c_name/n_name never enter a shuffle
    or a hash build; the previous chain-build carried them through a
    |orders|-row hash table. The dim joins are NOT hint-forced: at fixture
    scale the optimizer broadcasts them from static scan stats, and on a
    cluster where customer scales with SF the same plan degrades to a
    customer-grain shuffle join — still fact-free — instead of OOMing a
    forced broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    liv = li.select(
        "l_orderkey",
        scaled_long(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 10_000
        ).alias("vu"),
    )
    o = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .hint("shuffle_hash")
    )
    per_cust = (
        liv.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum("vu").alias("svu"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        per_cust.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            unscale(F.col("svu"), 10_000).alias("revenue"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q115_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 10000 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000.0 AS revenue_effect,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q115_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): the pure filter+aggregate
    query — every predicate pushes to the parquet scan, one global exact
    scaled-long sum, no grouping, no join. The
    simplest plan in the book and the purest pushdown test."""
    li = _t(spark, sf_dir, "lineitem")
    flt = (
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    scaled = scaled_long(F.col("l_extendedprice") * F.col("l_discount"), 10_000)
    return li.filter(flt).agg(
        (F.sum(scaled.cast("decimal(28,0)")).cast("double") / 10000.0).alias(
            "revenue_effect"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q116_priority_checking",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q116_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): correlated EXISTS with a
    non-equi condition, expressed as a left-semi join on (orderkey,
    shipdate > orderdate) — the semi-join dedups multi-lineitem matches for
    free.

    r7 (100× plan-variant fix, 12.4× → 6.1×): lineitem is column-pruned to
    the two join columns and hinted SHUFFLE_HASH (sorting the 60M-row probe
    was the sort-merge wall: 3.8 s → 3.1 s), and the session's runtime
    BLOOM FILTER (session.py) prunes lineitem against the 3-month filtered
    orders build BEFORE the shuffle — only ~1/8 of probe rows can match a
    windowed order, and the bloom drops the rest scan-side: 3.1 s → 1.5-2.1
    s at 100×. At 100 TB the bloom fires on Spark's own defaults (the scan
    exceeds the 10GB gate); the lowered fixture thresholds only restore
    that behavior at bench scale.

    r10 (VERDICT r9 #4, the stock wave): the EXISTS witness needs
    l_shipdate > o_orderdate and every windowed order has o_orderdate >=
    the window start, so the STATIC filter l_shipdate > window_start is
    implied — it reaches the parquet scan and drops ~2/3 of the 240M-row
    probe before the shuffle the bloom can no longer prune (the 2.3M-key
    build at 400× exceeds the bloom's regime). Measured at 400×
    (BENCH_Q116_STOCK_WAVE.json, within-run warm DuckDB denominator):
    stock 5.35 s → 3.81 s = 4.2× vs 0.91 s — under the ≤5× adjudication
    bar; the broadcast-flip variant (orders window broadcast, lineitem
    never shuffles, partial-distinct dedup) measured 4.05 s and is
    recorded there as the at-scale fallback for when the window is too
    large to semi-build."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_shipdate")
    )
    return (
        o.join(
            li.hint("shuffle_hash"),
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q117_large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250
    )
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           o_totalprice
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q117_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): aggregate-then-HAVING as a
    pre-join reducer — the grouped filter shrinks lineitem to qualifying
    orderkeys before any join touches orders/customer. r7: the filtered key
    set carries a SHUFFLE_HASH hint (tiny build by HAVING selectivity;
    sort-merge sorted the 15M-row orders side: 4.96 s → 3.56 s at 100×)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 250)
        .select("l_orderkey")
        .hint("shuffle_hash")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
        )
    )


@query(
    "q119_range_frame_window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           count(*) OVER w AS n_recent,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS recent_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
    """,
)
def q119_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frame: trailing 90-day order count and
    spend per customer — frame membership is decided by the orderdate VALUE,
    not row position, so ties share frames (unlike ROWS frames). Via the SQL
    API (interval range frames aren't expressible through the DataFrame
    Window builder)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v119_orders")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               count(*) OVER w AS n_recent,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 AS recent_spend
        FROM v119_orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
        """
    )
