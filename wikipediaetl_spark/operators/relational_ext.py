"""Extended relational operators: skew handling, clustering, aggregate and
scalar breadth (SURVEY.md §2 [E] continuation).

Includes the two explicitly scale-motivated operators:
- q81_salted_join — the skew-mitigation pattern (salt the hot key, explode
  the dim) proven equal to the plain join;
- q83_neardup_clusters — connected components over the near-dup pair graph
  (iterative min-label propagation, the distributed union-find stand-in),
  which turns pairwise dedup into keep-one-per-cluster dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from wikipediaetl_spark.catalog import query
from wikipediaetl_spark.functions.fixedpoint import scaled_long, sum_unscaled, unscale
from wikipediaetl_spark.operators.dedup import q53_shingle_neardup
from wikipediaetl_spark.session import counted_checkpoint, scoped_confs
from wikipediaetl_spark.sources import load_table

# Pinned for the driver-side fixpoint loops below (connected components,
# ``pagerank`` and ``pagerank(..., exact=True)``): many tiny rounds, so
# AQE's per-stage re-optimization is pure overhead, and with AQE off
# nothing coalesces post-shuffle, so the partition count is pinned small.
# Per-round whole-stage compilation is a net loss on tiny frontiers and the
# generated classes get code-cache-evicted between calls (measured
# interleaved with heavy queries: q83 1.85 -> 1.36 s/call, q165 2.44 ->
# 2.03 s/call; the same finding as recursive_bfs_tree).
_LOOP_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.codegen.wholeStage": "false",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "q75_minmax_by",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 10000000000
                               + o_orderkey) AS best_order,
           arg_min(o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 10000000000
                               + o_orderkey) AS worst_order
    FROM orders
    GROUP BY o_custkey
    """,
)
def q75_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmin/argmax aggregation (min_by/max_by) with a deterministic
    composite tiebreak (price, then unique orderkey).

    The composite ordering is packed into one BIGINT — price in cents
    (exact: prices carry 2 decimals) shifted above the unique orderkey —
    rather than a formatted string: integer compare in the agg hot loop
    instead of two java.util.Formatter calls per row (~2.5× on this query),
    and identical on both engines. Envelope: cents < 9.2e8 and orderkey
    < 1e10 fit BIGINT with no collision."""
    o = _t(spark, sf_dir, "orders")
    rank = (
        scaled_long(F.col("o_totalprice"), 100) * F.lit(10_000_000_000)
        + F.col("o_orderkey")
    )
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", rank).alias("best_order"),
        F.min_by("o_orderkey", rank).alias("worst_order"),
    )


@query(
    "q76_conditional_agg",
    oracle="""
    SELECT o_custkey,
           count(*) FILTER (o_orderstatus = 'O') AS n_open,
           count(*) FILTER (o_orderstatus = 'F') AS n_finished,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                         FILTER (o_orderpriority = '1-URGENT'), 0) AS DOUBLE) AS urgent_spend
    FROM orders
    GROUP BY o_custkey
    """,
)
def q76_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER clauses / count_if) — one pass,
    several predicated accumulators.

    r12 (the q32/q108 finding): the predicated money accumulator folds
    exact cents (``functions/fixedpoint.py``) in whole-stage codegen
    instead of per-row DECIMAL(18,2); the unscale runs once per output
    row. Per-custkey totals (~40 orders × ≤5.6e7 cents) are nowhere near
    2⁶³. Within-run A/B at 400× (OPTIMIZATION_r12.md):
    1.45 → 0.88 s (1.64×), values identical."""
    o = _t(spark, sf_dir, "orders")
    cents = scaled_long(F.col("o_totalprice"), 100)
    return o.groupBy("o_custkey").agg(
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.coalesce(
            unscale(F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", cents)), 100),
            F.lit(0.0),
        ).alias("urgent_spend"),
    )


@query(
    "q77_string_agg",
    oracle="""
    SELECT n_regionkey AS regionkey,
           array_to_string(list_sort(list(n_name)), ',') AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q77_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect → sort → join. Deterministic (the
    sort) unlike raw listagg over an unordered shuffle."""
    n = _t(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations")
    )


@query(
    "q78_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST((dayofweek(o_orderdate) + 6) % 7 AS INTEGER) AS weekday_mon0
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def q78_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic surface: interval add, last_day, trunc, day-of-week
    (normalized to Monday=0 — Spark counts Sunday=1, DuckDB Sunday=0)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        # timestamp_ntz, not timestamp: LTZ collect-rendering is process-TZ
        # dependent; NTZ midnight matches DuckDB's naive DATE + INTERVAL
        F.date_add(d, 30).cast("timestamp_ntz").alias("due_date"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "month").alias("month_start"),
        ((F.dayofweek(d) + 5) % 7).alias("weekday_mon0"),
    )


@query(
    "q79_null_funcs",
    oracle="""
    SELECT o_orderkey,
           nullif(o_orderstatus, 'O') AS status_or_null,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
           nullif(o_orderstatus, 'O') IS NULL AS is_open
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def q79_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling surface: nullif / coalesce / null predicates — the
    reference's null-safe date and header handling generalized
    (categorizer.py:108-122, fetcher/app/main.py:68-71)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_label"),
        status_or_null.isNull().alias("is_open"),
    )


@query(
    "q80_histogram",
    oracle="""
    SELECT CAST(least(greatest(floor((c_acctbal - (-1000.0)) / 1000.0), 0), 10) AS INTEGER)
             AS bucket,
           count(*) AS n
    FROM customer
    GROUP BY 1
    """,
)
def q80_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram bucketing via pure arithmetic (portable
    width_bucket): 11 buckets of 1000 over [-1000, 10000]."""
    c = _t(spark, sf_dir, "customer")
    bucket = F.least(
        F.greatest(F.floor((F.col("c_acctbal") - (-1000.0)) / 1000.0), F.lit(0)), F.lit(10)
    ).cast("int")
    return c.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q81_salted_join",
    oracle="""
    SELECT n_name,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q81_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated (salted) aggregation-join, proven equal to the plain
    join by the oracle.

    Pattern (r11 adopted wave): salt the per-key PARTIAL AGGREGATION, then
    broadcast the dim onto the salted partials — the manual fallback when
    AQE's skew-join splitting can't apply (pre-aggregation joins). The salt
    is ``spark_partition_id() % 8``: constant within each map task, so the
    partial-agg hash map stays at (keys-in-partition) entries with clustered
    probes, while a hot key still spreads across 8 reducers because its rows
    span many input partitions. The fact is never shuffled at event grain —
    map-side combine collapses it to (key, salt) partials before any bytes
    move, and the dim join is broadcast. Result identity with the unsalted
    plain-join plan is the correctness obligation.

    Two rejected shapes, both measured at 400x (BENCH_NOTES.md r11 q81): the
    exploded-dim salted SHUFFLE join (the textbook demo — ~5.5 s vs ~3.4 s
    here, it shuffles all 40M fact rows), and a per-row xxhash64 salt
    (~flat vs stock: it multiplies the partial-agg group count x8, ~4.8M
    groups, and the random probe pattern erases the combine win).
    """
    n_salts = 8
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    partial = (
        e.withColumn(
            "salt", F.pmod(F.spark_partition_id().cast("bigint"), F.lit(n_salts))
        )
        .groupBy("user_id", "salt")
        .agg(
            F.count(F.lit(1)).alias("pc"),
            # r12 (q32/q108 finding): fold exact cents in codegen, not
            # per-row DECIMAL(18,2); partials combine above the broadcast
            # join. Within-run A/B at 400× (OPTIMIZATION_r12.md):
            # 3.31 → 1.92 s (1.72×), values identical.
            F.sum(scaled_long(F.col("value"), 100)).alias("pv"),
        )
    )
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "n_name"
    )
    return (
        partial.join(F.broadcast(dim), partial.user_id == dim.c_custkey)
        .groupBy("n_name")
        .agg(
            F.sum("pc").alias("n_events"),
            sum_unscaled(F.col("pv"), 100).alias("total_value"),
        )
    )


@query(
    "q82_heavy_hitters",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT count(*) AS total FROM toks)
    SELECT tok, cnt, cnt * 1.0 / total AS share
    FROM counts CROSS JOIN total
    WHERE cnt * 1.0 / total >= 0.005
    """,
)
def q82_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: tokens with ≥0.5% corpus share — the vocabulary
    statistic a tokenizer-training pipeline computes. Two aggregates + a
    broadcast of the 1-row total; the token stream shuffles once."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share", F.col("cnt") * 1.0 / F.col("total"))
        .filter(F.col("share") >= 0.005)
        .select("tok", "cnt", "share")
    )


def connected_components(
    pairs: DataFrame, max_rounds: int = 50, hop_start: int = 4
) -> DataFrame:
    """Connected components over an undirected pair list via iterative
    min-label propagation WITH ADAPTIVE pointer-doubling — the distributed
    union-find stand-in.

    pairs(doc_a, doc_b) → (doc_id, cluster_id) where cluster_id is the
    minimum doc_id in the component. Each round every node adopts the min
    label among itself and its neighbors; from round ``hop_start`` on it
    ALSO compresses through its label's own label (label ←
    min(label, label[label]) — every label is itself a node, so the lookup
    always resolves). The compression halves the remaining
    distance-to-root each round, so rounds needed are O(hop_start +
    log diameter) instead of O(diameter) — found the hard way in r11: the
    combined-ingest band-collision graph at sf0.01 has a >20-hop chain,
    and the propagation-only loop under the old silent ``max_rounds=20``
    cap returned NON-CONVERGED labels (the incremental ledger, which
    effectively converges across batches, was right and the \"twin\"
    wrong). Non-convergence now RAISES instead of silently returning: at
    the default 50 rounds (4 propagation + 46 doubling) that would take a
    diameter over 2^45 — impossible — so a raise means the loop itself is
    broken, never the data.

    ADAPTIVE (r12, VERDICT r11 #2): r11 ran the hop join EVERY round, so
    shallow graphs — near-dup clusters are almost always diameter ≤ 3 at
    any SF — paid one extra join + coalesce per round for a deep-chain
    guarantee they never need (the only code-caused r11 headline
    regression: q83 0.986 → 1.337 s). Propagation alone is a sufficient
    convergence test: a propagation fixed point means every node's label
    equals the min over its closed neighborhood, so all labels in a
    component are equal (any edge forces both endpoints ≤ each other) and
    labels only ever take node-id values from inside the component — the
    common value IS the component min. The first ``hop_start`` rounds
    therefore propagate only (shallow graphs converge here and never pay
    the hop); rounds ≥ ``hop_start`` fuse the hop back in, preserving the
    O(log diameter) bound for deep chains. ``hop_start=0`` reproduces the
    r11 always-double behavior (the A/B baseline in OPTIMIZATION_r12.md).
    Same driver-loop-of-micro-batches shape as the crawler BFS
    (streaming/crawler.py).

    Each round is ONE Spark job: the stability check (no node's label
    moved) rides the round's eager checkpoint as an ``Observation``, so the
    loop costs one job per checkpoint and none for the check. The labels
    are seeded lazily with one propagation step over the checkpointed
    edges (``least(src, min(dst))`` per ``src``) rather than checkpointed
    as identity labels, so the seed costs no job and the loop starts one
    round ahead: the edges plus one checkpoint per round are the whole
    job bill (a star converges in 2 jobs)."""
    spark = pairs.sparkSession
    # Materialize the pair list BEFORE pinning the loop confs: the upstream
    # pair generation (e.g. q53's shingle join) is the heavy stage and must
    # run at session parallelism/codegen, not the loop's tiny-round pins.
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edges = edges.localCheckpoint(eager=True)
    with scoped_confs(spark, _LOOP_CONFS):
        # lazy seed = one propagation step from identity labels: every node
        # is some edge's src, so min over its closed neighborhood is
        # least(src, min(dst)). It runs inside the first round's job.
        labels = edges.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("label")
        ).withColumnRenamed("src", "node")
        converged = False
        for rnd in range(max_rounds):
            # one join + one aggregate per round: a node's own label rides
            # the union instead of a second (left) join — min over
            # {own label} ∪ {neighbor labels} is the same propagation step
            # with one fewer shuffle stage per round. The own row is
            # tagged so the aggregate ALSO carries the previous label
            # (min over the single tagged row) — the stability check then
            # compares two columns of one frame instead of joining two
            # (r12: on tiny frontiers each removed per-round job is a
            # fixed-cost win).
            neighbor_labels = edges.join(labels, edges.dst == labels.node).select(
                F.col("src").alias("node"), "label", F.lit(False).alias("own")
            )
            propagated = (
                labels.select("node", "label", F.lit(True).alias("own"))
                .unionByName(neighbor_labels)
                .groupBy("node")
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("own"), F.col("label"))).alias("prev"),
                )
            )
            if rnd >= hop_start:
                # pointer doubling: follow the label's own label one hop —
                # halves remaining distance-to-root per round
                # (log-diameter convergence for deep chains; see docstring
                # for the r11 >20-hop-chain bug and why the first
                # hop_start rounds skip this join)
                hop = propagated.select(
                    F.col("node").alias("label"), F.col("label").alias("label2")
                )
                propagated = propagated.join(hop, "label", "left").select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("label2", F.col("label"))
                    ).alias("label"),
                    "prev",
                )
            # the stability check rides the checkpoint's own job: an
            # Observation counts the nodes whose label moved as the round
            # materializes, so the check costs no job of its own
            moved = Observation()
            new_labels = propagated.observe(
                moved, F.count(F.when(F.col("label") != F.col("prev"), 1)).alias("n")
            ).localCheckpoint(eager=True)
            labels = new_labels.select("node", "label")
            if moved.get["n"] == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} "
                f"rounds ({hop_start} propagation + the rest doubling) — "
                "impossible for any real graph; the loop is broken"
            )
        return labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        )


# Shared full-recompute oracle for near-dup clustering: q83 computes it
# batch-style, q184 must reproduce it byte-for-byte from an incrementally
# maintained cluster ledger (the q86/q181 oracle-sharing contract).
_Q83_ORACLE = """
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
    )
    SELECT src AS doc_id,
           min(dst) AS cluster_id,
           (src = min(dst)) AS keep
    FROM reach GROUP BY src
    """


@query("q83_neardup_clusters", oracle=_Q83_ORACLE)
def q83_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: pairwise shingle-Jaccard pairs (q53) → connected
    components → keep-one-per-cluster flag. The full dedup decision a
    training pipeline applies: transitive closure of near-dup pairs, keep
    the minimum doc_id representative. Oracle: recursive-CTE transitive
    closure over the same pair list.
    """
    pairs = q53_shingle_neardup(spark, sf_dir).select("doc_a", "doc_b")
    comps = connected_components(pairs)
    return comps.select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("keep")
    )


def merge_pairs_into_cluster_ledger(
    spark: SparkSession, new_edges: DataFrame, ledger_table: str, batch_id: int | None = None
) -> None:
    """Incremental union-find: fold a batch of new near-dup pairs into a
    persistent (doc_id, cluster_id) ledger WITHOUT recomputing history's
    transitive closure — the missing maintenance rung between candidate
    generation (q174's maintained LSH index) and the dedup decision (q83's
    batch clustering). At 100 TB the pair graph's closure cannot be re-run
    per ingest batch; what CAN run per batch is this:

    1. label the new edges' endpoints with their CURRENT component labels
       (two ledger lookups; unledgered endpoints label as themselves);
    2. contract: edges whose endpoints already share a label are redundant
       (old components are closed under old edges — new edges can only
       MERGE whole components, never split them); the survivors form a
       LABEL graph whose size is O(batch), independent of history;
    3. run connected components on that contracted graph only — the
       min-label result is exact because every old label IS the min doc_id
       of its component, so min-over-labels = min-over-members;
    4. apply: history is relabeled via a BROADCAST join on cluster_id
       (the touched-label mapping is O(batch) rows — the ledger side never
       shuffles and only rows in touched components change), and the new
       endpoints insert with their final labels.

    The swap goes through ``staged_swap_write`` — the same crash-recovery +
    replay-watermark contract as every other maintained layout. Recovery
    runs HERE, before the ledger is read for labeling (ADVICE r9 medium):
    the labeling step resolves ``spark.table(ledger_table)`` eagerly, so
    waiting for ``staged_swap_write``'s own recovery would raise
    table-not-found inside the drop→rename crash window instead of
    finishing the rename."""
    from wikipediaetl_spark.operators.layout import (
        recover_interrupted_swap,
        staged_swap_write,
    )

    recover_interrupted_swap(spark, ledger_table)
    ledger = spark.table(ledger_table)
    la = ledger.select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("la0"))
    lb = ledger.select(F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("lb0"))
    labeled = (
        new_edges.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("la0", F.col("doc_a")).alias("la"),
            F.coalesce("lb0", F.col("doc_b")).alias("lb"),
        )
    )
    contracted = (
        labeled.filter(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("doc_a"), F.col("lb").alias("doc_b"))
        .distinct()
    )
    mapping = (
        connected_components(contracted)
        .select(F.col("doc_id").alias("old_label"), F.col("cluster_id").alias("new_label"))
        .localCheckpoint(eager=True)  # O(batch) touched labels, reused twice
    )
    nodes = (
        new_edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(new_edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)  # O(batch); read after the old table drops
    )

    def build() -> DataFrame:
        old = spark.table(ledger_table)
        updated = old.join(
            F.broadcast(mapping), old.cluster_id == mapping.old_label, "left"
        ).select("doc_id", F.coalesce("new_label", "cluster_id").alias("cluster_id"))
        fresh = nodes.join(old.select("doc_id"), "doc_id", "left_anti")
        fresh_rows = fresh.join(
            F.broadcast(mapping), fresh.doc_id == mapping.old_label, "left"
        ).select("doc_id", F.coalesce("new_label", F.col("doc_id")).alias("cluster_id"))
        return updated.unionByName(fresh_rows)

    staged_swap_write(
        spark, build, ledger_table, bucket_key="doc_id", batch_id=batch_id
    )


def cluster_ledger_sink(spark: SparkSession, table: str):
    """Streaming entry point for the cluster ledger (the q184 merge under a
    REAL Structured Streaming ingest): ``pairs.writeStream.foreachBatch(
    cluster_ledger_sink(spark, table)).start()``. First batch bootstraps an
    empty ledger; every micro-batch folds its pairs through
    ``merge_pairs_into_cluster_ledger`` with the micro-batch id as the
    replay watermark — a redelivered batch after a completed merge is a
    no-op (the staged-swap batch stamp), so the sink is exactly-once in
    effect under foreachBatch's at-least-once delivery. Because the merge
    is exact for ARBITRARY new-edge sets, the final ledger is independent
    of how the pair stream is batched — asserted by the chained-merge
    streaming test in tests/test_streaming.py.

    Bootstrap happens only when NEITHER the table NOR a committed staging
    exists (ADVICE r9 high): interrupted-swap recovery runs before the
    existence check, because inside the drop→rename crash window the table
    is absent while the committed staging holds the FULL ledger — a naive
    bootstrap would create an empty table that masks the recovery branch,
    resets the replay watermark (so the redelivered batch re-applies), and
    lets the merge drop the committed staging: total silent history loss.
    That recover→bootstrap→apply ordering is now STRUCTURAL — this sink
    (and every other maintained layout's) delegates to
    ``maintained_layout_sink`` (VERDICT r10 #4) instead of re-implementing
    the skeleton, which is how the r9 bug happened in the first place."""
    from wikipediaetl_spark.operators.layout import maintained_layout_sink

    def bootstrap() -> None:
        spark.createDataFrame([], "doc_id long, cluster_id long").write.bucketBy(
            8, "doc_id"
        ).sortBy("doc_id").saveAsTable(table)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        merge_pairs_into_cluster_ledger(
            spark, batch.select("doc_a", "doc_b"), table, batch_id=batch_id
        )

    return maintained_layout_sink(
        spark, apply_batch, recover_tables=[table], bootstrap=bootstrap
    )


@query("q184_cluster_ledger_maintenance", oracle=_Q83_ORACLE)
def q184_cluster_ledger_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-MAINTAINED near-dup cluster ledger — the q174/q177/
    q178/q179/q180/q181 maintained-index discipline applied to the dedup
    DECISION itself. q83 answers "which docs are transitive near-dups of
    which" by closing the whole pair graph; a 100 TB pipeline cannot replay
    that closure per ingest batch, because the closure is global while the
    batch is not. The maintained structure is the CLUSTER LEDGER
    (doc_id, cluster_id), and the insight that makes it maintainable is
    monotonicity: ingest only ADDS edges, and added edges only MERGE
    existing components — so a batch's effect on history is exactly a
    relabeling of O(touched components), computed from an O(batch)
    contracted label graph (``merge_pairs_into_cluster_ledger``; exactness
    argument in its docstring).

    In-query exercise: q53's pair domain (doc_id < 200, bigram Jaccard
    ≥ 0.5) splits 90/10 on doc_id % 10 ∈ {4, 5} — chosen so the fixture
    batch contains pair-participating docs at sf0.001/sf0.01 (merge paths
    actually exercised: batch↔base edges and base docs entering the ledger
    late). The bootstrap closes base↔base pairs only; the batch step
    computes pairs touching ≥ 1 batch doc (batch shingles against the
    corpus — in production this probe comes from q174's maintained band
    index; q53's hot-shingle guard is deliberately OFF here because the
    split-phase pair universe must equal the oracle's unguarded one), then
    folds them through the incremental merge. Reference tie: the
    reference's dedup stage keeps a Redis seen-set per content hash
    (filter/app/main.py:16-24) — exact-match only and unboundedly
    stateful; this operator is its transitive NEAR-dup generalization with
    the state maintained as a relabelable table instead. The ledger must then
    hash-match q83's FULL-RECOMPUTE oracle exactly — same rows, same
    min-doc_id labels, same keep flags. The transitive-merge case (one
    batch edge uniting two multi-doc components) is unit-tested
    synthetically in tests/test_dedup.py since the fixture graph is too
    sparse to produce it."""
    from wikipediaetl_spark.operators.dedup import _shingles, jaccard_pairs
    from wikipediaetl_spark.operators.layout import scoped_tables

    table = "q184_cluster_ledger"
    with scoped_tables(spark, table):
        d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
        isb = F.pmod(F.col("doc_id"), F.lit(10)).isin(4, 5)
        base, batch = d.filter(~isb), d.filter(isb)

        # bootstrap: the one-time closure over history (base↔base pairs only)
        base_pairs = jaccard_pairs(_shingles(base, n=2), threshold=0.5).select(
            "doc_a", "doc_b"
        )
        connected_components(base_pairs).write.bucketBy(8, "doc_id").sortBy(
            "doc_id"
        ).saveAsTable(table)

        # ingest batch: exact Jaccard pairs touching >= 1 batch doc. The shingle
        # probe joins batch shingles against the corpus posting stream — one
        # corpus scan here (stand-in for a q174 index probe), never a corpus
        # self-join; batch-batch pairs are kept once via the (not-batch OR
        # greater-id) guard on the right side.
        sh_all = _shingles(d, n=2)
        sh_batch = _shingles(batch, n=2)
        isb_b = F.pmod(F.col("db"), F.lit(10)).isin(4, 5)
        cand = (
            sh_batch.select(F.col("doc_id").alias("da"), "tok")
            .join(sh_all.select(F.col("doc_id").alias("db"), "tok"), "tok")
            .filter((F.col("db") != F.col("da")) & (~isb_b | (F.col("db") > F.col("da"))))
        )
        inter = (
            cand.select(
                F.least("da", "db").alias("doc_a"), F.greatest("da", "db").alias("doc_b")
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        sizes = sh_all.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
        batch_pairs = (
            inter.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(
                F.col("i") * 1.0 / (F.col("sza") + F.col("szb") - F.col("i")) >= 0.5
            )
            .select("doc_a", "doc_b")
        )
        merge_pairs_into_cluster_ledger(spark, batch_pairs, table, batch_id=1)

        return (
            spark.table(table)
            .select(
                "doc_id",
                "cluster_id",
                (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
            )
            .localCheckpoint(eager=True)
        )


@query(
    "q84_map_ops",
    oracle="""
    SELECT event_id,
           CASE WHEN props IS NOT NULL AND json_valid(props)
                THEN json_keys(props)[1] END AS first_key,
           CASE WHEN props IS NOT NULL AND json_valid(props)
                THEN CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k_value,
           CASE WHEN props IS NOT NULL AND json_valid(props)
                THEN CAST(len(json_keys(props)) AS INTEGER) END AS n_keys
    FROM events
    WHERE event_id < 2000
    """,
)
def q84_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: parse the props JSON into map<string,int>,
    then map_keys / element access / size (SURVEY.md §1.2 header-map type,
    fetcher/app/main.py:86)."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    # parse as map<string,string> (total for ANY flat or nested JSON object —
    # map<string,int> would null the WHOLE map when one value is non-int,
    # found by the events fuzzer) and cast the typed field at access time,
    # matching the oracle's per-key json_extract semantics
    m = F.from_json("props", "map<string,string>")
    return e.select(
        "event_id",
        F.element_at(F.map_keys(m), 1).alias("first_key"),
        m["k"].cast("int").alias("k_value"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@query(
    "q85_merge_upsert",
    oracle="""
    WITH staged AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 10.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    existing AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
    SELECT e.o_orderkey, e.o_custkey, e.o_totalprice, FALSE AS updated
    FROM existing e
    WHERE NOT EXISTS (SELECT 1 FROM staged s WHERE s.o_orderkey = e.o_orderkey)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, TRUE AS updated FROM staged
    """,
)
def q85_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / upsert emulation without a table format: target ∖ staged
    (anti-join) ∪ staged — the WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT
    semantics (SURVEY.md §2.3: the reference's insert-if-absent ORM loops,
    categorizer.py:156-187, generalized to update-or-insert). On a lakehouse
    table this becomes Delta/Iceberg MERGE INTO; the relational core is this
    exact plan."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    staged = (
        o.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
        .withColumn("updated", F.lit(True))
    )
    untouched = o.join(staged.select("o_orderkey"), "o_orderkey", "left_anti").withColumn(
        "updated", F.lit(False)
    )
    return untouched.unionByName(staged)


@query(
    "q92_correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                     / count(*)
                              FROM orders i WHERE i.o_custkey = o.o_custkey)
    """,
)
def q92_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders > 2x their customer's average),
    decorrelated by hand into agg + join — the plan Catalyst itself produces
    for the SQL form; per-key avg uses the exact decimal sum."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("k")).agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("cust_avg")
    )
    return (
        o.join(per_cust, o.o_custkey == per_cust.k)
        .filter(F.col("o_totalprice") > 2 * F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "q93_window_value_funcs",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS last_order,
           CAST(nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate, o_orderkey
                                               ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND UNBOUNDED FOLLOWING) AS BIGINT) AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q93_window_value_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value windows with explicit full
    frames (last/nth need UNBOUNDED FOLLOWING to be well-defined)."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    order_w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full_w = order_w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(order_w).alias("first_order"),
        F.last("o_orderkey").over(full_w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(full_w).alias("second_order"),
    )


@query(
    "q94_window_distribution",
    oracle="""
    SELECT c_custkey,
           percent_rank() OVER w AS bal_percentile,
           cume_dist() OVER w AS bal_cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def q94_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist analytic distributions (single-partition
    window — dimension-sized input only; fact-scale quantiles go through
    approx_percentile instead)."""
    from pyspark.sql import Window as W

    c = _t(spark, sf_dir, "customer")
    w = W.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.percent_rank().over(w).alias("bal_percentile"),
        F.cume_dist().over(w).alias("bal_cume"),
    )


@query(
    "q95_regex_groups",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_type, '^(\\w+) (\\w+) (\\w+)$', 1) AS type_class,
           regexp_extract(p_type, '^(\\w+) (\\w+) (\\w+)$', 2) AS type_finish,
           regexp_extract(p_type, '^(\\w+) (\\w+) (\\w+)$', 3) AS type_metal
    FROM part
    """,
)
def q95_regex_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-group regexp extraction splitting the three-word p_type into
    typed fields ('' for non-matches on both engines)."""
    p = _t(spark, sf_dir, "part")
    pat = r"^(\w+) (\w+) (\w+)$"
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", pat, 1).alias("type_class"),
        F.regexp_extract("p_type", pat, 2).alias("type_finish"),
        F.regexp_extract("p_type", pat, 3).alias("type_metal"),
    )


@query(
    "q96_explode_outer",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN []
                  ELSE string_split(substr(lang, 1, 2), '') END AS tags
      FROM documents
    )
    SELECT doc_id, u.tag
    FROM tagged LEFT JOIN LATERAL (SELECT unnest(tags) AS tag) u ON TRUE
    ORDER BY doc_id
    """,
)
def q96_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty arrays survive with a null element
    (plain explode would drop them) — the outer-lateral-unnest semantics."""
    d = _t(spark, sf_dir, "documents")
    tags = F.when(F.col("doc_id") % 10 == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.substring("lang", 1, 2), "")
    )
    return d.select("doc_id", F.explode_outer(tags).alias("tag"))


@query(
    "q97_struct_ops",
    oracle="""
    SELECT o_orderkey,
           {'status': o_orderstatus, 'priority': o_orderpriority}.status AS s_status,
           {'status': o_orderstatus, 'priority': o_orderpriority}.priority AS s_priority,
           {'k': o_custkey, 'price': o_totalprice} = {'k': o_custkey, 'price': o_totalprice}
             AS s_equal
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def q97_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct build / field access / struct equality — the nested-type
    surface (SURVEY.md §1.2 document type D3)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    s1 = F.struct(
        F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("priority")
    )
    s2 = F.struct(F.col("o_custkey").alias("k"), F.col("o_totalprice").alias("price"))
    return o.select(
        "o_orderkey",
        s1.getField("status").alias("s_status"),
        s1.getField("priority").alias("s_priority"),
        (s2 == s2).alias("s_equal"),
    )


@query("q102_approx_percentile")
def q102_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable sketch) — the fact-scale quantile path
    (single pass, partial-aggregable, vs q39's exact sort-based percentile
    which is only for bounded groups). Rows-only: sketch internals are
    engine-specific; tests bound the error against the exact quantiles."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("approx_median"),
        F.approx_percentile("l_extendedprice", F.lit(0.95), F.lit(10000)).alias("approx_p95"),
    )


# PageRank's integer rank unit: ``exact=True`` ranks are parts per billion
_PPB = 1_000_000_000


def pagerank(edges: DataFrame, n_iter: int = 5, exact: bool = False) -> DataFrame:
    """Fixed-iteration PageRank (damping 0.85) over edges(src, dst) — the
    iterative message-passing pattern beyond BFS/label-propagation: each
    round is a join (send rank/out_degree along edges) + aggregate (sum
    incoming) + dangling-mass redistribution, checkpointed per round.

    ``exact=False`` holds the rank as a double and returns (node, rank):
    deterministic up to float addition order (rows-only operator).
    ``exact=True`` holds it as BIGINT parts per billion and returns (node,
    rank_ppb): every round is pure integer arithmetic (r DIV deg
    contributions, (15·base) DIV (100·N) + (85·(inc + dangling DIV N))
    DIV 100), so truncation replaces float rounding and the fixpoint of the
    ALGORITHM (not of ideal PageRank) is reproducible bit-for-bit on any
    engine and any partitioning — which is what lets an iterative graph
    operator join the hash-checked set at all.

    The node count rides the nodes' checkpoint (``counted_checkpoint``) and
    the first round reads the uniform initial rank lazily, so neither costs
    a job of its own."""
    spark = edges.sparkSession
    out_col = "rank_ppb" if exact else "rank"
    with scoped_confs(spark, _LOOP_CONFS):
        nodes, n = counted_checkpoint(
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        if n == 0:
            return nodes.withColumn(out_col, F.lit(0).cast("long") if exact else F.lit(0.0))
        if exact:
            init = F.lit(_PPB // n).cast("long")
            contrib = F.expr("r div deg")
            update = F.lit((15 * _PPB) // (100 * n)).cast("long") + F.expr(
                f"(85 * (coalesce(inc, 0) + dm div {n})) div 100"
            ).cast("long")
        else:
            init = F.lit(1.0 / n)
            contrib = F.col("r") / F.col("deg")
            # (1 - 0.85) / n, not 0.15 / n: the two differ in the last bit
            update = (
                F.lit((1 - 0.85) / n)
                + F.lit(0.85) * F.col("dm") / F.lit(float(n))
                + F.lit(0.85) * F.coalesce(F.col("inc"), F.lit(0.0))
            )
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        graph = edges.join(out_deg, "src").localCheckpoint(eager=True)
        ranks = nodes.withColumn("r", init)
        for _ in range(n_iter):
            contribs = (
                graph.join(ranks, graph.src == ranks.node)
                .select(F.col("dst").alias("node"), contrib.alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("inc"))
            )
            # dangling nodes (no outgoing edges) leak rank mass; redistribute
            # it as a broadcast 1-row scalar folded into the same plan — no
            # per-iteration driver collect (VERDICT r2 #5): the only action
            # per round is the lineage-truncating checkpoint of `ranks`. The
            # anti-join reads the checkpointed `graph`, so no round re-reads
            # the caller's edges.
            dangling = ranks.join(graph, ranks.node == graph.src, "left_anti").agg(
                F.coalesce(F.sum("r"), F.lit(0)).alias("dm")
            )
            ranks = (
                nodes.join(contribs, "node", "left")
                .join(F.broadcast(dangling))
                .select("node", update.alias("r"))
                .localCheckpoint(eager=True)
            )
        return ranks.select("node", F.col("r").alias(out_col))


def _order_parent_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order-parent graph (q38's BFS edge set) over the first 2000
    orders: ``o_orderkey div 2 -> o_orderkey``, self-loops dropped."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return o.select(
        F.expr("o_orderkey div 2").alias("src"), F.col("o_orderkey").alias("dst")
    ).filter(F.col("dst") != F.col("src"))


@query("q103_pagerank")
def q103_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank(5 iterations) over the order-parent graph (same edge set as
    q38's BFS). Rows-only (float accumulation); tests assert rank-mass
    conservation and determinism. The hash-verifiable twin with integer
    rank state is q165_pagerank_exact, ``pagerank(..., exact=True)``."""
    pr = pagerank(_order_parent_edges(spark, sf_dir), n_iter=5)
    return pr.select("node", F.round("rank", 9).alias("rank"))


def _pagerank_exact_oracle(n_iter: int) -> str:
    """Unrolled n_iter-iteration INTEGER PageRank in ANSI SQL (one CTE
    chain per iteration) — the oracle twin of ``pagerank(..., exact=True)``.
    Rank state is BIGINT parts-per-billion; every per-iteration op is
    integer (DIV, ×, Σ), so the result is bit-identical regardless of
    engine or evaluation order."""
    base = _PPB
    sql = f"""
    WITH edges AS (
      SELECT o_orderkey // 2 AS src, o_orderkey AS dst FROM orders
      WHERE o_orderkey < 2000 AND o_orderkey // 2 <> o_orderkey
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    r0 AS (
      SELECT node, CAST(CAST({base} AS BIGINT) // nn.n AS BIGINT) AS r FROM nodes, nn
    )"""
    prev = "r0"
    for i in range(1, n_iter + 1):
        sql += f""",
    c{i} AS (
      SELECT e.dst AS node, CAST(sum({prev}.r // d.deg) AS BIGINT) AS inc
      FROM edges e
      JOIN {prev} ON e.src = {prev}.node
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    d{i} AS (
      SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dm
      FROM {prev} WHERE node NOT IN (SELECT src FROM deg)
    ),
    r{i} AS (
      SELECT n.node,
             CAST((15 * CAST({base} AS BIGINT)) // (100 * nn.n)
                  + (85 * (coalesce(c.inc, 0) + d{i}.dm // nn.n)) // 100
               AS BIGINT) AS r
      FROM nodes n
      LEFT JOIN c{i} c ON n.node = c.node
      CROSS JOIN d{i}
      CROSS JOIN nn
    )"""
        prev = f"r{i}"
    sql += f"""
    SELECT node, r AS rank_ppb FROM {prev}
    """
    return sql


@query("q165_pagerank_exact", oracle=_pagerank_exact_oracle(5))
def q165_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank(5 iterations), ``pagerank(..., exact=True)``, with INTEGER
    rank state, hash-verified against an unrolled 5-iteration SQL oracle —
    the iterative-algorithm
    class (q38/q83/q103) entering the exact-checked set: quantizing the
    state to BIGINT parts-per-billion makes every iteration's result
    order-independent, so the driver-grade value hash applies to a graph
    fixpoint computation. Same order-parent edge set and the same loop as
    q103: the edges are hash-partitioned once, each round's aggregate is
    integer and its dangling mass a broadcast scalar."""
    return pagerank(_order_parent_edges(spark, sf_dir), n_iter=5, exact=True)


@query(
    "q104_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
           CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
           count(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q104_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() flags distinguishing real NULL group keys from rollup
    subtotal rows — required for correct downstream consumption of
    rollup/cube output."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q105_try_arithmetic",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / nullif(CAST(o_orderkey % 3 AS INTEGER), 0) AS safe_div,
           o_totalprice / nullif(CAST(o_orderkey % 3 AS INTEGER), 0) IS NULL AS div_by_zero
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def q105_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe arithmetic: try_divide yields NULL instead of failing/Inf on
    zero divisors (ANSI-safe pipelines never die on a bad row)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    safe = F.try_divide(F.col("o_totalprice"), (F.col("o_orderkey") % 3).cast("int"))
    return o.select(
        "o_orderkey", safe.alias("safe_div"), safe.isNull().alias("div_by_zero")
    )


@query(
    "q106_collect_set",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           CAST(len(list(DISTINCT o_orderstatus)) AS INTEGER) AS n_statuses
    FROM orders
    GROUP BY o_custkey
    """,
)
def q106_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-valued aggregation: collect_set sorted for determinism (a raw
    collect_set order depends on partitioning — never compare it unsorted).
    Emitted as a ','-joined string, not array<string>: the driver's pandas
    canonicalizer sorts columns and lists are unhashable there — same
    semantics, hashable representation.

    r11 adopted wave: the set-dedup runs as a codegen'd DISTINCT on
    (custkey, status) pairs BEFORE the collect — collect_set is an
    ObjectHashAggregate (object buffers, outside whole-stage codegen), so
    feeding it the raw 60M-row fact pays the object path per input row;
    after the pre-distinct it sees ≤|statuses| rows per key. Within-run A/B
    at 400× (inline, BENCH_NOTES r11): 2.9–3.5 s → 1.7–2.6 s,
    value-identical. A single-collect_set + post-projection variant
    measured flat — the double set-build was never the cost."""
    o = _t(spark, sf_dir, "orders")
    pairs = o.select("o_custkey", "o_orderstatus").distinct()
    return (
        pairs.groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list("o_orderstatus")).alias("s"))
        .select(
            "o_custkey",
            F.array_join("s", ",").alias("statuses"),
            F.size("s").alias("n_statuses"),
        )
    )


@query(
    "q107_bit_aggregates",
    oracle="""
    SELECT o_orderpriority,
           bit_and(CAST(o_orderkey % 256 AS BIGINT)) AS agg_and,
           bit_or(CAST(o_orderkey % 256 AS BIGINT)) AS agg_or,
           bit_xor(CAST(o_orderkey % 256 AS BIGINT)) AS agg_xor
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q107_bit_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (and/or/xor) — order-independent by algebra, so
    exactly reproducible under any partitioning."""
    o = _t(spark, sf_dir, "orders")
    k = (F.col("o_orderkey") % 256).cast("long")
    return o.groupBy("o_orderpriority").agg(
        F.bit_and(k).alias("agg_and"),
        F.bit_or(k).alias("agg_or"),
        F.bit_xor(k).alias("agg_xor"),
    )


@query(
    "q108_exact_correlation",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    comp AS (
      SELECT l_returnflag,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CAST(x AS HUGEINT) * y) AS sxy
      FROM c GROUP BY l_returnflag
    ),
    mom AS (
      SELECT l_returnflag, n,
             n * sxy - sx * sy AS cov_t,
             n * sxx - sx * sx AS dx,
             n * syy - sy * sy AS dy
      FROM comp
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CASE WHEN dx = 0 OR dy = 0 THEN NULL
                ELSE CAST(cov_t AS DOUBLE)
                     / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE)))
           END AS corr_qty_price
    FROM mom
    """,
)
def q108_exact_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT integer moment components.

    Built-in corr() accumulates doubles (order-dependent, engine-divergent).
    Here values quantize to cents (exact for the 2-decimal fixture columns —
    Pearson is scale/shift-invariant, so cents correlate identically to
    dollars), the five moment components accumulate as wide integers
    (DECIMAL(38,0) / HUGEINT), and the centered terms cov = n·Σxy − ΣxΣy,
    dx = n·Σx² − (Σx)², dy = n·Σy² − (Σy)² are EXACT — no cancellation
    noise, any partitioning, bit-identical on both engines. Only the final
    3-op double closed form cov/(√dx·√dy) is float.

    Degenerate groups (r7, found by the adversarial-reference battery): a
    constant column makes dx exactly 0 — the previous double-space form
    DIVIDE_BY_ZERO-crashed the whole job under the session's pinned ANSI
    mode the moment any group was constant (Pearson is undefined there).
    The exact integer dx/dy make "undefined" a precise test: dx=0 or dy=0
    → NULL, never a crash, never sqrt-of-cancellation-noise garbage.

    r12 (the big one — guide §1.2 "per-task work"): the r11 form ran the
    five moment sums as per-row DECIMAL(38,0) multiplies + accumulates —
    BigDecimal object arithmetic on every one of 240M rows, measured at
    87-90% of the query's wall (OPTIMIZATION_r12.md: the scan+quantize
    floor was 12-14% of it at 400×; the r11 "per-row quantization floor"
    pin was wrong — quantization is ~free, the decimal ops were
    the wall). Now every per-row product runs in LONG inside whole-stage
    codegen: partials accumulate per (l_returnflag, spark_partition_id())
    — the q12/q81 salted-partials pattern, bounding each partial at the
    scan-task row count — and only the ~|tasks|·|groups| partial rows pay
    decimal arithmetic at the combine. y² and x·y split through
    y = yh·8192 + yl (exact: y ≥ 0, truncation = floor) so each LONG
    component stays in range: with x ≤ 5e3 cents (l_quantity ≤ 50) and
    y ≤ ~1.05e7 cents, the tightest per-partial bound is Σyl² ≤ 6.7e7 ×
    rows-per-task — safe to ~1.4e11 rows PER SCAN TASK (no real split
    holds 1e11 rows); group sizes are unbounded since groups combine in
    decimal. Exactness unchanged: ring homomorphism — the decimal
    recombination 2²⁶·Σyh² + 2¹⁴·Σyh·yl + Σyl² equals Σy² exactly, and
    partial sums are associative; ANSI still turns any bound breach into
    an error, never a wrong answer. Measured within-run at 400×: 9.16 →
    1.76 s (5.2×), values bit-identical."""
    li = _t(spark, sf_dir, "lineitem")
    cx = scaled_long(F.col("l_quantity"), 100)
    cy = scaled_long(F.col("l_extendedprice"), 100)
    c = li.select("l_returnflag", cx.alias("x"), cy.alias("y"))
    d = lambda col: F.col(col).cast("decimal(38,0)")
    yh = (F.col("y") / 8192).cast("long")
    yl = F.col("y") - yh * 8192
    partial = (
        c.select(
            "l_returnflag",
            "x",
            "y",
            yh.alias("yh"),
            yl.alias("yl"),
            F.spark_partition_id().alias("p"),
        )
        .groupBy("l_returnflag", "p")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx_l"),
            F.sum("y").alias("sy_l"),
            F.sum(F.col("x") * F.col("x")).alias("sxx_l"),
            F.sum(F.col("x") * F.col("yh")).alias("sxyh"),
            F.sum(F.col("x") * F.col("yl")).alias("sxyl"),
            F.sum(F.col("yh") * F.col("yh")).alias("syhh"),
            F.sum(F.col("yh") * F.col("yl")).alias("syhl"),
            F.sum(F.col("yl") * F.col("yl")).alias("syll"),
        )
    )
    comp = partial.groupBy("l_returnflag").agg(
        F.sum("n").alias("n"),
        F.sum(d("sx_l")).alias("sx"),
        F.sum(d("sy_l")).alias("sy"),
        F.sum(d("sxx_l")).alias("sxx"),
        (F.sum(d("sxyh")) * 8192 + F.sum(d("sxyl"))).alias("sxy"),
        (
            F.sum(d("syhh")) * F.lit(8192 * 8192)
            + F.sum(d("syhl")) * F.lit(2 * 8192)
            + F.sum(d("syll"))
        ).alias("syy"),
    )
    n_d = d("n")
    mom = comp.select(
        "l_returnflag",
        "n",
        (n_d * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_t"),
        (n_d * F.col("sxx") - F.col("sx") * F.col("sx")).alias("dx"),
        (n_d * F.col("syy") - F.col("sy") * F.col("sy")).alias("dy"),
    )
    corr = F.when(
        (F.col("dx") == 0) | (F.col("dy") == 0), F.lit(None).cast("double")
    ).otherwise(
        F.col("cov_t").cast("double")
        / (F.sqrt(F.col("dx").cast("double")) * F.sqrt(F.col("dy").cast("double")))
    )
    return mom.select("l_returnflag", "n", corr.alias("corr_qty_price"))


@query(
    "q113_sql_subqueries",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o.o_orderkey
                  AND l_quantity >= 49)
      AND o_totalprice > (SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                 / count(*)
                          FROM orders i)
    """,
)
def q113_sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery planner surface via the SQL API: uncorrelated IN, correlated
    EXISTS, and a scalar subquery in one predicate — Catalyst decorrelates
    to semi-joins + a broadcast scalar (same plans the DataFrame catalog
    queries spell out by hand; here the optimizer derives them)."""
    for t in ("orders", "customer", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"v113_{t}")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM v113_orders o
        WHERE o_custkey IN (SELECT c_custkey FROM v113_customer WHERE c_acctbal > 9000)
          AND EXISTS (SELECT 1 FROM v113_lineitem WHERE l_orderkey = o.o_orderkey
                      AND l_quantity >= 49)
          AND o_totalprice > (SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                     / count(*)
                              FROM v113_orders i)
        """
    )


@query(
    "q114_lateral_explode",
    oracle="""
    SELECT doc_id, tok, CAST(pos AS INTEGER) AS pos
    FROM documents,
         LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
                         generate_subscripts(string_split(text, ' '), 1) AS pos)
    WHERE doc_id < 20
    """,
)
def q114_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW posexplode via the SQL API — the table-generating-
    function surface (position-aware token stream, the tokenizer output
    shape)."""
    _t(spark, sf_dir, "documents").createOrReplaceTempView("v114_documents")
    return spark.sql(
        """
        SELECT doc_id, tok, pos + 1 AS pos
        FROM v114_documents
        LATERAL VIEW posexplode(split(text, ' ')) t AS pos, tok
        WHERE doc_id < 20
        """
    )
