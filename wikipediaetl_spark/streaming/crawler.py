"""Crawler-loop semantics rebuilt on Spark.

The reference's crawler is a cyclic message topology: fetcher → parser →
filter → fetcher over RabbitMQ, seeded with one URL, with Redis set dedup
(SURVEY.md §3.2; WikipediaCrawler/startup/init_queues.py:32-37,
filter/app/main.py:16-24). Spark dataflow is acyclic, so the cycle becomes a
driver-side fixpoint loop over micro-batches:

    frontier(i+1) = distinct(expand(frontier(i))) ∖ seen(i)
    seen(i+1)     = seen(i) ∪ frontier(i+1)

Each round is pure DataFrame algebra (join + anti-join), so it distributes;
``localCheckpoint`` truncates lineage per round (on a real cluster use
reliable checkpointing or a Delta `seen` table instead). Termination = empty
frontier (the reference never terminates; its frontier just drains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikipediaetl_spark.session import counted_checkpoint, scoped_confs


def _tiny_round_confs(spark: SparkSession) -> tuple[int, dict[str, str]]:
    """``(n_part, confs)`` for a BFS loop of many tiny rounds.

    Few fat partitions beat many thin ones for iterative micro-batches:
    every round is a frontier-broadcast join, so per-task scheduling
    overhead × rounds dominates at small frontier sizes. AQE is disabled
    for the loop: its per-stage re-optimization costs more than it saves
    on many tiny rounds (measured ~20% of wall); re-enable (drop this pin)
    when rounds are cluster-sized. With AQE off nothing coalesces
    post-shuffle, so the partition count is pinned: a default-200 driver
    session would otherwise run 200 tasks per tiny round."""
    n_part = min(8, spark.sparkContext.defaultParallelism)
    return n_part, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(n_part),
    }


def bfs_fixpoint(
    spark: SparkSession,
    seeds: DataFrame,
    edges: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """Iterate BFS over ``edges(src, dst)`` from ``seeds(node)`` to a fixpoint.

    Returns DataFrame(node, depth) with the minimal BFS depth per reached
    node (depth capped at ``max_rounds``). Unlike :func:`recursive_bfs_tree`
    it takes any graph, cycles and multi-parent nodes included, so it is
    the reference that the forest-only recursion is tested against. Scale
    posture: `edges` is hash-partitioned on src once up front so every
    round's frontier⋈edges join reuses the same partitioning; the frontier
    (small) broadcasts against it. The seen-set grows monotonically, so the
    dedup anti-join shuffles on the key and the seen set stays
    partition-distributed — the only setting that survives crawl scale.
    Each round's emptiness check rides its checkpoint
    (``counted_checkpoint``).
    """
    n_part, loop_confs = _tiny_round_confs(spark)
    with scoped_confs(spark, loop_confs):
        edges = edges.repartition(n_part, "src").persist()
        try:
            frontier = seeds.select("node").distinct().withColumn("depth", F.lit(0))
            frontier = frontier.localCheckpoint(eager=True)
            seen = frontier
            for _ in range(max_rounds):
                new_nodes, n_new = counted_checkpoint(
                    F.broadcast(frontier)
                    .join(edges, frontier["node"] == edges["src"])
                    .select(F.col("dst").alias("node"), (frontier["depth"] + 1).alias("depth"))
                    .join(seen.select("node"), "node", "left_anti")
                    .groupBy("node")
                    .agg(F.min("depth").alias("depth"))
                )
                if n_new == 0:
                    break
                # re-checkpointing the unioned seen set each round measured
                # FASTER than keeping it as a lazy union of frontiers — the
                # growing union plan re-scans r checkpoints per round and
                # costs more than one small materialization
                seen = seen.unionByName(new_nodes).localCheckpoint(eager=True)
                frontier = new_nodes
            return seen
        finally:
            edges.unpersist()


def recursive_bfs_tree(
    spark: SparkSession,
    seeds: DataFrame,
    edges: DataFrame,
    max_depth: int = 31,
    stride: int = 4,
    assert_forest: bool = False,
) -> DataFrame:
    """Declarative BFS over a FOREST via Spark 4's WITH RECURSIVE.

    The engine-side twin of :func:`bfs_fixpoint` for the special case where
    every ``dst`` has at most one ``src`` (a forest): each reachable node
    then has exactly ONE path from the seed set, so UNION ALL recursion is
    duplicate-free and the whole fixpoint runs inside one SQL query
    (UnionLoopExec) — no Python driver round trips, no per-round
    localCheckpoint. General graphs (multi-parent DAGs, cycles) still need
    :func:`bfs_fixpoint`: ``max_depth`` always bounds the recursion LEVELS,
    so nothing loops forever, but UNION ALL recursion enumerates every
    distinct path — on a multi-parent DAG the row count can grow
    exponentially in depth before the final min-aggregate collapses it.
    That path-explosion hazard is why the recursion row limit below is kept
    FINITE (ADVICE r7) and why ``assert_forest=True`` offers a cheap
    debug-mode precondition check (one max-indegree aggregate).

    ``stride`` is a k-hop lookahead: the recursion steps over the cached
    ``edges^stride`` power table (built by doubling: e2 = e1 join e1,
    e4 = e2 join e2, so stride must be a power of two), with depths
    0..stride-1 seeded by the anchor. On a forest the distance-``stride``
    ancestor is unique, so paths — and rows — stay unique. Measured at
    sf0.1 on the q38 instance (150k reachable nodes, depth ~19), per call
    INCLUDING hop-table builds, same-session A/B best-of-3: stride 4 =
    1.7 s vs 3.4 s for the tuned driver loop it replaced (the same k-hop
    algebra, 5 levels per round) — a 2.0x win; the stride sweep (2/4/8 =
    2.4/1.8/2.5 s in an earlier epoch) picks 4, where the extra power-table
    build starts outweighing the saved levels. Recursion
    levels, not joins, are the cost, exactly as in the driver loop.

    Returns DataFrame(node, depth), eagerly materialized (the session confs
    pinned for the loop are restored before returning).
    """
    import uuid

    assert stride >= 1 and (stride & (stride - 1)) == 0, "stride must be 2^k"
    if assert_forest:
        max_indegree = (
            edges.groupBy("dst").agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).first()[0]
        )
        if max_indegree is not None and max_indegree > 1:
            raise ValueError(
                f"recursive_bfs_tree requires a forest (every dst has one src); "
                f"found max indegree {max_indegree} — use bfs_fixpoint for "
                f"multi-parent graphs (UNION ALL recursion enumerates every path)"
            )
    tag = uuid.uuid4().hex[:12]
    # tiny per-level frontiers, as in bfs_fixpoint, plus two keys
    n_part, loop_confs = _tiny_round_confs(spark)
    loop_confs |= {
        # the default 1M-row recursion guard fires on any fact-scale reach
        # set (15M nodes at 100x). Raise it to a LARGE FINITE bound rather
        # than -1 (ADVICE r7): max_depth already guarantees termination,
        # but on a non-forest input the UNION ALL recursion enumerates
        # every path and this limit is the only backstop between a violated
        # precondition and an exponential-row runaway. 2e9 rows (~32 GB of
        # (node, depth) pairs) clears any legitimate reach set by 100x
        # while still killing a path explosion within one level.
        "spark.sql.cteRecursionRowLimit": "2000000000",
        # Whole-stage codegen is a net LOSS for the loop: each recursion
        # level compiles its stages, the generated classes are evicted from
        # the code cache by whatever else the session runs, and the
        # per-level data is tiny. Measured interleaved with 5 heavy catalog
        # queries (the bench round-robin shape) at sf0.1: codegen-on
        # 2.8-5.1 s/call, codegen-off 2.2-2.5 s/call. Re-measured at
        # 100x/400x (per-level frontiers of 0.5-2M rows): no regression —
        # 0.91x/0.55x vs the comparator, the join/shuffle dominates, not
        # expression eval.
        "spark.sql.codegen.wholeStage": "false",
    }
    with scoped_confs(spark, loop_confs):
        cached = []
        views = []
        try:
            hops = [edges.select("src", "dst").repartition(n_part, "src").persist()]
            while (1 << (len(hops) - 1)) < stride:
                prev = hops[-1]
                hops.append(
                    prev.alias("a")
                    .join(prev.alias("b"), F.col("a.dst") == F.col("b.src"))
                    .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
                    .repartition(n_part, "src")
                    .persist()
                )
            cached.extend(hops)
            # anchor: exact depths 0..stride-1 from the seed set (each level is
            # one more tiny broadcast hop on the cached 1-hop table)
            anchor = seeds.select("node").distinct().withColumn("depth", F.lit(0))
            level = anchor
            for d in range(1, stride):
                level = (
                    F.broadcast(level.select("node"))
                    .join(hops[0], F.col("node") == F.col("src"))
                    .select(F.col("dst").alias("node"), F.lit(d).alias("depth"))
                )
                anchor = anchor.unionByName(level)
            anchor_v, step_v = f"bfs_anchor_{tag}", f"bfs_step_{tag}"
            # register each name BEFORE the create that might throw, so the
            # finally-cleanup can never leak a view (ADVICE r7)
            views.append(anchor_v)
            anchor.createOrReplaceTempView(anchor_v)
            views.append(step_v)
            hops[-1].createOrReplaceTempView(step_v)
            # The final min-aggregate covers the one duplicate source a forest
            # allows: a seed that is an ancestor of another seed enumerates the
            # descendant's subtree once per covering seed (bounded by |seeds|,
            # never exponential) — min(depth) restores bfs_fixpoint's minimal-
            # depth semantics. With pairwise non-reachable seeds it aggregates
            # singleton groups.
            out = spark.sql(f"""
                WITH RECURSIVE reach(node, depth) AS (
                  SELECT node, depth FROM {anchor_v}
                  UNION ALL
                  SELECT e.dst, r.depth + {stride}
                  FROM {step_v} e JOIN reach r ON e.src = r.node
                  WHERE r.depth < {max_depth}
                )
                SELECT node, min(depth) AS depth FROM reach
                WHERE depth <= {max_depth} GROUP BY node
            """)
            return out.localCheckpoint(eager=True)
        finally:
            for v in views:
                spark.catalog.dropTempView(v)
            for t in cached:
                t.unpersist()


def crawl_frontier_step(
    frontier: DataFrame,
    links: DataFrame,
    seen: DataFrame,
    domain_suffix: str = "en.wikipedia.org",
) -> DataFrame:
    """One crawler round with the reference's parser+filter semantics.

    ``frontier(url)`` ⋈ ``links(url, out_url)`` → normalize → domain filter →
    anti-join ``seen(url)``. Mirrors parser/app/main.py:16-40 (normalize +
    domain filter) and filter/app/main.py:16-24 (dedup admission), but
    set-wise per micro-batch instead of message-at-a-time.
    """
    from wikipediaetl_spark.functions.urls import normalize_url, url_host

    expanded = (
        frontier.join(links, "url")
        .select(normalize_url(F.col("out_url")).alias("url"))
        .filter(url_host(F.col("url")).endswith(domain_suffix))
        .distinct()
    )
    return expanded.join(seen, "url", "left_anti")


def crawl(
    spark: SparkSession,
    seed_urls: list[str],
    transport,
    domain_suffix: str = "en.wikipedia.org",
    max_rounds: int = 10,
    max_per_host: int | None = None,
) -> dict[str, DataFrame]:
    """The complete crawler rebuilt as a BFS of distributed micro-batches.

    Reference parity, per round (SURVEY.md §3.2):
      fetch (fetcher/app/main.py:79-114, via sources/http.fetch_urls)
      → drop failed fetches (:91-94)
      → landing rows with sanitized file names (:41-61)
      → metadata rows {url, htmlPath, last_modified} (db_api.py:30-37)
      → link extraction + fan-out (:103-107, 116-123)
      → normalize + domain filter (parser/app/main.py:16-40)
      → seen-set admission (filter/app/main.py:16-24) as an anti-join.

    Returns {"pages": (url, file_name, html), "metadata": (url, htmlPath,
    last_modified), "seen": (url)}. Each round's new state is
    localCheckpoint-ed (cluster deployments swap in a Delta/parquet `seen`
    table and a real checkpoint dir), and each page is fetched once. The
    round's emptiness checks ride those checkpoints
    (``counted_checkpoint``).
    """
    from wikipediaetl_spark.functions.html import extract_links_expr
    from wikipediaetl_spark.functions.urls import (
        is_domain,
        normalize_url,
        url_to_filename,
    )
    from wikipediaetl_spark.sources.http import fetch_urls

    frontier = spark.createDataFrame(
        [(u,) for u in seed_urls], "url string"
    ).select(normalize_url(F.col("url")).alias("url")).distinct()
    frontier = frontier.localCheckpoint(eager=True)
    seen = frontier
    pages = None
    metadata = None
    for _ in range(max_rounds):
        if max_per_host is not None:
            # politeness: cap this wave per host; deferred URLs rejoin the
            # next frontier (sources/http.throttle_frontier)
            from wikipediaetl_spark.sources.http import throttle_frontier

            admitted, deferred = throttle_frontier(frontier, max_per_host)
            frontier = admitted.localCheckpoint(eager=True)
            deferred, n_deferred = counted_checkpoint(deferred)
        else:
            deferred, n_deferred = None, 0
        # one checkpoint holds each fetched page whole: pages and metadata
        # are both selected from it, so no page is fetched twice and its
        # Last-Modified comes from the response that gave its HTML
        batch, n_batch = counted_checkpoint(
            fetch_urls(frontier, transport)
            .filter(F.col("html").isNotNull())
            .select(
                "url",
                url_to_filename(F.col("url")).alias("file_name"),
                "html",
                "last_modified_raw",
            )
        )
        if n_batch == 0:
            if n_deferred:
                frontier = deferred  # whole admitted wave failed; drain deferrals
                continue
            break
        batch_pages = batch.select("url", "file_name", "html")
        batch_meta = batch.select(
            "url",
            F.concat(F.lit("landing/"), F.col("file_name"), F.lit(".html")).alias("htmlPath"),
            # HTTP Last-Modified ("%a, %d %b %Y %H:%M:%S %Z",
            # fetcher/app/main.py:74) is always GMT; Spark 3+'s parser
            # rejects EEE/zzz, so extract the core datetime and parse that.
            F.to_timestamp(
                F.regexp_extract(
                    F.col("last_modified_raw"), r"(\d{1,2} \w{3} \d{4} \d{2}:\d{2}:\d{2})", 1
                ),
                "dd MMM yyyy HH:mm:ss",
            ).alias("last_modified"),
        )
        pages = batch_pages if pages is None else pages.unionByName(batch_pages)
        metadata = batch_meta if metadata is None else metadata.unionByName(batch_meta)
        discovered = (
            batch_pages.select(
                F.explode(extract_links_expr(F.col("html"), F.col("url"))).alias("out_url")
            )
            .select(normalize_url(F.col("out_url")).alias("url"))
            .filter(is_domain(F.col("url"), domain_suffix))
            .distinct()
        )
        frontier = discovered.join(seen, "url", "left_anti")
        if deferred is not None:
            frontier = frontier.unionByName(deferred).distinct()
        frontier, n_frontier = counted_checkpoint(frontier)
        if n_frontier == 0:
            break
        seen = seen.unionByName(frontier).distinct().localCheckpoint(eager=True)
    empty_pages = spark.createDataFrame([], "url string, file_name string, html string")
    empty_meta = spark.createDataFrame(
        [], "url string, htmlPath string, last_modified timestamp"
    )
    return {
        "pages": pages if pages is not None else empty_pages,
        "metadata": metadata if metadata is not None else empty_meta,
        "seen": seen,
    }
