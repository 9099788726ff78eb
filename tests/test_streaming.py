"""Streaming semantics: batch-equivalence of the streaming operators, BFS
fixpoint on a known graph, crawler-step admission, retry backoff, and the
session-conf hygiene of the driver-side fixpoint loops."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wikipediaetl_spark.operators.relational import q37_tumbling_window
from wikipediaetl_spark.operators.relational_ext import connected_components, pagerank
from wikipediaetl_spark.session import scoped_confs
from wikipediaetl_spark.streaming.crawler import (
    bfs_fixpoint,
    crawl_frontier_step,
    recursive_bfs_tree,
)
from wikipediaetl_spark.streaming.queries import (
    q70_stream_tumbling,
    q71_stream_dedup,
    retry_queue_step,
)


def test_stream_window_equals_batch(spark, sf_dir):
    """Trigger-bounded streaming aggregation must equal the batch plan —
    the reference's crawler is a stream, its ETL a batch; the engine proves
    both produce the same relation."""
    batch = {
        (r.window_start, r.event_type, r.n, r.total_value)
        for r in q37_tumbling_window(spark, sf_dir).collect()
    }
    stream = {
        (r.window_start, r.event_type, r.n, r.total_value)
        for r in q70_stream_tumbling(spark, sf_dir).collect()
    }
    assert batch == stream


def test_stream_dedup_first_occurrence(spark, sf_dir):
    out = q71_stream_dedup(spark, sf_dir)
    ids = [r.user_id for r in out.collect()]
    assert len(ids) == len(set(ids))


def test_bfs_known_graph(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "a"), ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.depth for r in bfs_fixpoint(spark, seeds, edges).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}  # min depth; x/y unreachable


def test_bfs_lookahead_depth_exact(spark):
    """BFS must assign minimal depths on a graph with cycles, shortcuts,
    and multiple shortest paths."""
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
            ("a", "c"),              # shortcut: c reachable at depth 1
            ("c", "a"), ("f", "a"),  # back edges (cycles)
            ("b", "d"),              # second shortest path to d
        ],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    plain = {r.node: r.depth for r in bfs_fixpoint(spark, seeds, edges).collect()}
    assert plain == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3, "f": 4}


def test_bfs_emptiness_check_rides_each_rounds_checkpoint(spark, jobs_of):
    """The per-round "no new nodes" check is counted inside the round's
    checkpoint job, not probed by a job of its own: on a 5-node cycle plus
    tail the loop runs 5 rounds in 15 jobs (20 with an ``isEmpty()`` probe
    per round)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out, n_jobs = jobs_of(lambda: bfs_fixpoint(spark, seeds, edges))
    assert {r.node: r.depth for r in out.collect()} == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}
    assert n_jobs <= 15


def test_bfs_cycle_terminates(spark):
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.depth for r in bfs_fixpoint(spark, seeds, edges).collect()}
    assert got == {"a": 0, "b": 1}


# a forest: one depth-7 chain plus a branch, plus a second unreachable tree
_FOREST = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("f", "g"),
    ("g", "h"), ("a", "x"), ("x", "y"), ("p", "q"),
]


def test_recursive_bfs_tree_matches_fixpoint(spark):
    """The Spark-4 recursive-CTE BFS must assign the same depths as the
    driver-loop engine on a forest, at every stride (the anchor covers
    depths 0..stride-1; the power-table step covers the rest)."""
    edges = spark.createDataFrame(_FOREST, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    want = {r.node: r.depth for r in bfs_fixpoint(spark, seeds, edges).collect()}
    assert want == {"a": 0, "b": 1, "x": 1, "c": 2, "y": 2, "d": 3, "e": 4,
                    "f": 5, "g": 6, "h": 7}
    for stride in (1, 2, 4, 8):
        got = {
            r.node: r.depth
            for r in recursive_bfs_tree(spark, seeds, edges, stride=stride).collect()
        }
        assert got == want, f"stride={stride} diverged: {got}"


def test_recursive_bfs_tree_depth_cap_and_empty_seeds(spark):
    edges = spark.createDataFrame(_FOREST, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    # cap below the chain length, NOT a multiple of the stride: depths > cap
    # must be filtered even when the strided step overshoots
    got = {
        r.node: r.depth
        for r in recursive_bfs_tree(spark, seeds, edges, max_depth=5,
                                    stride=4).collect()
    }
    assert got == {"a": 0, "b": 1, "x": 1, "c": 2, "y": 2, "d": 3, "e": 4,
                   "f": 5}
    empty = spark.createDataFrame([], "node string")
    assert recursive_bfs_tree(spark, empty, edges, stride=2).count() == 0


def test_recursive_bfs_tree_overlapping_seeds(spark):
    """A seed that is an ancestor of another seed enumerates the descendant
    subtree twice; the final min-aggregate must return each node once at
    its MINIMAL depth (bfs_fixpoint semantics)."""
    edges = spark.createDataFrame(_FOREST, "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("c",)], "node string")
    want = {r.node: r.depth for r in bfs_fixpoint(spark, seeds, edges).collect()}
    assert want == {"a": 0, "c": 0, "b": 1, "x": 1, "d": 1, "y": 2, "e": 2,
                    "f": 3, "g": 4, "h": 5}
    for stride in (1, 4):
        got = {
            r.node: r.depth
            for r in recursive_bfs_tree(spark, seeds, edges, stride=stride).collect()
        }
        assert got == want, f"stride={stride}: {got}"


# every conf a fixpoint loop pins for its rounds
_LOOP_KEYS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.codegen.wholeStage",
    "spark.sql.cteRecursionRowLimit",
)


def test_fixpoint_loops_leave_the_session_as_they_found_it(spark):
    """connected components, integer PageRank and the recursive BFS pin
    tiny-round confs for their loops; afterwards every key reads as before
    the call, and a key that was unset is unset again."""
    for k in ("spark.sql.codegen.wholeStage", "spark.sql.cteRecursionRowLimit"):
        spark.conf.unset(k)  # start from the session defaults
    before = {k: spark.conf.get(k, None) for k in _LOOP_KEYS}
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 5
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    assert pagerank(edges, n_iter=2, exact=True).count() == 3
    forest = spark.createDataFrame(_FOREST, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    assert recursive_bfs_tree(spark, seeds, forest).count() == 10
    assert {k: spark.conf.get(k, None) for k in _LOOP_KEYS} == before


def test_scoped_confs_restores_the_session(spark):
    key, unset_key = "spark.sql.shuffle.partitions", "spark.sql.cteRecursionRowLimit"
    spark.conf.unset(unset_key)
    before = spark.conf.get(key)
    # a key that was unset is unset again; a set key gets its value back
    with scoped_confs(spark, {key: 3, unset_key: "5"}):
        assert (spark.conf.get(key), spark.conf.get(unset_key)) == ("3", "5")
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(key) == before
    # an exception in the body
    with pytest.raises(RuntimeError), scoped_confs(spark, {key: 3}):
        raise RuntimeError("body failed")
    assert spark.conf.get(key) == before
    # a set that fails (a static conf) after an earlier set succeeded
    with pytest.raises(Exception, match="CANNOT_MODIFY"):
        with scoped_confs(spark, {key: 3, "spark.sql.codegen.cache.maxEntries": "7"}):
            pass
    assert spark.conf.get(key) == before


def test_crawl_frontier_step_semantics(spark):
    """normalize → domain filter → seen anti-join, parity with
    parser/app/main.py + filter/app/main.py."""
    frontier = spark.createDataFrame([("https://en.wikipedia.org/wiki/A",)], "url string")
    links = spark.createDataFrame(
        [
            ("https://en.wikipedia.org/wiki/A", "HTTPS://EN.WIKIPEDIA.ORG/wiki/B/"),
            ("https://en.wikipedia.org/wiki/A", "https://en.wikipedia.org/wiki/Seen?x=1"),
            ("https://en.wikipedia.org/wiki/A", "https://de.wikipedia.org/wiki/C"),
            ("https://en.wikipedia.org/wiki/A", "https://en.wikipedia.org/wiki/B"),
        ],
        "url string, out_url string",
    )
    seen = spark.createDataFrame([("https://en.wikipedia.org/wiki/Seen",)], "url string")
    got = sorted(r.url for r in crawl_frontier_step(frontier, links, seen).collect())
    # B admitted once (normalized dup collapsed), Seen rejected, de. rejected
    assert got == ["https://en.wikipedia.org/wiki/B"]


def test_retry_queue_backoff(spark):
    now = dt.datetime.now()
    batch = spark.createDataFrame([("u1",)], "url string")
    failures = spark.createDataFrame(
        [
            ("r_ready", now - dt.timedelta(seconds=60), 1),
            ("r_not_yet", now + dt.timedelta(seconds=60), 1),
            ("r_exhausted", now - dt.timedelta(seconds=60), 3),
        ],
        "url string, available_at timestamp, attempts int",
    )
    got = sorted(r.url for r in retry_queue_step(batch, failures, max_retries=3).collect())
    assert got == ["r_ready", "u1"]


def test_watermark_bounds_state_and_emits_once(spark, sf_dir, tmp_path):
    """Watermark guarantees under out-of-order arrival (SURVEY.md §2.9 [E]):
    state is evicted once the watermark passes a window (bounded state — the
    property that makes unbounded streams feasible), and append mode emits
    each window at most once. Note Spark documents dropping of
    beyond-watermark data as a *may*, not a *must* — observed behavior on
    this version is that a very-late batch is still aggregated and its
    already-final windows emit immediately; the hard guarantees tested here
    are state eviction and no duplicate emission."""
    import uuid

    from wikipediaetl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    cutoff = "2024-01-20 00:00:00"
    src = str(tmp_path / "src")
    # batch 1 = new events (advances the watermark), batch 2 = very-late old
    # events (arrive weeks behind the watermark)
    ev.filter(F.col("ts") >= cutoff).coalesce(1).write.parquet(src + "/f=1")
    ev.filter(F.col("ts") < cutoff).coalesce(1).write.parquet(src + "/f=2")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    name = "late_" + uuid.uuid4().hex[:8]
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    # state eviction: after the final batch only the windows newer than the
    # watermark may remain in state — orders of magnitude below total windows
    final_state_rows = progress[-1]["stateOperators"][0]["numRowsTotal"]
    total_windows = spark.table(name).count()
    assert final_state_rows <= 2, final_state_rows
    assert total_windows > 100
    # append mode: every window emitted at most once
    emitted = spark.table(name)
    assert emitted.count() == emitted.select("ws").distinct().count()


def test_recursive_bfs_tree_random_forests_vs_python_reference(spark):
    """Independent-reference battery for the stride algebra: random forests
    + random (possibly ancestor-overlapping) seed sets, checked against a
    pure-Python multi-source BFS — derived from neither engine path."""
    import random
    from collections import deque

    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(10, 60)
        edge_list = []
        children: dict[int, list[int]] = {}
        for i in range(1, n):
            if rng.random() < 0.85:
                p = rng.randrange(0, i)
                edge_list.append((f"n{p}", f"n{i}"))
                children.setdefault(p, []).append(i)
        seeds_i = sorted(rng.sample(range(n), rng.randint(1, 3)))
        # pure-Python multi-source BFS (min depth)
        want: dict[str, int] = {}
        dq = deque((s, 0) for s in seeds_i)
        for s in seeds_i:
            want[f"n{s}"] = 0
        while dq:
            u, d = dq.popleft()
            for v in children.get(u, ()):
                if f"n{v}" not in want:
                    want[f"n{v}"] = d + 1
                    dq.append((v, d + 1))
        edges = spark.createDataFrame(
            edge_list or [("zz", "zz2")], "src string, dst string"
        )
        seeds = spark.createDataFrame(
            [(f"n{s}",) for s in seeds_i], "node string"
        )
        stride = rng.choice([1, 2, 4, 8])
        got = {
            r.node: r.depth
            for r in recursive_bfs_tree(spark, seeds, edges, stride=stride).collect()
        }
        assert got == want, (
            f"seed={seed} stride={stride} n={n}: got {got} want {want}"
        )


def test_recursive_bfs_tree_forest_assertion(spark):
    """assert_forest=True (ADVICE r7) must reject a multi-parent DAG — the
    input class where UNION ALL recursion enumerates every path — and must
    pass a genuine forest unchanged."""
    import pytest

    seeds = spark.createDataFrame([("a",)], "node string")
    dag = spark.createDataFrame(
        _FOREST + [("x", "c")], "src string, dst string"  # c now has 2 parents
    )
    with pytest.raises(ValueError, match="max indegree 2"):
        recursive_bfs_tree(spark, seeds, dag, assert_forest=True)
    forest = spark.createDataFrame(_FOREST, "src string, dst string")
    got = {
        r.node: r.depth
        for r in recursive_bfs_tree(spark, seeds, forest, assert_forest=True).collect()
    }
    assert got["h"] == 7


def test_cluster_ledger_sink_streaming_chained_merges(spark, tmp_path):
    """q184's merge under a REAL Structured Streaming ingest: three
    micro-batches of near-dup pairs (forced by maxFilesPerTrigger=1) where
    the LAST batch's edge unites components grown by the first two — the
    final ledger must equal full connected components over every edge seen,
    proving the incremental contraction is exact under arbitrary stream
    batching."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.relational_ext import (
        cluster_ledger_sink,
        connected_components,
    )

    table = "t_ledger_stream"
    with scoped_tables(spark, table):
        edges_dir = tmp_path / "edges"
        batches = [
            [(1, 2), (10, 11), (20, 21)],
            [(2, 3), (11, 12)],
            [(3, 10)],  # unites {1,2,3} with {10,11,12}
        ]
        for rows in batches:
            spark.createDataFrame(rows, "doc_a long, doc_b long").coalesce(
                1
            ).write.mode("append").parquet(str(edges_dir))
        stream = (
            spark.readStream.schema("doc_a long, doc_b long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(edges_dir))
        )
        q = (
            stream.writeStream.foreachBatch(cluster_ledger_sink(spark, table))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        all_edges = spark.createDataFrame(
            [e for rows in batches for e in rows], "doc_a long, doc_b long"
        )
        want = sorted(map(tuple, connected_components(all_edges).collect()))
        got = sorted(map(tuple, spark.table(table).collect()))
        assert got == want
        # the merged mega-component carries the global min label through the
        # cross-batch contraction chain
        assert {r for r in got if r[0] in (10, 11, 12)} == {(10, 1), (11, 1), (12, 1)}


def test_bm25_index_sink_streaming_batching_invariance(spark, sf_dir, tmp_path):
    """q179's layouts under a REAL Structured Streaming ingest (VERDICT r9
    #5): three forced micro-batches of documents through bm25_index_sink
    must produce byte-identical postings + doclen contents to the one-shot
    tokenize over all docs — the batching-invariance the append-only
    maintenance contract promises."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.text_analysis import (
        _bm25_doclen,
        _bm25_postings,
        bm25_index_sink,
    )
    from wikipediaetl_spark.sources import load_table

    pt, lt = "t_bm25_stream_postings", "t_bm25_stream_doclen"
    with scoped_tables(spark, pt, lt):
        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60).select(
            "doc_id", "text"
        )
        docs_dir = tmp_path / "docs"
        for lo, hi in ((0, 20), (20, 40), (40, 60)):
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
                1
            ).write.mode("append").parquet(str(docs_dir))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(docs_dir))
        )
        q = (
            stream.writeStream.foreachBatch(bm25_index_sink(spark, pt, lt))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got_p = sorted(
            map(tuple, spark.table(pt).select("tok", "doc_id", "dl", "tf").collect())
        )
        want_p = sorted(map(tuple, _bm25_postings(docs).collect()))
        assert got_p == want_p
        got_l = sorted(map(tuple, spark.table(lt).select("doc_id", "dl").collect()))
        want_l = sorted(map(tuple, _bm25_doclen(docs).collect()))
        assert got_l == want_l


def test_ivf_index_sink_streaming_batching_invariance(spark, sf_dir, tmp_path):
    """q177's cell index under a REAL Structured Streaming ingest (VERDICT
    r9 #5): three forced micro-batches of vectors quantized against a
    FROZEN centroid table must land exactly the one-shot assignment of all
    vectors — per-row assignment + append-only layout ⟹ batching
    invariance."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.similarity import (
        _ivf_assign,
        _vectors,
        ivf_index_sink,
    )
    from wikipediaetl_spark.sources import load_table

    t = "t_ivf_stream_index"
    with scoped_tables(spark, t):
        e = _vectors(spark, sf_dir)
        wc = W.partitionBy("label").orderBy(F.col("vec_id").asc())
        cents = (
            e.withColumn("rn", F.row_number().over(wc))
            .filter(F.col("rn") == 1)
            .select(F.col("label").alias("cell"), F.col("v").alias("centroid"))
            .localCheckpoint(eager=True)  # frozen quantizer, reused per batch
        )
        vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        vec_dir = tmp_path / "vecs"
        for m in range(3):
            vecs.filter(F.pmod(F.col("vec_id"), F.lit(3)) == m).coalesce(1).write.mode(
                "append"
            ).parquet(str(vec_dir))
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(vec_dir))
        )
        q = (
            stream.writeStream.foreachBatch(ivf_index_sink(spark, t, cents))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.table(t).select("vec_id", "cell").collect()))
        want = sorted(
            map(
                tuple,
                _ivf_assign(
                    vecs.select(
                        "vec_id", F.col("embedding").cast("array<double>").alias("v")
                    ),
                    cents,
                )
                .select("vec_id", "cell")
                .collect(),
            )
        )
        assert got == want


def test_dedup_ledger_sink_streaming_batching_invariance(spark, sf_dir, tmp_path):
    """q178's ledger under a REAL Structured Streaming ingest: three forced
    micro-batches of documents through dedup_ledger_sink must equal the
    one-shot GROUP BY md5(text) over all docs — MIN-keeper and SUM-count
    are associative over disjoint doc sets, so the maintained ledger is
    batching-invariant."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.dedup import dedup_ledger_sink
    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.sources import load_table

    t = "t_dedup_ledger_stream"
    with scoped_tables(spark, t):
        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 90).select(
            "doc_id", "text"
        )
        docs_dir = tmp_path / "docs"
        for lo, hi in ((0, 30), (30, 60), (60, 90)):
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
                1
            ).write.mode("append").parquet(str(docs_dir))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(docs_dir))
        )
        q = (
            stream.writeStream.foreachBatch(dedup_ledger_sink(spark, t))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            map(
                tuple,
                spark.table(t).select("content_key", "keeper_doc_id", "n_docs").collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                docs.groupBy(F.md5(F.col("text")).alias("content_key"))
                .agg(
                    F.min("doc_id").alias("keeper_doc_id"),
                    F.count(F.lit(1)).cast("long").alias("n_docs"),
                )
                .collect(),
            )
        )
        assert got == want and len(got) > 0


def test_decontam_ledger_sink_streaming_batching_invariance(spark, sf_dir, tmp_path):
    """q181's three tables under a REAL Structured Streaming ingest: three
    forced micro-batches through decontam_ledger_sink must reproduce the
    one-shot build — postings as the per-doc-distinct trigram set, df as
    its per-tok counts, the corpus count as |docs| — and the SERVED
    contamination answer must match serving from a one-shot build."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.pipeline_ops import (
        _trigram_occurrences,
        decontam_ledger_serve,
        decontam_ledger_sink,
    )
    from wikipediaetl_spark.sources import load_table

    post_t, df_t, st_t = "t_dc_post", "t_dc_df", "t_dc_stats"
    with scoped_tables(spark, post_t, df_t, st_t):
        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 90).select(
            "doc_id", "text"
        )
        docs_dir = tmp_path / "docs"
        for m in range(3):
            docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == m).coalesce(1).write.mode(
                "append"
            ).parquet(str(docs_dir))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(docs_dir))
        )
        q = (
            stream.writeStream.foreachBatch(
                decontam_ledger_sink(spark, post_t, df_t, st_t)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got_post = sorted(
            map(tuple, spark.table(post_t).select("doc_id", "tok").collect())
        )
        want_post = sorted(map(tuple, _trigram_occurrences(docs).distinct().collect()))
        assert got_post == want_post and len(got_post) > 0
        n_docs = spark.table(st_t).first()["n_docs"]
        assert n_docs == docs.count()
        served = sorted(
            map(
                tuple,
                decontam_ledger_serve(
                    spark.table(post_t), spark.table(df_t), int(n_docs)
                ).collect(),
            )
        )
        # one-shot comparison build
        one = _trigram_occurrences(docs).distinct()
        one_df = one.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        want_served = sorted(
            map(tuple, decontam_ledger_serve(one, one_df, int(n_docs)).collect())
        )
        assert served == want_served


def test_dsir_layout_sink_streaming_batching_invariance(spark, sf_dir, tmp_path):
    """q185's layouts under a REAL Structured Streaming ingest: three forced
    micro-batches through dsir_layout_sink, then the SERVED selection must
    equal serving from a one-shot build — per-doc histogram rows and
    associative bucket counts make the layouts batching-invariant, and the
    retroactive weights recompute at serve."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.pipeline_ops import (
        _dsir_counts_of,
        _dsir_hist_of,
        dsir_layout_sink,
        dsir_serve,
    )
    from wikipediaetl_spark.sources import load_table

    ht, ct_t = "t_dsir_hist_stream", "t_dsir_counts_stream"
    with scoped_tables(spark, ht, ct_t):
        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 90)
        docs_dir = tmp_path / "docs"
        for m in range(3):
            docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == m).coalesce(1).write.mode(
                "append"
            ).parquet(str(docs_dir))
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(docs_dir))
        )
        q = (
            stream.writeStream.foreachBatch(dsir_layout_sink(spark, ht, ct_t))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        served = sorted(
            map(tuple, dsir_serve(spark.table(ht), spark.table(ct_t)).collect())
        )
        want = sorted(
            map(tuple, dsir_serve(_dsir_hist_of(docs), _dsir_counts_of(docs)).collect())
        )
        assert served == want and len(served) > 0


def test_curation_sink_streaming_matches_catalog_funnel(spark, sf_dir, tmp_path):
    """q188 under a REAL Structured Streaming ingest: the same three waves
    (corpus + declared clone wave) delivered as forced micro-batches through
    curation_sink must produce exactly the catalog query's accepted set —
    including the clone-arrives-first acceptances that distinguish
    first-seen from global-min-id dedup."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.pipeline_ops import (
        _trigram_occurrences,
        curation_sink,
        q188_streaming_curation_capstone,
    )
    from wikipediaetl_spark.sources import load_table

    want = sorted(
        map(tuple, q188_streaming_curation_capstone(spark, sf_dir).collect())
    )
    led, acc = "t_curation_ledger", "t_curation_accepted"
    with scoped_tables(spark, led, acc):
        d = load_table(spark, sf_dir, "documents")
        corpus0 = d.filter(F.col("doc_id") >= 50).select("doc_id", "text")
        ingest = corpus0.unionByName(
            corpus0.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 2).select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text"
            )
        )
        bench_set = (
            _trigram_occurrences(d.filter(F.col("doc_id") < 50).select("doc_id", "text"))
            .select("tok")
            .distinct()
            .localCheckpoint(eager=True)
        )
        docs_dir = tmp_path / "docs"
        # one file per wave, with mtimes FORCED strictly increasing per wave:
        # FileStreamSource orders by modification time, and back-to-back writes
        # can land on the same (coarse) mtime and reorder the waves (ADVICE r10
        # low — a flaky test, not a product bug). os.utime pins batch_id==wave.
        import os
        import time

        base = time.time() - 3600
        stamped: set[str] = set()
        for wave in range(3):
            ingest.filter(F.pmod(F.col("doc_id"), F.lit(3)) == wave).coalesce(
                1
            ).write.mode("append").parquet(str(docs_dir))
            for fn in os.listdir(docs_dir):
                path = str(docs_dir / fn)
                if fn.endswith(".parquet") and path not in stamped:
                    os.utime(path, (base + 10 * wave, base + 10 * wave))
                    stamped.add(path)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(docs_dir))
        )
        q = (
            stream.writeStream.foreachBatch(curation_sink(spark, bench_set, led, acc))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = sorted(
            map(
                tuple,
                spark.table(acc)
                .select(
                    "doc_id", F.col("ingest_batch").cast("long").alias("wave"), "n_words"
                )
                .collect(),
            )
        )
        assert got == want and len(got) > 0
        # the clone-first case actually occurred: some accepted doc_id > 10000
        assert any(r[0] > 10000 for r in got)


def test_enrich_rollup_sink_bootstrap_then_attach(spark, sf_dir, tmp_path):
    """q189 under a REAL Structured Streaming attach: batch-bootstrap the
    segment rollup from history, then deliver the delta through
    enrich_rollup_sink as forced micro-batches — the served rollup must
    equal the one-shot batch aggregate over ALL events regardless of how
    the delta is micro-batched (decimal partials are associative)."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.layout import (
        merge_batch_into_keyed_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table
    from wikipediaetl_spark.streaming.queries import (
        _segment_partials,
        enrich_rollup_sink,
    )

    t = "t_enrich_rollup_stream"
    with scoped_tables(spark, t):
        ev = load_table(spark, sf_dir, "events")
        cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        hist = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) != 7)
        delta = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) == 7).select(
            "event_id", "user_id", "value"
        )
        merge_batch_into_keyed_rollup(
            spark,
            _segment_partials(hist, cust),
            t,
            keys=["c_mktsegment"],
            merge_aggs=[
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("total_d").cast("decimal(30,2)").alias("total_d"),
            ],
            bucket_key="c_mktsegment",
            n_buckets=1,
        )
        # arbitrary 3-way micro-batch split of the delta, via a real file stream
        docs_dir = tmp_path / "delta"
        for m in range(3):
            delta.filter(F.pmod(F.col("event_id"), F.lit(3)) == m).coalesce(
                1
            ).write.mode("append").parquet(str(docs_dir))
        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(docs_dir))
        )
        q = (
            stream.writeStream.foreachBatch(enrich_rollup_sink(spark, t, cust))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        served = sorted(
            map(
                tuple,
                spark.table(t)
                .select(
                    "c_mktsegment",
                    "n_events",
                    F.col("total_d").cast("double").alias("total_value"),
                )
                .collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
                .groupBy("c_mktsegment")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double")
                    .alias("total_value"),
                )
                .collect(),
            )
        )
        assert served == want and len(served) > 0


def test_combined_ingest_sink_all_layouts_match_batch_twins(spark, sf_dir):
    """VERDICT r10 #5: ONE document stream through ALL maintained layout
    families in a single foreachBatch — after a 3-way split ingest, every
    layout must equal its one-shot batch-built twin (the whole suite is
    batching-invariant and the sinks compose)."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.dedup import (
        _shingles,
        lsh_index_self_pairs,
        portable_minhash_bands,
    )
    from wikipediaetl_spark.operators.layout import scoped_tables
    from wikipediaetl_spark.operators.pipeline_ops import (
        _dsir_counts_of,
        _dsir_hist_of,
        _synthetic_embedding,
        _trigram_occurrences,
        combined_ingest_sink,
        demo_centroids,
    )
    from wikipediaetl_spark.operators.relational_ext import connected_components
    from wikipediaetl_spark.operators.similarity import _ivf_assign
    from wikipediaetl_spark.operators.text_analysis import (
        _bm25_doclen,
        _bm25_postings,
    )
    from wikipediaetl_spark.sources import load_table

    p = "t_comb"
    layouts = (
        "dedup_ledger", "decontam_postings", "decontam_df", "decontam_stats",
        "bm25_postings", "bm25_doclens", "dsir_hist", "dsir_counts",
        "lsh_bands", "cluster_ledger", "ivf_cells",
    )
    with scoped_tables(spark, *(f"{p}_{t}" for t in layouts)):
        cents = demo_centroids(spark).localCheckpoint(eager=True)
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 150)
            .select("doc_id", "lang", "text")
        )
        sink = combined_ingest_sink(spark, p, cents)
        for i in range(3):
            sink(docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i), i)

        def rows(df, *cols):
            return sorted(map(tuple, df.select(*cols).collect()))

        # exact-dedup ledger twin
        want = docs.groupBy(F.md5(F.col("text")).alias("content_key")).agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        assert rows(spark.table(f"{p}_dedup_ledger"), "content_key",
                    "keeper_doc_id", "n_docs") == rows(want, "content_key",
                                                       "keeper_doc_id", "n_docs")
        # decontamination twins
        post_tw = _trigram_occurrences(docs.select("doc_id", "text")).distinct()
        assert rows(spark.table(f"{p}_decontam_postings"), "doc_id", "tok") == rows(
            post_tw, "doc_id", "tok"
        )
        assert rows(spark.table(f"{p}_decontam_df"), "tok", "df") == rows(
            post_tw.groupBy("tok").agg(F.count(F.lit(1)).alias("df")), "tok", "df"
        )
        assert spark.table(f"{p}_decontam_stats").collect()[0]["n_docs"] == docs.count()
        # BM25 twins
        assert rows(spark.table(f"{p}_bm25_postings"), "tok", "doc_id", "dl",
                    "tf") == rows(_bm25_postings(docs.select("doc_id", "text")),
                                  "tok", "doc_id", "dl", "tf")
        assert rows(spark.table(f"{p}_bm25_doclens"), "doc_id", "dl") == rows(
            _bm25_doclen(docs.select("doc_id", "text")), "doc_id", "dl"
        )
        # DSIR twins
        assert rows(spark.table(f"{p}_dsir_hist"), "doc_id", "b", "n") == rows(
            _dsir_hist_of(docs), "doc_id", "b", "n"
        )
        assert rows(spark.table(f"{p}_dsir_counts"), "b", "ct", "cs") == rows(
            _dsir_counts_of(docs), "b", "ct", "cs"
        )
        # LSH band index + cluster ledger twins: the streamed ledger must equal
        # the one-shot closure over the FULL index's self-join pairs
        bands_tw = portable_minhash_bands(_shingles(docs.select("doc_id", "text"), n=2))
        assert rows(spark.table(f"{p}_lsh_bands"), "doc_id", "band_idx",
                    "band_hash") == rows(bands_tw, "doc_id", "band_idx", "band_hash")
        pairs_tw = lsh_index_self_pairs(bands_tw).select("doc_a", "doc_b").distinct()
        ledger_tw = connected_components(pairs_tw)
        got_ledger = rows(spark.table(f"{p}_cluster_ledger"), "doc_id", "cluster_id")
        assert got_ledger == rows(ledger_tw, "doc_id", "cluster_id")
        assert len(got_ledger) > 0  # the fixture has near-dup pairs
        # IVF twin
        assert rows(spark.table(f"{p}_ivf_cells"), "vec_id", "cell") == rows(
            _ivf_assign(_synthetic_embedding(docs), cents), "vec_id", "cell"
        )
