"""Structured Streaming surface (SURVEY.md §2.9).

The reference's streaming half is the RabbitMQ crawler loop — unbounded keyed
dedup via Redis (filter/app/main.py:16-24), at-least-once delivery with
manual ack (fetcher/app/main.py:109-114), and fan-out (one page → many
links, fetcher/app/main.py:103-107). Here those semantics run on Structured
Streaming: file-source micro-batches with checkpointed state, dropDuplicates
for the seen-set, watermarked event-time windows for late data.

Catalog queries run their stream to completion synchronously (memory sink +
``processAllAvailable`` — Trigger.AvailableNow-style batch-bounded
execution), then return the sink table, so the DuckDB oracle can check the
streaming operators' results against plain batch SQL: the streaming/batch
equivalence check.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikipediaetl_spark.catalog import query
from wikipediaetl_spark.functions.fixedpoint import scaled_long
from wikipediaetl_spark.session import scoped_confs
from wikipediaetl_spark.sources import parquet_schema


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture. The parquet stores
    TIMESTAMP(NANOS) (read as long under the legacy conf — see
    sources/tables.py), so the stream schema carries the raw long and the
    micros conversion is applied as a streaming projection."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    raw_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    # the file stream source requires a directory; glob-filter the one file
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # MICROS/isAdjustedToUTC=false fixtures infer as NTZ, which
        # withWatermark rejects; normalize like sources/tables.py.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _state_partitions(sf_dir: str) -> int:
    """State-store parallelism sized to the INPUT, not a constant: each
    micro-batch schedules one state task per shuffle partition PER stateful
    operator, so small fixtures want few partitions (8 halves the
    stream-stream join's wall at sf0.1 vs 32 — pure per-batch overhead)
    while replicated scale fixtures want the cores (measured at the 400×
    events table: q101 21.8 s at 8 partitions → 11.5 s at 32). ~12 MB of
    source parquet per state partition, floored at min(8, cores) and capped
    at the core count — the same sizing rule a cluster deployment applies
    to spark.sql.shuffle.partitions against expected state volume. The
    floor is clamped to the core count (ADVICE r4): on a <8-core host an
    unconditional floor of 8 would reintroduce the per-batch state-task
    overhead this function exists to avoid."""
    try:
        size = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        size = 0
    cores = os.cpu_count() or 8
    return min(cores, max(min(8, cores), size // (12 * 1024 * 1024) or 1))


def _small_state_partitions() -> int:
    """State parallelism for LOW-cardinality keyed state (a handful of
    segments/routes/windows): the heavy work — scan, broadcast join,
    partial aggregation — runs at SOURCE parallelism before the state
    exchange regardless of this setting, and the exchange itself carries
    ~|keys|×|map tasks| partial rows, so input-sized state parallelism
    only multiplies per-batch state-task scheduling and commit overhead.
    Measured at the 400× fixture (q147, 5-key state): 32 state partitions
    1.62 s → 8 partitions 1.11 s, identical results. Input-volume sizing
    (``_state_partitions``) remains correct for PER-USER state, where
    state rows scale with the input."""
    return min(8, os.cpu_count() or 8)


def _run_to_completion(
    stream_df: DataFrame, output_mode: str, state_partitions: int = 8
) -> DataFrame:
    """Drive a streaming query over the bounded fixture to completion and
    return the materialized result.

    State-store parallelism is pinned for the query's lifetime (the
    partition count is baked in at stream start) — see
    ``_state_partitions`` for the sizing rule. The session value is
    restored after the bounded run completes — results are
    partitioning-independent either way."""
    spark = stream_df.sparkSession
    name = "sink_" + uuid.uuid4().hex[:12]
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": state_partitions}):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


@query(
    "q70_stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q70_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation with a 30-min watermark.

    Complete output mode over the bounded source emits every window's final
    state — batch-equivalent by construction, so the same SQL oracle as the
    batch tumbling query (q37) must match. On an unbounded stream the
    watermark bounds state: windows older than max(event_ts) - 30min are
    finalized and evicted.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            # NTZ at the boundary: LTZ rows render in the *process* TZ at
            # collect (environment-dependent); NTZ under the catalog's
            # pinned-UTC session is portable
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _run_to_completion(agg, "complete", _small_state_partitions())


@query(
    "q71_stream_dedup",
    oracle="SELECT DISTINCT user_id FROM events",
)
def q71_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed dedup — the Redis seen-set (redis_api.py:18-28) as
    ``dropDuplicates`` state: first occurrence of each key passes, duplicates
    across micro-batches are suppressed by the state store. Unbounded state
    here (exact Redis parity); production variant adds a watermark via
    dropDuplicatesWithinWatermark to bound it."""
    ev = _events_stream(spark, sf_dir)
    deduped = ev.select("user_id").dropDuplicates(["user_id"])
    return _run_to_completion(deduped, "append", _state_partitions(sf_dir))


@query(
    "q72_stream_fanout",
    oracle="""
    WITH exploded AS (
      SELECT event_id, unnest([event_type, 'all', concat('u', CAST(user_id % 10 AS VARCHAR))])
             AS route
      FROM events
    )
    SELECT route, count(*) AS n FROM exploded GROUP BY route
    """,
)
def q72_stream_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming fan-out: one input row → N routed rows (explode), then a
    running count per route. Parity: one fetched page publishing its N
    discovered links (fetcher/app/main.py:103-107)."""
    ev = _events_stream(spark, sf_dir)
    routes = F.array(
        F.col("event_type"),
        F.lit("all"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")),
    )
    fanned = (
        ev.select("event_id", F.explode(routes).alias("route"))
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _run_to_completion(fanned, "complete", _small_state_partitions())


def retry_queue_step(
    batch: DataFrame,
    failures: DataFrame,
    now_col: str = "available_at",
    backoff_seconds: int = 30,
    max_retries: int = 3,
) -> DataFrame:
    """Delayed-retry semantics: failed items re-enter the flow only after a
    backoff, up to max_retries attempts.

    Parity: the reference's RabbitMQ dead-letter queue with x-message-ttl =
    30000 re-routing back to the fetcher queue (startup/init_queues.py:18-26)
    and the x-retry-count header (fetcher/app/main.py:86). Modeled as a retry
    table with ``available_at`` + ``attempts`` columns filtered each
    micro-batch — the standard Spark rebuild of broker-side TTL redelivery.
    """
    ready = failures.filter(
        (F.col(now_col) <= F.current_timestamp()) & (F.col("attempts") < max_retries)
    )
    return batch.unionByName(ready.select(batch.columns), allowMissingColumns=False)


@query(
    "q74_stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 3600
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def q74_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via session_window (1 h gap): merged session
    state per user, finalized by watermark. Complete mode over the bounded
    fixture equals the batch lag/cumsum sessionization (q36's oracle) —
    session counts and event totals per user must match exactly."""
    ev = _events_stream(spark, sf_dir)
    sess = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "1 hour").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    per_session = _run_to_completion(sess, "complete", _state_partitions(sf_dir))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_ev").alias("n_events"),
    )


def foreach_batch_parquet_sink(
    stream_df: DataFrame, out_path: str, checkpoint_path: str
):
    """Idempotent foreachBatch parquet sink with checkpoint recovery.

    Reference parity: manual-ack at-least-once consumption
    (fetcher/app/main.py:109-114, queue_api.py:53-63) — Structured Streaming
    gives at-least-once via the checkpointed offset log; writing each batch
    to a ``batch_id=N`` partition with overwrite makes redelivery idempotent
    (re-running batch N replaces, never duplicates: effectively-once).
    Returns the started StreamingQuery; caller stops it.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


@query(
    "q100_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
    """,
)
def q100_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases matched to same-user clicks in the
    preceding 30 minutes. Both sides carry watermarks and the join condition
    is time-bounded, so state for either side is evicted once the watermark
    passes its window — the only way an unbounded ⋈ unbounded stays finite.
    Over the bounded fixture the emitted matches equal the batch join.

    Cost model, MEASURED at 400× (10M-row micro-batches): steady-state
    2.8-3.1 s/batch with ~2M state rows added AND evicted per batch
    (BENCH_STREAM_AMORTIZE.json); the one-shot catalog ratio is therefore
    first-batch machinery, not dataflow cost. Batch-0 decomposed
    (VERDICT r6 #3, BENCH_STREAM_BATCH0.json): cold
    JVM batch-0 is 6.9 s, but rerunning the SAME flow on the warmed JVM
    (fresh checkpoint + state store, so all per-QUERY costs repay) gives
    batch-0 = 3.3-3.4 s ≈ 1.1-1.2× steady — the entire gap is one-time
    whole-stage-codegen/JIT warmup (addBatch 5.7 s → 2.9 s, queryPlanning
    0.76 s → 0.3 s), which a long-lived executor amortizes over its
    lifetime; irreducible per-query bootstrap (offset WAL, state-store
    instances) is the remaining ~0.4 s. RocksDB state store (VERDICT r7 #3
    alternative) measured NEGATIVE in this regime
    (BENCH_ROCKSDB_STATE.json, interleaved
    same-session A/B): steady 7.0-8.3 s/batch vs 4.0-4.7 s HDFS-backed —
    the ~2M-row state fits in heap, so RocksDB's native-store
    serialization only adds cost; it is the right provider when state
    EXCEEDS executor memory (billions of keys), not here."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id")
    return _run_to_completion(joined, "append", _state_partitions(sf_dir))


@query(
    "q101_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q101_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: keyed dedup whose state is evicted
    once keys age past the watermark — the bounded-state production variant
    of the Redis seen-set (vs q71's unbounded exact parity). On the bounded
    fixture every duplicate arrives within the watermark, so the result
    equals DISTINCT."""
    ev = _events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "2 days")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_completion(deduped, "append", _state_partitions(sf_dir))


@query(
    "q147_stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q147_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the unbounded event stream joined to a
    bounded dimension (customer), then a running per-segment aggregate —
    the canonical lookup-enrichment every streaming pipeline runs (the
    reference's analogue: each fetched page consulting the static domain
    allow-list, filter semantics in parser/app/main.py).

    Scale posture: the static side is read once per micro-batch and
    broadcast — stream rows never shuffle for the join (stateless, no
    watermark needed; only the downstream agg keeps state, keyed by the
    5-value segment). Batch-equivalence: complete-mode output over the
    bounded fixture must equal the plain batch join, which is the oracle."""
    from wikipediaetl_spark.sources import load_table

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    # 5-key state: cardinality-sized, not input-sized (see _small_state_partitions)
    return _run_to_completion(agg, "complete", _small_state_partitions())


def _segment_partials(events: DataFrame, cust: DataFrame) -> DataFrame:
    """Per-segment partial aggregates of one event set — the shared algebra
    of q189's batch bootstrap and its streaming delta merges. Decimal
    partials keep the fold exact and associative (sum-of-double is
    order-sensitive in the last bits), so bootstrap ∘ merges ≡ one batch
    aggregate regardless of how the delta is micro-batched."""
    return (
        events.join(F.broadcast(cust), events["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(30,2)")
            .alias("total_d"),
        )
    )


def enrich_rollup_sink(spark: SparkSession, table: str, cust: DataFrame):
    """Streaming attach for the q189 segment rollup: each micro-batch's
    partials merge into the maintained rollup via the shared skeleton
    (``maintained_layout_sink`` → ``merge_batch_into_keyed_rollup``), with
    the micro-batch id as the replay watermark."""
    from wikipediaetl_spark.operators.layout import (
        maintained_layout_sink,
        merge_batch_into_keyed_rollup,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        merge_batch_into_keyed_rollup(
            spark,
            _segment_partials(batch, cust),
            table,
            keys=["c_mktsegment"],
            merge_aggs=[
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("total_d").cast("decimal(30,2)").alias("total_d"),
            ],
            bucket_key="c_mktsegment",
            n_buckets=1,
            batch_id=batch_id,
        )

    return maintained_layout_sink(spark, apply_batch, recover_tables=[table])


@query(
    "q189_bootstrap_attach_enrich",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q189_bootstrap_attach_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q147's enrichment answer under the BACKFILL-THEN-ATTACH posture —
    the maintained-layout lever VERDICT r10 #3 prescribes for the one-shot
    streaming floor. q147 replays ALL history through the stateful
    streaming operator, so its one-shot cost at 400× carries per-micro-batch
    state machinery for data that is already at rest; a production pipeline
    standing up this query on 100 TB of history instead (1) BOOTSTRAPS the
    aggregate state batch-style — one Catalyst-optimized join+aggregate,
    staged-swapped into the maintained segment rollup — and (2) ATTACHES
    the stream at the cutover, so micro-batch state machinery is paid only
    for the live delta. Here history = 90% of events (pmod(event_id,10)≠7)
    and the remaining 10% arrives as two delta merges through
    ``enrich_rollup_sink`` (the real writeStream attach, plus its
    batching-invariance property, is exercised in tests/test_streaming.py);
    the serve reads the rollup. Decimal partials make bootstrap∘merge ≡ one
    batch aggregate exactly, so the result hash-matches q147's oracle —
    same answer, different (and at scale, vastly cheaper) one-shot path:
    measured at 400× in BENCH_STREAM_BOOTSTRAP.json. Reference tie: the
    enrichment semantics are q147's (parser/app/main.py allow-list
    consultation); the bootstrap/attach split is the standard
    backfill-batch + stream-from-cutover deployment."""
    from wikipediaetl_spark.operators.layout import (
        merge_batch_into_keyed_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table

    table = "q189_segment_rollup"
    with scoped_tables(spark, table):
        ev = load_table(spark, sf_dir, "events")
        cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        hist = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) != 7)
        # batch bootstrap: unstamped (the stream's own batch 0 must not be
        # treated as a replay of the bootstrap)
        merge_batch_into_keyed_rollup(
            spark,
            _segment_partials(hist, cust),
            table,
            keys=["c_mktsegment"],
            merge_aggs=[
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("total_d").cast("decimal(30,2)").alias("total_d"),
            ],
            bucket_key="c_mktsegment",
            n_buckets=1,
        )
        # stream attach: the delta arrives as two micro-batches
        sink = enrich_rollup_sink(spark, table, cust)
        delta = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) == 7)
        sink(delta.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0), 0)
        sink(delta.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1), 1)
        return (
            spark.table(table)
            .select(
                "c_mktsegment",
                "n_events",
                F.col("total_d").cast("double").alias("total_value"),
            )
            .localCheckpoint(eager=True)
        )


@query(
    "q149_stateful_running_stats",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def q149_stateful_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator as a checked query: per-user running
    (count, exact sum, max) via applyInPandasWithState (SURVEY.md §2.9 [E] —
    the 'stateful consumer with a side store' the reference builds with
    Redis, as Spark GroupState). The state transition quantizes each value
    to integer cents on arrival so the running sum is an exact integer fold
    — identical under ANY micro-batch or row arrival order, which is what
    makes a custom stateful operator checkable against a batch oracle at
    all (and replay/retry-stable in production).

    The bounded run emits one update per key per micro-batch; the final
    per-key state (max n_events) is the batch-equivalent answer.

    r6: state is MICRO-SHARDED (stateful.py module note) — per-user GroupState
    paid a constant (Python dispatch + one-row Arrow frame + store commit)
    per user per batch, which at the 400× fixture's 800k users WAS the
    operator (39 s vs the q164 JVM twin's 2.6 s). pmod(user_id, 4096) shard
    keys hold their users' triples as sorted arrays, folded with vectorized
    numpy; emitted update rows are identical. Measured at 400×: 39.0 s →
    5.5 s warm (~9.5× vs DuckDB, from 48×; conf-only levers stopped at
    28 s — arrow.maxRecordsPerBatch sweep in BENCH_NOTES.md, r6 q149). The
    per-user-key form is kept as ``running_user_stats_exact`` for workloads
    needing per-key timeouts/eviction."""
    from pyspark.sql import Window as W

    from wikipediaetl_spark.streaming.stateful import running_user_stats_exact_sharded

    ev = _events_stream(spark, sf_dir)
    updates = _run_to_completion(
        running_user_stats_exact_sharded(ev), "update", _state_partitions(sf_dir)
    )
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("total_cents").cast("double") / 100.0).alias("total_value"),
            "max_value",
        )
    )


@query(
    "q164_stateful_stats_native",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def q164_stateful_stats_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q149's exact semantics on the ENGINE's state path: per-user running
    (count, exact cents sum, max) as a built-in streaming aggregation in
    update mode — JVM state store, no Python worker in the loop. This is
    the deliberate pairing for the custom-operator axis: q149 proves
    arbitrary user state logic plugs in (applyInPandasWithState), this
    query shows the same stats ride whole-stage-codegen'd keyed state when
    the logic IS expressible as aggregates — at the 400× fixture the
    Python state path pays ~100µs per group per batch (600k groups →
    minutes) while this plan runs at scan speed. Same oracle as q149; the
    update-mode sink's last emission per key is the batch answer."""
    from pyspark.sql import Window as W

    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(scaled_long(F.col("value"), 100)).alias("total_cents"),
        F.max("value").alias("max_value"),
    )
    updates = _run_to_completion(agg, "update", _state_partitions(sf_dir))
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("total_cents").cast("double") / 100.0).alias("total_value"),
            "max_value",
        )
    )
