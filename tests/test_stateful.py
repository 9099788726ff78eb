"""applyInPandasWithState: running per-key stats across micro-batches must
converge to the batch aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipediaetl_spark.sources import load_table
from wikipediaetl_spark.streaming.queries import _events_stream, _run_to_completion


def test_foreach_batch_sink_checkpoint_recovery(spark, sf_dir, tmp_path):
    """The checkpointed sink must not re-emit processed batches on restart —
    the engine's replacement for the reference's ack semantics."""
    from wikipediaetl_spark.streaming.queries import foreach_batch_parquet_sink

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = _events_stream(spark, sf_dir).select("event_id", "user_id")

    q1 = foreach_batch_parquet_sink(src, out, ckpt)
    q1.processAllAvailable()
    q1.stop()
    n_first = spark.read.parquet(out).count()
    n_events = load_table(spark, sf_dir, "events").count()
    assert n_first == n_events

    # restart from the same checkpoint: offsets are committed → no new data,
    # no duplicate writes
    q2 = foreach_batch_parquet_sink(src, out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out).count() == n_events


def test_exact_stateful_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """q149's state transition across REAL micro-batch boundaries: events
    split into 4 files streamed one file per trigger -> 4 state updates per
    key; the final state must equal the single-batch answer exactly (the
    integer-cents fold is order-independent by construction)."""
    from wikipediaetl_spark.streaming.stateful import running_user_stats_exact

    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "multi")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = _run_to_completion(running_user_stats_exact(stream), "update")
    # several updates per key: keep the one with the highest n_events
    final = {
        r.user_id: r
        for r in out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_cents").alias("total_cents"),
            F.max("max_value").alias("max_value"),
        )
        .collect()
    }
    batch = {
        r.user_id: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert len(final) == len(batch)
    for uid, r in final.items():
        assert r.n_events == batch[uid].n
        assert r.total_cents == batch[uid].cents  # exact, not approximate
        assert r.max_value == batch[uid].mx


def test_sharded_stateful_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """The micro-sharded form (q149's implementation at scale) across REAL
    micro-batch boundaries: returning users must fold into existing shard
    entries, new users insert sorted, and the final state per user equals
    the single-batch answer exactly — identical contract to the per-key
    form, ~|shards| constant costs instead of ~|users|."""
    from wikipediaetl_spark.streaming.stateful import running_user_stats_exact_sharded

    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "multi")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    # 7 shards (prime, ≪ users): every shard sees inserts AND updates
    out = _run_to_completion(
        running_user_stats_exact_sharded(stream, n_shards=7), "update"
    )
    final = {
        r.user_id: r
        for r in out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_cents").alias("total_cents"),
            F.max("max_value").alias("max_value"),
        )
        .collect()
    }
    batch = {
        r.user_id: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert len(final) == len(batch)
    for uid, r in final.items():
        assert r.n_events == batch[uid].n
        assert r.total_cents == batch[uid].cents
        assert r.max_value == batch[uid].mx
