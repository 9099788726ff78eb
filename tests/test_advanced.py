"""Edge-semantics tests for the Spark-4 surface / merge operators
(operators/advanced.py). Full-output parity vs DuckDB is covered by
tools/check_oracle.py; these pin the boundary behaviors the oracles rely on."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wikipediaetl_spark.operators.advanced import (
    q153_session_windows,
    q154_sentence_udtf,
    q155_bigram_lift,
    q156_variant_json,
    q157_unpivot_measures,
    q158_upsert_snapshot,
    register_sentence_udtf,
)


def test_session_window_merge_boundary(spark):
    """A gap of exactly the window size MERGES (new session only when
    gap > 30 min) — the rule q153's oracle lag-condition mirrors."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 30, 0)),  # exactly 30:00 → merges
        (1, dt.datetime(2024, 1, 1, 1, 0, 1)),  # 30:01 → new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n"))
        .orderBy("sw.start")
        .collect()
    )
    assert [r.n for r in out] == [2, 1]
    # session_end = last event + gap
    assert out[0].sw.end == dt.datetime(2024, 1, 1, 1, 0, 0)


def test_q153_schema_and_invariants(spark, sf_dir):
    out = q153_session_windows(spark, sf_dir)
    assert out.columns == ["user_id", "session_start", "session_end", "n_events", "value_micro"]
    rows = out.collect()
    assert rows, "fixture should produce sessions"
    for r in rows:
        assert r.user_id % 20 == 0
        # end is strictly after start by at least the gap
        assert (r.session_end - r.session_start) >= dt.timedelta(minutes=30)
        assert r.n_events >= 1


def test_sentence_udtf_idempotent_and_literal_split(spark):
    register_sentence_udtf(spark)
    register_sentence_udtf(spark)  # re-register must not raise
    df = spark.createDataFrame([(1, "Dr. No. A film. x")], "doc_id long, text string")
    df.createOrReplaceTempView("udtf_probe")
    out = spark.sql(
        "SELECT s.sentence_idx, s.sentence FROM udtf_probe, "
        "LATERAL split_sentences(text) s"
    ).collect()
    # literal '. ' split (not regex): 'Dr. No. A film. x' → 4 parts
    assert [(r.sentence_idx, r.sentence) for r in out] == [
        (0, "Dr"),
        (1, "No"),
        (2, "A film"),
        (3, "x"),
    ]


def test_q154_indices_survive_filter(spark, sf_dir):
    out = q154_sentence_udtf(spark, sf_dir).limit(200).collect()
    assert out
    assert all(len(r.sentence) >= 5 for r in out)
    # sentence_idx is assigned pre-filter, so gaps are legal but all ≥ 0
    assert all(r.sentence_idx >= 0 for r in out)
    assert all(r.doc_id % 5 == 0 for r in out)


def test_q155_lift_properties(spark, sf_dir):
    rows = q155_bigram_lift(spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    assert all(r.c_xy >= 5 for r in rows)
    micro = [r.lift_micro for r in rows]
    assert micro == sorted(micro, reverse=True)
    # lift of a meaningful collocation exceeds independence (1.0 = 1e6 micro)
    assert micro[0] > 1_000_000


def test_q156_variant_matches_string_path(spark, sf_dir):
    out = q156_variant_json(spark, sf_dir)
    probe = out.limit(50).collect()
    assert probe
    assert all(r.event_id % 17 == 0 for r in probe)
    assert all(isinstance(r.k, int) for r in probe)
    # variant path agrees with the legacy string-path extractor on props.k
    from wikipediaetl_spark.sources import load_table

    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 17 == 0)
    legacy = e.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )
    assert out.select("event_id", "k").exceptAll(legacy).count() == 0


def test_q157_unpivot_counts(spark, sf_dir):
    from wikipediaetl_spark.sources import load_table

    out = {r.measure: r for r in q157_unpivot_measures(spark, sf_dir).collect()}
    n_li = load_table(spark, sf_dir, "lineitem").count()
    assert set(out) == {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
    assert all(r.n == n_li for r in out.values())
    assert out["l_extendedprice"].total_cents > out["l_discount"].total_cents


def test_q158_merge_latest_wins(spark, sf_dir):
    from wikipediaetl_spark.sources import load_table

    out = {r.o_orderstatus: r for r in q158_upsert_snapshot(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders")
    n_base = o.count()
    n_upd = o.filter(F.col("o_orderkey") % 10 == 0).count()
    n_ins = o.filter(F.col("o_orderkey") % 97 == 0).count()
    # every update key collapses to ONE row with the change's status
    assert out["X"].n == n_upd
    assert out["N"].n == n_ins
    assert sum(r.n for r in out.values()) == n_base + n_ins
    # inserted rows carry the change's price (1.0 → 100 cents each)
    assert out["N"].total_cents == n_ins * 100


def test_q158_insert_update_collision_keeps_one_row(spark, tmp_path):
    """At a scale factor where base keys reach the 1e8 insert shift, a
    shifted insert key can collide with an update key. The merge must keep
    exactly ONE row per key, update-wins (ADVICE r5). Key 970 is %97==0, so
    its insert lands on 100000970 — present in the base and %10==0, hence
    also updated."""
    base = spark.createDataFrame(
        [(3, "F", 5.0), (970, "O", 10.0), (100000970, "O", 20.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    base.write.parquet(str(tmp_path / "orders.parquet"))
    out = {r.o_orderstatus: r for r in q158_upsert_snapshot(spark, str(tmp_path)).collect()}
    # updates on 970 and 100000970 (both %10==0); the insert from 970
    # collides with the update on 100000970 and is dropped (update wins)
    assert "N" not in out
    assert out["X"].n == 2
    assert out["X"].total_cents == 1100 + 2100  # (10+1, 20+1) dollars in cents
    assert out["F"].n == 1 and out["F"].total_cents == 500
    assert sum(r.n for r in out.values()) == 3  # one row per key, no dupes


def test_q159_tercile_invariants(spark, sf_dir):
    from wikipediaetl_spark.operators.text_analysis import q159_ccnet_buckets

    rows = q159_ccnet_buckets(spark, sf_dir).collect()
    assert rows
    by_lang = {}
    for r in rows:
        assert r.ppl_tercile in (1, 2, 3)
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.ppl_tercile)
        # tercile sizes differ by at most 1 (ntile contract)
        sizes = [r.n_docs for r in rs]
        assert max(sizes) - min(sizes) <= 1
        # score ranges are non-overlapping and increasing head→tail
        for a, b in zip(rs, rs[1:]):
            assert a.max_nll_milli <= b.min_nll_milli


def test_rollup_incremental_merge_equals_full(spark, sf_dir):
    """Three ingest batches folded via merge_batch_into_rollup must produce
    exactly the table materialize_rollup builds in one shot (partial DECIMAL
    sums are associative)."""
    from wikipediaetl_spark.operators.layout import (
        materialize_rollup,
        merge_batch_into_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    with scoped_tables(spark, "t_rollup_inc", "t_rollup_full"):
        for i in range(3):
            merge_batch_into_rollup(
                spark, o.filter(F.col("o_orderkey") % 3 == i), table="t_rollup_inc"
            )
        materialize_rollup(spark, sf_dir, table="t_rollup_full")
        inc = spark.table("t_rollup_inc")
        full = spark.table("t_rollup_full")
        assert inc.count() == full.count()
        assert inc.exceptAll(full).count() == 0 and full.exceptAll(inc).count() == 0


def test_rollup_sink_foreachbatch_stream(spark, sf_dir, tmp_path):
    """The streaming entry point: orders fed through foreachBatch maintains
    the same rollup table."""
    from wikipediaetl_spark.operators.layout import rollup_sink, scoped_tables
    from wikipediaetl_spark.sources import load_table

    schema = load_table(spark, sf_dir, "orders").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )
    with scoped_tables(spark, "t_rollup_stream"):
        q = (
            stream.writeStream.foreachBatch(rollup_sink(spark, table="t_rollup_stream"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        batch = (
            load_table(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue_d"),
            )
        )
        got = spark.table("t_rollup_stream").select("o_custkey", "n_orders", "revenue_d")
        assert got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0


def test_rollup_merge_replay_is_idempotent(spark, sf_dir):
    """A foreachBatch replay (same batch_id re-delivered after a completed
    merge) must be a no-op — the batch id is stamped atomically with the
    merged rows, so double-counting cannot occur (ADVICE r3)."""
    from wikipediaetl_spark.operators.layout import (
        merge_batch_into_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    with scoped_tables(spark, "t_rollup_replay"):
        merge_batch_into_rollup(spark, o, table="t_rollup_replay", batch_id=0)
        once = spark.table("t_rollup_replay").select("o_custkey", "n_orders", "revenue_d")
        once_rows = sorted(map(tuple, once.collect()))
        # replay batch 0: must not double-count
        merge_batch_into_rollup(spark, o, table="t_rollup_replay", batch_id=0)
        twice = spark.table("t_rollup_replay").select("o_custkey", "n_orders", "revenue_d")
        assert sorted(map(tuple, twice.collect())) == once_rows
        # a genuinely new batch still merges
        merge_batch_into_rollup(spark, o.limit(10), table="t_rollup_replay", batch_id=1)
        n_after = spark.table("t_rollup_replay").agg(F.sum("n_orders")).first()[0]
        assert n_after == o.count() + 10


def test_rollup_interrupted_swap_recovers_from_staging(spark, sf_dir):
    """Simulate a crash between drop(table) and rename(staging→table): the
    next merge call must first recover the completed staging merge instead
    of restarting history from the incoming batch alone."""
    from wikipediaetl_spark.operators.layout import (
        merge_batch_into_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    with scoped_tables(spark, "t_rollup_crash"):
        merge_batch_into_rollup(spark, o, table="t_rollup_crash", batch_id=0)
        # simulate the crash window: completed merge sits in staging, table gone
        spark.sql("ALTER TABLE t_rollup_crash RENAME TO t_rollup_crash_staging")
        merge_batch_into_rollup(spark, o.limit(10), table="t_rollup_crash", batch_id=1)
        n_after = spark.table("t_rollup_crash").agg(F.sum("n_orders")).first()[0]
        assert n_after == o.count() + 10  # history preserved, batch folded once


def test_rollup_unstamped_merge_carries_watermark(spark, sf_dir):
    """An unstamped call (batch_id=None) on a stamped table must carry the
    stored replay watermark forward (ADVICE r4: dropping it would discard
    the watermark and a later resumed stream would double-count)."""
    from wikipediaetl_spark.operators.layout import (
        _BATCH_PROP,
        _table_prop_int,
        merge_batch_into_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    with scoped_tables(spark, "t_rollup_carry"):
        merge_batch_into_rollup(spark, o, table="t_rollup_carry", batch_id=7)
        # an ad-hoc (unstamped) maintenance merge between streaming batches
        merge_batch_into_rollup(spark, o.limit(10), table="t_rollup_carry", batch_id=None)
        cur = spark.table("t_rollup_carry")
        assert _table_prop_int(spark, "t_rollup_carry", _BATCH_PROP) == 7
        # the carried watermark still suppresses a replay of batch 7
        before = cur.agg(F.sum("n_orders")).first()[0]
        merge_batch_into_rollup(spark, o, table="t_rollup_carry", batch_id=7)
        assert spark.table("t_rollup_carry").agg(F.sum("n_orders")).first()[0] == before


def test_rollup_merges_keep_the_materialized_dtypes(spark, sf_dir):
    """After one, two and three merges the custkey rollup has the column
    types ``materialize_rollup`` writes: revenue_d stays DECIMAL(28,2)."""
    from wikipediaetl_spark.operators.layout import (
        materialize_rollup,
        merge_batch_into_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    with scoped_tables(spark, "t_rollup_types", "t_rollup_types_full"):
        materialize_rollup(spark, sf_dir, table="t_rollup_types_full")
        want = spark.table("t_rollup_types_full").dtypes
        assert ("revenue_d", "decimal(28,2)") in want
        for i in range(3):
            merge_batch_into_rollup(
                spark, o.filter(F.col("o_orderkey") % 3 == i), table="t_rollup_types"
            )
            assert spark.table("t_rollup_types").dtypes == want, i


def test_rollup_replay_launches_no_job(spark, sf_dir, jobs_of):
    """The replay gate reads the watermark from the table's properties, a
    catalog call: replaying a committed batch runs no Spark job."""
    from wikipediaetl_spark.operators.layout import (
        merge_batch_into_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    with scoped_tables(spark, "t_rollup_replay_jobs"):
        merge_batch_into_rollup(spark, o, table="t_rollup_replay_jobs", batch_id=0)
        _, n_jobs = jobs_of(
            lambda: merge_batch_into_rollup(
                spark, o, table="t_rollup_replay_jobs", batch_id=0
            )
        )
        assert n_jobs == 0


def test_rollup_partial_staging_not_adopted(spark, sf_dir):
    """A staging table WITHOUT the commit marker (a first-ever merge that
    crashed mid-saveAsTable) must be dropped, not renamed into place
    (ADVICE r4): its rows are an incomplete write, and the upcoming merge
    rebuilds correctly from the batch because no main table ever existed."""
    from wikipediaetl_spark.operators.layout import (
        merge_batch_into_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    with scoped_tables(spark, "t_rollup_partial"):
        # fabricate a partial staging write: wrong contents, NO commit marker
        o.limit(3).groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue_d"),
        ).write.saveAsTable("t_rollup_partial_staging")
        merge_batch_into_rollup(spark, o, table="t_rollup_partial", batch_id=0)
        # the partial rows were discarded; the merge holds exactly the batch
        n = spark.table("t_rollup_partial").agg(F.sum("n_orders")).first()[0]
        assert n == o.count()


def test_lineitem_rollup_merges_to_stock_q12(spark, sf_dir):
    """The bucketed lineitem→orderkey rollup must reproduce stock q12
    bit-for-bit (decimal terms cast before partial summation)."""
    from wikipediaetl_spark.operators.layout import (
        materialize_lineitem_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.operators.relational import q12_fact_fact_join
    from wikipediaetl_spark.sources import load_table

    with scoped_tables(spark, "t_li_rollup"):
        materialize_lineitem_rollup(spark, sf_dir, table="t_li_rollup", n_buckets=4)
        r = spark.table("t_li_rollup")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
        got = {
            x["o_orderpriority"]: (x["n_lines"], x["revenue"])
            for x in r.join(o, r.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.sum("n_lines").alias("n_lines"),
                F.sum("revenue_d").cast("double").alias("revenue"),
            )
            .collect()
        }
        want = {
            x["o_orderpriority"]: (x["n_lines"], x["revenue"])
            for x in q12_fact_fact_join(spark, sf_dir).collect()
        }
        assert got == want


def test_q160_outlier_exact_flag(spark, sf_dir):
    from wikipediaetl_spark.operators.advanced import q160_outlier_zscore

    rows = {r.event_type: r for r in q160_outlier_zscore(spark, sf_dir).collect()}
    assert set(rows) == {"click", "view", "purchase", "signup", "error"}
    for r in rows.values():
        assert 0 <= r.n_outliers < r.n


def test_q161_funnel_monotone(spark, sf_dir):
    from wikipediaetl_spark.operators.advanced import q161_funnel

    r = q161_funnel(spark, sf_dir).collect()[0]
    assert r.n_view >= r.n_click_after_view >= r.n_purchase_after_click >= 0
    assert r.n_view > 0


def test_q162_cohort_triangle(spark, sf_dir):
    from wikipediaetl_spark.operators.advanced import q162_cohort_retention

    rows = q162_cohort_retention(spark, sf_dir).collect()
    assert rows
    # offset-0 row exists for every cohort and is its maximum (every user is
    # active on their first-seen day)
    by_cohort = {}
    for r in rows:
        assert r.day_offset >= 0
        by_cohort.setdefault(r.cohort_day, {})[r.day_offset] = r.n_active_users
    for cohort, offs in by_cohort.items():
        assert 0 in offs
        assert offs[0] == max(offs.values())


def test_zscore_integer_threshold_adjusters_converge():
    """q160's d0 = max{d ≥ 0 : n·d² ≤ M} is seeded from a float sqrt and
    corrected by two up- and two down-adjust steps. Pin that the adjusters
    reach the exact d0 from ANY seed within ±2 — i.e. engine sqrt rounding
    differences cannot change the integer threshold (pure-python property,
    mirrors the column expressions in q160 and its oracle)."""
    import math
    import random

    def adjust(d_est, n, m):
        fits = lambda d: n * d * d <= m
        d1 = d_est + (1 if fits(d_est + 1) else 0)
        du = d1 + (1 if fits(d1 + 1) else 0)
        dd = du - (1 if du > 0 and not fits(du) else 0)
        return dd - (1 if dd > 0 and not fits(dd) else 0)

    rng = random.Random(7)
    for _ in range(500):
        n = rng.randint(1, 10**8)
        m = rng.randint(0, 10**27)
        d0 = math.isqrt(m // n)  # exact integer threshold
        # isqrt(m//n) can differ from max{d : n·d² ≤ m} by flooring m//n
        while n * (d0 + 1) * (d0 + 1) <= m:
            d0 += 1
        while d0 > 0 and n * d0 * d0 > m:
            d0 -= 1
        for seed in range(max(0, d0 - 2), d0 + 3):
            assert adjust(seed, n, m) == d0, (n, m, seed, d0)


def test_keyed_rollup_replay_and_crash_window_idempotent(spark, sf_dir):
    """ADVICE r8: the keyed-rollup merge must be replay-safe in EVERY crash
    window. The hard case: batch N commits to staging, the process dies
    after drop(table) but before rename — the next call auto-renames the
    committed staging (which already contains batch N), and a caller
    following the 'replay the batch' recovery story then re-merges batch N.
    The batch-id watermark rides the staging TBLPROPERTIES through RENAME,
    so the replay is a no-op, not a double-count under the sum algebra."""
    from wikipediaetl_spark.operators.layout import (
        merge_batch_into_keyed_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table

    t = "t_keyed_replay"
    with scoped_tables(spark, t):
        o = load_table(spark, sf_dir, "orders")

        def part(df):
            return df.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("long").alias("n"))

        aggs = [F.sum("n").cast("long").alias("n")]

        def merge(df, bid):
            merge_batch_into_keyed_rollup(
                spark, part(df), t, ["o_custkey"], aggs, "o_custkey",
                n_buckets=4, batch_id=bid,
            )

        merge(o, 0)
        base = spark.table(t).agg(F.sum("n")).first()[0]
        assert base == o.count()
        # plain replay of batch 0: no-op
        merge(o, 0)
        assert spark.table(t).agg(F.sum("n")).first()[0] == base
        # batch 1 merges fully, then simulate the drop→rename crash window:
        # the committed result (history + batch 1) sits in staging, main gone
        merge(o.limit(10), 1)
        spark.sql(f"ALTER TABLE {t} RENAME TO {t}_staging")
        # recovery replays batch 1 — must fold exactly once overall
        merge(o.limit(10), 1)
        assert spark.table(t).agg(F.sum("n")).first()[0] == base + 10
        # an unstamped maintenance merge carries the watermark forward
        merge_batch_into_keyed_rollup(
            spark, part(o.limit(5)), t, ["o_custkey"], aggs, "o_custkey",
            n_buckets=4, batch_id=None,
        )
        assert spark.table(t).agg(F.sum("n")).first()[0] == base + 15
        merge(o, 1)  # stale replay after the unstamped merge: still suppressed
        assert spark.table(t).agg(F.sum("n")).first()[0] == base + 15


def test_lineitem_rollup_merge_replay_idempotent(spark, sf_dir):
    """Same replay contract on the lineitem-grain merge (ADVICE r8)."""
    from wikipediaetl_spark.operators.layout import (
        merge_batch_into_lineitem_rollup,
        scoped_tables,
    )
    from wikipediaetl_spark.sources import load_table

    t = "t_li_replay"
    with scoped_tables(spark, t):
        li = load_table(spark, sf_dir, "lineitem").limit(1000)
        merge_batch_into_lineitem_rollup(spark, li, table=t, n_buckets=4, batch_id=0)
        base = spark.table(t).agg(F.sum("n_lines")).first()[0]
        merge_batch_into_lineitem_rollup(spark, li, table=t, n_buckets=4, batch_id=0)
        assert spark.table(t).agg(F.sum("n_lines")).first()[0] == base


def test_hadoop_delete_is_scheme_aware(spark, tmp_path):
    """Staging/emptied-partition cleanup goes through the Hadoop FileSystem
    API so it resolves the scheme from the path (ADVICE r8: driver-local
    rmtree silently no-ops on HDFS/S3). Locally: both bare and file:-scheme
    paths must delete recursively."""
    from wikipediaetl_spark.operators.layout import _hadoop_delete

    for scheme in ("", "file:"):
        d = tmp_path / f"stage{scheme.rstrip(':') or 'bare'}"
        (d / "sub").mkdir(parents=True)
        (d / "sub" / "x.parquet").write_text("x")
        _hadoop_delete(spark, f"{scheme}{d}")
        assert not d.exists()
