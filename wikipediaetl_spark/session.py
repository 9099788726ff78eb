"""SparkSession factory.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), UTC session timezone (oracle comparability), Arrow enabled for
pandas-UDF exchange. ``shuffle_partitions`` defaults to the local core count —
on a real cluster this should be ~2-3x total executor cores; callers pass it.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "wikipediaetl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # int64 accumulation plans (q12 relational.py, q160 advanced.py)
        # rely on overflow-raises-error rather than silent wraparound; pin
        # ANSI explicitly so the guarantee holds on Spark 3.x deployments
        # where the default is false, not just on the Spark 4 default
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # whole-stage-codegen class cache: the 100-entry default thrashes on
        # any multi-query workload (the 167-query catalog sweep and the
        # 20-query bench round-robin both recompile every repetition once
        # ~100 distinct stages have run). 2048 covers the full catalog with
        # headroom; measured 20% off a 16-query best-of-3 round-robin at
        # sf0.1 (10.25 s → 8.2 s). Static conf — set at session build.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # driver fixtures carry parquet TIMESTAMP(NANOS), which Spark only
        # reads as long; sources/tables.py converts back to timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # runtime bloom-filter join pruning: rows that cannot match are
        # dropped before the shuffle. r7: the default size gates
        # (creationSide ≤ 10MB, applicationSide scan ≥ 10GB) are tuned for
        # cluster-scale tables — on the 100×/400× fixtures (~1.5-6GB scans)
        # they suppress the optimization a real 100 TB deployment would
        # get, so lower them proportionally: a ≤512MB build side may create
        # a bloom (non-CBO filter estimates carry the CHILD's size, so a
        # selective filter over the ~460MB orders file still reads as
        # ~460MB — the gate must clear the pre-filter estimate), any
        # ≥256MB probe scan may consume one. Measured: TPC-H Q4 (q116)
        # 3.3 s → 1.5 s at 100× (the filtered-orders bloom prunes the
        # 60M-row lineitem scan before the semi-join shuffle); headline
        # bench and the q12 400× join verified regression-free.
        # scan-split open-cost floor (r12, guide §6): maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, totalBytes/
        # minPartitionNum)), so the 4MB default caps a small-but-expensive
        # scan's parallelism at totalBytes/4MB tasks no matter how many
        # cores are idle. High-compression parquet makes this bite hard:
        # the 400× corpus (2M docs, ~2GB of text) zstd-compresses to a
        # single 16MB file → 4 scan tasks on 32 cores, and the core-scaling
        # probe (BENCH_CORE_SCALING_400x) caught q86 speeding up only
        # 1.18× from 4× cores. 128KB reprices file-open for local
        # NVMe/page-cache (the 4MB default models remote-HDFS opens);
        # measured within-run at 400×: q86 16.7→7.7 s (2.2×), q88
        # 3.96→1.29 s (3.1×); the 20-query sf0.1 headline suite measured
        # flat-to-better (14.25→13.91 s within-run). At 100 TB inputs
        # bytesPerCore ≫ 4MB so the floor is inert — this is the
        # small-input end of scale-adaptive split sizing, not a local
        # tuning knob (OPTIMIZATION_r12.md).
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            str(512 * 1024 * 1024),
        )
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            str(256 * 1024 * 1024),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict) -> Iterator[None]:
    """Set runtime SQL ``confs`` for the ``with`` body, then put the session
    back as it was: a key that was set gets its old value, a key that was
    unset is unset again. Every set runs inside the ``try``, so a set that
    fails (a static conf) still restores the keys set before it.

    The overrides apply to the whole session, not to the calling thread:
    threads that run at the same time (``pipeline.run_pipeline``'s sinks)
    see them too."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def counted_checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """Eagerly ``localCheckpoint`` ``df`` and return it with its row count.
    The count is an ``Observation`` that rides the checkpoint's own job, so
    a fixpoint loop's size check (empty frontier, node count) costs no job
    of its own."""
    rows = Observation()
    df = df.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return df, rows.get["n"]
