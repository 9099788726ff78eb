"""Parquet fixture table loaders.

The driver testdata is a TPC-H-ish star schema plus ``events`` (stream-shaped),
``documents`` and ``embeddings`` (LLM-pipeline tables). Parquet scans are
Spark-native: columnar, vectorized, with predicate pushdown and column pruning
handled by Catalyst — the scan only materializes what downstream plans touch.

Reference parity: the reference reads its corpus with
``spark.read.text(path, wholetext=True)`` (ETL/tasks/categorizer.py:131,
ETL/tasks/converter.py:52); ``read_wholetext`` below is that operator. The
driver fixtures, however, are parquet — ``load_table`` is the engine's default
scan path.
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session confs that change what parquet schema inference returns for the
# same file; a memoized schema is only valid for the values it was inferred
# under.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


def _fingerprint(path: str) -> tuple | None:
    """``(size, mtime_ns)`` of a file; for a directory, the sorted
    ``(relpath, size, mtime_ns)`` of every file under it (Spark's overwrite
    writes part files under new names, so a rewrite changes the listing).
    None when ``os.stat`` cannot see the path (a remote URI, a glob)."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_size, st.st_mtime_ns)
        entries = []
        for dirpath, _dirnames, filenames in os.walk(path):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                fst = os.stat(full)
                entries.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
        return tuple(sorted(entries))
    except OSError:
        return None


@functools.lru_cache(maxsize=256)
def _inferred_schema_json(
    spark: SparkSession, path: str, fingerprint: tuple, confs: tuple
) -> str:
    # JSON, not the StructType: every caller gets its own (mutable) copy.
    # The session is part of the key, so a stopped one's entries are never
    # reused; the cache holds at most 256 entries.
    return spark.read.parquet(path).schema.json()


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """``spark.read.parquet(path).schema``, inferred once per file version.

    Inference runs a footer-reading Spark job on every plain
    ``spark.read.parquet`` call, even for an unchanged file. The memo key is
    the resolved local path, its fingerprint (file: size and mtime_ns;
    directory: the sorted relpath/size/mtime_ns of every file under it) and
    the session's values of the confs that change inference
    (``_SCHEMA_CONFS``), so a rewritten table or a flipped inference conf
    infers afresh. A path ``os.stat`` cannot see (a remote URI) is inferred
    on every call, as a plain read would."""
    local = os.path.realpath(path)
    fingerprint = _fingerprint(local)
    if fingerprint is None:
        return spark.read.parquet(path).schema
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    js = _inferred_schema_json(spark, local, fingerprint, confs)
    return T.StructType.fromJson(json.loads(js))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table: a plain parquet scan, so Catalyst keeps
    pushdown/pruning, on the schema ``parquet_schema`` memoizes. Schema
    inference (one footer-reading job) runs once per memo key — resolved
    path, file or directory fingerprint, inference-conf values — and a
    rewritten table changes the key, so it is inferred afresh.

    The ``events`` fixture stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader only accepts as long (legacy nanosAsLong conf);
    we convert to a proper TimestampType via integer division to micros —
    the same floor-truncation DuckDB applies when it reads nanos, so the
    oracle sees identical instants.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # immutable in this session → assume it was set at build time
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Fixtures may store timestamps as parquet TIMESTAMP(MICROS) with
    # isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ. Normalize
    # to TimestampType so watermarks/windows work and literal comparisons keep
    # one type. The NTZ->LTZ cast and the collect-side LTZ->naive conversion
    # both use the session timezone, so wall-clock values round-trip exactly
    # and match DuckDB's naive reading of the same files.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def spread_if_starved(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Hash-repartition ``df`` to the session's core count IFF its scan is
    parallelism-starved — the adapter between compressed-input size and
    compute cost for explode-heavy text operators.

    Why: Spark sizes file splits by INPUT BYTES (``maxPartitionBytes`` with
    an ``openCostInBytes`` floor), which is the right model when compute is
    proportional to bytes read. A replicated/columnar text corpus can
    compress 100:1, so a 16 MB ``documents.parquet`` holding 2M rows scans
    as 4 tasks — and every downstream tokenize/explode stage then runs
    4-wide on a 32-core executor pool (profiled: q159's scoring stage spent
    32.5 s of task time in 4 tasks). One cheap hash shuffle on the unique
    key rebalances to full width; hash (not round-robin) partitioning
    avoids the deterministic-retry sort round-robin would add on the wide
    text column.

    At production scale this is a NO-OP by construction: the check compares
    the scan's planned partition count against ``defaultParallelism``, and
    a 100 TB corpus splits into thousands of partitions, so no shuffle is
    inserted. Only a starved scan (fewer planned partitions than cores)
    pays the rebalance."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        planned = df.rdd.getNumPartitions()  # planning only, no job
    except Exception:
        return df
    if planned >= target:
        return df
    return df.repartition(target, key)


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every fixture table as a temp view for ``spark.sql`` queries."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(prefix + name)


def read_wholetext(spark: SparkSession, path: str) -> DataFrame:
    """Wholetext corpus scan with file provenance.

    Reference parity: ``spark.read.text(dir, wholetext=True)`` +
    ``input_file_name()`` (ETL/tasks/categorizer.py:131, converter.py:52).
    One row per file: (file_path, value).
    """
    return (
        spark.read.text(path, wholetext=True)
        .withColumn("file_path", F.input_file_name())
        .select("file_path", "value")
    )
