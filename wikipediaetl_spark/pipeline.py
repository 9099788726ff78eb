"""End-to-end batch pipeline — the reference's Airflow DAG as one driver run.

Reference parity (SURVEY.md §3.1, ETL/dags/pipeline.py:25-93): the
``process_html`` DAG runs categorizer and converter in parallel task groups,
then archives processed files. Here the orchestration collapses into a plain
driver function over one shared corpus scan (operators/etl.process_corpus)
that submits its four parquet sinks at once, one driver thread each, so the
two branches' small jobs share the executors instead of queueing behind
each other; the archival step is the set-based split from
sources/formats.archive_processed.

Airflow control-flow machinery (per-task retries, XCom handoff,
upstream-failure propagation) lives in ``orchestration.py`` (``run_dag`` /
``process_html_dag``); cron scheduling still belongs to whatever invokes
the run (the reference's own schedule is None, ETL/dags/pipeline.py:28).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from wikipediaetl_spark.operators.etl import process_corpus

# process_corpus key -> landed table name, in manifest order
_SINKS = {
    "pages": "pages",
    "categories": "categories",
    "page_categories": "page_categories",
    "converter_output": "html_texts",
}


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Run both branches and land all outputs as parquet tables.

    Layout (mirrors the reference's sinks — MySQL tables → parquet dims,
    HDFS parquet → converter table):
      out_dir/pages, out_dir/categories, out_dir/page_categories,
      out_dir/html_texts  (converter.py:60-61 parity, mode=overwrite)

    The four sinks are submitted together, one thread each: every sink is
    a few 1-4-task stages, so written one after another they left most
    cores idle. Each thread target is wrapped in
    ``inheritable_thread_target``, so the caller's job group and local
    properties reach the sink's jobs. The corpus stays cached until every
    sink has ended; then the first sink error, in manifest order, is
    re-raised (``run_dag``'s retry sees it).

    Returns a row-count manifest (the reference returns the processed file
    list through XCom, pipeline.py:88-89 — the manifest is its accounting
    equivalent).
    """
    tables = process_corpus(spark, sf_dir)
    corpus_handle = tables.pop("_corpus")

    def land(key: str, out_name: str) -> int:
        # manifest counts ride the WRITE pass via an Observation — the old
        # read-back count re-scanned every output table, a second full
        # pass per sink that a 100 TB landing zone cannot afford (and
        # Airflow's XCom accounting gets for free from the task's own
        # output)
        obs = Observation(f"rows_{out_name}")
        tables[key].observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{out_name}")
        return int(obs.get["n"])

    try:
        with ThreadPoolExecutor(len(_SINKS), thread_name_prefix="sink") as pool:
            # one wrap per sink: each copies the caller's local properties
            # anew, so the sinks' SQL execution ids never share one object
            futures = {
                out: pool.submit(inheritable_thread_target(spark)(land), key, out)
                for key, out in _SINKS.items()
            }
        # leaving the pool joined every sink thread
        return {out: f.result() for out, f in futures.items()}
    finally:
        corpus_handle.unpersist()


def split_valid_invalid(df, predicate, reason: str):
    """Side-output error channel: (valid_rows, error_rows+error_reason).

    Reference parity: the nack → dead-letter path (fetcher/app/main.py:
    110-114, queue_api.py:53-63) — rows failing a validity predicate leave
    the main flow into an error relation instead of killing the job. Chain
    with streaming/queries.retry_queue_step for delayed reprocessing.
    """
    valid = df.filter(predicate)
    errors = df.filter(~predicate | predicate.isNull()).withColumn(
        "error_reason", F.lit(reason)
    )
    return valid, errors
