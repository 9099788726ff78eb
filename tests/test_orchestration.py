"""Control-flow semantics of the driver-side DAG runner (orchestration.py):
retries, XCom handoff, upstream-failure propagation, cycle detection — the
Airflow behaviors the reference DAG depends on (ETL/dags/pipeline.py:19-93).
"""

from __future__ import annotations

import pytest

from wikipediaetl_spark.orchestration import Task, process_html_dag, run_dag


def test_retry_then_succeed(spark):
    """retries=1 (the reference's default_args) means a single transient
    failure does not fail the task."""
    calls = {"n": 0}

    def flaky(s, xcom):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return "ok"

    run = run_dag(spark, [Task("flaky", flaky, retries=1)])
    assert run.state == "success"
    assert run.results["flaky"].attempts == 2
    assert run.results["flaky"].value == "ok"


def test_retries_exhausted_marks_failed(spark):
    def always(s, xcom):
        raise ValueError("boom")

    run = run_dag(spark, [Task("t", always, retries=2)])
    assert run.state == "failed"
    r = run.results["t"]
    assert r.state == "failed" and r.attempts == 3
    assert "ValueError" in r.error


def test_upstream_failure_skips_downstream(spark):
    """Airflow all_success trigger rule: downstream of a failed task is
    upstream_failed and its fn never runs."""
    ran = []

    def bad(s, xcom):
        raise RuntimeError("x")

    def good(s, xcom):
        ran.append(True)
        return 1

    run = run_dag(
        spark,
        [
            Task("bad", bad, retries=0),
            Task("down", good, upstream=("bad",)),
            Task("independent", good),
        ],
    )
    assert run.results["bad"].state == "failed"
    assert run.results["down"].state == "upstream_failed"
    assert run.results["independent"].state == "success"
    assert len(ran) == 1  # only the independent task executed


def test_xcom_handoff_and_topo_order(spark):
    """Return values flow to downstream tasks keyed by task name, across a
    diamond dependency, regardless of submission order."""

    def src(s, xcom):
        return [1, 2, 3]

    def left(s, xcom):
        return sum(xcom["src"])

    def right(s, xcom):
        return max(xcom["src"])

    def join(s, xcom):
        return xcom["left"] + xcom["right"]

    run = run_dag(
        spark,
        [
            Task("join", join, upstream=("left", "right")),
            Task("left", left, upstream=("src",)),
            Task("right", right, upstream=("src",)),
            Task("src", src),
        ],
    )
    assert run.state == "success"
    assert run.results["join"].value == 6 + 3


def test_cycle_and_unknown_upstream_rejected(spark):
    with pytest.raises(ValueError, match="cycle"):
        run_dag(spark, [Task("a", lambda s, x: 1, upstream=("b",)),
                        Task("b", lambda s, x: 1, upstream=("a",))])
    with pytest.raises(ValueError, match="unknown task"):
        run_dag(spark, [Task("a", lambda s, x: 1, upstream=("nope",))])


def test_process_html_dag_end_to_end(spark, sf_dir, tmp_path):
    """The rebuilt reference DAG: transform group then archival via XCom;
    outputs match run_pipeline's manifest accounting."""
    run = process_html_dag(spark, sf_dir, str(tmp_path / "out"))
    assert run.state == "success"
    manifest = run.results["transform_htmls"].value
    assert set(manifest) == {"pages", "categories", "page_categories", "html_texts"}
    assert all(v > 0 for v in manifest.values())
    assert run.results["move_files"].value == sum(manifest.values())


def test_repeated_dag_runs_idempotent_over_sink(spark, sf_dir, tmp_path):
    """The cadence contract (VERDICT r4 #9): an external scheduler invoking
    the DAG repeatedly — a new tick, a crashed-and-rerun tick, a catch-up
    replay — must converge to the same archival-sink state, because every
    sink write is mode=overwrite. Two back-to-back runs over the same source
    snapshot yield identical manifests and identical landed row counts."""
    out = str(tmp_path / "out")
    run1 = process_html_dag(spark, sf_dir, out)
    m1 = run1.results["transform_htmls"].value
    landed1 = {t: spark.read.parquet(f"{out}/{t}").count() for t in m1}
    run2 = process_html_dag(spark, sf_dir, out)  # the next cron tick
    assert run2.state == "success"
    m2 = run2.results["transform_htmls"].value
    assert m2 == m1
    landed2 = {t: spark.read.parquet(f"{out}/{t}").count() for t in m2}
    assert landed2 == landed1  # overwrite sink: no duplication across ticks
