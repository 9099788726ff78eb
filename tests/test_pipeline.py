"""End-to-end pipeline (the reference's DAG) + error side-channel tests."""

from __future__ import annotations

import threading

import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

import wikipediaetl_spark.pipeline as pipeline_mod
from wikipediaetl_spark.pipeline import run_pipeline, split_valid_invalid


def test_run_pipeline_lands_all_outputs(spark, sf_dir, tmp_path):
    out = str(tmp_path / "warehouse_out")
    manifest = run_pipeline(spark, sf_dir, out)
    assert set(manifest) == {"pages", "categories", "page_categories", "html_texts"}
    assert manifest["pages"] == manifest["html_texts"] > 0
    assert manifest["page_categories"] >= manifest["pages"]  # ≥1 category/page
    # landed tables are readable and keyed
    pages = spark.read.parquet(f"{out}/pages")
    assert pages.select("page_id").distinct().count() == manifest["pages"]
    bridge = spark.read.parquet(f"{out}/page_categories")
    cats = spark.read.parquet(f"{out}/categories")
    assert bridge.join(cats, "category_id", "left_anti").count() == 0


def test_split_valid_invalid_partitions_all_rows(spark):
    df = spark.createDataFrame(
        [(1, "ok"), (2, None), (3, ""), (4, "fine")], "id long, body string"
    )
    valid, errors = split_valid_invalid(
        df, F.col("body").isNotNull() & (F.length("body") > 0), "empty_body"
    )
    assert sorted(r.id for r in valid.collect()) == [1, 4]
    err_rows = errors.collect()
    assert sorted(r.id for r in err_rows) == [2, 3]
    assert all(r.error_reason == "empty_body" for r in err_rows)
    assert valid.count() + errors.count() == df.count()  # nothing silently lost


def test_manifest_observation_matches_readback(spark, sf_dir, tmp_path):
    """The Observation-based manifest (counts collected during the write
    pass) must equal a read-back count of every landed table — the property
    the old second-scan implementation had by construction."""
    from wikipediaetl_spark.pipeline import run_pipeline

    out = str(tmp_path / "obs_out")
    manifest = run_pipeline(spark, sf_dir, out)
    for name, n in manifest.items():
        assert spark.read.parquet(f"{out}/{name}").count() == n


def test_run_pipeline_submits_the_four_sinks_at_once(spark, sf_dir, tmp_path, monkeypatch):
    """Every sink's write waits on one 4-party barrier before it starts:
    sinks written one after another would break it (the first would time
    out alone), so passing means all four were in flight together."""
    barrier = threading.Barrier(4, timeout=60)
    real = DataFrameWriter.parquet

    def gated(self, *args, **kwargs):
        barrier.wait()
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", gated)
    manifest = run_pipeline(spark, sf_dir, str(tmp_path / "out"))
    assert list(manifest) == ["pages", "categories", "page_categories", "html_texts"]


def test_run_pipeline_sink_jobs_stay_in_the_callers_job_group(spark, sf_dir, tmp_path, jobs_of):
    """The sink threads inherit the caller's job group, so job counters
    keyed on it (perfbench's ``exec.jobs``, ``tools/ab.py``) still see
    every sink's write job."""
    _, jobs = jobs_of(lambda: run_pipeline(spark, sf_dir, str(tmp_path / "out")))
    assert jobs >= 4


def test_run_pipeline_reraises_a_sink_error_after_every_sink_ends(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A failing sink's error reaches the caller (``run_dag`` retries on
    it), but only after the other sinks have landed: no sink thread
    outlives the call, and the shared corpus is unpersisted."""
    out = tmp_path / "out"
    real_write = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if path.endswith("/categories"):
            raise RuntimeError("categories sink failed")
        return real_write(self, path, *args, **kwargs)

    corpora = []
    real_process = pipeline_mod.process_corpus

    def spied(*args):
        tables = real_process(*args)
        corpora.append(tables["_corpus"])
        return tables

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    monkeypatch.setattr(pipeline_mod, "process_corpus", spied)
    with pytest.raises(RuntimeError, match="categories sink failed"):
        run_pipeline(spark, sf_dir, str(out))
    assert not [t for t in threading.enumerate() if t.name.startswith("sink")]
    assert corpora[0].storageLevel == StorageLevel.NONE
    for name in ("pages", "page_categories", "html_texts"):
        assert (out / name / "_SUCCESS").exists()


def test_dsir_selection_enriches_target_slice(spark, sf_dir):
    """q183's whole point: top-k selection by target/source importance must
    over-represent the target ('en') slice relative to its corpus share —
    Σ log-ratio is maximized by target-like documents (KL ≥ 0)."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark.operators.pipeline_ops import (
        q183_dsir_importance_selection,
    )
    from wikipediaetl_spark.sources import load_table

    res = q183_dsir_importance_selection(spark, sf_dir)
    rows = res.collect()
    assert rows and [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    weights = [r.weight_micro for r in rows]
    assert weights == sorted(weights, reverse=True)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    n_docs = d.count()
    en_share = d.filter(F.col("lang") == "en").count() / n_docs
    sel = {r.doc_id for r in rows}
    sel_langs = [r.lang for r in d.collect() if r.doc_id in sel]
    sel_en_share = sum(1 for lang in sel_langs if lang == "en") / len(sel_langs)
    if len(sel_langs) < n_docs:  # selection actually selects a subset
        assert sel_en_share >= en_share, (sel_en_share, en_share)


def test_q185_maintained_layouts_match_full_recompute(spark, sf_dir):
    """q185's maintained histogram+count layouts (bootstrap 90% -> append/
    merge 10% batch -> serve) must reproduce q183's full recompute exactly
    — the maintenance contract, selection-family edition."""
    from wikipediaetl_spark.operators.pipeline_ops import (
        q183_dsir_importance_selection,
        q185_dsir_layout_maintenance,
    )

    inc = sorted(map(tuple, q185_dsir_layout_maintenance(spark, sf_dir).collect()))
    full = sorted(map(tuple, q183_dsir_importance_selection(spark, sf_dir).collect()))
    assert inc == full and len(inc) > 0
