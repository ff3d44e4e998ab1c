"""Resume-from-checkpoint: rerunning the pipeline after losing a stage's
watermark recomputes that stage and every later one and yields identical
outputs (FIXTURES.md §5.6; the Spark analog of WAL replay,
wal_manager.h:23-80).
A changed config, a recomputed upstream stage or a failed commit write
recomputes instead of reusing stale stages.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from yams_spark.plans import er_pipeline
from yams_spark.plans.er_pipeline import STAGES, PipelineConfig, run_pipeline
from yams_spark.sources.pages import generate_pages_pdf


@pytest.fixture(scope="module")
def small_corpus(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"])
    return generate_pages_pdf(docs.head(40), replicate=1)


#: every candidate pair of the small corpus scores above the default 0.92;
#: at 0.98 some are rejected, so the published clusters differ
HIGH_THRESHOLD = 0.98


def _pages(spark, small_corpus):
    return spark.createDataFrame(small_corpus[["url", "warc_ts", "html", "text", "lang"]])


def _group_keys(out) -> list[str]:
    return sorted(out["clusters"].toPandas()["group_key"])


@pytest.fixture(scope="module")
def high_threshold_keys(spark, small_corpus, tmp_path_factory) -> list[str]:
    """Published group keys of a cold run at HIGH_THRESHOLD."""
    ckpt = str(tmp_path_factory.mktemp("ckpt_high"))
    cfg = PipelineConfig(checkpoint_dir=ckpt, threshold=HIGH_THRESHOLD)
    return _group_keys(run_pipeline(spark, _pages(spark, small_corpus), cfg))


def test_resume_skips_completed_stages(spark, small_corpus, tmp_path_factory) -> None:
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    pages = spark.createDataFrame(small_corpus[["url", "warc_ts", "html", "text", "lang"]])

    cfg1 = PipelineConfig(checkpoint_dir=ckpt, run_id="run1")
    first = run_pipeline(spark, pages, cfg1)
    clusters1 = sorted(first["clusters"].toPandas()["group_key"])

    sign_mtime = os.path.getmtime(os.path.join(ckpt, "sign.watermark.json"))

    # lose the cluster stage -> rerun recomputes only clustering
    os.remove(os.path.join(ckpt, "cluster_groups.watermark.json"))
    cfg2 = PipelineConfig(checkpoint_dir=ckpt, run_id="run2")
    second = run_pipeline(spark, pages, cfg2)
    clusters2 = sorted(second["clusters"].toPandas()["group_key"])

    assert clusters1 == clusters2
    # earlier stages untouched (watermark not rewritten)
    assert os.path.getmtime(os.path.join(ckpt, "sign.watermark.json")) == sign_mtime


def test_metrics_lineage_rows(spark, small_corpus, tmp_path_factory) -> None:
    ckpt = str(tmp_path_factory.mktemp("ckpt_metrics"))
    pages = _pages(spark, small_corpus)
    sc = spark.sparkContext
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("caller-group", "the caller owns the job group")
    try:
        out = run_pipeline(spark, pages, PipelineConfig(checkpoint_dir=ckpt, run_id="mrun"))
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
    assert set(sc.getJobTags()) == set()
    metrics = out["metrics"].toPandas()
    stages = set(metrics["stage"])
    assert {"sign", "block", "pair", "score"}.issubset(stages)
    # per-partition rows are the commit write's non-empty tasks: their
    # rows_out add up to the committed table
    for stage in ("sign", "block", "pair", "cluster_groups", "cluster_members"):
        parts = metrics[(metrics["stage"] == stage) & (metrics["partition_id"] >= 0)]
        committed = spark.read.parquet(os.path.join(ckpt, f"{stage}.parquet")).count()
        assert committed > 0, stage
        assert (parts["rows_out"] > 0).all(), stage
        assert parts["partition_id"].is_unique, stage
        assert parts["rows_out"].sum() == committed, stage
    score_rows = metrics[(metrics["stage"] == "score") & (metrics["partition_id"] == -1)]
    assert len(score_rows) == 1
    hist = score_rows.iloc[0]["score_histogram"]
    assert len(hist) == 20
    assert sum(hist) == score_rows.iloc[0]["pair_count"] == out["scored_pairs"].count()
    # per-partition rows carry watermarks
    assert metrics["watermark_ts"].notna().all()


def test_changed_threshold_recomputes(
    spark, small_corpus, tmp_path_factory, high_threshold_keys
) -> None:
    ckpt = str(tmp_path_factory.mktemp("ckpt_threshold"))
    pages = _pages(spark, small_corpus)
    default_keys = _group_keys(run_pipeline(spark, pages, PipelineConfig(checkpoint_dir=ckpt)))
    assert default_keys != high_threshold_keys
    rerun = run_pipeline(
        spark, pages, PipelineConfig(checkpoint_dir=ckpt, threshold=HIGH_THRESHOLD)
    )
    assert _group_keys(rerun) == high_threshold_keys


def test_lost_sign_watermark_recomputes_later_stages(
    spark, small_corpus, tmp_path_factory
) -> None:
    ckpt = str(tmp_path_factory.mktemp("ckpt_lost_sign"))
    pages = _pages(spark, small_corpus)
    first = _group_keys(run_pipeline(spark, pages, PipelineConfig(checkpoint_dir=ckpt)))

    def mtimes() -> dict[str, int]:
        return {s: os.stat(os.path.join(ckpt, f"{s}.watermark.json")).st_mtime_ns
                for s in STAGES}

    before = mtimes()
    os.remove(os.path.join(ckpt, "sign.watermark.json"))
    second = _group_keys(run_pipeline(spark, pages, PipelineConfig(checkpoint_dir=ckpt)))
    after = mtimes()
    assert second == first
    assert all(after[s] != before[s] for s in STAGES), (before, after)


def test_failed_commit_write_leaves_no_watermark(
    spark, small_corpus, tmp_path_factory, high_threshold_keys, monkeypatch
) -> None:
    ckpt = str(tmp_path_factory.mktemp("ckpt_crash"))
    pages = _pages(spark, small_corpus)
    run_pipeline(spark, pages, PipelineConfig(checkpoint_dir=ckpt))
    score_mark = os.path.join(ckpt, "score.watermark.json")
    assert os.path.exists(score_mark)

    real_score = er_pipeline.scored_pairs_stage
    boom = F.udf(lambda _score: 1 // 0, "int")
    monkeypatch.setattr(
        er_pipeline, "scored_pairs_stage",
        lambda *a, **k: real_score(*a, **k).withColumn("boom", boom("pair_score")),
    )
    high = PipelineConfig(checkpoint_dir=ckpt, threshold=HIGH_THRESHOLD)
    with pytest.raises(Exception):
        run_pipeline(spark, pages, high)
    assert not os.path.exists(score_mark)
    assert set(spark.sparkContext.getJobTags()) == set()

    monkeypatch.setattr(er_pipeline, "scored_pairs_stage", real_score)
    rerun = run_pipeline(spark, pages, PipelineConfig(checkpoint_dir=ckpt, threshold=HIGH_THRESHOLD))
    assert os.path.exists(score_mark)
    assert "boom" not in rerun["scored_pairs"].columns
    assert _group_keys(rerun) == high_threshold_keys
