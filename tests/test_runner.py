"""Resumable job-runner tests (north rule: per-partition lineage + metrics,
resume from last committed bucket, uniqueness / referential / drift checks)."""

import json
import os
import shutil

import pytest

from jsonschema_spark.runner import (
    JobConfig,
    ValidationJob,
    finalize_report,
    table_distributions,
)
from jsonschema_spark.synth import DOCS_SCHEMA, SynthConfig, make_docs


@pytest.fixture(scope="module")
def synth_paths(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("runner_data"))
    docs, ref, media = make_docs(spark, SynthConfig(n_docs=1500, seed=11, skew_frac=0.01))
    docs.write.mode("overwrite").parquet(f"{base}/docs")
    ref.write.mode("overwrite").parquet(f"{base}/ref")
    media.write.mode("overwrite").parquet(f"{base}/media")
    return base


def _cfg(base: str, out: str, n_buckets: int = 8, buckets_per_job: int = 3) -> JobConfig:
    return JobConfig(
        input_path=f"{base}/docs",
        output_path=out,
        schema=DOCS_SCHEMA,
        media_catalog_path=f"{base}/media",
        reference_path=f"{base}/ref",
        n_buckets=n_buckets,
        buckets_per_job=buckets_per_job,
        salt_partitions=8,
    )


def test_full_run_detects_injected_defects(spark, synth_paths, tmp_path):
    out = str(tmp_path / "out")
    cfg = _cfg(synth_paths, out)
    job = ValidationJob(spark, cfg)
    res = job.run()
    assert res["complete"] and res["buckets_committed"] == 8

    hist, kf = table_distributions(spark, f"{synth_paths}/ref")
    report = finalize_report(
        spark, cfg, reference_hist=hist, reference_kind_freq=kf
    )
    assert report["total_docs"] == 1500
    # synth injects ~1% dup ids, ~1% dangling refs, ~2% constraint violations
    viol = spark.read.parquet(f"{out}/violations")
    codes = {r["code"] for r in viol.select("code").distinct().collect()}
    assert "duplicate_doc_id" in codes
    assert "dangling_media_ref" in codes
    assert report["partitions_failed"] > 0
    assert len(report["partitions"]) == 8
    # same generator => no drift vs the clean twin, on every statistic
    assert report["ks_span_length"]["drifted"] is False
    assert report["psi_kind_freq"]["statistic"] < 0.25
    assert report["w1_span_length"]["drifted"] is False
    assert report["js_kind_freq"]["statistic"] < 0.05
    assert report["chi2_kind_freq"]["dof"] >= 1
    # cross-check the merged-aggregate statistics against the batch drift
    # operators on the same two relations (kind frequencies)
    import math

    from jsonschema_spark.operators.drift import chi2_statistic, js_divergence
    from pyspark.sql import functions as F2

    obs = spark.read.parquet(f"{synth_paths}/docs").select(
        F2.explode("spans.kind").alias("kind"), F2.lit("a").alias("g")
    )
    ref = spark.read.parquet(f"{synth_paths}/ref").select(
        F2.explode("spans.kind").alias("kind"), F2.lit("b").alias("g")
    )
    both = obs.unionByName(ref)
    want_js = js_divergence(both, "kind", "g", "a", "b").collect()[0]["js"]
    want_chi2 = chi2_statistic(both, "kind", "g", "a", "b").collect()[0]
    assert report["js_kind_freq"]["statistic"] == pytest.approx(want_js, rel=1e-9)
    assert report["chi2_kind_freq"]["statistic"] == pytest.approx(
        want_chi2["chi2"], rel=1e-9
    )
    assert report["chi2_kind_freq"]["dof"] == want_chi2["dof"]
    assert math.isfinite(report["w1_span_length"]["statistic"])


def test_resume_from_partial_run_matches_single_shot(spark, synth_paths, tmp_path):
    out_a = str(tmp_path / "single_shot")
    out_b = str(tmp_path / "resumed")
    cfg_a = _cfg(synth_paths, out_a)
    cfg_b = _cfg(synth_paths, out_b)

    ValidationJob(spark, cfg_a).run()

    # simulate a killed run: only the first batch commits
    job_b = ValidationJob(spark, cfg_b)
    job_b.run(max_batches=1)
    committed = job_b.committed_buckets()
    assert 0 < len(committed) < 8
    assert len(job_b.pending_buckets()) == 8 - len(committed)

    # resume with a FRESH job object (fresh driver) — must finish the rest
    job_b2 = ValidationJob(spark, cfg_b)
    res = job_b2.run()
    assert res["complete"]

    va = (
        spark.read.parquet(f"{out_a}/violations")
        .orderBy("doc_id", "instance_path", "keyword", "code")
        .drop("params")
        .collect()
    )
    vb = (
        spark.read.parquet(f"{out_b}/violations")
        .orderBy("doc_id", "instance_path", "keyword", "code")
        .drop("params")
        .collect()
    )
    assert va == vb

    ra = finalize_report(spark, cfg_a)
    rb = finalize_report(spark, cfg_b)
    assert ra["total_docs"] == rb["total_docs"]
    assert ra["partitions"] == rb["partitions"]


def test_rerun_is_noop_and_lineage_is_commit_marker(spark, synth_paths, tmp_path):
    out = str(tmp_path / "noop")
    cfg = _cfg(synth_paths, out)
    ValidationJob(spark, cfg).run()
    # a second run with everything committed runs zero batches
    res = ValidationJob(spark, cfg).run()
    assert res["batches_run"] == 0 and res["complete"]

    # deleting one lineage marker makes exactly that bucket re-run
    os.remove(os.path.join(out, "lineage", "bucket_3.json"))
    job = ValidationJob(spark, cfg)
    assert job.pending_buckets() == [3]
    res = job.run()
    assert res["complete"]
    with open(os.path.join(out, "lineage", "bucket_3.json")) as f:
        assert json.load(f)["bucket"] == 3


def test_salted_repartition_balances_skew(spark, synth_paths):
    """Media-heavy docs (100x spans) must not pin one task: after the salted
    repartition the heaviest partition carries a bounded share of SPANS."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{synth_paths}/docs").repartition(
        8, F.xxhash64(F.col("doc_id"), F.lit(7))
    )
    per_part = (
        docs.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum(F.size("spans")).alias("spans"))
        .collect()
    )
    spans = [r["spans"] for r in per_part]
    assert len(spans) == 8
    assert max(spans) < 2.5 * (sum(spans) / len(spans)), spans


def test_plan_compiled_once_per_application(spark, synth_paths, tmp_path, plan_compiles):
    """Every batch of one job, and every batch of a second job in the same
    session, reuse one compiled plan."""
    res = ValidationJob(spark, _cfg(synth_paths, str(tmp_path / "a"))).run()
    assert res["batches_run"] >= 3 and res["complete"]
    assert len(plan_compiles) == 1
    res = ValidationJob(spark, _cfg(synth_paths, str(tmp_path / "b"))).run(max_batches=1)
    assert res["batches_run"] == 1
    assert len(plan_compiles) == 1


def test_lineage_elapsed_covers_whole_batch(spark, synth_paths, tmp_path, monkeypatch):
    """batch_elapsed_sec includes the reads and the plan, not just the writes."""
    import time

    real = ValidationJob._load_bucketed

    def slow_load(self, path, buckets):
        time.sleep(1.0)
        return real(self, path, buckets)

    monkeypatch.setattr(ValidationJob, "_load_bucketed", slow_load)
    out = str(tmp_path / "timed")
    job = ValidationJob(spark, _cfg(synth_paths, out))
    t0 = time.perf_counter()
    res = job.run_batch([0, 1])
    outer = time.perf_counter() - t0
    # only the staging-dir promotion and the lineage files fall outside;
    # write-only timing would miss at least the 1 s spent before the writes
    assert 0 <= outer - res["elapsed"] < 1.0
    for b in (0, 1):
        with open(os.path.join(out, "lineage", f"bucket_{b}.json")) as f:
            assert json.load(f)["batch_elapsed_sec"] == round(res["elapsed"], 3)
