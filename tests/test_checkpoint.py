"""Checkpoint/resume protocol tests (SURVEY §5.3 idempotent resume)."""

import os

from page_segmentation_spark.datagen import pages_df
from page_segmentation_spark.plans.checkpoint import (
    committed_buckets,
    read_result,
    run_checkpointed,
)
from page_segmentation_spark.plans.extract import extract


def test_checkpoint_resume_idempotent(spark, tmp_path):
    out = str(tmp_path / "ckpt")
    pages = pages_df(spark, 24, partitions=2).cache()

    # first run: complete 2 of 4 buckets, then "crash"
    calls = {"n": 0}

    def job_crashing(df):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("simulated crash")
        return extract(df)

    try:
        run_checkpointed(spark, pages, job_crashing, out, n_buckets=4)
    except RuntimeError:
        pass
    manifests = os.listdir(os.path.join(out, "_progress"))
    assert len(manifests) == 2

    # resume: only remaining buckets run
    summary = run_checkpointed(spark, pages, extract, out, n_buckets=4)
    assert summary["skipped"] == sorted(
        int(m.split("=")[1].split(".")[0]) for m in manifests
    )
    assert len(summary["completed"]) == 2

    # final table covers every url exactly once
    result = read_result(spark, out)
    assert result.count() == 24
    assert result.select("url").distinct().count() == 24

    # full re-run is a no-op
    summary2 = run_checkpointed(spark, pages, extract, out, n_buckets=4)
    assert summary2["completed"] == [] and len(summary2["skipped"]) == 4


def test_input_fingerprint_tracks_table_state(spark, tmp_path):
    """Snapshot-keyed resume (Iceberg-snapshot analog): same input ->
    same fingerprint -> skip; changed input -> new fingerprint ->
    recompute."""
    from page_segmentation_spark.plans.checkpoint import input_fingerprint

    src = str(tmp_path / "input")
    pages_df(spark, 8, partitions=1).write.mode("overwrite").parquet(src)
    fp1 = input_fingerprint(spark, src)
    assert fp1 == input_fingerprint(spark, src)  # stable

    out = str(tmp_path / "ckpt3")
    s1 = run_checkpointed(
        spark, spark.read.parquet(src), extract, out,
        n_buckets=2, fingerprint=fp1,
    )
    assert len(s1["completed"]) == 2

    # input "snapshot" advances: append more pages
    pages_df(spark, 4, partitions=1).write.mode("append").parquet(src)
    fp2 = input_fingerprint(spark, src)
    assert fp2 != fp1
    s2 = run_checkpointed(
        spark, spark.read.parquet(src), extract, out,
        n_buckets=2, fingerprint=fp2,
    )
    assert len(s2["completed"]) == 2  # stale manifests do not skip
    # appended doc_ids 0-3 collide with existing urls; extract dedups by
    # url, so the recomputed table still holds the 8 distinct urls
    assert read_result(spark, out).select("url").distinct().count() == 8


def test_checkpoint_fingerprint_invalidates(spark, tmp_path):
    out = str(tmp_path / "ckpt2")
    pages = pages_df(spark, 8, partitions=1)
    s1 = run_checkpointed(
        spark, pages, extract, out, n_buckets=2, fingerprint="v1"
    )
    assert len(s1["completed"]) == 2
    s2 = run_checkpointed(
        spark, pages, extract, out, n_buckets=2, fingerprint="v2"
    )
    assert len(s2["completed"]) == 2  # different settings -> recompute


def test_checkpoint_rejects_other_bucket_count(spark, tmp_path):
    """A re-run with another n_buckets must not mix bucketings: the old
    bucket dirs would stay readable next to the new ones and duplicate
    urls.  It raises; a same-count re-run still skips every bucket."""
    import pytest

    out = str(tmp_path / "ckpt4")
    pages = pages_df(spark, 24, partitions=2).cache()
    s1 = run_checkpointed(spark, pages, extract, out, n_buckets=2)
    assert len(s1["completed"]) == 2
    with pytest.raises(ValueError, match="n_buckets"):
        run_checkpointed(spark, pages, extract, out, n_buckets=4)
    result = read_result(spark, out)
    assert result.count() == 24
    assert result.select("url").distinct().count() == 24
    s2 = run_checkpointed(spark, pages, extract, out, n_buckets=2)
    assert s2["completed"] == [] and s2["skipped"] == [0, 1]


def test_checkpoint_without_recorded_bucket_count_raises(tmp_path):
    """A manifest that records no n_buckets (written before the field
    existed) cannot be checked against the requested count: resuming
    raises and names the manifest rather than guessing."""
    import json

    import pytest

    progress = tmp_path / "_progress"
    os.makedirs(progress)
    (progress / "bucket=0.json").write_text(
        json.dumps({"bucket": 0, "fingerprint": "f"})
    )
    with pytest.raises(ValueError, match="bucket=0.json records no n_buckets"):
        committed_buckets(str(tmp_path), "f", 2)
