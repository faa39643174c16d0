"""Checkpoint/resume: an interrupted run resumes from the manifest
without reprocessing committed buckets, its output equals an
uninterrupted run's, and resume NEVER serves a bucket whose committed
output embodies different parameters (params_sig gate, round 6 —
mirrors io/stages.StageRunner's guarantee)."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from go_pkg_spider_spark import pipeline
from go_pkg_spider_spark.io.catalog import Catalog
from go_pkg_spider_spark.io.driver_rows import driver_rows_df
from go_pkg_spider_spark.io.manifest import (
    MANIFEST_SCHEMA,
    MANIFEST_TABLE,
    ManifestedRun,
    bucket_of,
)


def _transform(df):
    return pipeline.run_pipeline(df)


def _sig(num_buckets, params=None):
    return json.dumps({**(params or {}), "num_buckets": num_buckets}, sort_keys=True)


def _commit_one_bucket(spark, cat, clips, bucket, num_buckets, table="decisions"):
    """Replicates exactly what ManifestedRun.run commits for one bucket —
    used to simulate a crash after a partial run."""
    part = clips.filter(bucket_of(F.col("clip_id"), num_buckets) == bucket)
    cat.write(_transform(part), f"{table}/bucket={bucket}")
    hist = {
        r.drop_reason or "": r["count"]
        for r in cat.read(f"{table}/bucket={bucket}").groupBy("drop_reason").count().collect()
    }
    row = [
        (
            bucket, "done", sum(hist.values()), hist.get("", 0), hist, 1.0,
            "crashed", int(time.time()), _sig(num_buckets), 0,
        )
    ]
    cat.append(driver_rows_df(spark, row, MANIFEST_SCHEMA), MANIFEST_TABLE)


def test_full_run_then_nothing_pending(spark, clips_path, tmp_path):
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "full"))
    run = ManifestedRun(spark, cat, num_buckets=3, run_id="r1")
    s = run.run(clips, _transform, "decisions")
    assert s == {"buckets_run": 3, "buckets_skipped": 0}
    # a second run over the same manifest does nothing
    run2 = ManifestedRun(spark, cat, num_buckets=3, run_id="r2")
    assert run2.pending_buckets() == []
    s2 = run2.run(clips, _transform, "decisions")
    assert s2 == {"buckets_run": 0, "buckets_skipped": 3}


def test_resume_after_crash_matches_uninterrupted(spark, clips_path, tmp_path):
    clips = spark.read.parquet(clips_path)

    cat_a = Catalog(spark, str(tmp_path / "a"))
    ManifestedRun(spark, cat_a, num_buckets=3, run_id="a").run(
        clips, _transform, "decisions"
    )

    # crash scenario: bucket 0 committed, then the driver died
    cat_b = Catalog(spark, str(tmp_path / "b"))
    _commit_one_bucket(spark, cat_b, clips, bucket=0, num_buckets=3)

    resume = ManifestedRun(spark, cat_b, num_buckets=3, run_id="resume")
    assert resume.pending_buckets() == [1, 2]
    s = resume.run(clips, _transform, "decisions")
    assert s == {"buckets_run": 2, "buckets_skipped": 1}

    a_rows = sorted(
        tuple(r) for b in range(3) for r in cat_a.read(f"decisions/bucket={b}").collect()
    )
    b_rows = sorted(
        tuple(r) for b in range(3) for r in cat_b.read(f"decisions/bucket={b}").collect()
    )
    assert a_rows == b_rows and len(a_rows) == clips.count()


def test_manifest_metrics(spark, clips_path, tmp_path):
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "m"))
    ManifestedRun(spark, cat, num_buckets=2, run_id="m").run(
        clips, _transform, "decisions"
    )
    rows = cat.read(MANIFEST_TABLE).filter(F.col("status") == "done").collect()
    assert len(rows) == 2
    assert sum(r.input_rows for r in rows) == clips.count()
    assert all(r.status == "done" and r.wall_sec > 0 for r in rows)
    # drop-reason histogram is recorded per bucket
    assert any("too_short" in (r.drop_histogram or {}) for r in rows)
    # every row carries the fingerprint resume will check
    assert all(r.params_sig == _sig(2) for r in rows)


def test_param_change_invalidates_buckets(spark, clips_path, tmp_path):
    """The A -> B -> A staleness hole (VERDICT r5 #1): after a run with
    different params overwrote the bucket outputs, the ORIGINAL sig's
    historical done rows must not satisfy resume."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "p"))

    pa = {"min_chars": 64, "scrub_bank": "v1"}
    run_a = ManifestedRun(spark, cat, 3, "a", params=pa)
    sa = run_a.run(clips, lambda df: pipeline.run_pipeline(df, min_chars=64),
                   "decisions")
    assert sa == {"buckets_run": 3, "buckets_skipped": 0}

    # knob change -> nothing resumable, all buckets rerun
    pb = {"min_chars": 256, "scrub_bank": "v1"}
    run_b = ManifestedRun(spark, cat, 3, "b", params=pb)
    assert run_b.pending_buckets() == [0, 1, 2]
    sb = run_b.run(clips, lambda df: pipeline.run_pipeline(df, min_chars=256),
                   "decisions")
    assert sb == {"buckets_run": 3, "buckets_skipped": 0}

    # back to A: the on-disk buckets embody B's params — must rerun,
    # not serve B tables under A's name
    run_a2 = ManifestedRun(spark, cat, 3, "a2", params=pa)
    assert run_a2.pending_buckets() == [0, 1, 2]
    sa2 = run_a2.run(clips, lambda df: pipeline.run_pipeline(df, min_chars=64),
                     "decisions")
    assert sa2 == {"buckets_run": 3, "buckets_skipped": 0}
    # and an identical-params rerun resumes fully
    run_a3 = ManifestedRun(spark, cat, 3, "a3", params=pa)
    assert run_a3.pending_buckets() == []


def test_num_buckets_change_invalidates(spark, clips_path, tmp_path):
    """Bucket ids don't align across num_buckets changes — the count is
    part of the fingerprint, so changing it reruns everything."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "nb"))
    ManifestedRun(spark, cat, 2, "a").run(clips, _transform, "decisions")
    run2 = ManifestedRun(spark, cat, 4, "b")
    assert run2.pending_buckets() == [0, 1, 2, 3]


def test_crash_mid_overwrite_reruns(spark, clips_path, tmp_path):
    """A `running` row is appended before the bucket output is touched;
    if the driver dies before the done row lands, the bucket's latest
    row is `running` and resume reruns it."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "c"))
    run = ManifestedRun(spark, cat, 2, "a")
    run.run(clips, _transform, "decisions")
    # simulate: a rerun appended its running row, then crashed mid-write
    run2 = ManifestedRun(spark, cat, 2, "b")
    run2._append_row(1, "running")
    resume = ManifestedRun(spark, cat, 2, "c")
    assert resume.pending_buckets() == [1]


def test_legacy_manifest_without_sig_reruns(spark, clips_path, tmp_path):
    """Pre-params_sig manifests (no such column) never match the current
    sig — conservative full rerun rather than trusting unknown-knob
    outputs."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "legacy"))
    # write a legacy-shaped manifest: done rows without params_sig/seq
    legacy_schema = StructType(
        [f for f in MANIFEST_SCHEMA.fields if f.name not in ("params_sig", "seq")]
    )
    legacy = driver_rows_df(
        spark,
        [(0, "done", 10, 8, {"": 8}, 1.0, "old", int(time.time()))],
        legacy_schema,
    )
    cat.append(legacy, MANIFEST_TABLE)
    run = ManifestedRun(spark, cat, 2, "new")
    assert run.pending_buckets() == [0, 1]


def test_same_second_tie_is_not_done(spark, clips_path, tmp_path):
    """Two rows tied on (committed_at, seq) — e.g. two legacy writers in
    one second — are ambiguous about the table on disk: NOT done."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "tie"))
    now = int(time.time())
    sig = _sig(2)
    rows = [
        (0, "done", 10, 8, {"": 8}, 1.0, "w1", now, sig, None),
        (0, "done", 10, 8, {"": 8}, 1.0, "w2", now, sig, None),
        (1, "done", 10, 8, {"": 8}, 1.0, "w1", now, sig, 5),
    ]
    cat.append(driver_rows_df(spark, rows, MANIFEST_SCHEMA), MANIFEST_TABLE)
    run = ManifestedRun(spark, cat, 2, "r")
    # bucket 0 tied -> rerun; bucket 1 has a unique latest done row -> kept
    assert run.pending_buckets() == [0]


class _Crash(RuntimeError):
    pass


def _latest(cat, bucket):
    rows = cat.read(MANIFEST_TABLE).filter(F.col("bucket") == bucket).collect()
    return max(rows, key=lambda r: (r.committed_at_unix, r.seq)) if rows else None


def test_fresh_root_writes_only_done_rows(spark, clips_path, tmp_path):
    """No row to supersede on a fresh root: one done row per bucket,
    no running row."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "fresh"))
    ManifestedRun(spark, cat, 3, "r").run(clips, _transform, "decisions")
    rows = cat.read(MANIFEST_TABLE).collect()
    assert sorted((r.bucket, r.status) for r in rows) == [
        (0, "done"), (1, "done"), (2, "done"),
    ]


def test_crash_in_first_run_of_bucket_reruns(spark, clips_path, tmp_path):
    """A bucket's very first run writes no running row; a crash before
    its done row leaves it rowless, and resume reruns it whole."""
    clips = spark.read.parquet(clips_path)
    cat_a = Catalog(spark, str(tmp_path / "ref"))
    ManifestedRun(spark, cat_a, 2, "ref").run(clips, _transform, "decisions")

    cat = Catalog(spark, str(tmp_path / "first"))
    calls = iter(range(10))

    def crashing(df):
        if next(calls) >= 1:
            raise _Crash("bucket 1")
        return _transform(df)

    with pytest.raises(_Crash):
        ManifestedRun(spark, cat, 2, "first").run(clips, crashing, "decisions")
    assert _latest(cat, 1) is None
    resume = ManifestedRun(spark, cat, 2, "resume")
    assert resume.pending_buckets() == [1]
    assert resume.run(clips, _transform, "decisions") == {
        "buckets_run": 1, "buckets_skipped": 1,
    }
    assert sorted(tuple(r) for r in cat.read("decisions").collect()) == sorted(
        tuple(r) for r in cat_a.read("decisions").collect()
    )


class _CrashingWriteCatalog(Catalog):
    """Records the bucket's latest manifest status when its output is
    about to be overwritten, then crashes before writing."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.seen = {}

    def write(self, df, table, mode="overwrite", partition_by=None):
        if table.startswith("decisions/bucket="):
            b = int(table.split("=")[1])
            self.seen[b] = _latest(self, b).status
            raise _Crash(table)
        return super().write(df, table, mode=mode, partition_by=partition_by)


def test_rerun_supersedes_existing_row_before_output(spark, clips_path, tmp_path):
    """A bucket that already has rows gets a running row BEFORE its
    output is touched: a crash mid-write must not leave the old done
    row as the latest, so the original params rerun the bucket."""
    clips = spark.read.parquet(clips_path)
    root = str(tmp_path / "rerun")
    pa = {"min_chars": 64}
    ManifestedRun(spark, Catalog(spark, root), 2, "a", params=pa).run(
        clips, _transform, "decisions"
    )
    crashing = _CrashingWriteCatalog(spark, root)
    with pytest.raises(_Crash):
        ManifestedRun(spark, crashing, 2, "b", params={"min_chars": 256}).run(
            clips, _transform, "decisions"
        )
    assert crashing.seen == {0: "running"}
    resume = ManifestedRun(spark, Catalog(spark, root), 2, "a2", params=pa)
    assert resume.pending_buckets() == [0]
