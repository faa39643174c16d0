"""Checkpoint / resume manifest: the reference's in-memory `seen` dedup
map (/root/reference/spider_news.go:15, 162-167, 202-205) made durable
and distributed (SURVEY.md §4.4).

The input is processed in partition batches keyed by
`pmod(hash(clip_id), num_buckets)`. After each batch commits its output,
one manifest row per bucket records (bucket, input rows, kept rows,
drop-reason histogram, wall-clock, status). Resume = read the manifest,
skip DONE buckets — the left-anti-join / J6 shape, implemented as a
bucket-set filter that PRUNES AT THE SCAN (a pushed-down `pmod(...)
NOT IN (...)` predicate), never a row-level anti-join against 10^12
processed ids.

Resume semantics (hardened round 6 — the same guarantee StageRunner got
in round 5, io/stages.py):

- A bucket is reusable ONLY if its LATEST manifest row is `done` with
  the SAME parameter fingerprint (params_sig) as the current
  invocation. The sig covers every knob that changes the output
  (pipeline kwargs, scrub-bank version) plus num_buckets itself —
  bucket ids don't even align across num_buckets changes, so any
  change reruns everything.
- Supersede only when a row exists: before a bucket's output dir is
  overwritten, a `running` row is appended IF the manifest already
  holds a row for that bucket (known from the rows done_buckets()
  read); the `done` row follows the commit. The manifest stays
  append-only (cheap at 10^12 scale — one Iceberg append per bucket,
  no manifest rewrite), and latest-row semantics make every crash
  window safe: die mid-overwrite or before the done row and the
  latest row says `running` → the bucket reruns whole. A bucket with
  no row needs no `running` row: crash before its done row lands and
  it still has no row, so it reruns whole all the same (the run lease
  rules out a second writer adding one meanwhile).
- Rows are built on the driver through io/driver_rows (a JVM-only
  local scan, no Python worker), so one append is one small file
  write.
- Rows from pre-params_sig manifests (no such column) never match the
  current sig → conservative rerun. Ties on (committed_at, seq) —
  only possible across processes writing in the same second — are
  treated as NOT done, also conservative.

Idempotence: a bucket either committed (latest manifest row done with
matching sig) or is re-run whole; output writes are per-bucket
overwrite (dynamic partition overwrite in Iceberg), so re-running a
half-written bucket is safe.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .catalog import Catalog
from .driver_rows import driver_rows_df

MANIFEST_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("input_rows", LongType()),
        StructField("kept_rows", LongType()),
        StructField("drop_histogram", MapType(StringType(), LongType())),
        StructField("wall_sec", DoubleType()),
        StructField("run_id", StringType()),
        StructField("committed_at_unix", LongType()),
        # parameter fingerprint the bucket's output embodies; resume
        # honors a done row only when this matches the current run's
        StructField("params_sig", StringType()),
        # wall-clock nanoseconds at append: orders same-second rows
        # ACROSS processes (a per-process counter can't — a crashed
        # rerun's `running` row must outrank an earlier run's `done`)
        StructField("seq", LongType()),
    ]
)

MANIFEST_TABLE = "pipeline_manifest"


def bucket_of(col, num_buckets: int):
    return F.pmod(F.hash(col), F.lit(num_buckets))


class ManifestedRun:
    """Drives the pipeline bucket-by-bucket with durable progress.

    At 10^12 rows each bucket is a full Spark job over ~1/num_buckets of
    the table (hundreds of GB); locally buckets are small but the
    control flow is identical.

    `params` must contain every knob that changes the transform's
    output (pipeline kwargs, scrub-bank version, ...); num_buckets is
    folded in automatically.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        num_buckets: int,
        run_id: str,
        key_col: str = "clip_id",
        params: dict | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.num_buckets = num_buckets
        self.run_id = run_id
        self.key_col = key_col
        self.params_sig = json.dumps(
            {**(params or {}), "num_buckets": num_buckets}, sort_keys=True
        )

    def _manifest_df(self) -> DataFrame:
        mdf = self.catalog.read(MANIFEST_TABLE)
        # manifests from older job versions: missing columns read as
        # NULL → params_sig never matches → conservative rerun
        for c in ("params_sig", "seq"):
            if c not in mdf.columns:
                mdf = mdf.withColumn(
                    c, F.lit(None).cast("string" if c == "params_sig" else "long")
                )
        return mdf

    def done_buckets(self) -> set[int]:
        """Buckets whose LATEST manifest row (max (committed_at, seq))
        is done with the current params_sig. A tie for latest — two
        writers in the same second — is conservatively NOT done. Also
        records every bucket holding any row, which run() reads to
        skip `running` rows that would supersede nothing."""
        self._buckets_with_rows: set[int] = set()
        if not self.catalog.exists(MANIFEST_TABLE):
            return set()
        rows = (
            self._manifest_df()
            .select("bucket", "status", "params_sig", "committed_at_unix", "seq")
            .collect()
        )
        latest: dict = {}
        tied: set[int] = set()
        for r in rows:
            key = (r.committed_at_unix, r.seq if r.seq is not None else -1)
            if r.bucket not in latest or key > latest[r.bucket][0]:
                latest[r.bucket] = (key, r)
                tied.discard(r.bucket)
            elif key == latest[r.bucket][0] and r is not latest[r.bucket][1]:
                tied.add(r.bucket)
        self._buckets_with_rows = set(latest)
        return {
            b
            for b, (_, r) in latest.items()
            if b not in tied
            and r.status == "done"
            and r.params_sig == self.params_sig
        }

    def pending_buckets(self) -> list[int]:
        done = self.done_buckets()
        return [b for b in range(self.num_buckets) if b not in done]

    def _append_row(
        self,
        bucket: int,
        status: str,
        input_rows: int | None = None,
        kept: int | None = None,
        hist: dict | None = None,
        wall: float | None = None,
    ) -> None:
        row = (
            bucket,
            status,
            input_rows,
            kept,
            hist,
            wall,
            self.run_id,
            int(time.time()),
            self.params_sig,
            time.time_ns(),
        )
        self.catalog.append(
            driver_rows_df(self.spark, [row], MANIFEST_SCHEMA), MANIFEST_TABLE
        )

    def run(self, clips: DataFrame, transform, output_table: str) -> dict:
        """transform: DataFrame -> DataFrame with (keep, drop_reason).
        Returns summary counts. Restart-safe: completed buckets are
        skipped via the manifest. Single-writer: the whole run holds
        the output root's lease (io/stages.run_lease — the StageRunner
        guarantee extended to the bucket-grained job; without it two
        concurrent invocations would both pick up the same pending
        buckets and race their bucket=N overwrites)."""
        from .stages import run_lease

        with run_lease(self.catalog.root, self.run_id):
            return self._run_locked(clips, transform, output_table)

    def _run_locked(self, clips: DataFrame, transform, output_table: str) -> dict:
        pending = self.pending_buckets()
        summary = {"buckets_run": 0, "buckets_skipped": self.num_buckets - len(pending)}
        for b in pending:
            t0 = time.monotonic()
            # supersede any existing row BEFORE touching the output:
            # from here until the done row lands, latest-row = running
            # → any crash reruns the bucket. A bucket with no row has
            # nothing to supersede and stays rowless until done.
            if b in self._buckets_with_rows:
                self._append_row(b, "running")
            # bucket predicate prunes at the scan (partition/bucket
            # pruning when the table is bucket-partitioned on the key)
            part = clips.filter(bucket_of(F.col(self.key_col), self.num_buckets) == b)
            out = transform(part)
            self.catalog.write(out, f"{output_table}/bucket={b}", mode="overwrite")
            # metrics from the committed output (one extra cheap scan of
            # the just-written bucket, not the input)
            written = self.catalog.read(f"{output_table}/bucket={b}")
            hist_rows = written.groupBy("drop_reason").count().collect()
            hist = {r.drop_reason or "": r["count"] for r in hist_rows}
            input_rows = sum(hist.values())
            kept = hist.get("", 0)
            wall = time.monotonic() - t0
            self._append_row(b, "done", input_rows, kept, hist, round(wall, 3))
            summary["buckets_run"] += 1
        return summary
