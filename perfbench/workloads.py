"""The benchmark workloads: set-up, one timed pass, output checks, and
the traced pass with its per-layer metrics.

Closed loop: one driver process, one job at a time; the next pass starts
when the previous one has returned.
"""

from __future__ import annotations

import itertools
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

import inputs
import trace
from proc import RssSampler, stop_spark

# rows checked against oracle.oracle_decide per clips table
ORACLE_SAMPLE = 200
# jobs: buckets of the manifested run; the first invocation raises in
# the transform of bucket CRASH_AFTER
RESUME_BUCKETS = 2
CRASH_AFTER = 1
# repeats of each isolated-layer run in the traced pass (median kept)
LAYER_REPEATS = 3


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # clips | jobs
    tables: tuple  # ((role, input kind, rows, smoke rows), ...)
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "mixed", "clips", (("clips", "mixed", 1600, 48),),
            "bench.py clips distribution (~100 KB audio, 20% flac, ~420-char transcripts): "
            "decode, binary transfer into the fused UDF and lang_cascade dominate",
        ),
        Workload(
            "text_jobs", "jobs", (("clips", "text_heavy", 96, 48), ("docs", "docs", 500, 120)),
            "ManifestedRun crash+resume over text-heavy clips (tiny pcm, 1.5-5 KB Latin-diacritic/"
            "Cyrillic transcripts), then run_dedup over planted dups: text layers, writes, shuffles",
        ),
    )
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


# --- clips workload (mixed) -----------------------------------------------------


class Clips:
    """run_pipeline over the clips table into the noop sink."""

    # passes a timed run makes at least, however long they take
    min_passes = 2

    def __init__(self, spark, inps: dict, work: Path, seed: int):
        self.spark, self.inps, self.work, self.seed = spark, inps, work, seed
        self.inp = inps["clips"]

    def open(self):
        self.clips = self.spark.read.parquet(self.inp["path"])
        self.rows = self.clips.count()

    def warm_up(self):
        """Two full passes: the JVM, the Python workers and their models
        warm up, and most of the JIT ramp is over before timing."""
        self.one_pass()
        self.one_pass()

    def one_pass(self) -> dict:
        from go_pkg_spider_spark import pipeline

        t0 = time.perf_counter()
        _noop(pipeline.run_pipeline(self.clips))
        return {"wall": time.perf_counter() - t0}

    def check(self) -> dict:
        from go_pkg_spider_spark import pipeline

        res = sample_check(self.clips, self.inp, self.seed)
        n_out = pipeline.run_pipeline(self.clips).count()
        if n_out != self.rows:
            res["failures"].append(f"rows in {self.rows} != rows out {n_out}")
        self.check_plan(res)
        return res

    def check_plan(self, res: dict) -> None:
        """The per-clip path is one narrow stage with one Python node."""
        from go_pkg_spider_spark import pipeline

        pipeline.run_pipeline(self.clips).createOrReplaceTempView("perfbench_out")
        plan = self.spark.sql("EXPLAIN SELECT * FROM perfbench_out").collect()[0][0]
        shape = {"python_nodes": plan.count("ArrowEvalPython"), "exchanges": plan.count("Exchange")}
        res["plan_shape"] = shape
        if shape != {"python_nodes": 1, "exchanges": 0}:
            res["failures"].append(f"plan shape {shape}")

    def traced_pass(self, tracer) -> dict:
        with tracer.span("pass"):
            return self.one_pass()

    def layer_metrics(self, tracer) -> dict:
        return clip_layers(self.spark, self.clips, self.work, tracer)


def sample_check(clips, inp: dict, seed: int, rows=None) -> dict:
    """A seeded sample of rows against oracle.oracle_decide on the same
    input. `rows`: output rows to look the sample up in; by default the
    pipeline runs on the sampled rows only."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from go_pkg_spider_spark import pipeline
    from go_pkg_spider_spark.oracle import oracle_decide

    table = pq.read_table(inp["path"])
    k = min(ORACLE_SAMPLE, table.num_rows)
    idx = np.sort(np.random.default_rng([seed, 5]).choice(table.num_rows, size=k, replace=False))
    sample = table.take(idx).to_pylist()
    if rows is None:
        ids = [r["clip_id"] for r in sample]
        rows = pipeline.run_pipeline(clips.filter(F.col("clip_id").isin(ids))).collect()
    by_id = {r["clip_id"]: r for r in rows}
    fields = ("keep", "drop_reason", "lang", "scrubbed_transcript")
    mismatches = []
    for r in sample:
        want = oracle_decide(r["bytes"], r["codec"], r["sr_hz"], r["transcript"])
        got = by_id.get(r["clip_id"])
        if got is None or any(getattr(want, f) != got[f] for f in fields):
            mismatches.append(r["clip_id"])
    return {"mismatches": len(mismatches), "mismatch_ids": mismatches[:10], "sampled": k, "failures": []}


def clip_layers(spark, clips, work: Path, tracer) -> dict:
    """Isolated-layer runs (each public column function alone into the
    noop sink) and the in-process replay of the fused stage."""
    from pyspark.sql import functions as F

    from go_pkg_spider_spark import pipeline
    from go_pkg_spider_spark.functions import charset as cs
    from go_pkg_spider_spark.functions import langid, rules, scrub, textnorm, tokens
    from go_pkg_spider_spark.operators import fused

    t = F.col("transcript")
    # text-only table with each row's cascade language, so the layers
    # below read no audio and classify sees a real lang column
    text_path = str(work / "layers" / "text.parquet")
    clips.select(
        "transcript",
        langid.lang_cascade(t, charset=cs.charset_of(F.col("codec"), t.isNotNull())["charset"])["lang"].alias("lang"),
    ).write.mode("overwrite").parquet(text_path)
    text = spark.read.parquet(text_path)

    isolated = {
        "textnorm.strip_markup_s": lambda: text.select(textnorm.strip_markup(t)),
        "langid.cascade_s": lambda: text.select(langid.lang_cascade(t, charset=F.lit("UTF-8"))),
        "rules.classify_s": lambda: text.select(rules.classify_title(F.trim(t), F.col("lang"))),
        "scrub.s": lambda: text.select(scrub.scrub(t)),
        "tokens.quality_score_s": lambda: tokens.with_quality_score(text.select("transcript"), "transcript").select(
            "quality_score"
        ),
    }

    # the fused stage's inputs, built as run_pipeline builds them
    fused_cols = ("bytes", "codec", "sr_hz", "model_text", "marker", "ppl_text")
    fused_path = str(work / "layers" / "fused_in.parquet")
    tt = F.coalesce(t, F.lit(""))
    pre = (
        pipeline.with_charset(clips)
        .withColumn("content_text", textnorm.strip_markup(t))
        .withColumn("lang", langid.lang_cascade(F.col("content_text"), charset=F.col("charset_res")["charset"])["lang"])
    )
    needs = F.col("lang").isin(langid.NEEDS_MODEL_LATIN, langid.NEEDS_MODEL_OTHER)
    pre.select(
        "bytes",
        "codec",
        "sr_hz",
        F.when(needs, langid.clean_for_lang(F.col("content_text"), langid.BODY_CHUNK_SIZE)).alias("model_text"),
        F.when(needs, F.col("lang")).alias("marker"),
        F.when(pipeline._lang_independent_drop(tt, 64, 1_000_000).isNull(), tt).alias("ppl_text"),  # noqa: SLF001
    ).write.mode("overwrite").parquet(fused_path)
    fin = spark.read.parquet(fused_path)
    isolated["fused.udf_s"] = lambda: fin.select(fused.fused_model_expr(*[F.col(c) for c in fused_cols]))

    out = {}
    for name, build in isolated.items():
        walls = []
        for _ in range(LAYER_REPEATS):
            with tracer.span(f"layer:{name}") as s:
                _noop(build())
            walls.append(_dur(s))
        out[name] = _median(walls)
    out.update(replay_fused(fused_path, fused_cols, tracer))
    return out


def replay_fused(fused_path: str, fused_cols, tracer) -> dict:
    """Replay the fused stage's Arrow batches in this process: decode
    (decode_blob + the row's feature pass, as the fused row runs them),
    the langid and perplexity UDF functions on their masked rows, and
    the fused UDF function itself; marshalling is the fused time the
    phases do not account for."""
    import pyarrow.parquet as pq

    from go_pkg_spider_spark.functions import langid, perplexity
    from go_pkg_spider_spark.operators import decode, fused
    from go_pkg_spider_spark.session import ARROW_MAX_RECORDS_PER_BATCH

    table = pq.read_table(fused_path)
    batches = table.to_batches(max_chunksize=ARROW_MAX_RECORDS_PER_BATCH)
    per_codec: dict[str, list[float]] = {}
    t_model = t_ppl = t_fused = 0.0
    n_model = n_ppl = err_rows = 0
    clock = time.perf_counter
    # the models are built on first use; the workers' are warm
    fused.fused_model_arrow_udf.func(*[batches[0].column(c).slice(0, 8) for c in fused_cols])
    with tracer.span("replay"):
        for b in batches:
            blobs, codecs, srs = (b.column(c).to_pylist() for c in ("bytes", "codec", "sr_hz"))
            with tracer.span("replay.decode"):
                for blob, codec, sr in zip(blobs, codecs, srs):
                    t0 = clock()
                    pcm, rate, err = decode.decode_blob(blob, codec, sr)
                    if pcm is not None:
                        decode._features(pcm, rate)  # noqa: SLF001 — the fused row's decode phase
                    per_codec.setdefault(str(codec), []).append(clock() - t0)
                    err_rows += err is not None
            mt, mk, pt = (b.column(c).to_pandas() for c in ("model_text", "marker", "ppl_text"))
            m, p = mt.notna(), pt.notna()
            if m.any():
                with tracer.span("replay.langid") as s:
                    langid.ngram_langid_udf.func(mt[m], mk[m])
                t_model += _dur(s)
                n_model += int(m.sum())
            if p.any():
                with tracer.span("replay.ppl") as s:
                    perplexity.ppl_udf.func(pt[p])
                t_ppl += _dur(s)
                n_ppl += int(p.sum())
            with tracer.span("replay.fused") as s:
                fused.fused_model_arrow_udf.func(*[b.column(c) for c in fused_cols])
            t_fused += _dur(s)
    t_decode = sum(sum(v) for v in per_codec.values())
    n = table.num_rows
    out = {
        "decode.ms_per_clip": 1e3 * t_decode / max(n, 1),
        "decode.err_rows": err_rows,
        "langid.model_ms_per_row": 1e3 * t_model / max(n_model, 1),
        "langid.model_residual_frac": n_model / max(n, 1),
        "perplexity.ms_per_row": 1e3 * t_ppl / max(n_ppl, 1),
        "perplexity.rows": n_ppl,
        "fused.marshal_ms_per_batch": 1e3 * (t_fused - t_decode - t_model - t_ppl) / max(len(batches), 1),
    }
    for codec in ("wav", "flac", "pcm_s16le"):
        ts = per_codec.get(codec, [])
        out[f"decode.ms_per_clip.{codec}"] = 1e3 * sum(ts) / len(ts) if ts else 0.0
    return out


# --- jobs: ManifestedRun crash + resume, then run_dedup ------------------------


class SimulatedCrash(RuntimeError):
    """Raised by the first invocation's transform to stop it mid-run."""


class Jobs(Clips):
    """Per pass, on fresh Catalog roots: a ManifestedRun whose first
    invocation crashes in bucket CRASH_AFTER and whose second resumes,
    then the run_dedup chain over the documents table."""

    min_passes = 1

    def __init__(self, spark, inps: dict, work: Path, seed: int):
        super().__init__(spark, inps, work, seed)
        self.roots = itertools.count()
        self.expected = inps["docs"]["props"]["expected_decisions"]

    def _root(self) -> str:
        d = self.work / "roots" / f"root-{next(self.roots)}"
        shutil.rmtree(d, ignore_errors=True)
        d.parent.mkdir(parents=True, exist_ok=True)
        return str(d)

    def open(self):
        super().open()
        sys.path.insert(0, str(Path(inputs.__file__).resolve().parent.parent / "jobs"))
        import run_dedup

        self.run_dedup = run_dedup.run_dedup
        self.docs = self.spark.read.parquet(self.inps["docs"]["path"])
        self.n_docs = self.docs.count()
        self.rows += self.n_docs

    def _invoke(self, root: str, run_id: str, transform) -> dict:
        from go_pkg_spider_spark.functions.scrub import bank_fingerprint
        from go_pkg_spider_spark.io.catalog import Catalog
        from go_pkg_spider_spark.io.manifest import ManifestedRun

        run = ManifestedRun(
            self.spark,
            Catalog(self.spark, root),
            RESUME_BUCKETS,
            run_id,
            params={"min_chars": 64, "repartition": 0, "scrub_bank": bank_fingerprint()},
        )
        return run.run(self.clips, transform, "decisions")

    def warm_up(self):
        """One whole pass. (Warming on small inputs costs about as much:
        the cold cost is JIT and code generation, not rows.)"""
        self.one_pass()

    def one_pass(self) -> dict:
        from go_pkg_spider_spark import pipeline

        resume_root, dedup_root = self._root(), self._root()
        calls = itertools.count()

        def crashing(df):
            if next(calls) >= CRASH_AFTER:
                raise SimulatedCrash(f"bucket {CRASH_AFTER}")
            return pipeline.run_pipeline(df)

        t0 = time.perf_counter()
        try:
            self._invoke(resume_root, "first", crashing)
        except SimulatedCrash:
            pass
        else:
            raise RuntimeError("first invocation did not reach the injected crash")
        t1 = time.perf_counter()
        resumed = self._invoke(resume_root, "resume", pipeline.run_pipeline)
        t2 = time.perf_counter()
        dedup = self.run_dedup(self.spark, self.docs, dedup_root, run_id="bench")
        t3 = time.perf_counter()
        want = {"buckets_run": RESUME_BUCKETS - CRASH_AFTER, "buckets_skipped": CRASH_AFTER}
        if resumed != want:
            raise RuntimeError(f"resume summary {resumed} != {want}")
        if dedup["stages_run"] != 4:
            raise RuntimeError(f"dedup ran {dedup['stages_run']} stages, expected 4")
        self.last = {"resume_root": resume_root, "dedup_root": dedup_root, "dedup": dedup}
        return {"wall": t3 - t0, "resume_s": t2 - t1}

    def check(self) -> dict:
        """Resume: a third invocation runs no bucket, and the union of the
        bucket outputs equals a single-pass run_pipeline, which is also
        checked against the oracle. Dedup: every row's
        decision equals the generator's planted truth (ids below n_keep
        are bases, then one-word edits, then exact copies), and so does
        the job's decision histogram."""
        from go_pkg_spider_spark import pipeline
        from go_pkg_spider_spark.io.catalog import Catalog

        reference = pipeline.run_pipeline(self.clips).collect()
        res = sample_check(self.clips, self.inp, self.seed, rows=reference)
        if len(reference) != self.rows - self.n_docs:
            res["failures"].append(f"rows in {self.rows - self.n_docs} != rows out {len(reference)}")
        self.check_plan(res)
        third = self._invoke(self.last["resume_root"], "again", pipeline.run_pipeline)
        if third.get("buckets_run") != 0:
            res["failures"].append(f"third invocation ran buckets: {third}")
        union = Catalog(self.spark, self.last["resume_root"]).read("decisions").drop("bucket").collect()
        cols = pipeline.OUTPUT_COLUMNS
        if sorted(tuple(r[c] for c in cols) for r in union) != sorted(tuple(r[c] for c in cols) for r in reference):
            res["failures"].append("bucket outputs differ from a single-pass run_pipeline")

        dec = Catalog(self.spark, self.last["dedup_root"]).read("decisions").select("doc_id", "decision").collect()
        n_keep, n_near = self.expected["keep"], self.expected["drop_near_dup"]

        def planted(doc_id: str) -> str:
            i = int(doc_id.split("-")[1])
            return "keep" if i < n_keep else "drop_near_dup" if i < n_keep + n_near else "drop_exact_dup"

        wrong = [r.doc_id for r in dec if r.decision != planted(r.doc_id)]
        if len(dec) != self.n_docs or len({r.doc_id for r in dec}) != self.n_docs:
            res["failures"].append(f"docs in {self.n_docs} != decisions out {len(dec)}")
        hist = self.last["dedup"]["decision_histogram"]
        if hist != self.expected:
            res["failures"].append(f"decision histogram {hist} != planted {self.expected}")
        res["mismatches"] += len(wrong)
        res["mismatch_ids"] += wrong[:10]
        res["sampled"] += len(dec)
        return res

    def traced_pass(self, tracer) -> dict:
        from go_pkg_spider_spark.io.catalog import Catalog
        from go_pkg_spider_spark.io.manifest import ManifestedRun
        from go_pkg_spider_spark.io.stages import StageRunner
        from go_pkg_spider_spark.operators import components

        targets = [
            (Catalog, "write", "catalog.write"),
            (Catalog, "append", "catalog.append"),
            (ManifestedRun, "done_buckets", "manifest.done_buckets"),
            (ManifestedRun, "run", "manifest.run"),
            (StageRunner, "commit", "stages.commit"),
            (components, "connected_components", "components.connected_components"),
        ]
        with tracer.wrapped(targets), tracer.span("pass"):
            return self.one_pass()

    def layer_metrics(self, tracer) -> dict:
        from go_pkg_spider_spark.io.manifest import MANIFEST_TABLE

        out = super().layer_metrics(tracer)

        appends = [s for s in tracer.of("catalog.append") if s["arg"] == MANIFEST_TABLE]
        # appends alternate running/done per bucket; the crashed bucket's
        # running row has no partner
        buckets = [appends[i + 1]["end"] - appends[i]["start"] for i in range(0, len(appends) - 1, 2)]
        runs = tracer.of("manifest.run")
        commits = {s["arg"]: s for s in tracer.of("stages.commit")}
        # a commit's own time: all but the write of its stage table,
        # where the stage's plan runs
        commit_self = sum(
            _dur(s) - sum(_dur(c) for c in tracer.spans if c["parent"] == s["id"] and c["arg"] == s["arg"])
            for s in commits.values()
        )
        pairs_metrics = self.last["dedup"]["metrics"].get("pairs", {})
        return out | {
            "manifest.bucket_s": _median(buckets),
            "manifest.append_s": sum(_dur(s) for s in appends),
            "manifest.done_buckets_s": tracer.total("manifest.done_buckets"),
            "manifest.resume_s": _dur(runs[-1]),
            "catalog.write_s": sum(_dur(s) for s in tracer.of("catalog.write") if s["arg"].startswith("decisions/")),
            "stages.commit_s": commit_self,
            "dedup.exact_s": _dur(commits["exact"]),
            "dedup.minhash_pairs_s": _dur(commits["pairs"]),
            "components.s": tracer.total("components.connected_components") + _dur(commits["components"]),
            "bucketing.capped_members": int(pairs_metrics.get("dropped_members", 0)),
        }


KINDS = {"clips": Clips, "jobs": Jobs}


# --- one run: set-up, timed or traced passes, checks ----------------------------


def session(mach: dict, work: Path, app: str, event_log: Path | None):
    from go_pkg_spider_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the whole heap resident from the start, so the sampled RSS does
        # not depend on when the collector grows it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{mach['heap']} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        conf.update(trace.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = event_log.as_uri()
    return get_spark(app_name=app, master=f"local[{mach['nproc']}]", extra_conf=conf)


def run(args, mach: dict, work: Path) -> dict:
    wl = WORKLOADS[args.workload]
    info: dict = {"nproc": mach["nproc"], "heap": mach["heap"], "inputs": {}}
    if wl.kind == "jobs":
        info["resume"] = {"buckets": RESUME_BUCKETS, "crash_in_bucket": CRASH_AFTER}
    failures: list[str] = []
    inps = {}
    for role, kind, rows, smoke_rows in wl.tables:
        n = smoke_rows if args.smoke else rows
        inps[role] = inputs.prepare(kind, args.seed, n, work / "inputs", mach["nproc"])
        info["inputs"][role] = {k: inps[role][k] for k in ("sha256", "gen_s", "reused", "props")}
        if args.smoke and inputs.sha256(inputs.generate(kind, args.seed, n, mach["nproc"])[0]) != inps[role]["sha256"]:
            failures.append(f"seed {args.seed} gave two different {kind} tables")

    event_log = None
    if args.trace:
        event_log = work / "eventlog" / wl.name
        shutil.rmtree(event_log, ignore_errors=True)
        event_log.mkdir(parents=True)
    t0 = time.perf_counter()
    spark = session(mach, work, f"perfbench-{wl.name}", event_log)
    try:
        t_session = time.perf_counter() - t0
        w = KINDS[wl.kind](spark, inps, work, args.seed)
        w.open()
        w.warm_up()
        setup_s = time.perf_counter() - t0
        info["setup_parts_s"] = {"session": round(t_session, 3), "total": round(setup_s, 3)}
        if args.trace:
            result = traced(w, wl, spark, args, work)
        else:
            result = timed(w, args, setup_s, info)
        chk = w.check()
    finally:
        stop_spark(spark)
    if args.trace:
        result["metrics"] = traced_from_log(result.pop("pending"), event_log, inps)

    failures += chk.pop("failures")
    info["check"] = chk
    info["failures"] = failures
    result["report"] = {
        "output_mismatches": (chk["mismatches"], "count"),
        "failed_frac": (result["failed"] / result["attempted"], "fraction"),
        **result.get("report", {}),
    }
    result["correct"] = chk["mismatches"] == 0 and not failures and result["failed"] == 0
    result["info"] = info
    return result


def timed(w, args, setup_s: float, info: dict) -> dict:
    walls, resume, errors = [], [], []
    attempted = failed = 0
    t_end = time.monotonic() + args.seconds
    min_passes = 1 if args.smoke else w.min_passes
    with RssSampler() as rss:
        while attempted < min_passes or time.monotonic() < t_end:
            attempted += 1
            try:
                extra = w.one_pass()
            except Exception as e:  # noqa: BLE001 — a failed pass is counted, the loop goes on
                failed += 1
                errors.append(f"{type(e).__name__}: {e}"[:300])
                continue
            walls.append(extra["wall"])
            if "resume_s" in extra:
                resume.append(extra["resume_s"])
    info["pass_walls_s"] = [round(x, 4) for x in walls]
    if errors:
        info["pass_errors"] = errors
    if not walls:
        raise RuntimeError(f"every pass failed: {errors}")
    metrics = {
        "rows_per_s": (w.rows / _median(walls), "rows/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    report = {"resume_s": (_median(resume), "s")} if resume else {}
    return {"metrics": metrics, "report": report, "attempted": attempted, "failed": failed}


def traced(w, wl, spark, args, work: Path) -> dict:
    """One untraced pass, then the traced pass (spans around the layer
    calls); the event log records both, so the overhead is that of the
    spans and wrappers."""
    untraced_wall = w.one_pass()["wall"]
    tracer = trace.Tracer()
    spark.sparkContext.setJobDescription("main")
    traced_wall = w.traced_pass(tracer)["wall"]
    spark.sparkContext.setJobDescription(None)
    metrics = dict.fromkeys(trace.PER_LAYER, 0)
    metrics.update(w.layer_metrics(tracer))
    metrics.update(
        {
            "trace.untraced_wall_s": untraced_wall,
            "trace.traced_wall_s": traced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
        }
    )
    (work / "traces").mkdir(exist_ok=True)
    tracer.dump(work / "traces" / f"{wl.name}-s{args.seed}.json")
    return {"pending": metrics, "attempted": 1, "failed": 0}


def traced_from_log(metrics: dict, event_log: Path, inps: dict) -> dict:
    """Add the event-log metrics of the traced pass (read after the
    session stopped and flushed the log)."""
    log = trace.EventLog(event_log)
    clips_path = Path(inps["clips"]["path"])
    metrics.update(trace.plan_metrics(log, "main", clips_path.name))
    if "docs" in inps:
        # each bucket of the manifested run rescans the whole clips table
        size = sum(f.stat().st_size for f in clips_path.iterdir())
        metrics["manifest.scan_amplification"] = metrics["scan.bytes"] / size
    return {k: (v, trace.PER_LAYER[k]) for k, v in metrics.items()}
