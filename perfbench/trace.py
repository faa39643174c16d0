"""Per-layer measurement for the traced run.

Three sources, all outside the program:

- Spans recorded in this process around calls into each layer's public
  functions (the isolated-layer runs, the in-process replays, and the
  ManifestedRun / Catalog / StageRunner / run_dedup calls, which are
  wrapped for the duration of one traced pass).
- Spark's event log, switched on by session conf in the traced run
  only: plan-node metrics (ArrowEvalPython, Exchange, Scan) and task
  metrics, attributed to a pass by its job description tag.
- Replay of the fused stage's Arrow batches through the public row
  kernels and UDF functions, in this process.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from pathlib import Path

# every per-layer metric the traced run prints, with its unit; a layer
# the workload does not drive reads 0
PER_LAYER = {
    "decode.ms_per_clip": "ms",
    "decode.ms_per_clip.wav": "ms",
    "decode.ms_per_clip.flac": "ms",
    "decode.ms_per_clip.pcm_s16le": "ms",
    "decode.err_rows": "count",
    "fused.udf_s": "s",
    "fused.python_run_s": "s",
    "fused.bytes_to_python": "bytes",
    "fused.bytes_from_python": "bytes",
    # the fused UDF's replay time minus its decode, langid and ppl
    # replays; reads negative when the standalone UDF functions cost
    # more than the same kernels inside the fused row
    "fused.marshal_ms_per_batch": "ms",
    "langid.cascade_s": "s",
    "langid.model_ms_per_row": "ms",
    "langid.model_residual_frac": "fraction",
    "perplexity.ms_per_row": "ms",
    "perplexity.rows": "count",
    "textnorm.strip_markup_s": "s",
    "rules.classify_s": "s",
    "scrub.s": "s",
    "tokens.quality_score_s": "s",
    "pipeline.python_nodes": "count",
    "pipeline.exchanges": "count",
    "pipeline.codegen_fallbacks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "scan.s": "s",
    "scan.bytes": "bytes",
    "manifest.bucket_s": "s",
    "manifest.append_s": "s",
    "manifest.done_buckets_s": "s",
    "manifest.scan_amplification": "ratio",
    "manifest.resume_s": "s",
    "catalog.write_s": "s",
    "stages.commit_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_pairs_s": "s",
    "components.s": "s",
    "bucketing.capped_members": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.fetch_wait_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}


class Tracer:
    """In-memory spans: name, start, end and the enclosing span. Spans of
    one pass share the pass's top-level span as their root."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "root": self.spans[self._stack[0]]["id"] if self._stack else len(self.spans),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def wrapped(self, targets):
        """Wrap `(owner, attribute, span_name)` callables so every call is
        a span; restores the originals on exit."""
        saved = []
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            had_own = attr in vars(owner)

            def make(orig=orig, name=name):
                def call(*a, **k):
                    with self.span(name, arg=_arg_label(a)):
                        return orig(*a, **k)

                return call

            setattr(owner, attr, make())
            saved.append((owner, attr, orig, had_own))
        try:
            yield
        finally:
            for owner, attr, orig, had_own in reversed(saved):
                if had_own:
                    setattr(owner, attr, orig)
                else:
                    delattr(owner, attr)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.of(name))

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, default=str))


def _arg_label(args) -> str | None:
    for a in args:
        if isinstance(a, str):
            return a
    return None


# --- Spark event log -------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def _walk(node):
    yield node
    for c in node["children"]:
        yield from _walk(c)


class EventLog:
    """Plan-node and task metrics per job-description tag."""

    def __init__(self, log_dir: Path):
        files = [p for p in log_dir.iterdir() if p.is_file()]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        desc: dict[int, str] = {}
        plan: dict[int, dict] = {}
        sql_accs: set[int] = set()
        stage_exec: dict[int, int] = {}
        self.node_vals: dict[int, int] = defaultdict(int)
        task_sums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        with open(files[0]) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                    ex = e["executionId"]
                    if "description" in e:
                        desc[ex] = e["description"]
                    plan[ex] = e["sparkPlanInfo"]
                    for n in _walk(e["sparkPlanInfo"]):
                        sql_accs.update(m["accumulatorId"] for m in n["metrics"])
                elif kind == "SparkListenerJobStart":
                    ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
                    if ex is not None:
                        for s in e["Stage IDs"]:
                            stage_exec[s] = int(ex)
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc, v in e["accumUpdates"]:
                        self.node_vals[acc] += int(v)
                elif kind == "SparkListenerTaskEnd":
                    ex = stage_exec.get(e["Stage ID"])
                    if ex is None:
                        continue
                    for a in e["Task Info"].get("Accumulables", []):
                        if a.get("Metadata") == "sql" and a["ID"] in sql_accs and "Update" in a:
                            self.node_vals[a["ID"]] += int(a["Update"])
                    tm = e.get("Task Metrics") or {}
                    t = task_sums[ex]
                    t["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    t["gc_ms"] += tm.get("JVM GC Time", 0)
                    t["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    t["fetch_wait_ms"] += tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
        self.desc, self.plan, self.task_sums = desc, plan, task_sums

    def executions(self, tag: str) -> list[int]:
        return [ex for ex, d in self.desc.items() if d == tag]

    def nodes(self, tag: str):
        for ex in self.executions(tag):
            yield from _walk(self.plan[ex])

    def count_nodes(self, tag: str, pred) -> int:
        return sum(1 for n in self.nodes(tag) if pred(n["nodeName"]))

    def metric(self, tag: str, node_pred, name: str, location: str | None = None) -> int:
        """Sum of one node metric over the tagged executions' final plans;
        `location` keeps only scans whose file location contains it."""
        accs = {
            m["accumulatorId"]
            for n in self.nodes(tag)
            if node_pred(n["nodeName"]) and (location is None or location in n.get("metadata", {}).get("Location", ""))
            for m in n["metrics"]
            if m["name"] == name
        }
        return sum(self.node_vals.get(a, 0) for a in accs)

    def tasks(self, tag: str, key: str) -> float:
        return sum(self.task_sums[ex][key] for ex in self.executions(tag))


def is_python_node(name: str) -> bool:
    return name.endswith("EvalPython") or "InPandas" in name or "InArrow" in name


def is_exchange(name: str) -> bool:
    return "Exchange" in name


def is_scan(name: str) -> bool:
    return name.startswith("Scan")


def plan_metrics(log: EventLog, tag: str, input_name: str) -> dict:
    """Per-layer metrics of the pass tagged `tag` from the event log;
    scan metrics count only scans of the input table `input_name`.
    Spark timing metrics are in ms."""
    return {
        "pipeline.python_nodes": log.count_nodes(tag, is_python_node),
        "pipeline.exchanges": log.count_nodes(tag, is_exchange),
        "spark.executor_cpu_s": log.tasks(tag, "cpu_ns") / 1e9,
        "spark.gc_s": log.tasks(tag, "gc_ms") / 1e3,
        "spark.shuffle_write_bytes": log.tasks(tag, "shuffle_write_bytes"),
        "spark.fetch_wait_s": log.tasks(tag, "fetch_wait_ms") / 1e3,
        "fused.python_run_s": log.metric(tag, is_python_node, "time to run Python workers") / 1e3,
        "fused.bytes_to_python": log.metric(tag, is_python_node, "data sent to Python workers"),
        "fused.bytes_from_python": log.metric(tag, is_python_node, "data returned from Python workers"),
        "scan.s": log.metric(tag, is_scan, "scan time", input_name) / 1e3,
        "scan.bytes": log.metric(tag, is_scan, "size of files read", input_name),
    }
