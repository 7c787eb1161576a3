"""Traced run: per-layer time, work and waste, measured from outside.

The tracer wraps, at run time in this process only, the public functions
the engine imports (and the same names in ``perfbench.workloads``) and
the methods of ``SnapshotStore``, the sharded bloom filter and
``CrawlEngine.crawl``. Each call becomes a span (layer, start, end,
parent, run id). Timing lazy calls alone would charge all upstream work
to the next eager call, so every DataFrame a wrapped call returns is
materialized (persist + count) inside its span and released at the next
``commit_round``. Each span sets the Spark job group to its id, so the
event log's task metrics attribute to the span that launched the job.

A layer's self time is its spans' durations minus the time covered by
their child spans. Bookkeeping the tracer adds itself (input counts,
releases) runs in ``trace`` spans, which are children too, so it is
excluded from every layer's self time; it still shows in the traced
wall, which is reported against the untraced wall as the overhead.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import crawler_service_spark.engine as engine_mod
from crawler_service_spark.functions.urls import native_canon_eligible
from crawler_service_spark.operators.dedup import ShardedBloomFilter
from crawler_service_spark.sources.storage import SnapshotStore

from perfbench import workloads as workloads_mod

LAYERS = ["engine", "urls", "dedup", "politeness", "classify", "extract",
          "links", "sequence", "storage"]

# module-level names the engine (and the frontier workload) call, by layer
FUNCTION_LAYERS = {
    "canonicalize_frame": "urls",
    "host_frame": "urls",
    "first_occurrence": "dedup",
    "anti_join_seen": "dedup",
    "presalt": "politeness",
    "schedule_round": "politeness",
    "resolve_fetch_outcome": "classify",
    "extract_pages": "extract",
    "expand_links": "links",
    "filter_internal": "links",
    "filter_robots": "links",
    "assign_dense_seq": "sequence",
}
METHOD_LAYERS = [
    (engine_mod.CrawlEngine, ["crawl"], "engine"),
    (SnapshotStore, ["reset", "write_table", "read_table", "write_table_bucketed",
                     "read_table_bucketed", "commit_round", "pages_glob"], "storage"),
    (ShardedBloomFilter, ["fit", "update", "annotate"], "dedup"),
]

# per-layer metrics, in BENCHMARK.json order: (suffix, unit, better)
LAYER_METRICS = [
    ("self_s", "s", "lower"),
    ("calls", "count", "lower"),
    ("rows_out", "rows", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("gc_s", "s", "lower"),
    ("busy_frac", "ratio", "higher"),
]
# ratios and counts at layer boundaries: (name, unit, better)
RATIO_METRICS = [
    ("links.kept_frac", "ratio", "higher"),
    ("urls.native_frac", "ratio", "higher"),
    ("dedup.dup_frac", "ratio", "lower"),
    ("dedup.seen_frac", "ratio", "lower"),
    ("dedup.bloom_pass_frac", "ratio", "lower"),
    ("politeness.admit_frac", "ratio", "higher"),
    ("politeness.task_skew", "ratio", "lower"),
    ("storage.bytes_per_page", "B/page", "lower"),
    ("storage.files_written", "count", "lower"),
    ("sequence.jobs", "count", "lower"),
    ("engine.jobs_per_round", "jobs/round", "lower"),
    ("engine.rounds", "count", "lower"),
    ("trace.untraced_wall_s", "s", "lower"),
    ("trace.traced_wall_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]


def per_layer_names() -> list[tuple[str, str, str]]:
    return [(f"{layer}.{m}", unit, better)
            for layer in LAYERS for m, unit, better in LAYER_METRICS] + RATIO_METRICS


@dataclass
class Span:
    id: int
    layer: str
    fn: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    rows_out: int = 0
    counters: dict = field(default_factory=dict)


def _group(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._held: list[DataFrame] = []
        self._patches: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------- spans
    def _open(self, layer: str, fn: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), layer, fn, parent, self.run_id,
                    time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setLocalProperty("spark.jobGroup.id", _group(span.id))
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self.sc.setLocalProperty(
            "spark.jobGroup.id", _group(self._stack[-1].id) if self._stack else None)

    def _overhead(self, fn):
        span = self._open("trace", "bookkeeping")
        try:
            return fn()
        finally:
            self._close(span)

    def _materialize(self, span: Span, out):
        if isinstance(out, DataFrame):
            out = out.persist()
            n = out.count()
            span.rows_out += n
            span.counters.setdefault("parts", []).append(n)
            self._held.append(out)
            return out
        if isinstance(out, tuple):
            return tuple(self._materialize(span, o) for o in out)
        return out

    def release(self) -> None:
        held, self._held = self._held, []
        for df in held:
            df.unpersist(blocking=True)

    # ---------------------------------------------------------- hooks
    def _pre(self, fn: str, args) -> dict:
        """Input-side counts for the waste ratios (tracer bookkeeping)."""
        if fn == "canonicalize_frame":
            df, url_col = args[0], args[1]
            row = self._overhead(lambda: df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(native_canon_eligible(F.col(url_col)).cast("long")).alias("e"),
            ).collect()[0])
            return {"rows_in": int(row["n"]), "native": int(row["e"] or 0)}
        if fn in ("first_occurrence", "anti_join_seen", "schedule_round"):
            return {"rows_in": self._overhead(args[0].count)}
        return {}

    def _post(self, fn: str, span: Span, args, out) -> None:
        if fn in ("write_table", "write_table_bucketed"):
            files = [os.path.join(out, f) for f in os.listdir(out)
                     if f.endswith(".parquet")]
            span.counters["files"] = len(files)
            span.counters["bytes"] = sum(os.path.getsize(f) for f in files)
        elif fn == "annotate":
            span.counters["probed"] = span.rows_out
            span.counters["maybe"] = self._overhead(
                lambda: out.filter(F.col("_maybe_seen")).count())
        elif fn == "commit_round":
            self._overhead(self.release)

    def _wrap(self, layer: str, fn, name: str, method: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            data_args = args[1:] if method else args
            pre = tracer._pre(name, data_args)
            span = tracer._open(layer, name)
            try:
                out = tracer._materialize(span, fn(*args, **kwargs))
            finally:
                tracer._close(span)
            span.counters.update(pre)
            tracer._post(name, span, data_args, out)
            return out

        return wrapper

    # ------------------------------------------------------- install
    def install(self) -> None:
        for mod in (engine_mod, workloads_mod):
            for name, layer in FUNCTION_LAYERS.items():
                if hasattr(mod, name):
                    old = getattr(mod, name)
                    self._patch(mod, name, old, self._wrap(layer, old, name, False))
        for cls, methods, layer in METHOD_LAYERS:
            for name in methods:
                old = cls.__dict__[name]
                self._patch(cls, name, old, self._wrap(layer, old, name, True))

    def _patch(self, owner, name: str, old, new) -> None:
        self._patches.append((owner, name, old))
        setattr(owner, name, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, name, old = self._patches.pop()
            setattr(owner, name, old)

    def traced(self, fn):
        """Run ``fn`` under a root span with every layer wrapped."""
        self.install()
        root = self._open("run", "workload")
        try:
            return fn()
        finally:
            self._close(root)
            self.uninstall()

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs, tasks, task time, shuffle write, disk spill
    and GC time; per stage: its group and task durations."""
    files = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith(("appstatus", ".")) or n.endswith(".crc"):
                continue
            files.append(os.path.join(dirpath, n))

    def order(p):
        base = os.path.basename(p)
        parts = base.split("_")
        return (int(parts[1]) if base.startswith("events_") else 0, base)

    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}

    def g(name):
        return groups.setdefault(name, {"jobs": 0, "tasks": 0, "task_s": 0.0,
                                        "shuffle_write_b": 0, "spill_b": 0,
                                        "gc_s": 0.0})

    for path in sorted(files, key=order):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    g(grp)["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, grp)
                elif kind == "SparkListenerStageSubmitted":
                    grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[e["Stage Info"]["Stage ID"]] = grp
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    info = e["Task Info"]
                    tm = e.get("Task Metrics") or {}
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1000
                    s = g(stage_group.get(sid))
                    s["tasks"] += 1
                    s["task_s"] += dur
                    s["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                    s["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                    s["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    stage_tasks.setdefault(sid, []).append(dur)
    return {"groups": groups, "stage_group": stage_group, "stage_tasks": stage_tasks}


# --------------------------------------------------------------- metrics
def layer_metrics(tracer: Tracer, log: dict, cores: int, units: int,
                  untraced_wall_s: float, traced_wall_s: float) -> dict:
    spans = tracer.spans
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.end - s.start)
    groups = log["groups"]
    zero = {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_write_b": 0,
            "spill_b": 0, "gc_s": 0.0}
    acc = {layer: {"self_s": 0.0, "calls": 0, "rows_out": 0, **zero}
           for layer in LAYERS}
    for s in spans:
        if s.layer not in acc:
            continue
        a = acc[s.layer]
        a["self_s"] += (s.end - s.start) - child_s.get(s.id, 0.0)
        a["calls"] += 1
        a["rows_out"] += s.rows_out
        for k, v in groups.get(_group(s.id), zero).items():
            a[k] += v

    out: dict[str, float] = {}
    for layer in LAYERS:
        a = acc[layer]
        out[f"{layer}.self_s"] = a["self_s"]
        out[f"{layer}.calls"] = a["calls"]
        out[f"{layer}.rows_out"] = a["rows_out"]
        out[f"{layer}.tasks"] = a["tasks"]
        out[f"{layer}.shuffle_write_mb"] = a["shuffle_write_b"] / 2**20
        out[f"{layer}.spill_mb"] = a["spill_b"] / 2**20
        out[f"{layer}.gc_s"] = a["gc_s"]
        out[f"{layer}.busy_frac"] = (
            a["task_s"] / (a["self_s"] * cores) if a["self_s"] > 0 else 0.0)

    def calls(fn):
        return [s for s in spans if s.fn == fn]

    def total(fn, key=None):
        return sum((s.counters.get(key, 0) if key else s.rows_out) for s in calls(fn))

    def frac(num, den):
        return num / den if den else 0.0

    kept_fn = "filter_robots" if calls("filter_robots") else "filter_internal"
    out["links.kept_frac"] = frac(total(kept_fn), total("expand_links"))
    out["urls.native_frac"] = frac(total("canonicalize_frame", "native"),
                                   total("canonicalize_frame", "rows_in"))
    out["dedup.dup_frac"] = 1 - frac(total("first_occurrence"),
                                     total("first_occurrence", "rows_in")) \
        if calls("first_occurrence") else 0.0
    out["dedup.seen_frac"] = 1 - frac(total("anti_join_seen"),
                                      total("anti_join_seen", "rows_in")) \
        if calls("anti_join_seen") else 0.0
    out["dedup.bloom_pass_frac"] = frac(total("annotate", "maybe"),
                                        total("annotate", "probed"))
    admitted = sum(s.counters.get("parts", [0])[0] for s in calls("schedule_round"))
    out["politeness.admit_frac"] = frac(admitted, total("schedule_round", "rows_in"))
    out["politeness.task_skew"] = _rank_skew(spans, log)
    writes = calls("write_table") + calls("write_table_bucketed")
    out["storage.bytes_per_page"] = frac(
        sum(s.counters.get("bytes", 0) for s in writes), units)
    out["storage.files_written"] = sum(s.counters.get("files", 0) for s in writes)
    out["sequence.jobs"] = sum(groups.get(_group(s.id), zero)["jobs"]
                               for s in spans if s.layer == "sequence")
    rounds = len(calls("commit_round"))
    run_jobs = sum(groups.get(_group(s.id), zero)["jobs"] for s in spans)
    out["engine.jobs_per_round"] = frac(run_jobs, rounds)
    out["engine.rounds"] = rounds
    out["trace.untraced_wall_s"] = untraced_wall_s
    out["trace.traced_wall_s"] = traced_wall_s
    out["trace.overhead_frac"] = frac(traced_wall_s, untraced_wall_s) - 1
    return out


def _rank_skew(spans: list[Span], log: dict) -> float:
    """Max over median task time in the politeness layer's heaviest
    stage (the rank)."""
    mine = {_group(s.id) for s in spans if s.layer == "politeness"}
    stages = [sid for sid, grp in log["stage_group"].items()
              if grp in mine and log["stage_tasks"].get(sid)]
    if not stages:
        return 0.0
    heavy = max(stages, key=lambda sid: sum(log["stage_tasks"][sid]))
    durs = log["stage_tasks"][heavy]
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 0.0
