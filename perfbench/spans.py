"""Traced-run support: spans around calls into the engine's layers,
Spark job attribution through job groups, and the per-layer metrics.

A span is recorded around each wrapped call: layer, function, start,
end, parent span and the op it belongs to. While a span is open its id
is the thread's Spark job group, so every Spark job the call triggers
can be attributed to the innermost span from the event log after the
session stops. Spans stay in memory until `write` at the end of the run.

Wrapping is done from here, by replacing module attributes and class
methods for the duration of a traced op (`Tracer.installed`); the
engine's code is not changed.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    layer: str
    fn: str
    op: int
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 2**20


def _result_counts(layer: str, fn: str, args: tuple, result) -> dict:
    """Counts the program itself reports, read off a wrapped call's
    result (all are exact, program-reported values)."""
    if layer == "ingest.edges":
        return {"vertices": result.n, "edges": result.num_edges,
                "partitions": result.num_partitions}
    if layer == "graph.pagerank":
        walls = [m["wall_sec"] for m in result.metrics]
        return {"iterations": len(walls),
                "iter_s": walls}
    if layer in ("graph.components", "graph.labelprop"):
        return {"rounds": result.iterations}
    if layer == "graph.triangles":
        return {"triangles": result.total}
    if layer == "ingest.csr" and fn == "write_npy_blocks":
        return {"block_mb": _dir_mb(result.block_dir)}
    if layer == "io.checkpoint" and fn == "write":
        return {"write_mb": _dir_mb(result.path)}
    if layer == "io.tables" and fn == "write":
        return {"write_mb": _dir_mb(os.path.join(args[0].base_dir, args[2]))}
    return {}


class Tracer:
    """Collects spans for one benchmark run. `enabled=False` makes
    every method a no-op, which is how untraced runs use it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        # {"op", "traced", "job_s", "gc_s"}; job_s is the op's own timed
        # region, without its output checks
        self.ops: list[dict] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._sc = None

    # -- spans --------------------------------------------------------

    def _set_group(self, group: str | None) -> None:
        self._sc.setLocalProperty(GROUP_KEY, group)

    @contextlib.contextmanager
    def span(self, layer: str, fn: str):
        if not self.enabled or self._op is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"op{self._op}/s{len(self.spans)}", layer=layer, fn=fn,
            op=self._op, parent=parent.id if parent else None,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1].id if self._stack else f"op{self._op}")

    @contextlib.contextmanager
    def op(self, spark: SparkSession, index: int, traced: bool):
        """Marks one timed operation; only traced ops record spans."""
        rec = {"op": index, "traced": traced}
        if self.enabled:
            self._sc = spark.sparkContext
            self._op = index if traced else None
            self._set_group(f"op{index}")
            gc0 = self._gc_ms(spark)
        try:
            yield rec
        finally:
            if self.enabled:
                rec["gc_s"] = (self._gc_ms(spark) - gc0) / 1000.0
                self._set_group(None)
                self._op = None
                self.ops.append(rec)

    @staticmethod
    def _gc_ms(spark: SparkSession) -> int:
        beans = spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()  # type: ignore[attr-defined]
        return sum(max(0, b.getCollectionTime()) for b in beans)

    # -- wrapping -----------------------------------------------------

    def _wrap(self, layer: str, fn_name: str, fn):
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(layer, fn_name) as s:
                result = fn(*args, **kwargs)
                if s is not None:
                    s.counts.update(_result_counts(layer, fn_name, args, result))
                return result

        wrapped.__wrapped__ = fn
        return wrapped

    @contextlib.contextmanager
    def installed(self, targets: list[tuple[object, str, str]]):
        """Temporarily replace `owner.attr` (module function or class
        method) with a span wrapper, for each (owner, attr, layer)."""
        saved = []
        try:
            for owner, attr, layer in targets:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(layer, attr, orig))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# event log -> per-layer metrics
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    start: float  # seconds, wall clock
    end: float
    stages: list[int]
    tasks: list[dict] = field(default_factory=list)


def read_event_log(log_dir: str, app_id: str) -> list[Job]:
    """Jobs of one application with their tasks (launch/finish time,
    shuffle bytes written, spill, failure)."""
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = Job(
                    id=ev["Job ID"],
                    group=(ev.get("Properties") or {}).get(GROUP_KEY),
                    start=ev["Submission Time"] / 1000.0,
                    end=ev["Submission Time"] / 1000.0,
                    stages=ev["Stage IDs"],
                )
                jobs[j.id] = j
                for st in j.stages:
                    stage_job.setdefault(st, j.id)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                tm = ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                job = stage_job.get(ev["Stage ID"])
                if job is None:
                    continue
                jobs[job].tasks.append({
                    "stage": ev["Stage ID"],
                    "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": tm.get("Disk Bytes Spilled", 0)
                    + tm.get("Memory Bytes Spilled", 0),
                    "failed": bool(info.get("Failed")),
                })
    return sorted(jobs.values(), key=lambda j: j.id)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv: list[tuple[float, float]], lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in iv if e > lo and s < hi]


def _self_time(span: Span, children: list[Span]) -> float:
    kids = _clip([(c.start, c.end) for c in children], span.start, span.end)
    return (span.end - span.start) - _union_len(kids)


def _task_skew(jobs: list[Job]) -> float:
    """Max ÷ median task time per stage, weighted by the stage's total
    task time (stages of one task carry no skew and are skipped)."""
    by_stage: dict[int, list[float]] = defaultdict(list)
    for j in jobs:
        for t in j.tasks:
            by_stage[t["stage"]].append(t["dur"])
    num = den = 0.0
    for durs in by_stage.values():
        med = statistics.median(durs)
        if len(durs) < 2 or med <= 0:
            continue
        w = sum(durs)
        num += w * max(durs) / med
        den += w
    return num / den if den else 0.0


# layers an optimisation targets: their busy share of the traced op
SHARE_LAYERS = ["ingest.edges", "ingest.csr", "graph.pagerank", "io.checkpoint",
                "graph.components", "graph.labelprop", "graph.triangles"]


def _op_layer_metrics(op: int, spans: list[Span], jobs: list[Job],
                      op_wall: float) -> dict[str, float]:
    """Per-layer metrics of one traced op."""
    mine = [s for s in spans if s.op == op]
    children: dict[str, list[Span]] = defaultdict(list)
    for s in mine:
        if s.parent:
            children[s.parent].append(s)
    jobs_of: dict[str, list[Job]] = defaultdict(list)
    for j in jobs:
        if j.group:
            jobs_of[j.group].append(j)

    by_layer: dict[str, list[Span]] = defaultdict(list)
    for s in mine:
        by_layer[s.layer].append(s)

    def self_s(ss):
        return sum(_self_time(s, children[s.id]) for s in ss)

    def layer_jobs(ss):
        return [j for s in ss for j in jobs_of[s.id]]

    def shuffle_mb(ss):
        return sum(t["shuffle_b"] for j in layer_jobs(ss) for t in j.tasks) / 2**20

    def fn(ss, name):
        return [s for s in ss if s.fn == name]

    def count(ss, key):
        return sum(s.counts.get(key, 0) for s in ss)

    m: dict[str, float] = {}
    ex = by_layer["ingest.extract"]
    m["ingest.extract.busy_s"] = self_s(ex)
    m["ingest.extract.links"] = count(ex, "links")
    tw = fn(by_layer["io.tables"], "write")
    m["io.tables.write_s"] = self_s(tw)
    m["io.tables.write_mb"] = count(tw, "write_mb")
    ed = by_layer["ingest.edges"]
    m["ingest.edges.busy_s"] = self_s(ed)
    m["ingest.edges.jobs"] = len(layer_jobs(ed))
    m["ingest.edges.shuffle_mb"] = shuffle_mb(ed)
    for k in ("vertices", "edges", "partitions"):
        m[f"ingest.edges.{k}"] = count(ed, k)
    csr = by_layer["ingest.csr"]
    m["ingest.csr.write_s"] = self_s(fn(csr, "write_npy_blocks"))
    m["ingest.csr.block_mb"] = count(csr, "block_mb")
    m["ingest.csr.spmv_s"] = self_s(fn(csr, "blocks_spmv"))
    m["ingest.csr.spmv_calls"] = len(fn(csr, "blocks_spmv"))
    pr = by_layer["graph.pagerank"]
    iters = count(pr, "iterations")
    pr_jobs = layer_jobs(pr)
    m["graph.pagerank.busy_s"] = self_s(pr)
    driver = 0.0
    for s in pr:
        own = [(s.start, s.end)]
        busy = [(c.start, c.end) for c in children[s.id]]
        busy += [(j.start, j.end) for j in jobs_of[s.id]]
        driver += _union_len(own) - _union_len(_clip(busy, s.start, s.end))
    m["graph.pagerank.driver_s"] = driver
    m["graph.pagerank.iterations"] = iters
    m["graph.pagerank.jobs_per_iter"] = len(pr_jobs) / iters if iters else 0.0
    m["graph.pagerank.shuffle_mb_per_iter"] = shuffle_mb(pr) / iters if iters else 0.0
    m["graph.pagerank.task_skew"] = _task_skew(pr_jobs)
    walls = [w for s in pr for w in s.counts.get("iter_s", [])]
    m["graph.pagerank.iter_s_p50"] = statistics.median(walls) if walls else 0.0
    ck = by_layer["io.checkpoint"]
    m["io.checkpoint.writes"] = len(fn(ck, "write"))
    m["io.checkpoint.write_s"] = self_s(fn(ck, "write"))
    m["io.checkpoint.write_mb"] = count(ck, "write_mb")
    m["io.checkpoint.read_s"] = self_s(fn(ck, "latest") + fn(ck, "read"))
    for layer, key in (("graph.components", "rounds"), ("graph.labelprop", "rounds")):
        ss = by_layer[layer]
        m[f"{layer}.busy_s"] = self_s(ss)
        m[f"{layer}.{key}"] = count(ss, key)
        m[f"{layer}.shuffle_mb"] = shuffle_mb(ss)
        m[f"{layer}.task_skew"] = _task_skew(layer_jobs(ss))
    tr = by_layer["graph.triangles"]
    m["graph.triangles.busy_s"] = self_s(tr)
    m["graph.triangles.shuffle_mb"] = shuffle_mb(tr)
    m["graph.triangles.spill_mb"] = sum(
        t["spill_b"] for j in layer_jobs(tr) for t in j.tasks) / 2**20
    m["graph.triangles.triangles"] = count(tr, "triangles")

    busy = {
        "ingest.edges": m["ingest.edges.busy_s"],
        "ingest.csr": m["ingest.csr.write_s"] + m["ingest.csr.spmv_s"],
        "graph.pagerank": m["graph.pagerank.busy_s"],
        "io.checkpoint": m["io.checkpoint.write_s"] + m["io.checkpoint.read_s"],
        "graph.components": m["graph.components.busy_s"],
        "graph.labelprop": m["graph.labelprop.busy_s"],
        "graph.triangles": m["graph.triangles.busy_s"],
    }
    for layer in SHARE_LAYERS:
        m[f"{layer}.busy_share"] = busy[layer] / op_wall if op_wall > 0 else 0.0

    op_jobs = [j for j in jobs if j.group and j.group.split("/")[0] == f"op{op}"]
    m["jvm.tasks"] = sum(len(j.tasks) for j in op_jobs)
    m["jvm.failed_tasks"] = sum(t["failed"] for j in op_jobs for t in j.tasks)
    return m


def layer_metrics(tracer: Tracer, jobs: list[Job],
                  get_spark_s: float) -> dict[str, float]:
    """Median over traced ops of every per-layer metric, plus session
    start-up, JVM-wide counts and the tracing overhead: a traced op's
    wall minus the mean of its untraced neighbours'."""
    per_op = []
    walls = {rec["op"]: rec["job_s"] for rec in tracer.ops if "job_s" in rec}
    traced_walls, overheads = [], []
    for rec in tracer.ops:
        op = rec["op"]
        if not rec["traced"] or op not in walls:  # untraced, or it raised
            continue
        traced_walls.append(walls[op])
        if op - 1 in walls and op + 1 in walls:
            overheads.append(walls[op] - (walls[op - 1] + walls[op + 1]) / 2)
        m = _op_layer_metrics(op, tracer.spans, jobs, walls[op])
        m["jvm.gc_s"] = rec["gc_s"]
        per_op.append(m)
    # the first op runs colder than the rest
    untraced = [rec["job_s"] for rec in tracer.ops
                if not rec["traced"] and rec["op"] > 0 and "job_s" in rec]
    out = {k: statistics.median(op[k] for op in per_op) for k in per_op[0]}
    out["session.get_spark_s"] = get_spark_s
    out["trace.job_s"] = statistics.median(traced_walls)
    out["trace.untraced_job_s"] = statistics.median(untraced) if untraced else 0.0
    out["trace.overhead_s"] = statistics.median(overheads) if overheads else 0.0
    return out
