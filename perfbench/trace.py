"""Spans and a per-layer ledger, recorded from outside the engine.

The tracer wraps the public functions of each engine module (the layers)
at run time and records a span around every call: name, start, end,
parent and run id. Every span runs under its own Spark job group, so the
jobs a span launches are found afterwards through ``statusTracker`` and
their stage metrics through the status store; SQL plan-node metrics come
from the SQL status store of the executions those jobs belong to. Nothing
inside the engine is modified; ``uninstall`` restores every wrapped name.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import re
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# module → layer name (layers are named by module)
LAYERS = {
    "sedona_spark.session": "session",
    "sedona_spark.sql_registry": "sql_registry",
    "sedona_spark.functions.raster": "raster",
    "sedona_spark.operators.spatial_join": "spatial_join",
    "sedona_spark.operators.distance_join": "distance_join",
    "sedona_spark.operators.knn": "knn",
    "sedona_spark.checkpoint": "checkpoint",
    "sedona_spark.icetable": "icetable",
}
# private helpers the workloads (and pipeline_job) call across modules
_EXTRA = {"sedona_spark.operators.spatial_join": ("_explode_cover",)}

BASE_METRICS = ("build_s", "plan_s", "exec_s", "jobs", "stages",
                "executor_run_s", "executor_cpu_s", "shuffle_bytes",
                "spill_bytes", "core_idle_s", "self_s")
EXTRA_METRICS = {
    "session": ("start_s", "persisted_rdds", "persisted_bytes", "peak_rss_mb"),
    "sql_registry": ("register_s", "functions", "analyzed_nodes"),
    "raster": ("tiles", "python_s", "python_boot_s", "python_bytes_sent",
               "python_bytes_received"),
    "spatial_join": ("cover_rows", "candidates", "hits", "hit_ratio",
                     "python_s", "python_bytes_sent"),
    "distance_join": ("candidates", "pairs", "hit_ratio"),
    "knn": ("persisted_rdds",),
    "checkpoint": ("bytes_written", "files_written", "replayed_buckets",
                   "tiles_wall_s", "assign_wall_s", "zonal_wall_s"),
    "icetable": ("publish_s", "bytes_written", "snapshots"),
}


# figures that describe a state, not work done: aggregated by maximum
GAUGES = {"persisted_rdds", "persisted_bytes", "snapshots", "functions",
          "analyzed_nodes", "register_s", "hit_ratio"}


def metric_names() -> list[str]:
    """Every per-layer metric name, ``<layer>.<metric>``."""
    names = []
    for layer in LAYERS.values():
        names += [f"{layer}.{m}" for m in BASE_METRICS]
        names += [f"{layer}.{m}" for m in EXTRA_METRICS[layer]
                  if m not in BASE_METRICS]
    return names


class Span:
    __slots__ = ("id", "run", "name", "layer", "kind", "parent", "start",
                 "end", "group", "jobs", "counts")

    def __init__(self, sid, run, name, layer, kind, parent):
        self.id, self.run, self.name, self.layer = sid, run, name, layer
        self.kind, self.parent = kind, parent
        self.start = time.perf_counter()
        self.end = None
        self.group = f"perfbench-{run}-{sid}"
        self.jobs: list[int] = []
        self.counts: dict = {}

    def as_dict(self) -> dict:
        return {"id": self.id, "run": self.run, "name": self.name,
                "layer": self.layer, "kind": self.kind, "parent": self.parent,
                "start": self.start, "end": self.end, "jobs": self.jobs,
                "counts": self.counts}


class Tracer:
    """Collects spans in memory; ``ledger`` folds them into layer metrics."""

    def __init__(self, spark, run_id: str, cores: int):
        self.spark = spark
        self.run = run_id
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    # --- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str | None, kind: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), self.run, name,
                 layer or (parent.layer if parent else None), kind,
                 parent.id if parent else None)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    # --- wrapping engine modules ---------------------------------------------------

    def install(self) -> None:
        """Wrap each layer module's public functions, and every alias of
        them that other engine modules imported by name."""
        replaced = {}
        for mod_name, layer in LAYERS.items():
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
            names = [n for n, f in vars(mod).items()
                     if inspect.isfunction(f) and f.__module__ == mod_name
                     and not n.startswith("_")]
            names += list(_EXTRA.get(mod_name, ()))
            for n in names:
                orig = getattr(mod, n)
                replaced[id(orig)] = (orig, self._wrap(orig, f"{layer}.{n}", layer))
        for mod_name, mod in list(sys.modules.items()):
            if not (mod_name == "__main__" or mod_name.startswith(("sedona_spark", "perfbench"))):
                continue
            for n, v in list(vars(mod).items()):
                hit = replaced.get(id(v))
                if hit is not None and hit[0] is v:
                    self._patched.append((mod, n, v))
                    setattr(mod, n, hit[1])

    def uninstall(self) -> None:
        for mod, n, orig in reversed(self._patched):
            setattr(mod, n, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer, "call"):
                return fn(*args, **kwargs)

        return traced

    # --- reading Spark's own bookkeeping ----------------------------------------------

    def collect(self) -> None:
        """Resolve each span's job group to job ids (call after the run)."""
        st = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            s.jobs = sorted(st.getJobIdsForGroup(s.group))


_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Numeric total of a SQL UI metric string: ``'2,000'``, ``'9.2 MiB'``,
    or ``'total (min, med, max ...)\\n10.0 s (...)'`` → seconds/bytes/count."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkSources:
    """Stage, job and SQL-node figures for a set of job ids."""

    def __init__(self, spark):
        jss = spark._jsparkSession
        self.app = jss.sparkContext().statusStore()
        self.sql = jss.sharedState().statusStore()
        self.tracker = spark.sparkContext.statusTracker()
        self._exec_jobs = None

    def job_window(self, job: int) -> tuple[float, float] | None:
        """(submission, completion) epoch seconds of a job."""
        j = self.app.job(job)
        sub, comp = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or comp.isEmpty():
            return None
        return sub.get().getTime() / 1e3, comp.get().getTime() / 1e3

    def stages(self, jobs: list[int]) -> dict:
        out = {"stages": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "shuffle_bytes": 0.0, "spill_bytes": 0.0}
        seen = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.app.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never ran (skipped): no attempt
                    continue
                out["stages"] += 1
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def _executions(self) -> dict[int, set[int]]:
        if self._exec_jobs is None:
            self._exec_jobs = {}
            it = self.sql.executionsList().iterator()
            while it.hasNext():
                e = it.next()
                ks = e.jobs().keySet().iterator()
                jobs = set()
                while ks.hasNext():
                    jobs.add(int(ks.next()))
                self._exec_jobs[int(e.executionId())] = jobs
        return self._exec_jobs

    def nodes(self, jobs: list[int]) -> list[tuple[str, dict]]:
        """(node name, {metric name: numeric total}) for every plan node of
        the SQL executions that ran any of ``jobs``."""
        want = set(jobs)
        out = []
        for eid, ejobs in self._executions().items():
            if not (ejobs & want):
                continue
            vals = self.sql.executionMetrics(eid)
            it = self.sql.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                n = it.next()
                ms = {}
                mit = n.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = vals.get(m.accumulatorId())
                    ms[m.name()] = parse_metric(v.get() if v.isDefined() else None)
                out.append((n.name(), ms))
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
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


_PY_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInArrow",
             "FlatMapGroupsInPandas", "PythonUDTF")
_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


def ledger(tracer: Tracer, src: SparkSources, ops: dict[int, dict]) -> dict:
    """Fold spans into ``{layer: {metric: value}}`` plus per-op residuals.

    ``ops`` maps an op span id to its declared ``join_layer`` (the layer
    whose join counters the op's plan nodes feed). An op span's counts
    hold ``hits`` (the op's result rows) and ``<layer>.<metric>`` figures
    the workload read itself; gauges among them keep their maximum."""
    tracer.collect()
    spans = {s.id: s for s in tracer.spans}
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    layers = {layer: {m: 0.0 for m in BASE_METRICS + EXTRA_METRICS[layer]}
              for layer in LAYERS.values()}

    def covered(s: Span) -> float:
        return _union([(c.start, c.end) for c in children.get(s.id, [])])

    for s in tracer.spans:
        if s.layer not in layers:
            continue
        L = layers[s.layer]
        dur = s.end - s.start
        self_t = dur - covered(s)
        L["self_s"] += self_t
        wins = [w for w in (src.job_window(j) for j in s.jobs) if w]
        job_wall = _union(wins)
        if s.kind == "plan":
            L["plan_s"] += self_t
        elif s.kind == "exec":
            L["exec_s"] += self_t
        elif s.kind in ("build", "call"):
            # jobs launched inside a call (eager operators) are execution
            L["exec_s"] += min(job_wall, self_t)
            L["build_s"] += max(self_t - job_wall, 0.0)
        if s.jobs:
            st = src.stages(s.jobs)
            L["jobs"] += len(s.jobs)
            for k, v in st.items():
                L[k] += v
            L["core_idle_s"] += max(job_wall * tracer.cores - st["executor_run_s"], 0.0)

    # plan-node counters, attributed by node kind
    for op_id, info in ops.items():
        op = spans.get(op_id)
        if op is None:
            continue
        sub = _subtree(op_id, children)
        jobs = sorted({j for sid in sub for j in spans[sid].jobs})
        jl = info.get("join_layer")
        for name, ms in src.nodes(jobs):
            if name.startswith("MapInPandas"):
                R = layers["raster"]
                R["tiles"] += ms.get("number of output rows", 0.0)
                R["python_s"] += ms.get("time to run Python workers", 0.0)
                R["python_boot_s"] += ms.get("time to start Python workers", 0.0)
                R["python_bytes_sent"] += ms.get("data sent to Python workers", 0.0)
                R["python_bytes_received"] += ms.get(
                    "data returned from Python workers", 0.0)
            elif name.startswith(_PY_NODES) and jl == "spatial_join":
                S = layers["spatial_join"]
                S["python_s"] += ms.get("time to run Python workers", 0.0)
                S["python_bytes_sent"] += ms.get("data sent to Python workers", 0.0)
            elif name.startswith("Generate") and jl == "spatial_join":
                layers[jl]["cover_rows"] += ms.get("number of output rows", 0.0)
            elif name.startswith(_JOIN_NODES) and jl in ("spatial_join", "distance_join"):
                layers[jl]["candidates"] += ms.get("number of output rows", 0.0)
        for key, v in op.counts.items():
            if key == "hits":
                layer, m = jl, {"spatial_join": "hits", "distance_join": "pairs"}.get(jl)
            else:
                layer, m = key.split(".", 1)
            if m is None or layer not in layers:
                continue
            L = layers[layer]
            L[m] = max(L[m], v) if m in GAUGES else L[m] + v
    # outermost icetable calls: a commit's nested icetable calls count once
    layers["icetable"]["publish_s"] = sum(
        s.end - s.start for s in tracer.spans
        if s.layer == "icetable" and s.kind == "call"
        and (s.parent not in spans or spans[s.parent].layer != "icetable"))
    for jl, hk in (("spatial_join", "hits"), ("distance_join", "pairs")):
        c = layers[jl]["candidates"]
        layers[jl]["hit_ratio"] = layers[jl][hk] / c if c else 0.0

    residuals = {}
    for op_id in ops:
        op = spans.get(op_id)
        if op is None:
            continue
        parts = sum(c.end - c.start for c in children.get(op_id, [])
                    if c.kind in ("build", "plan", "exec"))
        residuals[op.name] = residuals.get(op.name, 0.0) + (op.end - op.start) - parts
    return {"layers": layers, "residual_s": residuals}


def _subtree(root: int, children: dict[int, list[Span]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(c.id for c in children.get(sid, []))
    return out
