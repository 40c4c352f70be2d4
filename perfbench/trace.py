"""Call-boundary tracing for the benchmark's traced run.

``Tracer.install`` replaces the public functions of each layer module with
wrappers, and rebinds every alias of them that other package modules took
with ``from x import f``.  It must run before ``__spark_entry__`` is
imported so the entry module binds the wrappers too; ``wrap_entry`` then
wraps the ``q_*`` builders themselves.

Each wrapper records a span (name, layer, start, end, parent, run id),
tags the Spark jobs the call launches with its own job group, and reads
those jobs' stages from the status store as soon as the call returns:
``spark.ui.retainedStages`` evicts old stages over a long run.  Nested
calls get their own spans, so every job belongs to exactly one span and a
layer's self time is its spans' time minus their child spans' time.
"""

from __future__ import annotations

import importlib
import inspect
import itertools
import sys
import time
from contextlib import contextmanager

PKG = "yellowrush_spark_ml_pipeline_spark"

# layer -> modules whose public functions are that layer's call boundary.
LAYER_MODULES = {
    "flows": [f"{PKG}.flows"],
    "ml": [f"{PKG}.ml.pipelines"],
    "sources": [f"{PKG}.sources.readers"],
    "sink": [f"{PKG}.sources.writers"],
    "textstats": [f"{PKG}.operators.textstats"],
    "dedup": [f"{PKG}.operators.dedup"],
    "similarity": [f"{PKG}.operators.similarity"],
    "graph": [f"{PKG}.operators.graph"],
}
CALL_LAYERS = ["entry", "flows", "ml", "sources", "textstats", "dedup", "similarity", "graph"]
CALL_FIELDS = ["calls", "self_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb", "failed_tasks"]
MB = 1 << 20
JOB_GROUP = "spark.jobGroup.id"


def _public_functions(module):
    for name, fn in vars(module).items():
        if (
            inspect.isfunction(fn)
            and not name.startswith("_")
            and fn.__module__ == module.__name__
            and not hasattr(fn, "evalType")  # pandas UDFs run on executors
        ):
            yield name, fn


class Tracer:
    def __init__(self, run_id: str):
        self.sc = None
        self.store = None
        self.run_id = run_id
        self.recording = False
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.ids = itertools.count(1)
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self.storage_samples: list[tuple[int, float]] = []
        self.catalyst_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}

    def bind(self, spark) -> None:
        """Attach the session whose status store the spans read."""
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    # -- installation -------------------------------------------------------

    def install(self) -> None:
        importlib.import_module(PKG)
        swaps = {}
        for layer, mods in LAYER_MODULES.items():
            for mod_name in mods:
                mod = importlib.import_module(mod_name)
                for name, fn in _public_functions(mod):
                    swaps[id(fn)] = (fn, self.wrap(fn, layer, name))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = swaps.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])

    def wrap_entry(self, entry_module) -> None:
        for name, fn in _public_functions(entry_module):
            if name.startswith("q_"):
                setattr(entry_module, name, self.wrap(fn, "entry", name[2:]))

    def wrap(self, fn, layer: str, name: str):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        traced.__name__ = fn.__name__
        traced.__qualname__ = fn.__qualname__
        traced.__doc__ = fn.__doc__
        traced.__wrapped__ = fn
        return traced

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.recording:
            yield None
            return
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        sp = {
            "id": next(self.ids),
            "run": self.run_id,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "child_s": 0.0,
        }
        group = f"{self.run_id}:{sp['id']}"
        self.sc.setLocalProperty(JOB_GROUP, group)
        self.stack.append(sp)
        sp["start"] = time.time()
        t1 = time.perf_counter()
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            sp["end"] = time.time()
            sp["dur_s"] = t2 - t1
            self.stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, f"{self.run_id}:{parent['id']}" if parent else None)
            self._collect(sp, group)
            self.spans.append(sp)
            t3 = time.perf_counter()
            # The parent's child time is the whole wall this span held,
            # bookkeeping included: the parent did not run during it.
            if parent is not None:
                parent["child_s"] += t3 - t0
            self.overhead_s += (t1 - t0) + (t3 - t2)

    def _collect(self, sp: dict, group: str) -> None:
        jobs = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            info = self.sc.statusTracker().getJobInfo(jid)
            jd = self.store.job(jid)
            job = {
                "id": jid,
                "submit_ms": jd.submissionTime().get().getTime()
                if jd.submissionTime().isDefined() else None,
                "end_ms": jd.completionTime().get().getTime()
                if jd.completionTime().isDefined() else None,
                "stages": len(info.stageIds) if info else 0,
                "skipped": jd.numSkippedStages(),
                "status": str(jd.status()),
                "stage_metrics": [],
            }
            for sid in info.stageIds if info else []:
                st = self._stage(sid)
                if st is not None:
                    job["stage_metrics"].append(st)
            jobs.append(job)
        sp["jobs"] = jobs
        mem = self.store.executorSummary("driver").memoryUsed()
        cached = self.sc._jsc.getPersistentRDDs().size()
        sp["storage_mb"] = mem / MB
        sp["cached_rdds"] = cached
        self.storage_samples.append((cached, mem / MB))

    def _stage(self, sid: int) -> dict | None:
        try:
            s = self.store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — evicted or never attempted
            return None
        if str(s.status()) == "SKIPPED":
            return None
        return {
            "tasks": s.numCompleteTasks(),
            "failed_tasks": s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_mb": (s.shuffleReadBytes() + s.shuffleWriteBytes()) / MB,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
            "output_mb": s.outputBytes() / MB,
        }

    def record_catalyst(self, df) -> None:
        """Plan ``df`` once more and add its Catalyst phase times.  The
        noop write plans its own copy of the query, so the phases are read
        from this extra planning pass, which runs inside a ``catalyst``
        span and is charged to the tracer's overhead."""
        if not self.recording:
            return
        t0 = time.perf_counter()
        overhead = self.overhead_s
        with self.span("plan", "catalyst"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for ph in self.catalyst_ms:
                opt = phases.get(ph)
                if opt.isDefined():
                    self.catalyst_ms[ph] += opt.get().durationMs()
        self.overhead_s = overhead + time.perf_counter() - t0

    # -- aggregation --------------------------------------------------------

    def layer_metrics(self, passes: int, cores: int) -> dict[str, float]:
        """Per-pass totals of every per-layer metric over the recorded spans."""
        per = {layer: dict.fromkeys(CALL_FIELDS, 0.0) for layer in CALL_LAYERS}
        sink = {"s": 0.0, "jobs": 0.0, "write_mb": 0.0}
        engine = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0}
        stages = skipped = 0
        job_windows = []
        overhead_total = 0.0
        njobs = 0
        for sp in self.spans:
            self_s = sp["dur_s"] - sp["child_s"]
            agg = {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                   "failed_tasks": 0}
            for job in sp["jobs"]:
                njobs += 1
                agg["jobs"] += 1
                stages += job["stages"]
                skipped += job["skipped"]
                busy = 0.0
                for st in job["stage_metrics"]:
                    agg["tasks"] += st["tasks"]
                    agg["failed_tasks"] += st["failed_tasks"]
                    agg["cpu_s"] += st["cpu_s"]
                    agg["shuffle_mb"] += st["shuffle_mb"]
                    agg["spill_mb"] += st["spill_mb"]
                    engine["run_s"] += st["run_s"]
                    engine["cpu_s"] += st["cpu_s"]
                    engine["gc_s"] += st["gc_s"]
                    sink["write_mb"] += st["output_mb"]
                    busy += st["run_s"] / max(1, min(cores, st["tasks"]))
                if job["submit_ms"] is not None and job["end_ms"] is not None:
                    wall = (job["end_ms"] - job["submit_ms"]) / 1e3
                    overhead_total += max(0.0, wall - busy)
                    job_windows.append((job["submit_ms"] / 1e3, job["end_ms"] / 1e3))
            if sp["layer"] in per:
                row = per[sp["layer"]]
                row["calls"] += 1
                row["self_s"] += self_s
                for k, v in agg.items():
                    row[k] += v
            if sp["layer"] == "sink":
                sink["s"] += self_s
                sink["jobs"] += agg["jobs"]
        roots = [sp for sp in self.spans if sp["parent"] is None]
        wall = sum(sp["dur_s"] for sp in roots)
        idle = wall - _covered(job_windows, [(sp["start"], sp["end"]) for sp in roots])
        out = {}
        for layer in CALL_LAYERS:
            for k in CALL_FIELDS:
                out[f"{layer}.{k}"] = per[layer][k] / passes
        out["bench.self_s"] = sum(sp["dur_s"] - sp["child_s"] for sp in roots) / passes
        out["catalyst.self_s"] = sum(
            sp["dur_s"] - sp["child_s"] for sp in self.spans if sp["layer"] == "catalyst"
        ) / passes
        for ph, ms in self.catalyst_ms.items():
            out[f"catalyst.{ph}_ms"] = ms / passes
        out["sink.s"] = sink["s"] / passes
        out["sink.jobs"] = sink["jobs"] / passes
        out["sink.write_mb"] = sink["write_mb"] / passes
        out["scheduler.jobs"] = njobs / passes
        out["scheduler.driver_idle_s"] = max(0.0, idle) / passes
        out["scheduler.overhead_per_job_s"] = overhead_total / max(1, njobs)
        out["executor.run_s"] = engine["run_s"] / passes
        out["executor.cpu_s"] = engine["cpu_s"] / passes
        out["executor.gc_s"] = engine["gc_s"] / passes
        out["executor.utilization"] = engine["cpu_s"] / max(1e-9, wall * cores)
        out["stages.skipped_ratio"] = skipped / max(1, stages)
        out["storage.cached_rdds"] = max((c for c, _ in self.storage_samples), default=0)
        out["storage.mem_mb"] = max((m for _, m in self.storage_samples), default=0.0)
        out["trace.spans_s"] = wall / passes
        out["trace.bookkeeping_s"] = self.overhead_s / passes
        return out


def _covered(windows: list[tuple[float, float]], spans: list[tuple[float, float]]) -> float:
    """Seconds of ``spans`` during which at least one window is open."""
    merged: list[list[float]] = []
    for a, b in sorted(windows):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    total = 0.0
    for s, e in spans:
        for a, b in merged:
            total += max(0.0, min(b, e) - max(a, s))
    return total
