"""Spans around layer calls, with Spark's own job and stage metrics.

Everything here observes the engine from outside: layer functions are
wrapped at run time (never edited), Spark jobs are read from the
driver's status store, and streaming progress comes from a listener.

Job attribution uses job-id ranges: a span owns every job whose id was
issued between its start and its end, whatever thread submitted it.
A thread-local job group would miss foreachBatch jobs, which run on
the stream's own thread.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager

PKG = "fb_ads_bigquery_etl_spark"

# Layer name -> modules whose public functions are wrapped in spans.
LAYER_MODULES = {
    "fb_source": [f"{PKG}.sources.fb_source"],
    "normalize": [f"{PKG}.operators.normalize"],
    "dedup": [f"{PKG}.operators.dedup"],
    "sinks": [f"{PKG}.sinks"],
    "pipelines": [f"{PKG}.pipelines"],
    "streaming": [
        f"{PKG}.streaming.ingest", f"{PKG}.streaming.joins",
        f"{PKG}.streaming.state", f"{PKG}.streaming.windows",
    ],
    "pq": [f"{PKG}.operators.pq"],
    "ivm": [f"{PKG}.operators.ivm"],
    "classifier": [f"{PKG}.operators.classifier"],
    "bpe": [f"{PKG}.operators.bpe"],
    "multimodal": [f"{PKG}.operators.multimodal"],
    "clustering": [f"{PKG}.operators.clustering"],
    "similarity": [f"{PKG}.operators.similarity"],
}
# Registry queries are spanned by the benchmark around each call.
LAYERS = [*LAYER_MODULES, "registry"]

# Per-span statistics; every one is summed over a layer's spans.
STATS = (
    "calls", "jobs", "stages", "tasks", "failed_tasks", "wall_s",
    "job_busy_s", "driver_s", "task_run_s", "task_cpu_s", "python_wait_s",
    "gc_s", "shuffle_read_mb", "shuffle_write_mb", "input_mb", "output_mb",
    "spill_mb",
)
_MB = 1024.0 * 1024.0


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals, in their unit."""
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


class SparkJobs:
    """Reads job and stage metrics from the driver's status store."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        jvm = spark.sparkContext._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_mod, "MODULE$"))
        self._jobs: dict[int, dict] = {}
        self._stages: dict[int, dict] = {}

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def collect(self, j0: int, j1: int) -> list[dict]:
        """Job records for ids in [j0, j1). Read right after the call:
        the store keeps only the last spark.ui.retainedJobs jobs."""
        missing = [j for j in range(j0, j1) if j not in self._jobs]
        if missing:
            self._bus.waitUntilEmpty()
        for j in missing:
            job = json.loads(self._json.writeValueAsString(self._store.job(j)))
            stages = []
            for sid in job["stageIds"]:
                if sid not in self._stages:
                    attempts = json.loads(self._json.writeValueAsString(
                        self._store.stageData(sid, False, None, False, None)
                    ))
                    self._stages[sid] = _stage_record(attempts)
                stages.append(sid)
            self._jobs[j] = {
                "id": j,
                "start_ms": job.get("submissionTime"),
                "end_ms": job.get("completionTime"),
                "status": job.get("status"),
                "stages": stages,
            }
        return [self._jobs[j] for j in range(j0, j1)]

    def stage(self, sid: int) -> dict:
        return self._stages[sid]


def _stage_record(attempts: list[dict]) -> dict:
    out = {"ran": False, "tasks": 0, "failed_tasks": 0, "run_ms": 0.0,
           "cpu_ns": 0.0, "gc_ms": 0.0, "shuffle_read": 0.0,
           "shuffle_write": 0.0, "input": 0.0, "output": 0.0, "spill": 0.0}
    for a in attempts:
        if a.get("status") == "SKIPPED":
            continue
        out["ran"] = True
        out["tasks"] += a.get("numCompleteTasks", 0) + a.get("numFailedTasks", 0)
        out["failed_tasks"] += a.get("numFailedTasks", 0)
        out["run_ms"] += a.get("executorRunTime", 0)
        out["cpu_ns"] += a.get("executorCpuTime", 0)
        out["gc_ms"] += a.get("jvmGcTime", 0)
        out["shuffle_read"] += a.get("shuffleReadBytes", 0)
        out["shuffle_write"] += a.get("shuffleWriteBytes", 0)
        out["input"] += a.get("inputBytes", 0)
        out["output"] += a.get("outputBytes", 0)
        out["spill"] += a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0)
    return out


class Tracer:
    """Records spans in memory; `dump` writes them when the run ends."""

    def __init__(self, spark):
        self.jobs = SparkJobs(spark)
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"name": name, "layer": layer, "parent": stack[-1] if stack else None,
               "thread": threading.current_thread().name}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        j0 = self.jobs.next_job_id()
        rec["start"] = time.time()
        with self._lock:
            self.self_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t0 = time.perf_counter()
            stack.pop()
            rec["job_ids"] = [j0, self.jobs.next_job_id()]
            with self._lock:
                rec.update(self._span_stats(rec))
                self.self_s += time.perf_counter() - t0

    def _span_stats(self, rec: dict) -> dict:
        jobs = self.jobs.collect(*rec["job_ids"])
        wall = rec["end"] - rec["start"]
        busy = union_seconds([
            (j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs
            if j["start_ms"] is not None and j["end_ms"] is not None
        ])
        stage_ids = sorted({s for j in jobs for s in j["stages"]})
        ran = [self.jobs.stage(s) for s in stage_ids if self.jobs.stage(s)["ran"]]
        run_s = sum(s["run_ms"] for s in ran) / 1e3
        cpu_s = sum(s["cpu_ns"] for s in ran) / 1e9
        return {
            "calls": 1, "jobs": len(jobs), "stages": len(ran),
            "tasks": sum(s["tasks"] for s in ran),
            "failed_tasks": sum(s["failed_tasks"] for s in ran),
            "wall_s": wall, "job_busy_s": busy, "driver_s": max(wall - busy, 0.0),
            "task_run_s": run_s, "task_cpu_s": cpu_s,
            "python_wait_s": max(run_s - cpu_s, 0.0),
            "gc_s": sum(s["gc_ms"] for s in ran) / 1e3,
            "shuffle_read_mb": sum(s["shuffle_read"] for s in ran) / _MB,
            "shuffle_write_mb": sum(s["shuffle_write"] for s in ran) / _MB,
            "input_mb": sum(s["input"] for s in ran) / _MB,
            "output_mb": sum(s["output"] for s in ran) / _MB,
            "spill_mb": sum(s["spill"] for s in ran) / _MB,
        }

    # -- wrapping layer functions ------------------------------------
    def patch_layers(self) -> None:
        """Wrap every public function of each layer module in a span and
        rebind the wrapper wherever the engine imported it by name."""
        originals: dict[int, object] = {}
        for layer, mods in LAYER_MODULES.items():
            for mod_name in mods:
                mod = importlib.import_module(mod_name)
                for attr, fn in list(vars(mod).items()):
                    if (attr.startswith("_") or not inspect.isfunction(fn)
                            or fn.__module__ != mod_name
                            or inspect.isgeneratorfunction(fn)):
                        continue
                    originals[id(fn)] = self._wrap(fn, f"{layer}.{attr}", layer)
        for mod in [m for n, m in list(sys.modules.items())
                    if m is not None and (n == PKG or n.startswith(PKG + ".")
                                          or n == "__spark_entry__")]:
            for attr, val in list(vars(mod).items()):
                wrapper = originals.get(id(val))
                if wrapper is not None:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def unpatch(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    # -- aggregation ---------------------------------------------------
    def layer_totals(self) -> dict[str, dict]:
        """Sum STATS per layer over each layer's outermost spans, so a
        layer calling itself is not counted twice."""
        by_id = {s["id"]: s for s in self.spans}
        totals = {layer: dict.fromkeys(STATS, 0.0) for layer in LAYERS}
        for s in self.spans:
            if "calls" not in s:  # its statistics could not be read
                continue
            p = s["parent"]
            while p is not None and by_id[p]["layer"] != s["layer"]:
                p = by_id[p]["parent"]
            if p is not None:
                continue
            for k in STATS:
                totals[s["layer"]][k] += s[k]
        return totals

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)
