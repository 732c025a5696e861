"""Traced-run instrumentation, installed from outside the program.

- `Tracer` wraps the public functions of each layer (module attribute
  patching, including every module that imported the name) and records one
  span per call: name, layer, start, end, parent span and the op id that
  all spans of one op share. Spans stay in memory until `write()`.
- `StatusStore` reads Spark's AppStatusStore for the jobs and stages an op
  ran (each op also runs under its own job group).

Untraced runs install neither; their metrics come from the op timer alone.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict

# (module, function, layer, counter prefix). The counter prefix collects
# `<prefix>_calls` and `<prefix>_s` for the metrics the layer reports.
WRAPPED = [
    ("etl_poc_spark.io", "load_table", "io", "io.load"),
    ("etl_poc_spark.operators.similarity", "train_kmeans_centroids", "similarity", "similarity.train"),
    ("etl_poc_spark.operators.similarity", "train_kmeans_centroids_minibatch", "similarity", "similarity.train"),
    ("etl_poc_spark.operators.similarity", "train_pq_codebooks", "similarity", "similarity.train"),
    ("etl_poc_spark.operators.dedup", "connected_components", "dedup", "dedup.components"),
    ("etl_poc_spark.llm.ops", "llm_map", "llm", "llm.map"),
    ("etl_poc_spark.llm.ops", "llm_reduce", "llm", "llm.reduce"),
    ("etl_poc_spark.llm.cache", "cached_llm_map", "llm", "llm.cached_map"),
    ("etl_poc_spark.plans.yaml_pipeline", "run_pipeline", "plans", "plans.run"),
    ("etl_poc_spark.sinks.sinks", "write_json_records", "sinks", "sinks.write"),
    ("etl_poc_spark.sinks.sinks", "write_markdown_articles", "sinks", "sinks.write"),
    ("etl_poc_spark.operators.incremental", "incremental_exact_dedup_ingest", "incremental", "store.ingest"),
    ("etl_poc_spark.operators.incremental", "incremental_near_dup_ingest", "incremental", "store.ingest"),
    ("etl_poc_spark.operators.incremental", "compact_exact_dedup_store", "incremental", "store.compact"),
    ("etl_poc_spark.operators.incremental", "compact_near_dup_store", "incremental", "store.compact"),
    ("etl_poc_spark.operators.incremental", "read_exact_dedup_store", "incremental", "store.read"),
    ("etl_poc_spark.operators.deltastore", "read_delta_store", "deltastore", "deltastore.read"),
    ("etl_poc_spark.operators.deltastore", "compact_delta_store", "deltastore", "deltastore.compact"),
    ("etl_poc_spark.operators.upsert", "upsert_versioned", "upsert", "upsert.commit"),
    ("etl_poc_spark.operators.upsert", "read_versioned", "upsert", "upsert.read"),
    ("etl_poc_spark.operators.upsert", "checkpoint_versioned", "upsert", "upsert.checkpoint"),
    ("etl_poc_spark.operators.upsert", "vacuum_versioned", "upsert", "upsert.vacuum"),
    ("etl_poc_spark.operators.layout", "compact_files", "layout", "layout.compact_files"),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.llm_results: list = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._next_id = 0
        self.op_id: str | None = None
        self.op_span: dict | None = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str, root: bool = False) -> dict:
        stack = self._stack()
        parent = None if root else (stack[-1] if stack else self.op_span)
        with self._lock:
            self._next_id += 1
            span = {
                "id": self._next_id,
                "op": self.op_id,
                "name": name,
                "layer": layer,
                "parent": parent["id"] if parent else None,
                "start": time.time(),
                "end": None,
            }
            self.spans.append(span)
        if not root:
            stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def begin_op(self, op_id: str, name: str) -> None:
        self.op_id = op_id
        # the op span parents every thread's outermost span
        self.op_span = self.open(name, "op", root=True)

    def end_op(self) -> None:
        self.close(self.op_span)

    # -- wrapping ------------------------------------------------------
    def _wrap(self, fn, layer: str, prefix: str, name: str | None = None):
        tracer = self
        name = name or fn.__name__

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            span = tracer.open(name, layer)
            t_call = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            except Exception as exc:
                if type(exc).__name__ == "ConcurrentWriteError":
                    with tracer._lock:
                        tracer.counters["upsert.commit_conflicts"] += 1
                raise
            finally:
                t_ret = time.perf_counter()
                tracer.close(span)
                with tracer._lock:
                    tracer.counters[prefix + "_calls"] += 1
                    tracer.counters[prefix + "_s"] += t_ret - t_call
            tracer._after(name, args, kwargs, out)
            with tracer._lock:
                tracer.counters["trace.overhead_s"] += (t_call - t_in) + (time.perf_counter() - t_ret)
            return out

        return traced

    def _after(self, name: str, args, kwargs, out) -> None:
        c = self.counters
        if name in ("llm_map", "llm_reduce") and hasattr(out, "_llm_metrics"):
            self.llm_results.append((name, args[0] if args else kwargs.get("df"), out._llm_metrics))
        elif name == "load_table":
            import os

            from etl_poc_spark.io import table_path

            p = table_path(args[1], args[2])
            files = [p] if os.path.isfile(p) else [
                os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs
            ]
            c["io.files_read"] += len(files)
        elif name == "vacuum_versioned":
            c["upsert.vacuum_files"] += int(out)
        elif name == "compact_files":
            c["layout.files_before"] += out["files_before"]
            c["layout.files_after"] += out["files_after"]
        elif name == "run_pipeline":
            config = args[1] if len(args) > 1 else kwargs["config"]
            c["plans.steps"] += len(config["pipeline"]["steps"])

    def install(self) -> None:
        import importlib

        for mod_name, fn_name, layer, prefix in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            traced = self._wrap(orig, layer, prefix)
            # rebind in every package module that imported the name at top
            # level; the benchmark's own ops import at call time
            for m in list(sys.modules.values()):
                if not (getattr(m, "__name__", "") or "").startswith("etl_poc_spark"):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        self._patched.append((m, attr, orig))
                        setattr(m, attr, traced)

        from etl_poc_spark import registry

        for qname, fn in list(registry.QUERIES.items()):
            self._patched.append((registry.QUERIES, qname, fn))
            registry.QUERIES[qname] = self._wrap(fn, "queries", "queries.build", qname)

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._patched):
            if isinstance(m, dict):
                m[attr] = orig
            else:
                setattr(m, attr, orig)
        self._patched.clear()

    # -- results -------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per layer: sum over its spans of duration minus the part of the
        span covered by its children."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union(
                [(max(k["start"], s["start"]), min(k["end"], s["end"])) for k in kids[s["id"]] if k["end"] is not None]
            )
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra_spans: list[dict]) -> None:
        with open(path, "w") as fh:
            for s in self.spans + extra_spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class StatusStore:
    """Per-op job and stage totals from Spark's status store, read after
    the listener bus has drained. Ops run one at a time, so an op's jobs
    are those with ids above the last job seen when the previous op ended:
    that also catches jobs the op's own threads and streaming queries
    submit under other job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.mark()

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far: the status store is filled from it asynchronously."""
        self.sc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        self._drain()
        jobs = self.store.jobsList(None)  # sorted by job id, newest first
        n = jobs.length()
        return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()) if n else -1

    def mark(self) -> None:
        """Leave every job run so far out of the next op."""
        self.watermark = self._max_job_id()

    def op_jobs(self) -> list:
        last = self._max_job_id()
        jobs = [self.store.job(j) for j in range(self.watermark + 1, last + 1)]
        self.watermark = last
        return jobs

    def op_metrics(self, op_id: str, t0: float, t1: float) -> tuple[dict, list[dict]]:
        """Totals of the jobs the op ran between epoch times t0 and t1, and
        one span per job."""
        jobs = self.op_jobs()
        m = defaultdict(float)
        spans, job_iv, seen = [], [], set()
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                a = sub.get().getTime() / 1000.0
                b = done.get().getTime() / 1000.0 if done.isDefined() else t1
                job_iv.append((max(a, t0), min(b, t1)))
                spans.append({"op": op_id, "name": f"job {j.jobId()}", "layer": "spark",
                              "start": a, "end": b, "parent": None, "id": None})
            m["spark.jobs"] += 1
            stage_ids = j.stageIds()
            for k in range(stage_ids.length()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.store.lastStageAttempt(sid)
                status = str(st.status())
                if status == "SKIPPED":  # its shuffle output was reused; it ran no tasks
                    continue
                if status != "COMPLETE":
                    raise RuntimeError(f"op {op_id}: stage {sid} of job {j.jobId()} is {status} "
                                       "after the listener bus drained")
                m["spark.stages"] += 1
                m["spark.tasks"] += st.numCompleteTasks()
                m["spark.exec_run_s"] += st.executorRunTime() / 1000.0
                m["spark.exec_cpu_s"] += st.executorCpuTime() / 1e9
                m["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                m["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                m["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                m["io.bytes_read"] += st.inputBytes()
        m["spark.driver_s"] = (t1 - t0) - _union(job_iv)
        return m, spans


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0
