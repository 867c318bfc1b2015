"""Traced runs: spans around the calls into each layer, Spark job and stage
metrics from the status store, and Catalyst phase times.

Spans are recorded from the benchmark's side of each layer boundary:

* the benchmark's own calls (``session.get_spark``, ``session.warmup``,
  ``session.release_blocks``, ``queries.build`` = the registry call,
  ``queries.collect``, ``pipeline.run``) open spans directly;
* the io, transform and streaming functions are wrapped where they are
  looked up. Query modules and ``pipeline.py`` bind them by name
  (``from ..io import load_table``), so the wrapper replaces the attribute
  in every module of the package that holds the original function;
* each Spark job becomes a ``spark.job`` span from its submission to its
  completion time, a child of the innermost span that was open when it was
  submitted.

Spans stay in memory and are written once, when the run ends. Times are
wall-clock seconds (``time.time``) so they line up with the status store's
millisecond timestamps.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "large_csv_etl_spark"

# Public functions wrapped per module, by layer. The streaming layer is
# wrapped whole: its entry point is reached only from inside a registry
# entry.
WRAPPED = {
    "io": [
        "load_table",
        "read_transactions_csv",
        "write_table",
        "upsert_by_key",
        "validate_data_integrity",
    ],
    "transform": ["observed_pipeline", "validate_final_data"],
    "streaming": None,
}
# Wrapped calls whose first argument is the DataFrame they act on; its
# Catalyst phase times are read after the call returns.
_DF_ARG = {"io.write_table", "io.validate_data_integrity", "transform.validate_final_data"}
# Span name prefixes that belong to a layer rather than to the benchmark.
LAYERS = {"io", "transform", "streaming", "spark"}


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs), clipped
    to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase (analysis, optimization, planning) that
    this DataFrame's query execution has run so far."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: int | None = None
        self._last_job = -1

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        rec = {"name": name, "parent": parent, "start": time.time(), "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    @contextmanager
    def op(self, name: str, **attrs):
        """Top-level span of one operation; spans opened on other threads
        while it runs become its children."""
        with self.span("op", query=name, **attrs) as rec:
            self._op = rec["id"]
            try:
                yield rec
            finally:
                self._op = None

    # -- layer wrappers ------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = fn(*args, **kwargs)
            if name in _DF_ARG and args:
                t0 = time.perf_counter()
                rec["catalyst"] = catalyst_phases(args[0])
                tracer.overhead_s += time.perf_counter() - t0
            return result

        return wrapper

    def patch_layers(self) -> None:
        """Wrap the layer functions in every loaded module of the package
        that binds them."""
        import importlib
        import inspect

        # the modules that bind layer functions by name must be loaded first
        for name in (*WRAPPED, "pipeline", "queries"):
            importlib.import_module(f"{PACKAGE}.{name}")
        modules = [m for n, m in sys.modules.items() if n.startswith(PACKAGE) and m]
        for layer, names in WRAPPED.items():
            home = sys.modules[f"{PACKAGE}.{layer}"]
            if names is None:
                names = [
                    n
                    for n, v in vars(home).items()
                    if inspect.isfunction(v)
                    and v.__module__ == home.__name__
                    and not n.startswith("_")
                ]
            for n in names:
                orig = getattr(home, n)
                wrapped = self._wrap(orig, f"{layer}.{n}")
                for m in modules:
                    if getattr(m, n, None) is orig:
                        setattr(m, n, wrapped)

    # -- Spark status store --------------------------------------------
    def read_jobs(self, sc) -> list[dict]:
        """Jobs finished since the previous call, each with its stages'
        task metrics, added to the span list as ``spark.job`` spans."""
        t0 = time.perf_counter()
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        # Every job whatever its job group (a streaming query runs its
        # micro-batches under its own group). The store lists them newest
        # first; read down to the last one read before.
        new = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= self._last_job:
                break
            new.append(j)
        new.sort(key=lambda j: j.jobId())
        if new:
            self._last_job = new[-1].jobId()
        jobs = []
        for j in new:
            jid = j.jobId()
            sub, comp = j.submissionTime(), j.completionTime()
            if not sub.isDefined():
                continue
            start = sub.get().getTime() / 1000.0
            end = comp.get().getTime() / 1000.0 if comp.isDefined() else time.time()
            rec = {
                "name": "spark.job",
                "job_id": jid,
                "start": start,
                "end": end,
                "stages": 0,
                "tasks": 0,
                "executor_run_s": 0.0,
                "executor_cpu_s": 0.0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "gc_s": 0.0,
            }
            it = j.stageIds().iterator()
            while it.hasNext():
                s = store.lastStageAttempt(it.next())
                if s.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                rec["executor_run_s"] += s.executorRunTime() / 1000.0
                rec["executor_cpu_s"] += s.executorCpuTime() / 1e9
                rec["shuffle_read_bytes"] += s.shuffleReadBytes()
                rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
                rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                rec["gc_s"] += s.jvmGcTime() / 1000.0
            jobs.append(rec)
        self._attach(jobs)
        self.overhead_s += time.perf_counter() - t0
        return jobs

    def _attach(self, jobs: list[dict]) -> None:
        """Parent each job to the innermost span open at its submission."""
        for job in jobs:
            best = None
            for sp in self.spans:
                if sp["name"] == "spark.job" or sp["end"] is None:
                    continue
                # status-store times have millisecond resolution
                if sp["start"] - 0.001 <= job["start"] <= sp["end"] + 0.001:
                    if best is None or sp["start"] >= best["start"]:
                        best = sp
            job["parent"] = best["id"] if best else None
            job["id"] = len(self.spans)
            self.spans.append(job)

    # -- analysis --------------------------------------------------------
    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s.get("parent") == span_id]

    def descendants(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def op_breakdown(self, op_id: int) -> dict:
        """Where one operation's wall time went, by layer, in seconds."""
        op = self.spans[op_id]
        lo, hi = op["start"], op["end"]
        desc = self.descendants(op_id)
        jobs = [d for d in desc if d["name"] == "spark.job"]
        job_iv = [(j["start"], j["end"]) for j in jobs]

        def spans(name):
            return [d for d in desc if d["name"] == name]

        def covered(name, a=lo, b=hi):
            return union_length([(d["start"], d["end"]) for d in spans(name)], a, b)

        def outside_jobs(name, a, b):
            iv = [(d["start"], d["end"]) for d in spans(name)]
            return union_length(iv + job_iv, a, b) - union_length(job_iv, a, b)

        wall = hi - lo
        out = {
            "wall_s": wall,
            "job_s": union_length(job_iv, lo, hi),
            "jobs": len(jobs),
            "build_s": 0.0,
            "build_job_s": 0.0,
            "build_jobs": 0,
            "load_table_s": 0.0,
            "load_table_calls": len(spans("io.load_table")),
            "collect_s": covered("queries.collect"),
            "run_s": covered("pipeline.run"),
            "write_table_s": covered("io.write_table"),
            "validate_s": covered("transform.validate_final_data")
            + covered("io.validate_data_integrity"),
            "streaming_s": union_length(
                [(d["start"], d["end"]) for d in desc if d["name"].startswith("streaming.")],
                lo,
                hi,
            ),
        }
        for b in spans("queries.build"):
            out["build_s"] += b["end"] - b["start"]
            out["build_job_s"] += union_length(job_iv, b["start"], b["end"])
            out["build_jobs"] += sum(1 for j in jobs if b["start"] - 0.001 <= j["start"] <= b["end"])
            out["load_table_s"] += outside_jobs("io.load_table", b["start"], b["end"])
        out["build_python_s"] = out["build_s"] - out["build_job_s"] - out["load_table_s"]
        out["nonjob_s"] = wall - out["job_s"]
        out["post_write_s"] = out["run_s"] - out["write_table_s"]
        # The layer spans: wrapped io/transform/streaming calls and Spark
        # jobs. Operation wall none of them covers is unexplained; it lies
        # inside the benchmark's own spans around the registry call, the
        # collect or run_pipeline (their Python and py4j time, Catalyst,
        # scheduling gaps), and is split by them.
        layer_iv = [
            (d["start"], d["end"]) for d in desc if d["name"].split(".")[0] in LAYERS
        ]
        out["unexplained_s"] = wall - union_length(layer_iv, lo, hi)
        for key, name in (("build", "queries.build"), ("collect", "queries.collect"),
                          ("pipeline", "pipeline.run")):
            out[f"unexplained_{key}_s"] = sum(
                (b["end"] - b["start"]) - union_length(layer_iv, b["start"], b["end"])
                for b in spans(name)
            )
        for key in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "gc_s"):
            out[key] = sum(j[key] for j in jobs)
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of time not covered by the span's
        children (the layer's own time)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.get("parent") is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - union_length(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out
