"""Tracing for the benchmark's traced run.

Spans (name, start, end, parent, run id) are kept in memory and written
as JSON at exit. Each span gets its own Spark job group, so
``SparkContext.statusTracker()`` attributes jobs, stages and tasks to
the innermost call that ran them. Spans reach inside the package only by
wrapping module attributes from here: ``run_incremental`` imports its
helpers inside its body and ``near_dup_minhash`` looks its helpers up in
module globals, so a wrapped attribute sees every step. A wrapped
function that only builds a lazy plan times plan construction; the
execution is attributed through the job group of the span that runs it.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager

#: (module, attribute, span name) wrapped for the traced run
WRAPPED = [
    ("energi_data_etl_spark.sources.sinks", "latest_watermark", "sinks.latest_watermark"),
    ("energi_data_etl_spark.sources.sinks", "write_fact_table", "sinks.write_fact_table"),
    ("energi_data_etl_spark.sources.http_json", "fetch_plan", "http_json.fetch_plan"),
    ("energi_data_etl_spark.sources.http_json", "fetch_to_landing", "http_json.fetch_to_landing"),
    ("energi_data_etl_spark.sources.http_json", "read_landing", "http_json.read_landing"),
    ("energi_data_etl_spark.operators.dedup", "lsh_candidate_pairs", "dedup.lsh_candidate_pairs"),
    ("energi_data_etl_spark.operators.dedup", "exact_jaccard", "dedup.exact_jaccard"),
]


class Tracer:
    """Spans with per-span Spark job counts. Disabled, ``span`` is a
    no-op, so the same workload code runs traced and untraced."""

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.enabled = False
        #: prefix for the spans of wrapped functions (tells apart calls of
        #: one helper from two regimes, e.g. "backfill.")
        self.scope = ""
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = self._next
        self._next += 1
        group = f"perfbench-{self.run_id}-{sid}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None, "run_id": self.run_id}
        self._stack.append(sid)
        start = time.perf_counter()
        self.bookkeeping_s += start - t0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            rec.update(start=start, end=end, **job_counts(self.sc, group))
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - end

    @contextmanager
    def scoped(self, prefix: str):
        self.scope = prefix
        try:
            yield
        finally:
            self.scope = ""

    @contextmanager
    def paused(self):
        """Run trace-only probes (extra jobs) without recording spans."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def add_jobs(self, rec: dict | None, group: str) -> None:
        """Fold the jobs of another job group (a streaming query runs its
        jobs under its run id) into span ``rec``."""
        if rec is None:
            return
        t0 = time.perf_counter()
        for k, v in job_counts(self.sc, group).items():
            rec[k] = rec.get(k, 0) + v
        self.bookkeeping_s += time.perf_counter() - t0

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def span_metrics(self) -> dict[str, float]:
        """Per span name: median wall and self seconds and median job
        counts per invocation."""
        selfs = self.self_times()
        by_name: dict[str, list[dict]] = {}
        for s in self.spans:
            by_name.setdefault(s["name"], []).append(s)
        out = {}
        for name, group in by_name.items():
            out[f"{name}.s"] = statistics.median(s["end"] - s["start"] for s in group)
            out[f"{name}.self_s"] = statistics.median(selfs[s["id"]] for s in group)
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                out[f"{name}.{k}"] = statistics.median(s.get(k, 0) for s in group)
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **extra}, f, indent=1)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, tasks and failed tasks of one job group,
    from Spark's own status tracker."""
    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    tasks = failed = 0
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None or sid in stages or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped (reused) stages never run tasks
            stages.add(sid)
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks, "failed_tasks": failed}


@contextmanager
def wrapped_modules(tracer: Tracer):
    """Replace the ``WRAPPED`` module attributes with span-recording
    wrappers for the duration of the block."""
    import importlib

    saved = []
    for mod_name, attr, span_name in WRAPPED:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)

        def wrapper(*args, __fn=fn, __name=span_name, **kwargs):
            with tracer.span(tracer.scope + __name):
                return __fn(*args, **kwargs)

        setattr(mod, attr, functools.wraps(fn)(wrapper))
        saved.append((mod, attr, fn))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def stream_probe_class():
    """A ``StreamingQueryListener`` keeping every progress event, built
    lazily so importing this module needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self) -> None:
            super().__init__()
            self.lock = threading.Lock()
            self.run_ids: list[str] = []
            self.progress: dict[str, list] = {}
            self.terminated: set[str] = set()

        def onQueryStarted(self, event) -> None:  # noqa: N802
            with self.lock:
                self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            rec = {
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [
                    (s.numRowsTotal, s.numRowsDroppedByWatermark, s.memoryUsedBytes) for s in p.stateOperators
                ],
            }
            with self.lock:
                self.progress.setdefault(str(p.runId), []).append(rec)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            with self.lock:
                self.terminated.add(str(event.runId))

        def last_run(self, timeout_s: float = 30.0) -> tuple[str | None, list]:
            """Run id and progress events of the latest query, once its
            termination event has arrived (delivery is asynchronous)."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                with self.lock:
                    if self.run_ids and self.run_ids[-1] in self.terminated:
                        rid = self.run_ids[-1]
                        return rid, list(self.progress.get(rid, []))
                time.sleep(0.02)
            return None, []

    return StreamProbe
