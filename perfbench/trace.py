"""Per-layer tracing for ``--trace 1`` runs.

Spans are opened from the benchmark's own files: around the calls it
makes itself, and around package functions whose module attribute it
swaps for a wrapper for the length of the run.  Each span tags the
Spark jobs its thread starts (``SparkContext.addJobTag``); after the
run the job and stage records are read back from the SparkContext
status store and attributed to every span whose tag they carry.

Spans stay in memory and are written out once, at the end."""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

LAYERS = (
    "session", "plans", "sources", "reports",
    "operators", "streaming", "orchestration", "suite",
)
SPAN_FIELDS = ("wall_s", "job_s", "driver_s", "jobs", "tasks", "shuffle_write_mb", "spill_mb")
LAYER_FIELDS = ("calls", "wall_s", "self_s") + SPAN_FIELDS[1:]
UNITS = {
    "calls": "count", "wall_s": "s", "self_s": "s", "job_s": "s", "driver_s": "s",
    "jobs": "count", "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
}


def _union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.readout_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        t_in = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "layer": layer,
            "parent": stack[-1]["id"] if stack else None,
            "tag": f"perfbench-span-{sid}",
        }
        self.sc.addJobTag(rec["tag"])
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.removeJobTag(rec["tag"])
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def add_span(self, name: str, layer: str, start: float, end: float) -> None:
        """Record a span timed before the tracer existed (session start)."""
        self.spans.append({
            "id": next(self._ids), "name": name, "layer": layer,
            "parent": None, "tag": None, "start": start, "end": end,
        })

    def wrap(self, owner, attr: str, layer: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(f"{layer}.{attr}", layer):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- read back Spark's job and stage records ------------------------

    def read_status_store(self) -> None:
        t0 = time.perf_counter()
        jvm = self.sc._jvm
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        # one JSON string per list instead of a py4j call per field
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        for j in json.loads(mapper.writeValueAsString(store.jobsList(None))):
            if j.get("submissionTime") is None or j.get("completionTime") is None:
                continue
            self.jobs[j["jobId"]] = {
                "tags": set(j["jobTags"]),
                "start": j["submissionTime"] / 1000.0,
                "end": j["completionTime"] / 1000.0,
                "stages": j["stageIds"],
            }
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, None)
        for s in json.loads(mapper.writeValueAsString(stages)):
            st = self.stages.setdefault(s["stageId"], {"tasks": 0, "shuffle": 0, "spill": 0})
            st["tasks"] += s["numCompleteTasks"]
            st["shuffle"] += s["shuffleWriteBytes"]
            st["spill"] += s["diskBytesSpilled"]
        self.readout_s = time.perf_counter() - t0

    # -- roll-ups --------------------------------------------------------

    def _job_metrics(self, job_ids: set, wall_s: float) -> dict:
        stage_ids = {s for j in job_ids for s in self.jobs[j]["stages"]}
        stages = [self.stages[s] for s in stage_ids if s in self.stages]
        job_s = _union_s([(self.jobs[j]["start"], self.jobs[j]["end"]) for j in job_ids])
        return {
            "wall_s": wall_s,
            "job_s": job_s,
            "driver_s": wall_s - job_s,
            "jobs": len(job_ids),
            "tasks": sum(s["tasks"] for s in stages),
            "shuffle_write_mb": sum(s["shuffle"] for s in stages) / 2**20,
            "spill_mb": sum(s["spill"] for s in stages) / 2**20,
        }

    def _jobs_of(self, spans) -> set:
        tags = {s["tag"] for s in spans if s["tag"]}
        return {j for j, rec in self.jobs.items() if rec["tags"] & tags}

    def span_metrics(self, span: dict) -> dict:
        return self._job_metrics(self._jobs_of([span]), span["end"] - span["start"])

    def _self_s(self) -> dict[int, float]:
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"]) - _union_s(children.get(s["id"], []))
            for s in self.spans
        }

    def layer_metrics(self) -> dict[str, dict]:
        by_id = {s["id"]: s for s in self.spans}
        self_s = self._self_s()

        def nested_in_own_layer(s):
            p = s["parent"]
            while p is not None:
                if by_id[p]["layer"] == s["layer"]:
                    return True
                p = by_id[p]["parent"]
            return False

        out = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s["layer"] == layer]
            wall = sum(s["end"] - s["start"] for s in spans if not nested_in_own_layer(s))
            m = self._job_metrics(self._jobs_of(spans), wall)
            m["calls"] = len(spans)
            m["self_s"] = sum(self_s[s["id"]] for s in spans)
            out[layer] = m
        return out

    def dump(self, path: str, extra: dict) -> None:
        self_s = self._self_s()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            m = self.span_metrics(s) if s["tag"] else {"wall_s": s["end"] - s["start"]}
            rows.append({
                "id": s["id"], "parent": s["parent"], "name": s["name"], "layer": s["layer"],
                "start_s": s["start"] - t0, "self_s": self_s[s["id"]], **m,
            })
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


def stream_listener(spark):
    """A StreamingQueryListener that keeps every progress event's
    per-batch durations and state-operator figures."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            self.batches.append({
                "durations": dict(p.durationMs or {}),
                "rows_total": sum(o.numRowsTotal for o in ops),
                "memory_bytes": sum(o.memoryUsedBytes for o in ops),
                "commit_ms": sum(o.commitTimeMs for o in ops),
                "updates_ms": sum(o.allUpdatesTimeMs for o in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def stream_metrics(listener) -> dict[str, tuple[float, str]]:
    b = listener.batches

    def total(key):
        return float(sum(x["durations"].get(key, 0) for x in b))

    return {
        "stream.batches": (len(b), "count"),
        "stream.query_planning_ms": (total("queryPlanning"), "ms"),
        "stream.add_batch_ms": (total("addBatch"), "ms"),
        "stream.state_commit_ms": (float(sum(x["commit_ms"] for x in b)), "ms"),
        "stream.state_updates_ms": (float(sum(x["updates_ms"] for x in b)), "ms"),
        "stream.state_rows_total": (float(max((x["rows_total"] for x in b), default=0)), "count"),
        "stream.state_memory_mb": (max((x["memory_bytes"] for x in b), default=0) / 2**20, "MB"),
    }


def common_metrics(tracer: Tracer, pass_span: dict) -> dict[str, tuple[float, str]]:
    """Layer and timed-pass roll-ups with the names BENCHMARK.json lists."""
    out: dict[str, tuple[float, str]] = {}
    for layer, m in tracer.layer_metrics().items():
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = (m[f], UNITS[f])
    m = tracer.span_metrics(pass_span)
    for f in SPAN_FIELDS:
        out[f"pass.{f}"] = (m[f], UNITS[f])
    out["trace.spans"] = (len(tracer.spans), "count")
    out["trace.overhead_s"] = (tracer.overhead_s, "s")
    out["trace.readout_s"] = (tracer.readout_s, "s")
    return out
