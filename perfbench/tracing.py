"""Spans and Spark counters for the traced run, recorded from outside
the engine.

``instrument`` wraps the engine's public functions where the engine
looks them up (module attributes), so every call on the request, rule
and ``vt`` paths opens a span named after its layer. Spans stay in
memory and are written to a JSON-lines file when the run ends. A layer's
self time is its span's duration minus the part its child spans cover.

Spark counters come from a job group per traced op, read after the run
through ``SparkContext.statusTracker()`` and the JVM ``AppStatusStore``
(populated with the UI off).

Wrappers stay installed for the whole traced run but record only while
``Tracer.active`` is set, so the traced run can interleave untraced ops
and report tracing overhead as the difference of the two medians.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import types
from typing import Any, Callable, Iterable

# Span names per per-layer metric whose value is self time per op.
SELF_TIME_METRICS = {
    "api.http_ms": ["api.http"],
    "api.serialize_ms": ["api.evaluate", "api.dumps"],
    "plans.parse_ms": ["plans.parse"],
    "plans.validate_ms": ["plans.validate"],
    "operators.compile_ms": ["operators.compile"],
    "operators.plan_ms": ["operators.plan"],
    "sources.inline_ms": ["sources.inline"],
    "sources.load_ms": ["sources.load"],
    "catalyst.optimize_ms": ["catalyst.optimize"],
    "catalyst.execute_ms": ["catalyst.execute"],
}


class Tracer:
    """In-memory span recorder. One client op at a time: spans opened on
    any thread while an op is open belong to it, and a span opened on a
    thread with no open span is a child of the op's root span."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self.op: int | None = None
        self._root: int | None = None
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin_op(self, op: int, root_name: str) -> None:
        self.active = True
        self.op = op
        self._root = self.open(root_name)

    def end_op(self) -> None:
        self.close(self._root)
        self.active = False
        self.op = self._root = None

    def open(self, name: str) -> int:
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)  # span ids index ``spans``
            parent = stack[-1] if stack else self._root
            self.spans.append({
                "id": sid, "op": self.op, "parent": parent, "name": name,
                "start": time.perf_counter(), "end": None,
            })
        stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        end = time.perf_counter()
        self.spans[sid]["end"] = end
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    def wrap(self, name: str, fn: Callable, attrs: Callable | None = None) -> Callable:
        """``fn`` recording a span while active; ``attrs`` maps the
        result to counts stored on the span."""
        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            if not self.active:
                return fn(*args, **kwargs)
            sid = self.open(name)
            try:
                result = fn(*args, **kwargs)
                if attrs is not None:
                    self.spans[sid].update(attrs(result))
                return result
            finally:
                self.close(sid)
        return traced

    def op_spans(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["op"], []).append(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time in ms per span name over one op's spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        own = (s["end"] - s["start"] - covered) * 1000
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def instrument(tracer: Tracer, set_job_group: Callable[[], None]) -> None:
    """Install span wrappers on the engine's public functions for the
    rest of the process. ``set_job_group`` tags Spark jobs with the
    current op; it runs in the HTTP handler thread, where the request's
    jobs are submitted."""
    from pyspark.sql.classic.dataframe import DataFrame

    from dynamicqueryengine_spark import api
    from dynamicqueryengine_spark.operators import executor, predicates
    from dynamicqueryengine_spark.plans import model
    from dynamicqueryengine_spark.sources import registry, versioned

    for owner, attr, name in [
        (api, "inline_table", "sources.inline"),
        (api, "apply_rule", "operators.plan"),
        (api, "execute_rules", "operators.plan"),
        (executor, "apply_rule", "operators.plan"),
        (executor, "apply_aggregation", "operators.plan"),
        (executor, "validate_rule", "plans.validate"),
        (executor, "compile_predicate", "operators.compile"),
        (predicates, "compile_predicate", "operators.compile"),
        (registry, "load_table", "sources.load"),
        (versioned, "vt_update", "sources.vt_update"),
        (versioned, "vt_delete", "sources.vt_delete"),
        (versioned, "vt_merge", "sources.vt_merge"),
        (versioned, "vt_read", "sources.vt_read"),
    ]:
        setattr(owner, attr, tracer.wrap(name, getattr(owner, attr)))
    versioned.vt_scan_plan = tracer.wrap(
        "sources.vt_scan_plan", versioned.vt_scan_plan,
        lambda plan: {"files_kept": plan["files_kept"], "files_total": plan["files_total"]},
    )

    parse = model.RuleDefinition.__dict__["from_dict"].__func__
    model.RuleDefinition.from_dict = classmethod(tracer.wrap("plans.parse", parse))

    evaluate = api.evaluate_request

    def evaluate_request(*args: Any, **kwargs: Any) -> Any:
        if tracer.active:
            set_job_group()
        return evaluate(*args, **kwargs)

    api.evaluate_request = tracer.wrap("api.evaluate", evaluate_request)
    # the HTTP handler serialises the response with the module's json
    api.json = types.SimpleNamespace(
        loads=json.loads,
        dumps=tracer.wrap("api.dumps", json.dumps),
        JSONDecodeError=json.JSONDecodeError,
    )

    collect = DataFrame.collect

    def traced_collect(self: DataFrame) -> list:
        if not tracer.active:
            return collect(self)
        sid = tracer.open("catalyst.optimize")
        try:
            qe = self._jdf.queryExecution()
            qe.optimizedPlan()
            qe.executedPlan()
        finally:
            tracer.close(sid)
        sid = tracer.open("catalyst.execute")
        try:
            return collect(self)
        finally:
            tracer.close(sid)

    DataFrame.collect = traced_collect


def spark_counters(spark, groups: Iterable[str]) -> dict[str, dict[str, int]]:
    """Jobs, completed stages and tasks, executor run time, input and
    shuffle-write bytes per job group, from the status tracker and the
    JVM status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {}
    for group in groups:
        c = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0,
             "input_bytes": 0, "shuffle_bytes": 0}
        for job in tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in list(info.stageIds) if info else []:
                data = store.lastStageAttempt(stage)
                if data.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["tasks"] += data.numCompleteTasks()
                c["run_ms"] += data.executorRunTime()
                c["input_bytes"] += data.inputBytes()
                c["shuffle_bytes"] += data.shuffleWriteBytes()
        out[group] = c
    return out
