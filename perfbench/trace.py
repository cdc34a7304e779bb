"""Spans around the calls into each engine layer, from outside the program.

``Tracer.install`` replaces public functions under the names their
callers bound (``qcache_spark.server.app.compile_query`` and the other
module globals the handler calls, ``DatasetCatalog`` methods,
``QueryResult.unsliced_len``, ``run_pipeline_op``, the handler's SQL
guard and ``DataFrame.collect``). Each HTTP request becomes a root span
keyed by the ``X-Bench-Request-Id`` header and runs under a Spark job
group of the same id. Spans stay in memory until ``dump``.

The analysis half (``self_times``, ``layer_totals``) is pure and runs
in the load generator.
"""
from __future__ import annotations

import functools
import threading
import time

REQUEST_ID_HEADER = "X-Bench-Request-Id"

# span name -> layer reported for it
LAYER_OF = {
    "app.handler": "server.app",
    "sql.guard": "server.app",
    "plans.compile_query": "plans",
    "plans.compile_update": "plans",
    "ingest.from_csv": "sources.ingest",
    "ingest.from_json": "sources.ingest",
    "ingest.rows_to_csv": "sources.ingest",
    "ingest.rows_to_json": "sources.ingest",
    "catalog.insert": "cache.catalog",
    "catalog.get": "cache.catalog",
    "catalog.replace_df": "cache.catalog",
    "exec.collect": "exec",
    "exec.unsliced_count": "exec",
    "pipeline.build": "server.pipeline",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[tuple] = []  # (id, name, start, end, parent, request id)
        self.requests: dict[str, dict] = {}
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._id_lock = threading.Lock()

    # -- recording ----------------------------------------------------

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _call(self, name: str, fn, args, kwargs, on_result=None):
        stack = self._stack()
        with self._id_lock:
            span_id = next(self._ids)
        parent, rid = stack[-1] if stack else (None, getattr(self._local, "rid", None))
        stack.append((span_id, rid))
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((span_id, name, t0, t1, parent, rid))
        if on_result is not None and rid is not None:
            on_result(rid, args, result)
        return result

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            return self._call(name, original, args, kwargs, on_result)

        setattr(owner, attr, traced)

    def _wrap_handler(self, cls, attr: str) -> None:
        original = getattr(cls, attr)
        tracer = self

        @functools.wraps(original)
        def handle(handler_self):
            rid = handler_self.headers.get(REQUEST_ID_HEADER) if tracer.enabled else None
            if rid is None:
                return original(handler_self)
            sc = tracer.spark.sparkContext
            sc.setJobGroup(rid, attr, False)
            tracer._local.rid = rid
            try:
                tracer._call("app.handler", original, (handler_self,), {})
            finally:
                tracer._local.rid = None
                tracker = sc.statusTracker()
                jobs = tracker.getJobIdsForGroup(rid)
                stages = 0
                for job in jobs:
                    info = tracker.getJobInfo(job)
                    stages += len(info.stageIds) if info is not None else 0
                entry = tracer.requests.setdefault(rid, {})
                entry["jobs"] = len(jobs)
                entry["stages"] = stages

        setattr(cls, attr, handle)

    def _record_collect(self, rid, args, rows) -> None:
        # the executed QueryExecution is kept and read at dump time, so
        # the plan walk never sits on the request path
        entry = self.requests.setdefault(rid, {})
        entry.setdefault("collects", []).append((args[0]._jdf.queryExecution(), len(rows)))

    def _record_serialized(self, rid, args, _result) -> None:
        entry = self.requests.setdefault(rid, {})
        entry["rows_serialized"] = entry.get("rows_serialized", 0) + len(args[0])

    def install(self) -> None:
        from pyspark.sql import DataFrame

        from qcache_spark.cache.catalog import DatasetCatalog
        from qcache_spark.plans.compiler import QueryResult
        from qcache_spark.server import app, pipeline

        self.wrap(app, "compile_query", "plans.compile_query")
        self.wrap(app, "compile_update", "plans.compile_update")
        self.wrap(app, "from_csv", "ingest.from_csv")
        self.wrap(app, "from_json_records", "ingest.from_json")
        self.wrap(app, "rows_to_csv", "ingest.rows_to_csv", self._record_serialized)
        self.wrap(app, "rows_to_json", "ingest.rows_to_json", self._record_serialized)
        self.wrap(DatasetCatalog, "insert", "catalog.insert")
        self.wrap(DatasetCatalog, "get", "catalog.get")
        self.wrap(DatasetCatalog, "replace_df", "catalog.replace_df")
        self.wrap(QueryResult, "unsliced_len", "exec.unsliced_count")
        self.wrap(pipeline, "run_pipeline_op", "pipeline.build")
        self.wrap(app.QCacheHandler, "_sync_sql_views", "sql.guard")
        self.wrap(app.QCacheHandler, "_check_sql_read_only", "sql.guard")
        collect_cls = type(self.spark.range(1))
        if not issubclass(collect_cls, DataFrame):  # pragma: no cover - defensive
            collect_cls = DataFrame
        self.wrap(collect_cls, "collect", "exec.collect", self._record_collect)
        for attr in ("do_GET", "do_POST", "do_DELETE"):
            self._wrap_handler(app.QCacheHandler, attr)

    # -- dump -----------------------------------------------------------

    def _plan_facts(self, qe) -> dict:
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        return {"phases": phases, "scanned": _scanned_rows(qe.executedPlan())}

    def dump(self) -> dict:
        self.enabled = False
        requests = {}
        for rid, entry in self.requests.items():
            out = {k: v for k, v in entry.items() if k != "collects"}
            out["collects"] = [
                dict(self._plan_facts(qe), returned=n) for qe, n in entry.get("collects", [])
            ]
            requests[rid] = out
        return {"spans": list(self.spans), "requests": requests}


def _scanned_rows(plan) -> int:
    """Sum of numOutputRows over the leaf scans of an executed plan,
    walking through AQE wrappers and query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _scanned_rows(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _scanned_rows(plan.plan())
    children = plan.children()
    if children.isEmpty():
        if "Scan" in name:
            metric = plan.metrics().get("numOutputRows")
            return int(metric.get().value()) if metric.isDefined() else 0
        return 0
    total = 0
    it = children.iterator()
    while it.hasNext():
        total += _scanned_rows(it.next())
    return total


# -- analysis (load generator side) -------------------------------------


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its children cover (overlapping children count once)."""
    children: dict = {}
    for span in spans:
        children.setdefault(span[4], []).append(span)
    out = {}
    for span_id, _name, start, end, _parent, _rid in spans:
        covered = 0.0
        cursor = start
        for _, _, c0, c1, _, _ in sorted(children.get(span_id, []), key=lambda s: s[2]):
            c0, c1 = max(c0, cursor), min(c1, end)
            if c1 > c0:
                covered += c1 - c0
                cursor = c1
        out[span_id] = (end - start) - covered
    return out


def layer_totals(spans: list[tuple]) -> dict[str, float]:
    """Self seconds summed per layer."""
    own = self_times(spans)
    totals: dict[str, float] = {}
    for span in spans:
        layer = LAYER_OF.get(span[1], span[1])
        totals[layer] = totals.get(layer, 0.0) + own[span[0]]
    return totals
