"""End-to-end benchmark of the qcache HTTP server.

    python3 perfbench/run.py --workload small_reads --seed 1 --seconds 20 --trace 0

Each run launches a fresh engine process (Spark ``local[nproc]`` plus
the HTTP server), stores the workload's datasets, runs a fixed
untimed warm-up, then drives the server over loopback HTTP from this
process for ``--seconds`` with closed-loop clients, then stores the
datasets again in three more set-up rounds. Every response is checked
against DuckDB after the run. With ``--trace 1`` the window runs twice
on the same engine, in alternating untraced and traced slices, and the
per-layer metrics come from the traced slices.

The last stdout line is the result object; the line before it is the
full run report (stamps, control probe, workload properties, every
metric with its sample count, errors with causes).
"""
from __future__ import annotations

import argparse
import http.client
import importlib.util
import json
import os
import signal
import statistics
import sys
import threading
import time
import urllib.parse
from dataclasses import dataclass

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import data, engine_proc, stats, trace, verify, workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "retained_mb": "MiB",
}
PER_LAYER = {
    "app.handler_ms": "ms",
    "app.wire_ms": "ms",
    "app.response_bytes": "bytes",
    "result_cache.hit_ratio": "ratio",
    "sql.guard_ms": "ms",
    "ingest.from_csv_ms": "ms",
    "ingest.rows_to_csv_ms": "ms",
    "ingest.rows_to_json_ms": "ms",
    "ingest.rows_serialized": "count",
    "catalog.insert_ms": "ms",
    "catalog.replace_df_ms": "ms",
    "catalog.get_ms": "ms",
    "catalog.evictions": "count",
    "catalog.bytes_per_input_byte": "ratio",
    "plans.compile_query_ms": "ms",
    "plans.compile_update_ms": "ms",
    "exec.page_collect_ms": "ms",
    "exec.unsliced_count_ms": "ms",
    "exec.jobs_per_request": "count",
    "exec.stages_per_request": "count",
    "exec.catalyst_analysis_ms": "ms",
    "exec.catalyst_optimization_ms": "ms",
    "exec.catalyst_planning_ms": "ms",
    "exec.rows_scanned_per_row_returned": "ratio",
    "exec.gc_ms": "ms",
    "pipeline.build_ms": "ms",
    "pipeline.collect_ms": "ms",
    "client.cpu_ms_per_request": "ms",
    "trace.overhead_ms": "ms",
}
REQUEST_TIMEOUT_S = 60.0
SETUP_ROUNDS = 4
TRACE_SLICES = 4
# /statistics values that are levels, not counts since the last read
STATISTICS_GAUGES = ("dataset_count", "cache_size", "statistics_buffer_size")


# --------------------------------------------------------------------
# HTTP client
# --------------------------------------------------------------------


@dataclass
class Record:
    rid: str
    req: object
    role: str
    t_send: float
    t_recv: float
    status: int | None
    headers: dict
    body: bytes

    @property
    def latency(self) -> float:
        return self.t_recv - self.t_send


class Client:
    """One keep-alive loopback connection."""

    def __init__(self, port: int, ids, role: str):
        self.port = port
        self.ids = ids
        self.role = role
        self.conn = None

    def send(self, req) -> Record:
        rid = str(next(self.ids))
        headers = dict(req.headers, **{trace.REQUEST_ID_HEADER: rid})
        if req.body is not None:
            headers["Content-Length"] = str(len(req.body))
        t0 = time.perf_counter()
        status, resp_headers, body = None, {}, b""
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                       timeout=REQUEST_TIMEOUT_S)
            self.conn.request(req.method, req.path, body=req.body, headers=headers)
            resp = self.conn.getresponse()
            body = resp.read()
            status = resp.status
            resp_headers = {k.lower(): v for k, v in resp.getheaders()}
        except (OSError, http.client.HTTPException):
            self.close()
        return Record(rid, req, self.role, t0, time.perf_counter(), status, resp_headers, body)

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None


class Ids:
    """Thread-safe request-id counter."""

    def __init__(self):
        self._n = 0
        self._lock = threading.Lock()

    def __iter__(self):
        return self

    def __next__(self) -> int:
        with self._lock:
            self._n += 1
            return self._n


def closed_loop(port: int, ids: Ids, n_clients: int, next_request, stop, role: str) -> list:
    """``n_clients`` threads each send the next request once the last
    reply arrived, until ``stop()`` is true before a send."""
    records: list = []
    lock = threading.Lock()

    def worker():
        client = Client(port, ids, role)
        try:
            while not stop():
                req = next_request()
                if req is None:
                    break
                rec = client.send(req)
                with lock:
                    records.append(rec)
        finally:
            client.close()

    threads = [threading.Thread(target=worker) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def send_all(port: int, ids: Ids, requests: list, role: str) -> list:
    """Send ``requests`` in order on one connection."""
    return closed_loop(port, ids, 1, locked(iter(requests)), lambda: False, role)


def locked(iterator):
    lock = threading.Lock()

    def nxt():
        with lock:
            return next(iterator, None)

    return nxt


def get_json(port: int, path: str) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return json.loads(resp.read())
    finally:
        conn.close()


def status_ms(port: int) -> float:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        t0 = time.perf_counter()
        conn.request("GET", "/qcache/status")
        resp = conn.getresponse()
        resp.read()
        if resp.status != 200:
            raise RuntimeError(f"/qcache/status answered {resp.status}")
        return (time.perf_counter() - t0) * 1000.0
    finally:
        conn.close()


def control_probe(engine) -> dict:
    """Fixed-cost control: status round trip and a one-row Spark job."""
    rtt = [status_ms(engine.port) for _ in range(5)]
    spark_ms = [engine.command("control")["ms"] for _ in range(3)]
    return {"status_rtt_ms": statistics.median(rtt), "spark_range_ms": statistics.median(spark_ms)}


# --------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------


class Workload:
    clients = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.tables = self.make_tables()
        self.csv = {k: data.to_csv(v) for k, v in self.tables.items()}

    def cache_size(self) -> int:
        return 1 << 30

    def after_setup(self, engine, setup_records) -> None:
        pass

    def setup_requests(self, suffix: str = "") -> list:
        return [workloads.store_request(k + suffix, body) for k, body in self.csv.items()]

    def delete_requests(self, suffix: str) -> list:
        return [workloads.delete_request(k + suffix) for k in self.csv]

    def properties(self) -> dict:
        datasets = {k: {"rows": len(v), "csv_bytes": len(self.csv[k])}
                    for k, v in self.tables.items()}
        return {"clients": self.clients, "datasets": datasets}


class SmallReads(Workload):
    """One client sends whole rotations of the stream. One client keeps
    each request's latency its own service time, so the median does not
    depend on which requests happened to overlap; the warm-up uses four
    clients to get the JVM's compilation done in fewer seconds."""

    clients = 1
    warmup_clients = 4
    warmup_requests = 7 * workloads.SMALL_ROTATION
    rotation_budget_s = 4.0  # one rotation per this many seconds of window

    def make_tables(self):
        return workloads.small_reads_tables(self.seed)

    def start(self):
        prices = self.tables["lineitem"]["l_extendedprice"].to_numpy()
        self.stream = workloads.small_reads_stream(self.seed, sorted(prices))

    def warmup(self, port, ids):
        head = [next(self.stream) for _ in range(self.warmup_requests)]
        return closed_loop(port, ids, self.warmup_clients, locked(iter(head)), lambda: False,
                           "warmup")

    def window(self, port, ids, seconds):
        """A fixed number of whole rotations for the window's length, so
        every request shape is sent equally often and the median does
        not move with the point in the rotation at which time ran out;
        a slow run takes longer instead."""
        n = max(1, round(seconds / self.rotation_budget_s)) * workloads.SMALL_ROTATION
        head = [next(self.stream) for _ in range(n)]
        return closed_loop(port, ids, self.clients, locked(iter(head)), lambda: False,
                           "reader")


class WriteChurn(Workload):
    """A writer client cycles stores/updates/deletes while a reader
    client repeats dashboard texts. The cache holds the hot keys plus
    about two cold datasets, so cold stores evict."""

    clients = 2
    warmup_requests = 80
    warmup_cycles = 2
    cycle_budget_s = 2.0  # one writer cycle per this many seconds of window
    pregenerated_cycles = 12

    def make_tables(self):
        return workloads.hot_tables(self.seed)

    def after_setup(self, engine, setup_records) -> None:
        """Record the hot keys' first versions, and size the cache from
        the server's own estimate of the stored hot keys: room for them
        plus about 2.5 average cold datasets."""
        for rec in setup_records:
            if rec.status == 201:
                self.versions[rec.req.key].append((self.tables[rec.req.key],
                                                   rec.t_send, rec.t_recv))
        hot_bytes = get_json(engine.port, "/qcache/statistics")["cache_size"]
        hot_rows = len(workloads.HOT_KEYS) * workloads.HOT_ROWS
        cold_rows = 2.5 * sum(workloads.COLD_ROWS) / len(workloads.COLD_ROWS)
        engine.command("cache", bytes=int(hot_bytes * (1 + cold_rows / hot_rows)))

    def start(self):
        self.hot_state = dict(self.tables)
        self.cycle = 0
        self.cycles = [workloads.writer_cycle(self.seed, c, self.hot_state)
                       for c in range(self.pregenerated_cycles)]
        self.reader = workloads.reader_stream(self.seed)
        # key -> [(frame, t_send, t_ack)] of acknowledged writes
        self.versions = {k: [] for k in workloads.HOT_KEYS}

    def _next_cycle(self):
        while self.cycle >= len(self.cycles):
            self.cycles.append(workloads.writer_cycle(self.seed, len(self.cycles),
                                                      self.hot_state))
        steps = self.cycles[self.cycle]
        self.cycle += 1
        return steps

    def _writer(self, port, ids, cycles, out):
        client = Client(port, ids, "writer")
        try:
            for _ in range(cycles):
                for req, frame in self._next_cycle():
                    rec = client.send(req)
                    out.append(rec)
                    if frame is not None and req.key in self.versions and rec.status in (200, 201):
                        self.versions[req.key].append((frame, rec.t_send, rec.t_recv))
        finally:
            client.close()

    def _both(self, port, ids, cycles, reader_stop, reader_next):
        """The writer runs ``cycles`` cycles beside one reader client,
        which stops once the writer is done and ``reader_stop()`` holds."""
        writes: list = []
        t = threading.Thread(target=self._writer, args=(port, ids, cycles, writes))
        t.start()
        reads = closed_loop(port, ids, 1, reader_next,
                            lambda: not t.is_alive() and reader_stop(), "reader")
        t.join()
        return reads + writes

    def warmup(self, port, ids):
        head = iter([next(self.reader) for _ in range(self.warmup_requests)])
        recs = self._both(port, ids, self.warmup_cycles, lambda: False, locked(head))
        for r in recs:
            if r.role == "reader":
                r.role = "warmup"
        return recs

    def window(self, port, ids, seconds):
        """A fixed number of writer cycles for the window's length, so
        every run stores the same sizes in the same order and the
        median store compares like with like; the reader reads until
        the window ends (or, on a slow run, until the writer is done)."""
        deadline = time.perf_counter() + seconds
        cycles = max(1, round(seconds / self.cycle_budget_s))
        return self._both(port, ids, cycles, lambda: time.perf_counter() >= deadline,
                          locked(self.reader))

    def candidates(self, rec):
        """Versions of the key that were live at some instant between
        the read's send and its reply."""
        versions = self.versions[rec.req.key]
        out = []
        for i, (frame, t_send, _ack) in enumerate(versions):
            nxt_ack = versions[i + 1][2] if i + 1 < len(versions) else float("inf")
            if t_send <= rec.t_recv and nxt_ack >= rec.t_send:
                out.append((f"{rec.req.key}@{i}", frame))
        return out


WORKLOAD_CLASSES = {"small_reads": SmallReads, "write_churn": WriteChurn}


# --------------------------------------------------------------------
# Checking
# --------------------------------------------------------------------


def check_records(wl, records, verifier) -> list[tuple]:
    """(record, reason) for every failed operation."""
    failures = []
    for rec in records:
        req = rec.req
        if isinstance(wl, WriteChurn) and req.template.startswith("dash"):
            if rec.status != 200:
                failures.append((rec, f"status {rec.status}, want 200"))
                continue
            reasons = []
            for scope, frame in wl.candidates(rec):
                verifier.register("cur", frame)
                reason = verifier.error(req.check, rec.status, rec.headers, rec.body, scope=scope)
                if reason is None:
                    break
                reasons.append(reason)
            else:
                failures.append((rec, "; ".join(reasons) or "no live version"))
            continue
        reason = verifier.error(req.check, rec.status, rec.headers, rec.body, req.expect_status)
        if reason is not None:
            failures.append((rec, reason))
    return failures


# --------------------------------------------------------------------
# Metrics
# --------------------------------------------------------------------


def reads(records) -> list:
    return [r for r in records if r.req.kind == "query" and r.role == "reader"]


def merge_statistics(snapshots) -> dict:
    """One /statistics snapshot for several reads: counts are summed,
    levels are taken from the last read; duration buffers are dropped."""
    out = {}
    for snap in snapshots:
        for k, v in snap.items():
            if isinstance(v, list):
                continue
            out[k] = v if k in STATISTICS_GAUGES else out.get(k, 0) + v
    return out


def median_ms(records) -> float:
    return statistics.median(r.latency for r in records) * 1000.0 if records else 0.0


def latency_block(records) -> dict:
    return stats.summary_ms([r.latency for r in records])


def window_metrics(records, elapsed: float) -> dict:
    by_kind: dict = {}
    for r in records:
        by_kind.setdefault(r.req.kind, []).append(r)
    queries = reads(records)
    out = {
        "query": latency_block(queries),
        "query_qps": len(queries) / elapsed if elapsed > 0 else 0.0,
        "window_s": elapsed,
    }
    for kind in ("store", "update", "sql", "pipeline", "delete"):
        if kind in by_kind:
            out[kind] = latency_block(by_kind[kind])
    checks = [r for r in by_kind.get("query", []) if r.role == "writer"]
    if checks:
        out["read_after_write"] = latency_block(checks)
    templates: dict = {}
    for r in records:
        templates.setdefault(r.req.template, []).append(r)
    out["template_p50_ms"] = {k: median_ms(v) for k, v in sorted(templates.items())}
    return out


def properties(records) -> dict:
    queries = reads(records)
    texts = [r.req.path + (r.req.body or b"").decode("utf-8", "replace") for r in queries]
    sliced = 0
    for r in queries:
        text = r.req.body.decode() if r.req.method == "POST" else urllib.parse.unquote(
            r.req.path.split("?q=", 1)[1])
        q = json.loads(text)
        sliced += bool(isinstance(q, dict) and (q.get("limit") or q.get("offset")))
    page_rows = sorted(len(verify.parse_body(r.body, r.headers.get("content-type", ""))[1])
                       for r in queries if r.status == 200)
    out = {
        "queries": len(queries),
        "repeated_text_share": (1 - len(set(texts)) / len(texts)) if texts else 0.0,
        "limit_or_offset_share": sliced / len(queries) if queries else 0.0,
        "templates": {},
    }
    for r in records:
        out["templates"][r.req.template] = out["templates"].get(r.req.template, 0) + 1
    if page_rows:
        p50, p90 = np.percentile(page_rows, [50, 90])
        out["page_rows"] = {"p50": float(p50), "p90": float(p90), "max": page_rows[-1]}
    return out


def layer_metrics(dump, records, stats_b, gc_ms, cpu_s, overhead_ms, live_csv_bytes) -> tuple:
    spans = [tuple(s) for s in dump["spans"]]
    by_rid = {r.rid: r for r in records}
    calls: dict = {}
    handler: dict = {}
    for span in spans:
        span_id, name, t0, t1, parent, rid = span
        rec = by_rid.get(rid)
        kind = rec.req.kind if rec else None
        if name == "exec.collect":
            name = {"query": "exec.page_collect", "pipeline": "pipeline.collect",
                    "sql": "sql.collect"}.get(kind, "exec.other_collect")
        calls.setdefault(name, []).append((t1 - t0) * 1000.0)
        if name == "app.handler":
            handler[rid] = (t1 - t0)

    def mean_call(name):
        xs = calls.get(name, [])
        return sum(xs) / len(xs) if xs else 0.0

    def per_request(name, kind):
        n = sum(1 for r in records if r.req.kind == kind)
        return sum(calls.get(name, [])) / n if n else 0.0

    traced = [r for r in records if r.rid in handler]
    queries = [r for r in traced if r.req.kind == "query"]
    facts = dump["requests"]
    collects = [c for r in queries for c in facts.get(r.rid, {}).get("collects", [])]
    returned = sum(c["returned"] for c in collects)
    scanned = sum(c["scanned"] for c in collects)

    def phase(name):
        xs = [c["phases"].get(name, 0) for c in collects]
        return sum(xs) / len(xs) if xs else 0.0

    def mean_fact(field, recs):
        xs = [facts.get(r.rid, {}).get(field, 0) for r in recs]
        return sum(xs) / len(xs) if xs else 0.0

    hit = stats_b.get("hit_count", 0)
    cache_hits = stats_b.get("result_cache_hit_count", 0)
    n_traced = len(traced)
    metrics = {
        "app.handler_ms": sum(handler.values()) * 1000.0 / n_traced if n_traced else 0.0,
        "app.wire_ms": (sum(r.latency - handler[r.rid] for r in traced) * 1000.0 / n_traced
                        if n_traced else 0.0),
        "app.response_bytes": sum(len(r.body) for r in traced) / n_traced if n_traced else 0.0,
        "result_cache.hit_ratio": cache_hits / hit if hit else 0.0,
        "sql.guard_ms": per_request("sql.guard", "sql"),
        "ingest.from_csv_ms": mean_call("ingest.from_csv"),
        "ingest.rows_to_csv_ms": mean_call("ingest.rows_to_csv"),
        "ingest.rows_to_json_ms": mean_call("ingest.rows_to_json"),
        "ingest.rows_serialized": mean_fact("rows_serialized", traced),
        "catalog.insert_ms": mean_call("catalog.insert"),
        "catalog.replace_df_ms": mean_call("catalog.replace_df"),
        "catalog.get_ms": mean_call("catalog.get"),
        "catalog.evictions": float(stats_b.get("size_evict_count", 0)),
        "catalog.bytes_per_input_byte": (stats_b.get("cache_size", 0) / live_csv_bytes
                                         if live_csv_bytes else 0.0),
        "plans.compile_query_ms": mean_call("plans.compile_query"),
        "plans.compile_update_ms": mean_call("plans.compile_update"),
        "exec.page_collect_ms": mean_call("exec.page_collect"),
        "exec.unsliced_count_ms": mean_call("exec.unsliced_count"),
        "exec.jobs_per_request": mean_fact("jobs", queries),
        "exec.stages_per_request": mean_fact("stages", queries),
        "exec.catalyst_analysis_ms": phase("analysis"),
        "exec.catalyst_optimization_ms": phase("optimization"),
        "exec.catalyst_planning_ms": phase("planning"),
        "exec.rows_scanned_per_row_returned": scanned / returned if returned else 0.0,
        "exec.gc_ms": gc_ms,
        "pipeline.build_ms": mean_call("pipeline.build"),
        "pipeline.collect_ms": mean_call("pipeline.collect"),
        "client.cpu_ms_per_request": cpu_s * 1000.0 / len(records) if records else 0.0,
        "trace.overhead_ms": overhead_ms,
    }
    layers = trace.layer_totals(spans)
    detail = {
        "bases": {
            "result_cache.hit_ratio": {"result_cache_hit_count": cache_hits, "hit_count": hit},
            "exec.rows_scanned_per_row_returned": {"scanned": scanned, "returned": returned},
            "catalog.bytes_per_input_byte": {"cache_size": stats_b.get("cache_size", 0),
                                             "live_csv_bytes": live_csv_bytes},
            "traced_requests": n_traced,
            "page_collects": len(collects),
        },
        "calls": {k: len(v) for k, v in calls.items()},
        "self_ms_per_request": {k: v * 1000.0 / n_traced for k, v in layers.items()}
        if n_traced else {},
        "spans": len(spans),
    }
    return metrics, detail


# --------------------------------------------------------------------
# Main
# --------------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOAD_CLASSES), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fail(message: str, code: int = 2) -> int:
    print(f"perfbench: {message}", file=sys.stderr)
    return code


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM must still run the engine teardown in the finally below
    signal.signal(signal.SIGTERM, _terminate)
    if importlib.util.find_spec("qcache_spark") is None:
        return fail("the qcache_spark package is not importable from " + ROOT)
    strays = engine_proc.stray_engines()
    deadline = time.time() + 15
    while strays and time.time() < deadline:
        time.sleep(0.5)
        strays = engine_proc.stray_engines()
    if strays:
        return fail(f"engine JVM(s) of an earlier run still alive: {strays}")

    t_start = time.perf_counter()
    phases = {}
    cpus = len(os.sched_getaffinity(0))
    stamps = stats.host_stamps(ROOT, cpus)
    wl = WORKLOAD_CLASSES[args.workload](args.seed)
    wl.start()
    phases["prepare_s"] = time.perf_counter() - t_start
    work_dir = os.path.join(engine_proc.WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    engine = None
    try:
        engine = engine_proc.Engine(cpus, wl.cache_size(), bool(args.trace),
                                    os.path.join(work_dir, "engine.log"), work_dir)
        status_ms(engine.port)
        launch_s = time.perf_counter() - engine.t_launch
        ids = Ids()
        t0 = time.perf_counter()
        setup_records = send_all(engine.port, ids, wl.setup_requests(), "setup")
        rounds = [time.perf_counter() - t0]
        wl.after_setup(engine, setup_records)
        t_warm = time.perf_counter()
        warm = wl.warmup(engine.port, ids)
        phases["warmup_s"] = time.perf_counter() - t_warm

        # a traced run alternates untraced and traced slices of the
        # window, so drift over the run does not count as trace overhead
        plan = ["untraced", "traced"] * TRACE_SLICES if args.trace else ["untraced"]
        slice_s = args.seconds / TRACE_SLICES if args.trace else args.seconds
        results = {name: dict(records=[], elapsed=0.0, cpu_s=0.0, gc_ms=0.0, stats=[],
                              slice_p50_ms=[]) for name in plan}
        get_json(engine.port, "/qcache/statistics")  # reset-on-read
        control_before = control_probe(engine)
        for name in plan:
            if name == "traced":
                engine.command("trace", on=True)
            gc0 = engine.command("gc")["ms"]
            cpu0 = time.process_time()
            t0 = time.perf_counter()
            recs = wl.window(engine.port, ids, slice_s)
            elapsed = max([r.t_recv for r in recs], default=t0) - t0
            cpu_s = time.process_time() - cpu0
            if name == "traced":
                engine.command("trace", on=False)
            res = results[name]
            res["gc_ms"] += engine.command("gc")["ms"] - gc0
            res["stats"].append(get_json(engine.port, "/qcache/statistics"))
            res["records"] += recs
            res["elapsed"] += elapsed
            res["cpu_s"] += cpu_s
            res["slice_p50_ms"].append(median_ms(reads(recs)))
        control_after = control_probe(engine)
        for res in results.values():
            res["stats"] = merge_statistics(res["stats"])
        report_windows = {name: {"server_statistics": res["stats"],
                                 "slice_query_p50_ms": res["slice_p50_ms"]}
                          for name, res in results.items()}
        rss = engine.rss.stop()
        heap = engine.command("heap")
        dump = engine.command("dump") if args.trace else None
        live_csv = 0
        if args.trace:
            so_far = setup_records + warm + [r for w in results.values() for r in w["records"]]
            live_csv = live_csv_bytes(engine.port, wl, so_far, ids)
        # the remaining set-up rounds, on the warm engine: the initial
        # store again under fresh keys, which are deleted after each round
        store_rounds = []
        for n in range(2, SETUP_ROUNDS + 1):
            t0 = time.perf_counter()
            store_rounds += send_all(engine.port, ids, wl.setup_requests(f"-r{n}"), "setup")
            rounds.append(time.perf_counter() - t0)
            store_rounds += send_all(engine.port, ids, wl.delete_requests(f"-r{n}"), "setup")
    finally:
        t_stop = time.perf_counter()
        if engine is not None:
            engine.stop()
        engine_proc.remove_work_dir(work_dir)
        phases["stop_s"] = time.perf_counter() - t_stop

    # -- checks ------------------------------------------------------
    verifier = verify.Verifier(wl.tables)
    all_records = (setup_records + warm + [r for w in results.values() for r in w["records"]]
                   + store_rounds)
    failures = check_records(wl, all_records, verifier)
    attempted = len(all_records)
    failed = len(failures)
    phases["total_s"] = time.perf_counter() - t_start

    main_window = results["untraced"]
    m = window_metrics(main_window["records"], main_window["elapsed"])
    # the window's stores (write_churn's, under churn); where the window
    # stores nothing (small_reads), set-up rounds 2-4, which run on the
    # warm engine. Mixing the two would put the median between two
    # populations of different latency.
    stores = ([r for r in main_window["records"] if r.req.kind == "store"]
              or [r for r in store_rounds if r.req.kind == "store"])
    end_to_end = {
        "setup_s": launch_s + statistics.median(rounds),
        "query_p50_ms": m["query"].get("p50_ms", 0.0),
        # what the engine holds, without the garbage the JVM's heap
        # sizing keeps resident: the peak RSS of the programs other than
        # the JVM, plus the JVM heap still in use after a full GC
        "retained_mb": sum(v for k, v in rss.items() if not k.startswith("java:"))
        + heap["live_after_gc_mb"],
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "stamps": dict(stamps, loadavg_end=os.getloadavg()),
        "phases": phases,
        "peak_rss_mb": {"value": sum(rss.values()), "by_process": rss},
        "jvm_heap_mb": heap,
        "setup": {"launch_s": launch_s, "store_rounds_s": rounds},
        "store_p50_ms": {"value": median_ms(stores), "n": len(stores),
                         "base": "the window's stores, else set-up rounds 2-4"},
        "control_before": control_before,
        "control_after": control_after,
        "windows": report_windows,
        "metrics": m,
        "error_ratio": failed / attempted if attempted else 0.0,
        "errors": [{"template": r.req.template, "role": r.role, "reason": why}
                   for r, why in failures[:20]],
        "properties": dict(wl.properties(), window=properties(main_window["records"])),
    }
    if args.trace:
        traced = results["traced"]
        tm = window_metrics(traced["records"], traced["elapsed"])
        overhead = tm["query"].get("p50_ms", 0.0) - m["query"].get("p50_ms", 0.0)
        pairs = [t - u for u, t in zip(main_window["slice_p50_ms"], traced["slice_p50_ms"])]
        report["trace_overhead_ms"] = {"pooled": overhead, "slice_pairs": pairs,
                                       "quartiles": statistics.quantiles(pairs, n=4)}
        layer, detail = layer_metrics(dump, traced["records"], traced["stats"], traced["gc_ms"],
                                      traced["cpu_s"], overhead, live_csv)
        report["traced_window"] = tm
        report["layers"] = dict(detail, metrics=layer)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def live_csv_bytes(port: int, wl, records, ids) -> int:
    """CSV bytes of the datasets still in the catalog (an evicted key
    answers 404), for the catalog's bytes-per-input-byte ratio.
    ``records`` are all of the run's requests, in order."""
    last = {}
    for r in records:
        if r.req.kind == "store" and r.status == 201:
            last[r.req.key] = len(r.req.body)
        elif r.req.kind == "delete":
            last.pop(r.req.key, None)
    total = 0
    client = Client(port, ids, "probe")
    try:
        for key, size in last.items():
            probe = workloads._query(key, {"limit": 1}, None, "probe")
            if client.send(probe).status == 200:
                total += size
    finally:
        client.close()
    return total


if __name__ == "__main__":
    raise SystemExit(main())
