"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""
from __future__ import annotations

import hashlib
import itertools
import json
import os
import signal
import subprocess
import sys
import time

import pandas as pd
import pytest

from perfbench import engine_proc, run, stats, trace, verify, workloads


def _digest(requests) -> str:
    h = hashlib.sha256()
    for req in requests:
        h.update(req.wire())
    return h.hexdigest()


def _writer_stream(seed: int, cycles: int):
    state = workloads.hot_tables(seed)
    return [req for c in range(cycles) for req, _ in workloads.writer_cycle(seed, c, state)]


STREAMS = {
    "small_reads": lambda seed: itertools.islice(workloads.small_reads_stream(seed, [1.0]), 60),
    "write_churn_reader": lambda seed: itertools.islice(workloads.reader_stream(seed), 60),
    "write_churn_writer": lambda seed: _writer_stream(seed, 3),
}


@pytest.mark.parametrize("name", sorted(STREAMS))
def test_same_seed_same_request_stream(name):
    make = STREAMS[name]
    assert _digest(make(7)) == _digest(make(7))
    assert _digest(make(7)) != _digest(make(8))


def test_small_reads_texts_are_unique():
    reqs = list(itertools.islice(workloads.small_reads_stream(3, [1.0]), 500))
    tokens = [r.path + (r.body or b"").decode() for r in reqs if r.kind == "query"]
    assert len(set(tokens)) == len(tokens)
    kinds = [r.kind for r in reqs[: workloads.SMALL_ROTATION]]
    assert kinds.count("query") == 11 and kinds.count("sql") == 1
    assert kinds.count("pipeline") == 1


def test_tables_are_a_function_of_the_seed():
    a = workloads.small_reads_tables(5)
    b = workloads.small_reads_tables(5)
    for name in a:
        assert workloads.data.to_csv(a[name]) == workloads.data.to_csv(b[name])


@pytest.mark.parametrize(
    "n, want",
    [(1000, 99), (999, 95), (200, 95), (199, 90), (100, 90), (99, 75), (40, 75),
     (39, 50), (20, 50), (19, None)],
)
def test_highest_percentile_with_ten_samples_beyond(n, want):
    assert stats.supported_percentile(n) == want


def test_summary_reports_supported_tail_only():
    out = stats.summary_ms([i / 1000.0 for i in range(1, 101)])
    assert out["n"] == 100 and "p90_ms" in out and "p99_ms" not in out
    assert out["p50_ms"] == pytest.approx(50.5)


def test_statistics_of_several_reads_sum_counts_and_keep_last_levels():
    first = {"hit_count": 3, "size_evict_count": 1, "cache_size": 100, "dataset_count": 2,
             "query_durations": [0.1, 0.2]}
    second = {"hit_count": 4, "result_cache_hit_count": 2, "cache_size": 80, "dataset_count": 1}
    assert run.merge_statistics([first, second]) == {
        "hit_count": 7, "size_evict_count": 1, "result_cache_hit_count": 2,
        "cache_size": 80, "dataset_count": 1}


def test_peak_rss_counts_execd_children_and_skips_forked_copies():
    # the parent forks a copy of itself and starts `sleep`; only the
    # parent and `sleep` have images of their own
    script = ("import os, subprocess, time\n"
              "if os.fork():\n"
              "    subprocess.Popen(['sleep', '5'])\n"
              "time.sleep(5)\n")
    proc = subprocess.Popen([sys.executable, "-c", script])
    try:
        deadline = time.time() + 5
        while len(engine_proc.process_tree(proc.pid)) < 3 and time.time() < deadline:
            time.sleep(0.05)
        peaks = engine_proc.PeakRss(proc.pid, interval_s=60).stop()
    finally:
        for p in engine_proc.process_tree(proc.pid)[::-1]:
            os.kill(p, signal.SIGKILL)
        proc.wait()
    assert len(peaks) == 2
    assert any(k.startswith("sleep:") for k in peaks)
    assert any(k.endswith(f":{proc.pid}") for k in peaks)


def test_self_time_on_synthetic_tree():
    # root [0,10] has children a [1,4] and b [3,6] (overlapping) and
    # a has child g [2,3]; c [20,21] is a second root
    spans = [
        (1, "app.handler", 0.0, 10.0, None, "r1"),
        (2, "plans.compile_query", 1.0, 4.0, 1, "r1"),
        (3, "exec.collect", 3.0, 6.0, 1, "r1"),
        (4, "catalog.get", 2.0, 3.0, 2, "r1"),
        (5, "app.handler", 20.0, 21.0, None, "r2"),
    ]
    own = trace.self_times(spans)
    assert own == {1: pytest.approx(5.0), 2: pytest.approx(2.0), 3: pytest.approx(3.0),
                   4: pytest.approx(1.0), 5: pytest.approx(1.0)}
    totals = trace.layer_totals(spans)
    assert totals == {"server.app": pytest.approx(6.0), "plans": pytest.approx(2.0),
                      "exec": pytest.approx(3.0), "cache.catalog": pytest.approx(1.0)}


def _record(req, status, body, unsliced=None, content_type="application/json"):
    headers = {"content-type": content_type}
    if unsliced is not None:
        headers["x-qcache-unsliced-length"] = str(unsliced)
    return run.Record("1", req, "reader", 0.0, 0.001, status, headers, body)


@pytest.fixture
def point_query():
    frame = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["a", "b", "c"]})
    check = workloads.Check(["k", "v", "s"], "SELECT * FROM t WHERE k >= 2 ORDER BY k",
                            ordered=True)
    req = workloads._query("t", {"where": [">=", "k", 2]}, check, "point")
    return verify.Verifier({"t": frame}), req


def test_404_500_and_wrong_body_each_count_as_one_error(point_query):
    verifier, req = point_query
    good = json.dumps([{"k": 2, "v": 1.5, "s": "b"}, {"k": 3, "v": 2.5, "s": "c"}]).encode()
    wrong = json.dumps([{"k": 2, "v": 1.5, "s": "b"}, {"k": 3, "v": 9.0, "s": "c"}]).encode()
    records = [
        _record(req, 200, good, unsliced=2),
        _record(req, 404, b'{"error": "Unknown dataset: t"}'),
        _record(req, 500, b'{"error": "boom"}'),
        _record(req, 200, wrong, unsliced=2),
        _record(req, None, b""),
    ]
    failures = run.check_records(object(), records, verifier)
    assert [records.index(r) for r, _ in failures] == [1, 2, 3, 4]
    assert "404" in failures[0][1] and "500" in failures[1][1]


def test_csv_and_json_bodies_check_alike(point_query):
    verifier, req = point_query
    csv_body = b"k,v,s\n2,1.5,b\n3,2.5,c\n"
    rec = _record(req, 200, csv_body, unsliced=2, content_type="text/csv; charset=utf-8")
    assert run.check_records(object(), [rec], verifier) == []


def test_wrong_unsliced_length_is_an_error(point_query):
    verifier, req = point_query
    good = json.dumps([{"k": 2, "v": 1.5, "s": "b"}, {"k": 3, "v": 2.5, "s": "c"}]).encode()
    failures = run.check_records(object(), [_record(req, 200, good, unsliced=3)], verifier)
    assert len(failures) == 1 and "unsliced" in failures[0][1]


def test_float_sums_compare_with_tolerance():
    assert verify.rows_equal([(1.0000000000001,)], [(1.0,)])
    assert not verify.rows_equal([(1.001,)], [(1.0,)])


def test_subset_check_accepts_any_limited_page():
    frame = pd.DataFrame({"c": ["x", "y", "z", "x"]})
    check = workloads.Check(["c"], "SELECT DISTINCT c FROM t", limit=2, subset=True)
    verifier = verify.Verifier({"t": frame})
    req = workloads._query("t", {}, check, "distinct")
    ok = _record(req, 200, json.dumps([{"c": "z"}, {"c": "x"}]).encode(), unsliced=3)
    dup = _record(req, 200, json.dumps([{"c": "x"}, {"c": "x"}]).encode(), unsliced=3)
    failures = run.check_records(object(), [ok, dup], verifier)
    assert [r for r, _ in failures] == [dup]


def test_percentile_rank_check():
    values = sorted(float(i) for i in range(10000))
    assert verify.percentile_error([(5000.0,)], values, [0.5], 10000) is None
    assert verify.percentile_error([(7000.0,)], values, [0.5], 10000) is not None


def test_writer_cycle_check_reads_follow_the_written_content():
    seed = 11
    state = workloads.hot_tables(seed)
    steps = workloads.writer_cycle(seed, 2, state)
    kinds = [req.kind for req, _ in steps]
    assert kinds[:4] == ["store", "query", "update", "query"]
    update_frame = steps[2][1]
    want = [(int(update_frame["i3"].sum()), len(update_frame))]
    assert steps[3][0].check.rows == want
    # the last reads cover every hot key at its current content
    tail = [req.key for req, _ in steps[-len(workloads.HOT_KEYS):]]
    assert tail == list(workloads.HOT_KEYS)
