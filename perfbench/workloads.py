"""Workload definitions: datasets, seeded request streams and the
DuckDB statements that give each request's expected answer.

A request stream is a pure function of ``(workload, seed)``. Query
templates rotate in a fixed order and only their parameters are drawn
from the seed, so every seed exercises the same mix. The expected
answer of a grammar query is the DuckDB result of an equivalent SQL
statement over the same generated frames; it is computed after the
timed window from the recorded responses, so checking costs the load
generator nothing while it is timed.
"""
from __future__ import annotations

import json
import urllib.parse
from dataclasses import dataclass, field

import numpy as np

from . import data

CSV = "text/csv"
JSON = "application/json"
PREFIX = "/qcache"


@dataclass
class Check:
    """How to verify one response.

    ``sql`` is the UNSLICED statement (no LIMIT/OFFSET); the expected
    page is its ``[offset:offset+limit]`` slice and the expected
    ``X-QCache-unsliced-length`` its row count. ``ordered`` compares the
    page in order (the query has a total ``order_by``); ``subset``
    accepts any ``limit`` rows of the result (an unordered limited
    query). ``rows`` replaces ``sql`` when the answer is known without
    a query (read-after-write checks)."""

    columns: list[str]
    sql: str | None = None
    rows: list[tuple] | None = None
    limit: int | None = None
    offset: int = 0
    ordered: bool = False
    subset: bool = False
    unsliced_header: bool = True
    percentiles: tuple | None = None  # (sorted values, probabilities, accuracy)


@dataclass
class Request:
    kind: str  # query | sql | pipeline | store | update | delete
    method: str
    path: str
    body: bytes | None = None
    headers: dict = field(default_factory=dict)
    key: str | None = None
    check: Check | None = None
    expect_status: int = 200
    template: str = ""

    def wire(self) -> bytes:
        """Canonical bytes of what goes on the wire (stream-identity tests)."""
        head = json.dumps([self.method, self.path, sorted(self.headers.items())])
        return head.encode() + b"\n" + (self.body or b"")


def _query(key: str, q: dict, check: Check, template: str, post: bool = False,
           accept: str = JSON) -> Request:
    text = json.dumps(q, separators=(",", ":"))
    headers = {"Accept": accept}
    if post:
        return Request("query", "POST", f"{PREFIX}/dataset/{key}/q", text.encode(),
                       headers, key, check, template=template)
    path = f"{PREFIX}/dataset/{key}?q=" + urllib.parse.quote(text)
    return Request("query", "GET", path, None, headers, key, check, template=template)


def store_request(key: str, csv_body: bytes) -> Request:
    return Request("store", "POST", f"{PREFIX}/dataset/{key}", csv_body,
                   {"Content-Type": CSV}, key, None, expect_status=201, template="store")


def delete_request(key: str) -> Request:
    return Request("delete", "DELETE", f"{PREFIX}/dataset/{key}", None, {}, key, None,
                   template="delete")


def _sql_list(values) -> str:
    return ", ".join(str(int(v)) for v in values)


def _quote(s: str) -> str:
    return "'" + s + "'"


class _Unique:
    """Draws parameters until the query text is new, so the server's
    ResultCache never hits on streams that promise unique texts."""

    def __init__(self):
        self.seen: set[str] = set()

    def add(self, req: Request) -> bool:
        token = req.path + (req.body or b"").decode("utf-8", "replace")
        if token in self.seen:
            return False
        self.seen.add(token)
        return True


# --------------------------------------------------------------------
# small_reads: the reference's serving shape at sf0.01
# --------------------------------------------------------------------

SMALL_SIZES = {"orders": 15_000, "lineitem": 60_000, "customer": 1_500}


def small_reads_tables(seed: int) -> dict:
    return {
        "orders": data.orders(seed, SMALL_SIZES["orders"], SMALL_SIZES["customer"]),
        "lineitem": data.lineitem(seed, SMALL_SIZES["lineitem"], SMALL_SIZES["orders"]),
        "customer": data.customer(seed, SMALL_SIZES["customer"]),
    }


def _d(rng, start="1992-01-01", days=2400) -> str:
    return str(np.datetime64(start) + int(rng.integers(0, days)))


def _small_template(t: int, rng, n_orders: int, n_cust: int):
    if t == 0:  # reference benchmark: select+distinct, equality on a low-card column, limit
        flag = str(rng.choice(["A", "N", "R"]))
        p = int(rng.integers(2000, 20000))
        cols = ["l_returnflag", "l_linestatus", "l_discount", "l_tax"]
        q = {"select": cols, "distinct": cols,
             "where": ["&", ["==", "l_returnflag", _quote(flag)], ["<", "l_partkey", p]],
             "limit": 50}
        sql = (f"SELECT DISTINCT {', '.join(cols)} FROM lineitem "
               f"WHERE l_returnflag = '{flag}' AND l_partkey < {p}")
        return "lineitem", q, Check(cols, sql, limit=50, subset=True), "ref_distinct"
    if t == 1:  # point lookup
        k = int(rng.integers(0, n_orders))
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority"]
        q = {"where": ["==", "o_orderkey", k]}
        return "orders", q, Check(cols, f"SELECT * FROM orders WHERE o_orderkey = {k}"), "point"
    if t == 2:  # in-list
        keys = sorted(int(x) for x in rng.choice(n_cust, 5, replace=False))
        cols = ["o_orderkey", "o_custkey", "o_totalprice"]
        q = {"where": ["in", "o_custkey", keys], "select": cols, "order_by": ["o_orderkey"]}
        sql = (f"SELECT {', '.join(cols)} FROM orders WHERE o_custkey IN ({_sql_list(keys)}) "
               "ORDER BY o_orderkey")
        return "orders", q, Check(cols, sql, ordered=True), "in_list"
    if t == 3:  # like
        pat = f"{int(rng.integers(0, 1000)):03d}"
        seg = str(rng.choice(data.SEGMENTS))
        cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
        q = {"where": ["&", ["like", "c_name", _quote(f"%{pat}%")],
                       ["==", "c_mktsegment", _quote(seg)]]}
        sql = (f"SELECT * FROM customer WHERE c_name LIKE '%{pat}%' "
               f"AND c_mktsegment = '{seg}'")
        return "customer", q, Check(cols, sql), "like"
    if t == 4:  # range + offset/limit (count job)
        d0 = np.datetime64(_d(rng, days=2400))
        lo, hi = str(d0), str(d0 + 7)
        qty = int(rng.integers(20, 45))
        off = int(rng.integers(0, 10))
        cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"]
        q = {"where": ["&", [">=", "l_shipdate", _quote(lo)], ["<", "l_shipdate", _quote(hi)],
                       [">", "l_quantity", qty]],
             "select": cols, "order_by": ["l_orderkey", "l_linenumber"],
             "offset": off, "limit": 20}
        sql = (f"SELECT {', '.join(cols)} FROM lineitem WHERE l_shipdate >= '{lo}' "
               f"AND l_shipdate < '{hi}' AND l_quantity > {qty} "
               "ORDER BY l_orderkey, l_linenumber")
        return "lineitem", q, Check(cols, sql, limit=20, offset=off, ordered=True), "range_page"
    if t == 5:  # group_by aggregate
        x = int(rng.integers(1000, 450000))
        cols = ["o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderkey"]
        q = {"where": [">", "o_totalprice", x], "group_by": ["o_orderstatus", "o_orderpriority"],
             "select": ["o_orderstatus", "o_orderpriority", ["sum", "o_totalprice"],
                        ["count", "o_orderkey"]]}
        sql = ("SELECT o_orderstatus, o_orderpriority, SUM(o_totalprice) AS o_totalprice, "
               f"COUNT(o_orderkey) AS o_orderkey FROM orders WHERE o_totalprice > {x} "
               "GROUP BY o_orderstatus, o_orderpriority")
        return "orders", q, Check(cols, sql), "group_by"
    if t == 6:  # order_by + offset + limit
        x = int(rng.integers(50000, 500000))
        off = int(rng.integers(0, 50))
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority"]
        q = {"where": ["<", "o_totalprice", x], "order_by": ["-o_totalprice", "o_orderkey"],
             "offset": off, "limit": 10}
        sql = (f"SELECT * FROM orders WHERE o_totalprice < {x} "
               "ORDER BY o_totalprice DESC, o_orderkey")
        return "orders", q, Check(cols, sql, limit=10, offset=off, ordered=True), "top_page"
    if t == 7:  # from-subquery
        qty = int(rng.integers(1, 50))
        p = int(rng.integers(1000, 20000))
        q = {"from": {"where": ["&", [">", "l_quantity", qty], ["<", "l_partkey", p]]},
             "group_by": ["l_returnflag"],
             "select": ["l_returnflag", ["mean", "l_extendedprice"]]}
        sql = ("SELECT l_returnflag, AVG(l_extendedprice) AS l_extendedprice FROM lineitem "
               f"WHERE l_quantity > {qty} AND l_partkey < {p} GROUP BY l_returnflag")
        return "lineitem", q, Check(["l_returnflag", "l_extendedprice"], sql), "from_subquery"
    # t == 8: in-subquery (+ limit, count job)
    x = int(rng.integers(480000, 499000))
    cols = ["o_orderkey", "o_custkey"]
    q = {"where": ["in", "o_custkey",
                   {"where": [">", "o_totalprice", x], "select": ["o_custkey"]}],
         "select": cols, "order_by": ["o_orderkey"], "limit": 20}
    sql = ("SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN "
           f"(SELECT o_custkey FROM orders WHERE o_totalprice > {x}) ORDER BY o_orderkey")
    return "orders", q, Check(cols, sql, limit=20, ordered=True), "in_subquery"


def _pipeline(key: str, spec: dict, check: Check, template: str) -> Request:
    return Request("pipeline", "POST", f"{PREFIX}/dataset/{key}/pipeline",
                   json.dumps(spec, separators=(",", ":")).encode(), {"Accept": JSON},
                   key, check, template=template)


LINEITEM_COLUMNS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                    "l_shipdate"]


def _export(rng, n_orders: int, accept: str) -> Request:
    """A 2000-row ordered export page over half of lineitem."""
    k0 = int(rng.integers(0, n_orders // 2))
    k1 = k0 + n_orders // 2
    off = int(rng.integers(0, 500))
    q = {"where": ["&", [">=", "l_orderkey", k0], ["<", "l_orderkey", k1]],
         "order_by": ["l_orderkey", "l_linenumber"], "offset": off, "limit": 2000}
    sql = (f"SELECT * FROM lineitem WHERE l_orderkey >= {k0} AND l_orderkey < {k1} "
           "ORDER BY l_orderkey, l_linenumber")
    return _query("lineitem", q,
                  Check(LINEITEM_COLUMNS, sql, limit=2000, offset=off, ordered=True),
                  "export_csv" if accept == CSV else "export_json", accept=accept)


def _sql_join(rng) -> Request:
    d0 = np.datetime64(_d(rng, "1992-01-01", 2000))
    lo, hi = str(d0), str(d0 + 180)
    status = str(rng.choice(["F", "O", "P"]))
    sql = ("SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_extendedprice) AS revenue "
           "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
           f"WHERE l.l_shipdate >= '{lo}' AND l.l_shipdate < '{hi}' "
           f"AND o.o_orderstatus = '{status}' "
           "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority")
    return Request("sql", "POST", f"{PREFIX}/sql", sql.encode(), {"Accept": JSON}, None,
                   Check(["o_orderpriority", "n", "revenue"], sql, ordered=True),
                   template="sql_join")


PIPELINE_OPS = ("top_values", "histogram", "percentiles", "dedup_count")


def _pipeline_op(name: str, rng, sorted_prices) -> Request:
    if name == "top_values":
        n = int(rng.integers(5, 21))
        sql = ("SELECT l_suppkey AS value, COUNT(*) AS n_rows FROM lineitem GROUP BY l_suppkey "
               f"ORDER BY n_rows DESC, value LIMIT {n}")
        spec = {"op": "top_values", "params": {"column": "l_suppkey", "n": n}}
        return _pipeline("lineitem", spec,
                         Check(["value", "n_rows"], sql, ordered=True, unsliced_header=False),
                         name)
    if name == "histogram":
        bins = int(rng.integers(10, 51))
        lo = float(rng.integers(0, 20000))
        hi = float(rng.integers(60000, 100001))
        width = (hi - lo) / bins
        sql = (f"SELECT {lo} + b * {width!r} AS bin_start, {lo} + (b + 1) * {width!r} AS bin_end, "
               "COUNT(*) AS n_rows FROM (SELECT CAST(LEAST(GREATEST(FLOOR((l_extendedprice - "
               f"{lo}) / {width!r}), 0), {bins - 1}) AS INTEGER) AS b FROM lineitem "
               f"WHERE l_extendedprice >= {lo} AND l_extendedprice <= {hi}) GROUP BY b "
               "ORDER BY bin_start")
        spec = {"op": "histogram",
                "params": {"column": "l_extendedprice", "bins": bins, "min": lo, "max": hi}}
        return _pipeline("lineitem", spec,
                         Check(["bin_start", "bin_end", "n_rows"], sql, ordered=True,
                               unsliced_header=False), name)
    if name == "percentiles":
        probs = sorted({float(p) for p in np.round(rng.uniform(0.05, 0.95, 3), 2)})
        spec = {"op": "percentiles",
                "params": {"column": "l_extendedprice", "probabilities": probs,
                           "accuracy": 10000}}
        cols = [f"p{str(p).replace('.', '_')}" for p in probs]
        return _pipeline("lineitem", spec,
                         Check(cols, unsliced_header=False,
                               percentiles=(sorted_prices, probs, 10000)), name)
    cols = ["o_custkey", "o_orderstatus", str(rng.choice(["o_orderpriority", "o_orderdate"]))]
    distinct = f"SELECT COUNT(*) FROM (SELECT DISTINCT {', '.join(cols)} FROM orders)"
    sql = (f"SELECT COUNT(*) AS n_rows, ({distinct}) AS n_distinct, "
           f"COUNT(*) - ({distinct}) AS n_duplicates FROM orders")
    return _pipeline("orders", {"op": "dedup_count", "params": {"columns": cols}},
                     Check(["n_rows", "n_distinct", "n_duplicates"], sql,
                           unsliced_header=False), name)


# nine grammar shapes, a CSV and a JSON export page, /sql, /pipeline.
# The eleven read queries are an odd number of shapes, so in a window of
# whole rotations the median lies inside one shape's latencies, not in
# the gap between two shapes, where it would jump with small changes.
SMALL_ROTATION = 13


def small_reads_stream(seed: int, sorted_prices):
    """Endless stream in a fixed rotation of request shapes. Grammar
    query texts are unique, and the warm-up takes the stream's head, so
    no timed text repeats a warm-up text either. ``sorted_prices`` are
    lineitem's sorted ``l_extendedprice`` values (percentile checks)."""
    rng = np.random.default_rng([seed, 7])
    uniq = _Unique()
    i = 0
    while True:
        t = i % SMALL_ROTATION
        if t < 9:
            key, q, check, name = _small_template(t, rng, SMALL_SIZES["orders"],
                                                  SMALL_SIZES["customer"])
            req = _query(key, q, check, name, post=(i % 4 == 3))
        elif t in (9, 10):
            req = _export(rng, SMALL_SIZES["orders"], CSV if t == 9 else JSON)
        elif t == 11:
            req = _sql_join(rng)
        else:
            op = PIPELINE_OPS[(i // SMALL_ROTATION) % len(PIPELINE_OPS)]
            req = _pipeline_op(op, rng, sorted_prices)
        if req.kind != "query" or uniq.add(req):
            i += 1
            yield req


# --------------------------------------------------------------------
# write_churn: stores, updates and deletes beside dashboard reads
# --------------------------------------------------------------------

HOT_KEYS = ("hot0", "hot1", "hot2")
HOT_ROWS = 20_000
COLD_KEYS = tuple(f"cold{i}" for i in range(6))
# cold store sizes cycle through a fixed list, so every seed stores the
# same sizes in the same order
COLD_ROWS = (10_000, 30_000, 50_000, 20_000, 40_000)
DASHBOARD = (
    ({"where": ["==", "cat", "'cat3'"], "select": ["id", "cat", "i1", "f1"],
      "order_by": ["id"], "limit": 20},
     "SELECT id, cat, i1, f1 FROM cur WHERE cat = 'cat3' ORDER BY id",
     dict(columns=["id", "cat", "i1", "f1"], limit=20, ordered=True)),
    ({"group_by": ["cat"], "select": ["cat", ["sum", "i3"], ["count", "id"]]},
     "SELECT cat, SUM(i3) AS i3, COUNT(id) AS id FROM cur GROUP BY cat",
     dict(columns=["cat", "i3", "id"])),
    ({"where": [">", "f2", 990], "order_by": ["-f2", "id"], "limit": 10},
     "SELECT * FROM cur WHERE f2 > 990 ORDER BY f2 DESC, id",
     dict(columns=None, limit=10, ordered=True)),
    ({"select": ["cat", "s1"], "distinct": ["cat", "s1"], "where": ["==", "cat", "'cat1'"],
      "limit": 30},
     "SELECT DISTINCT cat, s1 FROM cur WHERE cat = 'cat1'",
     dict(columns=["cat", "s1"], limit=30, subset=True)),
    ({"where": ["in", "i2", [1, 2, 3, 4, 5]], "select": ["id", "i2", "i3"], "order_by": ["id"]},
     "SELECT id, i2, i3 FROM cur WHERE i2 IN (1, 2, 3, 4, 5) ORDER BY id",
     dict(columns=["id", "i2", "i3"], ordered=True)),
    ({"group_by": ["s2"], "select": ["s2", ["mean", "f3"]], "order_by": ["s2"], "limit": 15},
     "SELECT s2, AVG(f3) AS f3 FROM cur GROUP BY s2 ORDER BY s2",
     dict(columns=["s2", "f3"], limit=15, ordered=True)),
    ({"where": ["like", "s3", "'%_1%'"], "select": [["count", "id"], ["sum", "i4"]]},
     "SELECT COUNT(id) AS id, SUM(i4) AS i4 FROM cur WHERE regexp_matches(s3, '_1')",
     dict(columns=["id", "i4"])),
    ({"where": ["&", [">=", "i1", 500], ["<", "i1", 520]], "order_by": ["id"],
      "offset": 5, "limit": 20},
     "SELECT * FROM cur WHERE i1 >= 500 AND i1 < 520 ORDER BY id",
     dict(columns=None, limit=20, offset=5, ordered=True)),
)
MIXED_COLUMNS = list(data.mixed14(0, 1, 0).columns)
# the writer's read-after-write text: one fixed text per key, so a
# stale ResultCache entry for it would be served if versioning broke
CHECK_QUERY = {"select": [["sum", "i3"], ["count", "id"]]}


def hot_tables(seed: int) -> dict:
    return {k: data.mixed14(seed, HOT_ROWS, salt=i) for i, k in enumerate(HOT_KEYS)}


def dashboard_request(key: str, index: int) -> Request:
    q, sql, kw = DASHBOARD[index]
    kw = dict(kw)
    if kw["columns"] is None:
        kw["columns"] = MIXED_COLUMNS
    return _query(key, q, Check(sql=sql, **kw), f"dash{index}")


def zipf_pairs(seed: int, s: float = 2.0):
    """(key, dashboard index) pairs with Zipf weights over a seeded rank.
    Each hot key serves four of the dashboard texts."""
    rng = np.random.default_rng([seed, 9])
    pairs = [(k, i) for n, k in enumerate(HOT_KEYS) for i in range(len(DASHBOARD))
             if (i + n) % 2 == 0]
    order = rng.permutation(len(pairs))
    ranked = [pairs[j] for j in order]
    w = 1.0 / np.arange(1, len(ranked) + 1) ** s
    return ranked, w / w.sum()


def reader_stream(seed: int):
    ranked, p = zipf_pairs(seed)
    rng = np.random.default_rng([seed, 10])
    while True:
        key, idx = ranked[int(rng.choice(len(ranked), p=p))]
        yield dashboard_request(key, idx)


def check_request(key: str, frame) -> Request:
    rows = [(int(frame["i3"].sum()), int(len(frame)))]
    return _query(key, CHECK_QUERY, Check(["i3", "id"], rows=rows), "read_after_write")


def writer_cycle(seed: int, c: int, hot_state: dict):
    """The writer's c-th cycle as a list of (request, new_frame) steps.
    ``new_frame`` is the content a successful step leaves under the
    request's key (None for reads and deletes). ``hot_state`` maps each
    hot key to its current frame and is advanced in place."""
    rng = np.random.default_rng([seed, 11, c])
    steps = []
    cold = COLD_KEYS[c % len(COLD_KEYS)]
    frame = data.mixed14(seed, COLD_ROWS[c % len(COLD_ROWS)], salt=100 + c)
    steps.append((store_request(cold, data.to_csv(frame)), frame))
    steps.append((check_request(cold, frame), None))

    hot = HOT_KEYS[c % len(HOT_KEYS)]
    delta = int(rng.integers(1, 10))
    cut = int(rng.integers(100, HOT_ROWS))
    upd = {"update": [["+", "i3", delta]], "where": ["<", "id", cut]}
    new = hot_state[hot].copy()
    new.loc[new["id"] < cut, "i3"] += delta
    hot_state[hot] = new
    text = json.dumps(upd, separators=(",", ":"))
    steps.append((Request("update", "POST", f"{PREFIX}/dataset/{hot}/q", text.encode(),
                          {"Accept": JSON}, hot, None, template="update"), new))
    steps.append((check_request(hot, new), None))

    if c % 3 == 2:
        hot = HOT_KEYS[(c // 3) % len(HOT_KEYS)]
        new = data.mixed14(seed, HOT_ROWS, salt=200 + c)
        hot_state[hot] = new
        steps.append((store_request(hot, data.to_csv(new)), new))
        steps.append((check_request(hot, new), None))
    if c % 2 == 1:
        victim = COLD_KEYS[(c + 3) % len(COLD_KEYS)]
        steps.append((delete_request(victim), None))
    # read every hot key back last: hot keys are then always more
    # recently used than the cold keys, so LRU evicts cold keys only
    steps.extend((check_request(k, hot_state[k]), None) for k in HOT_KEYS)
    return steps
