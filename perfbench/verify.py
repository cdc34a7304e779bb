"""Response checks against DuckDB answers over the generated frames.

Every attempted operation counts once. It fails on a transport error
or timeout, on an unexpected HTTP status, or on a wrong answer: a row
set, row order, column set or ``X-QCache-unsliced-length`` that
differs from the expected one. Floats compare with a relative
tolerance, because Spark and DuckDB sum in different orders.
"""
from __future__ import annotations

import csv
import io
import json
import math

import duckdb
import numpy as np

REL_TOL = 1e-9


def canon(v):
    """One representation for a cell parsed from JSON, CSV or DuckDB:
    numbers become float, numeric-looking text too (CSV carries no
    types), the empty string and NaN become None."""
    if v is None:
        return None
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float, np.integer, np.floating)):
        f = float(v)
        return None if math.isnan(f) else f
    s = str(v)
    if s == "":
        return None
    try:
        f = float(s)
    except ValueError:
        return s
    return None if math.isnan(f) else f


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def _sort_key(row: tuple):
    return tuple(
        (0, "") if v is None else (1, f"{v:.6g}") if isinstance(v, float) else (2, v)
        for v in row
    )


def parse_body(body: bytes, content_type: str) -> tuple[list[str] | None, list[tuple]]:
    """Columns and canonical rows of a CSV or JSON response body.
    A JSON body with no rows has no column list (None)."""
    text = body.decode("utf-8")
    if content_type.startswith("text/csv"):
        reader = csv.reader(io.StringIO(text))
        header = next(reader, [])
        return header, [tuple(canon(v) for v in row) for row in reader if row]
    records = json.loads(text)
    if not records:
        return None, []
    columns = list(records[0])
    return columns, [tuple(canon(r.get(c)) for c in columns) for r in records]


def percentile_error(got: list[tuple], sorted_values: np.ndarray, probs: list[float],
                     accuracy: int) -> str | None:
    """Greenwald-Khanna answers are approximate: each value's rank must
    lie within n/accuracy (+1) of the requested rank."""
    if len(got) != 1:
        return f"percentiles: {len(got)} rows, want 1"
    n = len(sorted_values)
    slack = n / accuracy + 1
    for value, p in zip(got[0], probs):
        if value is None:
            return f"percentiles: null for p={p}"
        lo = np.searchsorted(sorted_values, value, side="left")
        hi = np.searchsorted(sorted_values, value, side="right")
        target = p * n
        if not (lo - slack <= target <= hi + slack):
            return f"percentiles: p={p} value {value} has rank {lo}..{hi}, want ~{target:.0f}"
    return None


class Verifier:
    """Holds the DuckDB connection and caches expected answers."""

    def __init__(self, tables: dict):
        self.con = duckdb.connect()
        for name, frame in tables.items():
            self.con.register(name, frame)
        self._cache: dict = {}

    def register(self, name: str, frame) -> None:
        """(Re)bind a table name; answers are cached per ``scope``, so a
        caller that rebinds a name passes a scope naming the content."""
        self.con.register(name, frame)

    def expected(self, check, scope: str = "") -> tuple[list[tuple], int]:
        """(page rows, unsliced length) for a check, canonical."""
        if check.rows is not None:
            rows = [tuple(canon(v) for v in r) for r in check.rows]
            return rows, len(rows)
        key = (scope, check.sql, check.limit, check.offset, check.subset)
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        total = self.con.execute(f"SELECT COUNT(*) FROM ({check.sql})").fetchone()[0]
        if check.subset or check.limit is None:
            raw = self.con.execute(check.sql).fetchall()
        else:
            raw = self.con.execute(
                f"{check.sql} LIMIT {int(check.limit)} OFFSET {int(check.offset)}"
            ).fetchall()
        rows = [tuple(canon(v) for v in r) for r in raw]
        self._cache[key] = (rows, total)
        return rows, total

    def error(self, check, status, headers: dict, body: bytes, expect_status: int = 200,
              scope: str = "") -> str | None:
        """None when the response is right, else a one-line reason."""
        if status is None:
            return "transport error or timeout"
        if status != expect_status:
            return f"status {status}, want {expect_status}"
        if check is None:
            return None
        try:
            columns, got = parse_body(body, headers.get("content-type", ""))
        except (ValueError, UnicodeDecodeError) as e:
            return f"unparseable body: {e}"
        if check.percentiles is not None:
            values, probs, accuracy = check.percentiles
            if columns is not None and columns != check.columns:
                return f"columns {columns}, want {check.columns}"
            return percentile_error(got, values, probs, accuracy)
        want, total = self.expected(check, scope)
        if columns is not None and columns != check.columns and got:
            return f"columns {columns}, want {check.columns}"
        if check.unsliced_header:
            header = headers.get("x-qcache-unsliced-length")
            if header is None or int(header) != total:
                return f"unsliced length {header}, want {total}"
        if check.subset:
            want_n = min(check.limit, len(want)) if check.limit else len(want)
            pool = {_sort_key(r) for r in want}
            if len(got) != want_n or len({_sort_key(r) for r in got}) != len(got):
                return f"{len(got)} rows, want {want_n} distinct"
            if not all(_sort_key(r) in pool for r in got):
                return "page row not in the expected result"
            return None
        if not check.ordered:
            got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
        if not rows_equal(got, want):
            return f"row set differs ({len(got)} rows, want {len(want)})"
        return None
