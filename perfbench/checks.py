"""Checks of the program's answers against computations made apart from it.

Nothing here imports the program: predicates are evaluated by the small
evaluator below over the metadata the benchmark generated, extraction
counts come from DuckDB over the source file, content ids from hashlib,
and batch results from each workload's DuckDB oracle SQL.  Every check
returns None when the answer is right and a short description of the first
difference otherwise.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import re
from typing import Any, Callable

# --------------------------------------------------------------------------
# predicate evaluator for the benchmark's predicate families
# --------------------------------------------------------------------------

_CMP = {
    "==": lambda a, b: a == b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
}


def _num(v: Any) -> float | None:
    if isinstance(v, bool) or v is None:
        return None
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _operand(node: Any) -> Callable[[dict], Any]:
    """A field path, a ``+`` of operands, or a literal."""
    if isinstance(node, list) and len(node) >= 3 and node[0] == "." and node[1] == ["$"]:
        head, rest = node[2], node[3:]

        def field(row):
            v = row.get(head)
            for key in rest:
                v = v.get(key) if isinstance(v, dict) else None
            return v

        return field
    if isinstance(node, list) and node and node[0] == "+":
        parts = [_operand(a) for a in node[1:]]

        def plus(row):
            xs = [_num(p(row)) for p in parts]
            return None if any(x is None for x in xs) else sum(xs)

        return plus
    return lambda row: node


def compile_pred(pred: list, regex: str = "partial") -> Callable[[dict], bool]:
    """A row filter for ``pred``.  Covers exactly the operators the
    benchmark's predicates use: ``&``, ``&&``, ``~``, ``+`` and comparisons.
    ``regex`` is "partial" for /find (a match anywhere) and "full" for
    /extract; a leading ``(?i)`` becomes ``re.IGNORECASE``."""
    op = pred[0]
    if op == "&":
        parts = [compile_pred(p, regex) for p in pred[1:]]
        return lambda row: all(p(row) for p in parts)
    if op == "&&":
        a, b = (_operand(x) for x in pred[1:])
        return lambda row: bool(set(a(row) or []) & set(b(row) or []))
    if op == "~":
        text, pattern = _operand(pred[1]), pred[2]
        flags = 0
        if pattern.startswith("(?i)"):
            flags, pattern = re.IGNORECASE, pattern[4:]
        rx = re.compile(pattern, flags)
        found = rx.fullmatch if regex == "full" else rx.search

        def regex_match(row):
            t = text(row)
            return t is not None and found(str(t)) is not None

        return regex_match
    if op in _CMP:
        cmp = _CMP[op]
        a, b = (_operand(x) for x in pred[1:])
        numeric = any(isinstance(x, (int, float)) or (isinstance(x, list) and x[:1] == ["+"]) for x in pred[1:])

        def compare(row):
            x, y = a(row), b(row)
            if numeric:
                x, y = _num(x), _num(y)
            return x is not None and y is not None and cmp(x, y)

        return compare
    raise ValueError(f"operator outside the benchmark's families: {op!r}")


def matches(pred: list, row: dict, regex: str = "partial") -> bool:
    return compile_pred(pred, regex)(row)


# --------------------------------------------------------------------------
# /find
# --------------------------------------------------------------------------


def expected_ids(pred: list, metas: dict[int, dict]) -> set[int]:
    keep = compile_pred(pred)
    return {i for i, m in metas.items() if keep(m)}


def check_find(hits: Any, want: set[int], metas: dict[int, dict]) -> str | None:
    """The hits' id set equals ``want`` (``expected_ids`` of the predicate),
    and every hit carries its registered description."""
    if not isinstance(hits, list):
        return f"find returned {type(hits).__name__}, not a list"
    got = [h.get("id") for h in hits]
    if len(got) != len(set(got)) or set(got) != want:
        return f"find: {len(got)} hits, expected {len(want)}; differ on {sorted(set(got) ^ want)[:5]}"
    for h in hits:
        if h.get("description") != metas[h["id"]]["description"]:
            return f"find: row {h['id']} has the wrong description"
    return None


def check_registered(hits: Any, new_id: int, meta: dict, parent: int | None) -> str | None:
    """The find right after a write returns exactly the written row with
    the registered fields; a revision points at its parent."""
    if not isinstance(hits, list) or len(hits) != 1:
        return f"find after write of {new_id}: {len(hits) if isinstance(hits, list) else hits!r} rows, expected 1"
    row = hits[0]
    if row.get("id") != new_id or row.get("parent") != parent:
        return f"find after write of {new_id}: id/parent {row.get('id')}/{row.get('parent')}, expected {new_id}/{parent}"
    for key in ("description", "source", "topics"):
        if row.get(key) != meta[key]:
            return f"find after write of {new_id}: {key} {row.get(key)!r} != {meta[key]!r}"
    if row.get("cid") != meta["file"]:
        return f"find after write of {new_id}: cid {row.get('cid')} != {meta['file']}"
    for key in ("length", "year", "license"):
        if str(row.get(key)) != str(meta[key]):
            return f"find after write of {new_id}: extra {key} {row.get(key)!r} != {meta[key]!r}"
    return None


# --------------------------------------------------------------------------
# content
# --------------------------------------------------------------------------


def content_id(data: bytes) -> str:
    return "sha256-" + hashlib.sha256(data).hexdigest()


def check_cid(cid: Any, data: bytes) -> str | None:
    want = content_id(data)
    return None if cid == want else f"content id {cid!r}, expected {want}"


def check_bytes(got: bytes, cid: str, data: bytes) -> str | None:
    if got != data:
        return f"GET /file/{cid[:20]}…: {len(got)} bytes differ from the {len(data)} uploaded"
    return check_cid(cid, got)


def check_schema(schema: Any, header: list[str]) -> str | None:
    """The inferred schema lists exactly the file's columns."""
    try:
        props = schema["items"]["properties"]
    except (TypeError, KeyError):
        return f"schema has no items.properties: {str(schema)[:120]}"
    if sorted(props) != sorted(header):
        return f"schema properties {sorted(props)} != columns {sorted(header)}"
    return None


def check_extract(rows: Any, pred: list, want_count: int) -> str | None:
    """Row count equals the DuckDB count over the source file, and every
    row satisfies the predicate under full-match regex semantics."""
    if not isinstance(rows, list):
        return f"extract returned {type(rows).__name__}, not a list"
    if len(rows) != want_count:
        return f"extract {json.dumps(pred)}: {len(rows)} rows, DuckDB counts {want_count}"
    keep = compile_pred(pred, regex="full")
    for r in rows:
        if not keep(r):
            return f"extract {json.dumps(pred)}: row {r} fails the predicate"
    return None


def duckdb_extract_count(con, path: str, mime: str, where: str) -> int:
    if mime == "text/csv":
        src = f"read_csv('{path}', header=true, all_varchar=true)"
    else:
        src = f"read_json('{path}', format='array')"
    return con.execute(f"SELECT count(*) FROM {src} WHERE {where}").fetchone()[0]


# --------------------------------------------------------------------------
# batch results
# --------------------------------------------------------------------------


def _norm(v: Any) -> Any:
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _sort_key(row: tuple) -> tuple:
    # floats are bucketed for ordering only; equality is checked with a
    # tolerance below, so rows differing in the last digits still pair up
    return tuple(
        (0, float(f"{x:.6g}"))
        if isinstance(x, (int, float)) and not isinstance(x, bool)
        else (1, str(x))
        for x in row
    )


def _close(a: Any, b: Any) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def check_rows(got: list[dict], want: list[dict]) -> str | None:
    """Order-insensitive comparison of two result sets keyed by column name,
    with a relative tolerance of 1e-6 on numbers."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    if not want:
        return None
    cols = sorted(want[0])
    if sorted(got[0]) != cols:
        return f"columns {sorted(got[0])} != oracle {cols}"
    g = sorted((tuple(_norm(r[c]) for c in cols) for r in got), key=_sort_key)
    w = sorted((tuple(_norm(r[c]) for c in cols) for r in want), key=_sort_key)
    for a, b in zip(g, w):
        if not _close(a, b):
            return f"row {a} != oracle row {b}"
    return None
