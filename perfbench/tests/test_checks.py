"""Each checker accepts the right answer and rejects a corrupted one.

    python3 -m pytest perfbench/tests -q

No Spark needed: the checkers and input generators are plain Python.
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import inputs  # noqa: E402


@pytest.fixture(scope="module")
def metas():
    cids = [checks.content_id(c.data) for c in inputs.lake_contents(7)]
    return {i + 1: m for i, m in enumerate(inputs.lake_datasets(7, cids))}


def _hits(metas, ids):
    return [{"id": i, "description": metas[i]["description"]} for i in sorted(ids)]


@pytest.mark.parametrize("family", list(inputs.FAMILIES))
def test_find_checker_rejects_a_missing_an_extra_and_a_wrong_row(metas, family):
    pool = inputs.PredicatePool(7, 0)
    pred = next(p for p in pool.pools[family] if checks.expected_ids(p, metas))
    want = checks.expected_ids(pred, metas)
    assert checks.check_find(_hits(metas, want), want, metas) is None
    assert checks.check_find(_hits(metas, want)[1:], want, metas)
    outsider = next(i for i in metas if i not in want)
    assert checks.check_find(_hits(metas, want | {outsider}), want, metas)
    wrong = _hits(metas, want)
    wrong[0]["description"] += " x"
    assert checks.check_find(wrong, want, metas)


def test_find_evaluator_semantics():
    row = {"description": "Lake spark table", "length": 150, "year": 2001,
           "topics": ["t01", "t02"], "owner": {"org": "org-03", "tier": 2}}
    m = checks.matches
    assert m(["~", [".", ["$"], "description"], "spark tab"], row)
    assert not m(["~", [".", ["$"], "description"], "lake spark"], row)
    assert m(["~", [".", ["$"], "description"], "(?i)LAKE spark"], row)
    assert not m(["~", [".", ["$"], "description"], "spark"], row, regex="full")
    assert m(["&", [">=", [".", ["$"], "length"], 100], ["<", [".", ["$"], "length"], 200]], row)
    assert m([">", ["+", [".", ["$"], "length"], [".", ["$"], "year"]], 2150], row)
    assert not m([">", ["+", [".", ["$"], "length"], [".", ["$"], "year"]], 2151], row)
    assert m(["&&", [".", ["$"], "topics"], ["t02", "t09"]], row)
    assert m(["==", [".", ["$"], "owner", "org"], "org-03"], row)
    assert not m(["==", [".", ["$"], "owner", "missing"], "org-03"], row)


def test_extract_checker_rejects_a_wrong_count_and_a_wrong_row(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    contents = inputs.lake_contents(3)
    idx, pred, where = inputs.extract_requests(contents, 3)["csv"][0]
    c = contents[idx]
    path = tmp_path / c.name
    path.write_bytes(c.data)
    con = duckdb.connect()
    want = checks.duckdb_extract_count(con, str(path), c.mime, where)
    city = pred[2]
    rows = [r for r in c.rows if r["city"] == city]
    assert want == len(rows) > 0
    assert checks.check_extract(rows, pred, want) is None
    assert checks.check_extract(rows[:-1], pred, want)
    bad = copy.deepcopy(rows)
    bad[0]["city"] = "elsewhere"
    assert checks.check_extract(bad, pred, want)


def test_extract_count_over_json(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    contents = inputs.lake_contents(3)
    idx, pred, where = inputs.extract_requests(contents, 3)["json"][0]
    c = contents[idx]
    path = tmp_path / c.name
    path.write_bytes(c.data)
    rows = [r for r in c.rows if checks.matches(pred, r, regex="full")]
    assert checks.duckdb_extract_count(duckdb.connect(), str(path), c.mime, where) == len(rows)


def test_bytes_and_cid_checkers_reject_a_flipped_byte():
    data = b"some uploaded bytes"
    cid = checks.content_id(data)
    assert cid.startswith("sha256-") and len(cid) == 7 + 64
    assert checks.check_bytes(data, cid, data) is None
    assert checks.check_bytes(b"Some uploaded bytes", cid, data)
    assert checks.check_cid(cid[:-1] + "0" if cid[-1] != "0" else cid[:-1] + "1", data)


def test_registered_checker_rejects_wrong_fields(metas):
    meta = metas[5]
    row = {"id": 10_001, "parent": 5, "cid": meta["file"], "description": meta["description"],
           "source": meta["source"], "topics": meta["topics"], "length": str(meta["length"]),
           "year": str(meta["year"]), "license": meta["license"]}
    assert checks.check_registered([row], 10_001, meta, 5) is None
    assert checks.check_registered([row], 10_001, meta, None)  # parent missing
    assert checks.check_registered([row, row], 10_001, meta, 5)
    for key, value in (("source", "other"), ("topics", ["t99"]), ("length", "-1"), ("cid", "sha256-0")):
        assert checks.check_registered([{**row, key: value}], 10_001, meta, 5), key


def test_schema_checker_rejects_wrong_columns():
    schema = {"items": {"properties": {k: {"type": "string"} for k in inputs.CSV_HEADER}}}
    assert checks.check_schema(schema, inputs.CSV_HEADER) is None
    del schema["items"]["properties"]["city"]
    assert checks.check_schema(schema, inputs.CSV_HEADER)
    assert checks.check_schema({"type": "array"}, inputs.CSV_HEADER)


def test_rows_checker_is_order_insensitive_with_a_tolerance():
    want = [{"k": "a", "v": 1.0, "n": 3}, {"k": "b", "v": 2.5, "n": 4}]
    got = [{"k": "b", "v": 2.5 * (1 + 1e-9), "n": 4}, {"k": "a", "v": 1.0, "n": 3}]
    assert checks.check_rows(got, want) is None
    assert checks.check_rows(got[:1], want)
    assert checks.check_rows([{**got[0], "v": 2.6}, got[1]], want)
    assert checks.check_rows([{**got[0], "n": 5}, got[1]], want)
    assert checks.check_rows([{"k": "b", "w": 2.5, "n": 4}, got[1]], want)


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.lake_contents(5), inputs.lake_contents(5)
    assert [c.data for c in a] == [c.data for c in b]
    assert [c.data for c in a] != [c.data for c in inputs.lake_contents(6)]
    p, q = inputs.PredicatePool(5, 1), inputs.PredicatePool(5, 1)
    assert [p.draw("icase", False) for _ in range(20)] == [q.draw("icase", False) for _ in range(20)]


def test_cold_stream_never_repeats_within_a_run():
    pool = inputs.PredicatePool(5, 0)
    seen = [repr(pool.draw("icase", False)) for _ in range(300)]
    assert len(set(seen)) == len(seen)
    hot = {repr(pool.draw("icase", True)) for _ in range(50)}
    assert len(hot) == inputs.HOT_SET
