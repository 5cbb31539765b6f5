"""Seeded inputs for every workload.

Everything here is a pure function of the seed: no clock, no environment.
The same seed gives byte-identical files, metadata and operation sequences,
so a run can be replayed and its answers recomputed apart from the program.
``python3 perfbench/run.py --gen-inputs DIR --workload W --seed N`` writes
the inputs of one workload to DIR.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# lake inputs (read_mix, write_mix)
# --------------------------------------------------------------------------

#: datasets in the seeded catalog: on the order of 10^4, under the primary's
#: snapshot_max_rows (200,000), so snapshot-safe finds never pay the cap path
LAKE_DATASETS = 10_000
CSV_FILES, CSV_ROWS = 2, 10_000
JSON_FILES, JSON_ROWS = 1, 5_000
BLOB_FILES, BLOB_BYTES = 2, 4 << 20

WORDS = (
    "lake spark catalog schema query index table column stream batch merge "
    "shard block vector token corpus crawl image audio video sensor climate "
    "genome market census survey traffic energy weather river forest ocean "
    "satellite archive ledger invoice patient trial protein galaxy orbit "
    "quantum neural graph metric signal"
).split()
SOURCES = [f"src-{i:02d}" for i in range(40)]
TOPICS = [f"t{i:02d}" for i in range(30)]
ORGS = [f"org-{i:02d}" for i in range(25)]
LICENSES = ["cc-by", "cc0", "mit", "odbl", "proprietary"]
CITIES = [f"city{i:02d}" for i in range(20)]
CATEGORIES = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
CSV_HEADER = ["rid", "name", "city", "category", "amount"]


@dataclass
class Content:
    name: str
    mime: str
    data: bytes
    rows: list[dict] = field(default_factory=list)  # parsed rows for csv/json


def _word(rng: random.Random) -> str:
    w = rng.choice(WORDS)
    # one word in five is capitalised, so a case-insensitive regex matches
    # rows a case-sensitive one does not
    return w.capitalize() if rng.random() < 0.2 else w


def _csv_content(rng: random.Random, name: str, n_rows: int) -> Content:
    rows = []
    lines = [",".join(CSV_HEADER)]
    for i in range(n_rows):
        row = {
            "rid": str(i),
            "name": f"{rng.choice(WORDS)}{rng.randrange(1000)}",
            "city": rng.choice(CITIES),
            "category": rng.choice(CATEGORIES),
            "amount": str(rng.randrange(100_000)),
        }
        rows.append(row)
        lines.append(",".join(row[k] for k in CSV_HEADER))
    return Content(name, "text/csv", ("\n".join(lines) + "\n").encode(), rows)


def _json_content(rng: random.Random, name: str, n_rows: int) -> Content:
    rows = [
        {
            "rid": i,
            "name": f"{rng.choice(WORDS)}{rng.randrange(1000)}",
            "city": rng.choice(CITIES),
            "score": rng.randrange(10_000),
        }
        for i in range(n_rows)
    ]
    return Content(name, "application/json", json.dumps(rows).encode(), rows)


def lake_contents(seed: int) -> list[Content]:
    rng = random.Random(f"lake-content-{seed}")
    out = [_csv_content(rng, f"table{i}.csv", CSV_ROWS) for i in range(CSV_FILES)]
    out += [_json_content(rng, f"records{i}.json", JSON_ROWS) for i in range(JSON_FILES)]
    out += [
        Content(f"blob{i}.bin", "application/octet-stream", rng.randbytes(BLOB_BYTES))
        for i in range(BLOB_FILES)
    ]
    return out


def dataset_meta(rng: random.Random, file_cid: str) -> dict:
    """One dataset registration: the four required fields plus extras of
    every kind the predicate families touch (numeric strings, a nested
    JSON object, a plain string)."""
    return {
        "file": file_cid,
        "description": " ".join(_word(rng) for _ in range(rng.randint(4, 10))),
        "source": rng.choice(SOURCES),
        "topics": rng.sample(TOPICS, rng.randint(1, 3)),
        "length": rng.randrange(10_000),
        "year": rng.randint(1990, 2024),
        "license": rng.choice(LICENSES),
        "owner": {"org": rng.choice(ORGS), "tier": rng.randint(1, 5)},
    }


def lake_datasets(seed: int, cids: list[str]) -> list[dict]:
    rng = random.Random(f"lake-datasets-{seed}")
    return [dataset_meta(rng, rng.choice(cids)) for _ in range(LAKE_DATASETS)]


# --------------------------------------------------------------------------
# /find predicate families
# --------------------------------------------------------------------------

F = [".", ["$"]]


def _path(*names: str) -> list:
    return F + list(names)


#: family -> the /find tier that serves it at the time of writing
FAMILIES = {
    "eq": "snapshot",  # field equality
    "range": "snapshot",  # numeric range over an extras field
    "overlap": "snapshot",  # && topic overlap, narrowed by year
    "regex": "snapshot",  # plain partial-match regex
    "plus": "duckdb",  # + over two extras fields
    "nested": "duckdb",  # nested JSON path into an extras object
    "icase": "spark",  # (?i) regex: only the Spark path serves it
}


def make_predicate(family: str, rng: random.Random) -> list:
    if family == "eq":
        return ["==", _path("source"), rng.choice(SOURCES)]
    if family == "range":
        lo = rng.randrange(0, 9_800)
        return ["&", [">=", _path("length"), lo], ["<", _path("length"), lo + rng.randint(100, 300)]]
    if family == "overlap":
        return [
            "&",
            ["&&", _path("topics"), rng.sample(TOPICS, 2)],
            ["==", _path("year"), rng.randint(1990, 2024)],
        ]
    if family == "regex":
        return ["~", _path("description"), f"{rng.choice(WORDS)} {rng.choice(WORDS)}"]
    if family == "plus":
        lo = rng.randint(9_000, 11_800)
        total = ["+", _path("length"), _path("year")]
        return ["&", [">", total, lo], ["<", total, lo + rng.randint(100, 200)]]
    if family == "nested":
        lo = rng.randrange(0, 8_000)
        return [
            "&",
            ["==", _path("owner", "org"), rng.choice(ORGS)],
            [">=", _path("length"), lo],
            ["<", _path("length"), lo + 2_000],
        ]
    if family == "icase":
        return ["~", _path("description"), f"(?i){rng.choice(WORDS).upper()} {rng.choice(WORDS)}"]
    raise ValueError(family)


#: one round of read_mix traffic on one connection.  Cold Spark-tier finds
#: are three of the thirteen finds (23%); the end-to-end metrics take the
#: fast-tier families and the cold Spark-tier finds apart (run.end_to_end).
READ_ROUND = (
    [("find", "eq")] * 2
    + [("find", "range")] * 2
    + [("find", "overlap")]
    + [("find", "regex")] * 2
    + [("find", "plus")]
    + [("find", "nested")]
    + [("find", "icase")] * 4
    + [("extract", "csv"), ("extract", "json"), ("get", None)]
)
#: hot predicates per family, drawn in turn: the read_mix warm-up draws
#: each of them, so every hot draw of the timed phase is a memo hit
HOT_SET = 2
#: memo-backed families draw a fixed number of each round's finds from a
#: small hot set (repeats the version-keyed memos can answer) and the rest
#: from a cold stream of never-repeated predicates, so the hit share is the
#: same in every run and every seed
HOT_PER_ROUND = {"plus": 1, "nested": 0, "icase": 1}
#: distinct predicates per family: larger than the worker's 128-entry find
#: and DuckDB memos and the primary's 64-entry Spark memo
POOL_SIZE = 1_024


class PredicatePool:
    """Seeded per-family predicate pools and the streams one connection
    draws from them; ``draw(family, hot)`` is deterministic in (seed,
    connection, draw order)."""

    def __init__(self, seed: int, conn: int):
        self.pools = {}
        for fam in FAMILIES:
            rng = random.Random(f"pool-{seed}-{fam}")
            seen: dict[str, list] = {}
            # families with few distinct values (eq) yield a smaller pool
            for _ in range(POOL_SIZE * 4):
                p = make_predicate(fam, rng)
                seen.setdefault(json.dumps(p), p)
                if len(seen) == POOL_SIZE:
                    break
            self.pools[fam] = list(seen.values())
        self.rng = random.Random(f"draw-{seed}-{conn}")
        # connections walk disjoint slices of the cold stream
        self.cold_next = {fam: HOT_SET + conn * 300 for fam in FAMILIES}
        self.hot_next = {fam: 0 for fam in FAMILIES}

    def draw(self, family: str, hot: bool) -> list:
        pool = self.pools[family]
        if family not in HOT_PER_ROUND:
            return pool[self.rng.randrange(len(pool))]
        if hot:
            i = self.hot_next[family] % HOT_SET
            self.hot_next[family] += 1
            return pool[i]
        i = self.cold_next[family]
        self.cold_next[family] += 1
        return pool[HOT_SET + (i - HOT_SET) % (len(pool) - HOT_SET)]


def extract_requests(contents: list[Content], seed: int, n: int = 64) -> dict[str, list[tuple[int, list, str]]]:
    """Per content kind ("csv", "json"), ``n`` (content index, predicate,
    DuckDB WHERE clause) triples for /extract: equality on the city column
    of a CSV file (a twentieth of its rows), a score range over the JSON
    file (a tenth of its rows).  The WHERE clause is the benchmark's own
    spelling of the predicate, used to count the rows the answer must have."""
    rng = random.Random(f"extract-{seed}")
    csv = [i for i, c in enumerate(contents) if c.mime == "text/csv"]
    js = [i for i, c in enumerate(contents) if c.mime == "application/json"]
    out: dict[str, list] = {"csv": [], "json": []}
    for _ in range(n):
        city = rng.choice(CITIES)
        out["csv"].append((rng.choice(csv), ["==", _path("city"), city], f"city = '{city}'"))
        lo = rng.randrange(0, 9_000)
        pred = ["&", [">=", _path("score"), lo], ["<", _path("score"), lo + 1_000]]
        out["json"].append((rng.choice(js), pred, f"score >= {lo} AND score < {lo + 1_000}"))
    return out


# --------------------------------------------------------------------------
# write_mix operations
# --------------------------------------------------------------------------

WRITE_ROUND = ("ingest_csv", "ingest_json", "ingest_blob", "revise")


def write_payload(kind: str, rng: random.Random, k: int) -> Content:
    if kind == "ingest_csv":
        return _csv_content(rng, f"upload{k}.csv", 300)
    if kind == "ingest_json":
        return _json_content(rng, f"upload{k}.json", 300)
    return Content(f"upload{k}.bin", "application/octet-stream", rng.randbytes(256 << 10))


# --------------------------------------------------------------------------
# batch_ops tables
# --------------------------------------------------------------------------

#: rows per generated table: documents and events near the repository's
#: sf0.01 inputs, lineitem a third of it, so a run holds its set-up, one
#: timed pass and the DuckDB oracles, whose near-duplicate joins are
#: all-pairs (see README)
BATCH_DOCS, BATCH_EVENTS, BATCH_LINEITEM = 400, 12_000, 20_000
DOC_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small big customer query order group "
    "stream filter vector"
).split()


def write_batch_tables(out_dir: str, seed: int) -> dict[str, str]:
    """documents, events and lineitem as parquet, with the column names and
    types of the repository's synthetic star schema.  About one document in
    six is a near-copy of an earlier one, so the dedup queries find pairs."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"batch-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    paths = {}

    texts: list[str] = []
    for i in range(BATCH_DOCS):
        if texts and rng.random() < 0.17:
            words = rng.choice(texts).split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(DOC_VOCAB)
        else:
            words = [rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 50))]
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(range(BATCH_DOCS), pa.int64()),
            "text": texts,
            "lang": [rng.choice(["en", "en", "en", "de", "fr"]) for _ in texts],
            "source": [f"src{rng.randrange(20)}" for _ in texts],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    t0 = dt.datetime(2024, 1, 1)
    types = ["click", "view", "purchase", "signup", "error"]
    ev_ts = sorted(t0 + dt.timedelta(seconds=rng.randrange(30 * 86_400), microseconds=rng.randrange(10**6)) for _ in range(BATCH_EVENTS))
    events = pa.table(
        {
            "event_id": pa.array(range(BATCH_EVENTS), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(150) for _ in ev_ts], pa.int64()),
            "event_type": [rng.choice(types) for _ in ev_ts],
            "value": [round(rng.uniform(0, 100), 2) for _ in ev_ts],
            "props": [json.dumps({"k": rng.randrange(100)}) for _ in ev_ts],
        }
    )

    n = BATCH_LINEITEM
    d0 = dt.datetime(1995, 1, 1)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([rng.randrange(1, n // 4) for _ in range(n)], pa.int64()),
            "l_partkey": pa.array([rng.randrange(1, 2_000) for _ in range(n)], pa.int64()),
            "l_suppkey": pa.array([rng.randrange(1, 100) for _ in range(n)], pa.int64()),
            "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(n)], pa.int32()),
            "l_quantity": [float(rng.randint(1, 50)) for _ in range(n)],
            "l_extendedprice": [round(rng.uniform(900, 100_000), 2) for _ in range(n)],
            "l_discount": [rng.randint(0, 10) / 100 for _ in range(n)],
            "l_tax": [rng.randint(0, 8) / 100 for _ in range(n)],
            "l_returnflag": [rng.choice("ANR") for _ in range(n)],
            "l_linestatus": [rng.choice("OF") for _ in range(n)],
            "l_shipdate": pa.array([d0 + dt.timedelta(days=rng.randrange(2_500)) for _ in range(n)], pa.timestamp("us")),
        }
    )
    for name, table in (("documents", docs), ("events", events), ("lineitem", lineitem)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
