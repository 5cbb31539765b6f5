"""The lake workloads: read_mix and write_mix against a primary and one
read worker.

Topology: the primary (perfbench/primary.py: ComlakeServer with Spark and
the catalog) and one read worker (``python -m comlake_core_spark.serving``,
its own CLI) on a port of its own.  Every client request goes to the worker,
which serves snapshot- and DuckDB-tier finds and downloads itself and
proxies mutations, residual finds, /schema and /extract to the primary's
private port.  With a single worker no kernel port hashing decides which
process serves a connection.

Load: a closed loop from this process, ``READ_CONNECTIONS`` keep-alive
connections for read_mix and one for write_mix, each running whole rounds
of a fixed composition until the run's seconds are spent.  Responses are
kept as bytes during the timed phase and checked after it.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import socket
import sys
import threading
from dataclasses import dataclass, field

import checks
import inputs
import procs
from procs import log, now

READ_CONNECTIONS = 2
#: Spark runs on fewer cores than the machine's four, leaving room for the
#: JVM's GC and JIT threads, the worker and the load generator; two, so the
#: two connections' Spark-tier finds and extracts can run at once
SPARK_CORES = 2
WARM_ROUNDS = (3, 6)  # at least, at most


@dataclass
class Op:
    kind: str  # find | extract | get | write
    family: str | None
    t0: float
    t1: float
    status: int = 0
    body: bytes = b""
    arg: object = None  # predicate, (content, predicate, where) or write record
    nbytes: int = 0
    rows: int = 0  # rows in an /extract answer
    upload_s: float = 0.0  # POST /file of an ingest
    hot: bool = False  # a find drawn from its family's hot set


@dataclass
class LakeResult:
    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0
    setup_s: float = 0.0
    stored_mb: float = 0.0
    catalog_mb_timed: float = 0.0
    rate: float = 0.0  # operations per second of the timed phase
    failed: int = 0  # operations the program answered with an unexpected HTTP status
    errors: list[str] = field(default_factory=list)  # answers that failed a check
    trace_files: list[str] = field(default_factory=list)


class Client:
    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=150)

    def call(self, method: str, path: str, body: bytes | None = None, ctype: str | None = None) -> tuple[int, bytes]:
        headers = {"Content-Type": ctype} if ctype else {}
        self.conn.request(method, path, body, headers)
        resp = self.conn.getresponse()
        return resp.status, resp.read()

    def find(self, pred) -> tuple[int, bytes]:
        return self.call("POST", "/find", json.dumps(pred).encode(), "application/json")

    def close(self) -> None:
        self.conn.close()


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Lake:
    """Generated inputs on disk, a running primary and worker, and the
    metadata every answer is checked against."""

    def __init__(self, work: str, seed: int, trace: bool):
        self.work = work
        self.seed = seed
        self.trace = trace
        self.inputs_dir = os.path.join(work, "inputs")
        self.lake_dir = os.path.join(work, "lake")
        self.primary = None
        self.worker = None
        self.port = 0

    def write_inputs(self) -> None:
        self.contents, metas = write_lake_inputs(self.inputs_dir, self.seed)
        self.cids = [checks.content_id(c.data) for c in self.contents]
        self.metas = {i + 1: m for i, m in enumerate(metas)}
        self.extracts = inputs.extract_requests(self.contents, self.seed)
        self.blobs = [i for i, c in enumerate(self.contents) if c.mime == "application/octet-stream"]

    def start(self) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        trace_args = ["--trace-out", os.path.join(self.work, "trace-primary.json")] if self.trace else []
        self.primary = procs.spawn(
            [sys.executable, os.path.join(here, "primary.py"), "--lake", self.lake_dir, "--inputs", self.inputs_dir]
            + trace_args,
            self.work,
            "primary.log",
            SPARK_CORES,
        )
        private_port = int(procs.wait_ready(self.primary, "primary").split()[1])
        self.port = _free_port()
        worker_args = [
            "--port", str(self.port),
            "--cas", os.path.join(self.lake_dir, "cas"),
            "--snapshot", os.path.join(self.lake_dir, "find.snap"),
            "--primary-port", str(private_port),
            "--catalog", os.path.join(self.lake_dir, "cat"),
        ]
        if self.trace:
            argv = [sys.executable, os.path.join(here, "worker.py"), "--trace-out",
                    os.path.join(self.work, "trace-worker.json")] + worker_args
        else:
            argv = [sys.executable, "-m", "comlake_core_spark.serving"] + worker_args
        self.worker = procs.spawn(argv, self.work, "worker.log")
        procs.wait_ready(self.worker, "worker")

    def log_peak_rss(self) -> None:
        procs.log_peak_rss([p.pid for p in (self.primary, self.worker) if p is not None])

    def start_timed_phase(self) -> None:
        """Traced runs: make the launchers forget what set-up recorded."""
        if self.trace:
            import signal
            import time

            os.kill(self.primary.pid, signal.SIGUSR1)
            os.kill(self.worker.pid, signal.SIGUSR1)
            time.sleep(0.3)  # handlers run between the processes' bytecodes

    def stop(self, grace: float = 30) -> None:
        """Close the processes' stdin (their stop signal) and wait up to
        ``grace`` seconds each; the untraced worker has nothing to write and
        stops at once."""
        procs.stop(self.worker, grace=min(grace, 10) if self.trace else 0)
        procs.stop(self.primary, grace=grace)


def write_lake_inputs(out_dir: str, seed: int) -> tuple[list[inputs.Content], list[dict]]:
    """Content files, their ids and MIME types, and one JSON line per
    dataset registration; returns the contents and registrations."""
    os.makedirs(out_dir, exist_ok=True)
    contents = inputs.lake_contents(seed)
    listing = []
    for c in contents:
        with open(os.path.join(out_dir, c.name), "wb") as f:
            f.write(c.data)
        listing.append({"name": c.name, "mime": c.mime, "cid": checks.content_id(c.data)})
    with open(os.path.join(out_dir, "contents.json"), "w") as f:
        json.dump(listing, f)
    metas = inputs.lake_datasets(seed, [c["cid"] for c in listing])
    with open(os.path.join(out_dir, "datasets.jsonl"), "w") as f:
        for meta in metas:
            f.write(json.dumps(meta) + "\n")
    return contents, metas


# --------------------------------------------------------------------------
# read_mix
# --------------------------------------------------------------------------


class ReadStream:
    """The operation sequence of one connection: whole shuffled rounds of
    ``inputs.READ_ROUND``, predicates from the seeded pool."""

    def __init__(self, lake: Lake, conn: int):
        self.lake = lake
        self.pool = inputs.PredicatePool(lake.seed, conn)
        self.rng = random.Random(f"read-order-{lake.seed}-{conn}")
        self.n_extract = {"csv": conn * 16, "json": conn * 16}
        self.n_get = conn

    def round(self) -> list[tuple[str, str | None, object, bool]]:
        order = list(inputs.READ_ROUND)
        self.rng.shuffle(order)
        hot_left = dict(inputs.HOT_PER_ROUND)
        out = []
        for kind, fam in order:
            if kind == "find":
                hot = hot_left.get(fam, 0) > 0
                if hot:
                    hot_left[fam] -= 1
                out.append((kind, fam, self.pool.draw(fam, hot), hot))
            elif kind == "extract":
                reqs = self.lake.extracts[fam]
                out.append((kind, fam, reqs[self.n_extract[fam] % len(reqs)], False))
                self.n_extract[fam] += 1
            else:
                out.append((kind, None, self.lake.blobs[self.n_get % len(self.lake.blobs)], False))
                self.n_get += 1
        return out


def _do(client: Client, lake: Lake, kind: str, fam, arg, hot: bool = False) -> Op:
    t0 = now()
    if kind == "find":
        status, body = client.find(arg)
    elif kind == "extract":
        idx, pred, _where = arg
        status, body = client.call("POST", f"/extract/{lake.cids[idx]}", json.dumps(pred).encode(), "application/json")
    else:
        status, body = client.call("GET", f"/file/{lake.cids[arg]}")
    return Op(kind, fam, t0, now(), status, body, arg, len(body), hot=hot)


def more_rounds(deadline: float, round_s: float) -> bool:
    """Whole rounds, as many as fit the time best: another round starts
    while more than half a round's time is left."""
    return deadline - now() > round_s / 2


def _run_rounds(lake: Lake, stream: ReadStream, rounds: int | None, deadline: float | None, out: list[Op]) -> None:
    client = Client(lake.port)
    try:
        done, round_s = 0, 0.0
        while (rounds is not None and done < rounds) or (deadline is not None and more_rounds(deadline, round_s)):
            t0 = now()
            for kind, fam, arg, hot in stream.round():
                out.append(_do(client, lake, kind, fam, arg, hot))
            round_s = now() - t0
            done += 1
    finally:
        client.close()


def _parallel_rounds(lake: Lake, streams: list[ReadStream], rounds: int | None, deadline: float | None) -> list[list[Op]]:
    """Each stream's operations, in order, from one thread and connection
    per stream."""
    per_conn: list[list[Op]] = [[] for _ in streams]
    threads = [
        threading.Thread(target=_run_rounds, args=(lake, stream, rounds, deadline, per_conn[i]))
        for i, stream in enumerate(streams)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return per_conn


def warm_read(lake: Lake) -> None:
    """Whole rounds on connections of their own, as many as the timed phase
    uses, until a round's time is within 15% of the one before (at least
    WARM_ROUNDS[0], at most WARM_ROUNDS[1]).  Each round draws the next hot
    predicate of each hot family, so WARM_ROUNDS[0] >= inputs.HOT_SET rounds
    put the whole hot set into the memos."""
    streams = [ReadStream(lake, 100 + c) for c in range(READ_CONNECTIONS)]
    last = None
    for i in range(WARM_ROUNDS[1]):
        t0 = now()
        _parallel_rounds(lake, streams, 1, None)
        took = now() - t0
        log(f"warm round {i}: {took:.2f}s")
        if i + 1 >= WARM_ROUNDS[0] and last is not None and abs(took - last) <= 0.15 * last:
            break
        last = took


def run_read(lake: Lake, seconds: float, t_start: float) -> LakeResult:
    res = LakeResult()
    lake.write_inputs()
    log("inputs written")
    lake.start()
    log("primary and worker ready")
    warm_read(lake)
    lake.start_timed_phase()
    res.setup_s = now() - t_start
    t0 = now()
    streams = [ReadStream(lake, c) for c in range(READ_CONNECTIONS)]
    per_conn = _parallel_rounds(lake, streams, None, t0 + seconds)
    res.wall_s = now() - t0
    res.ops = [op for ops in per_conn for op in ops]
    # each connection's own rate, summed: the connections end their last
    # whole rounds at different times, and the one that ends first must
    # not dilute the rate with time it spent idle
    res.rate = sum(len(ops) / (ops[-1].t1 - t0) for ops in per_conn if ops)
    log(f"timed phase: {len(res.ops)} ops in {res.wall_s:.2f}s")
    res.stored_mb = procs.du_mb(lake.lake_dir)
    return res


def check_read(lake: Lake, res: LakeResult) -> None:
    """Check every answer of the timed phase (run after it, so checking
    costs the program nothing)."""
    import duckdb

    con = duckdb.connect()
    counts: dict[tuple, int] = {}
    expected: dict[str, set[int]] = {}
    for op in res.ops:
        err = None
        if op.status != 200:
            res.failed += 1
            procs.eprint(f"{op.kind} answered HTTP {op.status}: {op.body[:200]!r}")
        elif op.kind == "find":
            key = json.dumps(op.arg)
            if key not in expected:
                expected[key] = checks.expected_ids(op.arg, lake.metas)
            err = checks.check_find(json.loads(op.body), expected[key], lake.metas)
        elif op.kind == "extract":
            idx, pred, where = op.arg
            key = (idx, where)
            if key not in counts:
                c = lake.contents[idx]
                counts[key] = checks.duckdb_extract_count(con, os.path.join(lake.inputs_dir, c.name), c.mime, where)
            rows = json.loads(op.body)
            op.rows = len(rows)
            err = checks.check_extract(rows, pred, counts[key])
        else:
            err = checks.check_bytes(op.body, lake.cids[op.arg], lake.contents[op.arg].data)
        if err:
            res.errors.append(err)
        op.body = b""  # free
    con.close()


# --------------------------------------------------------------------------
# write_mix
# --------------------------------------------------------------------------


@dataclass
class WriteRecord:
    kind: str
    new_id: int = 0
    parent: int | None = None
    meta: dict = field(default_factory=dict)
    find_op: Op | None = None
    failed: bool = False
    errors: list[str] = field(default_factory=list)


class WriteStream:
    def __init__(self, lake: Lake):
        self.lake = lake
        self.rng = random.Random(f"writes-{lake.seed}")
        self.k = 0

    def one(self, client: Client, kind: str) -> tuple[Op, Op]:
        """One write (ingest or revise) then the /find that must return it."""
        lake = self.lake
        rec = WriteRecord(kind)
        self.k += 1
        t0 = now()
        if kind == "revise":
            parent = self.rng.choice(sorted(lake.metas))
            overrides = {
                "description": " ".join(self.rng.choice(inputs.WORDS) for _ in range(6)),
                "license": self.rng.choice(inputs.LICENSES),
            }
            status, body = client.call("POST", "/update", json.dumps({"parent": parent, **overrides}).encode(), "application/json")
            rec.parent = parent
            rec.meta = {**lake.metas[parent], **overrides}
            nbytes, upload_s = 0, 0.0
        else:
            content = inputs.write_payload(kind, self.rng, self.k)
            nbytes = len(content.data)
            u0 = now()
            status, body = client.call("POST", "/file", content.data, content.mime)
            upload_s = now() - u0
            cid = json.loads(body).get("cid") if status == 200 else None
            if status == 200:
                rec.errors += filter(None, [checks.check_cid(cid, content.data)])
                s_status, s_body = client.call("GET", f"/schema/{cid}")
                if content.mime == "application/octet-stream":
                    if s_status != 400:
                        rec.errors.append(f"schema of an opaque blob answered {s_status}, expected 400")
                elif s_status != 200:
                    rec.errors.append(f"schema answered HTTP {s_status}")
                else:
                    header = list(content.rows[0]) if content.rows else []
                    rec.errors += filter(None, [checks.check_schema(json.loads(s_body), header)])
                rec.meta = inputs.dataset_meta(self.rng, cid)
                status, body = client.call("POST", "/dataset", json.dumps(rec.meta).encode(), "application/json")
        if status != 200:
            rec.failed = True
            procs.eprint(f"{kind} answered HTTP {status}: {body[:200]!r}")
        else:
            rec.new_id = json.loads(body)["id"]
            lake.metas[rec.new_id] = rec.meta
        write_op = Op("write", kind, t0, now(), status, b"", rec, nbytes, upload_s=upload_s)
        pred = ["==", [".", ["$"], "id"], rec.new_id]
        t1 = now()
        f_status, f_body = client.find(pred)
        find_op = Op("find", "after_write", t1, now(), f_status, f_body, pred)
        rec.find_op = find_op
        return write_op, find_op


def run_write(lake: Lake, seconds: float, t_start: float) -> LakeResult:
    res = LakeResult()
    lake.write_inputs()
    lake.start()
    client = Client(lake.port)
    try:
        stream = WriteStream(lake)
        # warm-up: whole rounds until every kind's write time is within 25%
        # of its time in the round before (at least two, at most three)
        warm: dict[str, list[float]] = {k: [] for k in inputs.WRITE_ROUND}
        for _ in range(3):
            for kind in inputs.WRITE_ROUND:
                w, _f = stream.one(client, kind)
                warm[kind].append(w.t1 - w.t0)
                log(f"warm {kind}: {w.t1 - w.t0:.2f}s, find {_f.t1 - _f.t0:.2f}s")
            if all(len(v) >= 2 and abs(v[-1] - v[-2]) <= 0.25 * v[-2] for v in warm.values()):
                break
        lake.start_timed_phase()
        res.setup_s = now() - t_start
        cat = os.path.join(lake.lake_dir, "cat")
        cat_mb0 = procs.du_mb(cat)
        t0 = now()
        deadline, round_s = t0 + seconds, 0.0
        while more_rounds(deadline, round_s):
            r0 = now()
            for kind in inputs.WRITE_ROUND:
                res.ops += stream.one(client, kind)
            round_s = now() - r0
        res.wall_s = now() - t0
        res.rate = len(res.ops) / res.wall_s
        log(f"timed phase: {len(res.ops)} ops in {res.wall_s:.2f}s")
        res.catalog_mb_timed = procs.du_mb(cat) - cat_mb0
    finally:
        client.close()
    res.stored_mb = procs.du_mb(lake.lake_dir)
    return res


def check_write(res: LakeResult) -> None:
    """Check the find that followed every write (the upload's content id
    and inferred schema were checked as the write ran)."""
    for op in res.ops:
        if op.kind != "write":
            continue
        rec: WriteRecord = op.arg
        res.errors += rec.errors
        f = rec.find_op
        res.failed += rec.failed + (f.status != 200)
        if f.status == 200 and rec.new_id:
            err = checks.check_registered(json.loads(f.body), rec.new_id, rec.meta, rec.parent)
            if err:
                res.errors.append(err)
        f.body = b""
