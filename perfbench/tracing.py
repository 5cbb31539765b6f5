"""Spans and counters for the traced run (``--trace 1``).

The benchmark's launchers install wrappers on the program's public functions
before it serves or runs a query; nothing in the program changes.  A span
records name, start, end, parent span and request id (the id of its root
span).  Spans and counters stay in memory and are written as JSON when the
process ends; ``per_layer`` turns the spans and counters of one run into
the per-layer metrics and ``table`` into a self-time table (a span's self
time is its duration minus the part its child spans cover).

Spark's own counters come from the status store (jobs, stages, tasks,
shuffle and spill bytes, task and GC time) and from each query's
``queryExecution`` (Catalyst phase times, exchanges in the executed plan).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from typing import Callable

perf = time.perf_counter


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, name, t0, t1, parent, req)
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._reqs = itertools.count(1)
        self._lock = threading.Lock()
        self.spark = None
        self._jobs_seen: set[int] = set()
        self._lock_poll = threading.Lock()

    # -- recording -------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] += n

    def wrap(self, name: str, fn: Callable, on_result: Callable | None = None) -> Callable:
        """``fn`` recorded as a span called ``name``.  A recursive call of the
        same span name records only the outermost call.  ``on_result(args,
        result, seconds, span_id)`` runs after a successful call; a value it
        returns replaces the result."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            if stack and stack[-1][2] == name:
                return fn(*args, **kwargs)
            sid = next(tracer._ids)
            parent, req = (stack[-1][0], stack[-1][1]) if stack else (None, next(tracer._reqs))
            stack.append((sid, req, name))
            t0 = perf()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = perf()
                stack.pop()
                tracer.spans.append((sid, name, t0, t1, parent, req))
            if on_result is not None:
                replaced = on_result(args, result, t1 - t0, sid)
                if replaced is not None:
                    return replaced
            return result

        return traced

    def patch_function(self, fn: Callable, name: str, on_result=None) -> None:
        """Replace ``fn`` under every module-level name that refers to it
        (``from x import fn`` copies the reference into the importer)."""
        self.replace(fn, self.wrap(name, fn, on_result))

    @staticmethod
    def replace(fn: Callable, new: Callable) -> None:
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not d:
                continue
            for key, value in list(d.items()):
                if value is fn:
                    setattr(mod, key, new)

    def patch_method(self, cls: type, attr: str, name: str, on_result=None) -> None:
        setattr(cls, attr, self.wrap(name, getattr(cls, attr), on_result))

    def reset(self) -> None:
        """Forget what set-up recorded: only the timed phase is reported."""
        with self._lock:
            self.spans.clear()
            self.counters.clear()
        if self.spark is not None:
            self.poll_spark(record=False)

    # -- Spark -------------------------------------------------------------

    def attach_spark(self, spark, poll_every: float | None = None) -> None:
        """Read Spark's counters from ``spark``; with ``poll_every``, also
        from a background thread, for sessions that run many jobs between
        explicit polls."""
        self.spark = spark
        if poll_every is not None:

            def loop():
                while True:
                    time.sleep(poll_every)
                    try:
                        self.poll_spark()
                    except Exception:  # the session is stopping
                        return

            threading.Thread(target=loop, daemon=True).start()

    def poll_spark(self, record: bool = True) -> None:
        """Add the status-store figures of every job finished since the last
        poll (the store keeps the last 100 jobs, so pollers call this at
        least every few seconds)."""
        with self._lock_poll:
            self._poll(record)

    def _poll(self, record: bool) -> None:
        ss = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = ss.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid in self._jobs_seen or job.status().toString() == "RUNNING":
                continue
            self._jobs_seen.add(jid)
            if not record:
                continue
            self.count("spark.jobs")
            sids = job.stageIds()
            for k in range(sids.size()):
                try:
                    st = ss.lastStageAttempt(sids.apply(k))
                except Exception:  # evicted from the store
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                self.count("spark.stages")
                self.count("spark.tasks", st.numTasks())
                self.count("spark.shuffle_read_mb", st.shuffleReadBytes() / 1e6)
                self.count("spark.shuffle_write_mb", st.shuffleWriteBytes() / 1e6)
                self.count("spark.spill_mb", (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6)
                self.count("spark.task_run_s", st.executorRunTime() / 1e3)
                self.count("spark.task_cpu_s", st.executorCpuTime() / 1e9)
                self.count("spark.jvm_gc_s", st.jvmGcTime() / 1e3)

    def note_query(self, jdf) -> None:
        """Catalyst phase times and exchange count of an executed frame."""
        qe = jdf.queryExecution()
        plan = qe.executedPlan().toString()
        self.count("catalyst.queries")
        self.count("spark.exchanges", plan.count("Exchange"))
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self.count(f"catalyst.{phase}_ms", opt.get().durationMs())

    # -- output ------------------------------------------------------------

    def dump(self, path: str) -> None:
        if self.spark is not None:
            self.poll_spark()
            self.count("session.blocks_held", self.spark.sparkContext._jsc.getPersistentRDDs().size())
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": dict(self.counters)}, f)


# --------------------------------------------------------------------------
# what each launcher wraps
# --------------------------------------------------------------------------

GATES = ("normalize_find_ast", "find_static_status", "snapshot_safe", "duckdb_find_safe")


def _wrap_matcher(tracer: Tracer) -> None:
    """snapshot_matcher returns the per-row closure; count the rows it is
    given, the rows it keeps, and the time from its first to its last call."""
    import weakref

    from comlake_core_spark import server

    orig = server.snapshot_matcher

    def counted(ast):
        match = orig(ast)
        state = [None, None, 0, 0]  # first call, last call, rows, kept

        def m(row):
            if state[0] is None:
                state[0] = perf()
            ok = match(row)
            state[1] = perf()
            state[2] += 1
            state[3] += bool(ok)
            return ok

        def finish():
            if state[0] is not None:
                tracer.count("qast.match_s", state[1] - state[0])
            tracer.count("qast.rows_examined", state[2])
            tracer.count("qast.rows_matched", state[3])

        # the caller drops the closure when its row loop ends
        weakref.finalize(m, finish)
        return m

    tracer.replace(orig, tracer.wrap("qast.snapshot_matcher", counted))


def _common(tracer: Tracer) -> None:
    from comlake_core_spark import findsql, server
    from comlake_core_spark.qast import sqlgen
    from comlake_core_spark.store.local import LocalStore

    for g in GATES:
        tracer.patch_function(getattr(server, g), f"qast.{g}")
    _wrap_matcher(tracer)
    tracer.patch_method(findsql.DuckFinder, "find", "findsql.find")
    tracer.patch_method(findsql.DuckFinder, "find_encoded", "findsql.find")
    tracer.patch_function(sqlgen.qast_to_sql_predicate, "findsql.render")

    class TimedFile:
        """The file ``LocalStore.fetch`` opened, with its reads timed."""

        def __init__(self, f):
            self._f = f

        def read(self, *a):
            t0 = perf()
            data = self._f.read(*a)
            tracer.count("store.fetch_s", perf() - t0)
            tracer.count("store.fetch_mb", len(data) / 1e6)
            return data

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._f.close()
            return False

        def __getattr__(self, name):
            return getattr(self._f, name)

    def fetched(args, f, seconds, sid):
        tracer.count("store.fetch_s", seconds)
        return TimedFile(f)

    tracer.patch_method(LocalStore, "fetch", "store.fetch", fetched)

    def added(args, cid, seconds, sid):
        store = args[0]
        tracer.count("store.add_s", seconds)
        tracer.count("store.add_mb", os.path.getsize(os.path.join(store.objects, cid)) / 1e6)

    tracer.patch_method(LocalStore, "add", "store.add", added)


def install_primary() -> Tracer:
    """Wrap the primary's layers: server operations, catalog, qast gates and
    compiler, DuckDB finder, store, extraction and schema inference."""
    from comlake_core_spark import server
    from comlake_core_spark.catalog import catalog
    from comlake_core_spark.extract import reader, schema_infer
    from comlake_core_spark.qast import compiler

    tracer = Tracer()
    _common(tracer)
    S = server.ComlakeServer
    for op in ("op_find", "op_extract", "op_save", "op_add_dataset", "op_update", "op_schema"):
        tracer.patch_method(S, op, f"server.{op}")

    def joined(args, df, seconds, sid):
        stack = tracer._stack()
        if stack and stack[-1][2] == "server.snapshot":
            tracer._local.rebuilt = True

    def snap_done(args, rows, seconds, sid):
        if getattr(tracer._local, "rebuilt", False):
            tracer._local.rebuilt = False
            tracer.count("server.snapshot_rebuilds")
            tracer.count("server.snapshot_rebuild_s", seconds)
            tracer.count("catalog.rebuild_rows", len(rows) if rows else 0)

    tracer.patch_method(S, "_snapshot", "server.snapshot", snap_done)
    C = catalog.Catalog

    def frame(args, df, seconds, sid):
        pending = getattr(tracer._local, "frames", None)
        if pending is None:
            pending = tracer._local.frames = []
        pending.append(df)

    tracer.patch_method(C, "find", "catalog.find", frame)
    tracer.patch_method(C, "joined", "catalog.joined", joined)
    for m in ("add_dataset", "update_dataset", "upsert_content", "set_schema"):
        tracer.patch_method(C, m, f"catalog.{m}")
    tracer.patch_function(compiler.compile_predicate, "qast.compile_predicate")
    tracer.patch_function(reader.extract, "extract.extract", frame)
    tracer.patch_function(schema_infer.cached_schema, "extract.cached_schema")

    # after each operation, read the Catalyst phases of the frames it ran
    for op in ("op_find", "op_extract"):
        traced = getattr(S, op)

        def after(fn=traced):
            @functools.wraps(fn)
            def run(*a, **k):
                try:
                    return fn(*a, **k)
                finally:
                    for df in getattr(tracer._local, "frames", None) or []:
                        try:
                            tracer.note_query(df._jdf)
                        except Exception:
                            pass
                    tracer._local.frames = []

            return run

        setattr(S, op, after())
    return tracer


def install_worker() -> Tracer:
    """Wrap the read worker's layers: request handling, proxying, snapshot
    reloads, qast gates and matcher, DuckDB finder and store reads."""
    from comlake_core_spark import serving

    tracer = Tracer()
    _common(tracer)

    def reload_check(args, snap, seconds, sid):
        reader = args[0]
        if reader._stamp != getattr(reader, "_perfbench_stamp", None):
            reader._perfbench_stamp = reader._stamp
            tracer.count("serving.snapshot_reloads")
            tracer.count("serving.snapshot_reload_s", seconds)

    tracer.patch_method(serving.SnapshotReader, "get", "serving.snapshot_get", reload_check)
    make = serving._make_worker_handler

    def make_handler(*a, **k):
        cls = make(*a, **k)
        tracer.patch_method(cls, "do_POST", "serving.request")
        tracer.patch_method(cls, "do_GET", "serving.request")
        tracer.patch_method(cls, "_proxy", "serving.proxy")
        return cls

    serving._make_worker_handler = make_handler
    return tracer


def install_batch() -> Tracer:
    """Wrap the batch layers: session.materialize and the py4j gateway."""
    from comlake_core_spark import session

    tracer = Tracer()
    tracer.patch_function(session.materialize, "session.materialize")
    import py4j.clientserver
    import py4j.java_gateway

    for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        send = cls.send_command

        def counted(self, command, *a, _send=send, **k):
            if getattr(tracer._local, "count_py4j", False):
                tracer.count("py4j.calls")
            return _send(self, command, *a, **k)

        cls.send_command = counted
    return tracer


# --------------------------------------------------------------------------
# summary
# --------------------------------------------------------------------------

PER_LAYER = [
    # name, unit
    ("server.find_ms", "ms"),
    ("server.find_memo_hits", "count"),
    ("server.snapshot_rebuilds", "count"),
    ("server.snapshot_rebuild_ms", "ms"),
    ("server.write_ms", "ms"),
    ("server.extract_first_row_ms", "ms"),
    ("serving.find_local", "count"),
    ("serving.proxied", "count"),
    ("serving.snapshot_reload_ms", "ms"),
    ("qast.gate_ms", "ms"),
    ("qast.matcher_ms", "ms"),
    ("qast.rows_examined_per_hit", "ratio"),
    ("qast.compile_ms", "ms"),
    ("findsql.find_ms", "ms"),
    ("findsql.renders", "count"),
    ("findsql.hit_ratio", "ratio"),
    ("catalog.find_ms", "ms"),
    ("catalog.find_calls", "count"),
    ("catalog.commit_ms", "ms"),
    ("catalog.commits", "count"),
    ("catalog.bytes_per_commit", "MB"),
    ("catalog.rebuild_rows", "count"),
    ("store.fetch_mb_per_s", "MB/s"),
    ("store.add_mb_per_s", "MB/s"),
    ("extract.plan_ms", "ms"),
    ("extract.rows_per_s", "rows/s"),
    ("extract.schema_ms", "ms"),
    ("session.materialize_calls", "count"),
    ("session.blocks_held", "count"),
    ("workloads.build_s", "s"),
    ("workloads.exec_s", "s"),
    ("py4j.calls", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.exchanges", "count"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.jvm_gc_s", "s"),
    ("client.get_mb_per_s", "MB/s"),
    ("lake.stored_mb", "MB"),
    ("trace.spans", "count"),
]


def load(paths: list[str]) -> tuple[list[tuple], dict[str, float]]:
    """Spans (with the file's index prefixed to ids) and summed counters."""
    spans, counters = [], defaultdict(float)
    for i, p in enumerate(paths):
        if not os.path.exists(p):
            continue
        with open(p) as f:
            d = json.load(f)
        for sid, name, t0, t1, parent, req in d["spans"]:
            spans.append(((i, sid), name, t0, t1, (i, parent) if parent else None, (i, req)))
        for k, v in d["counters"].items():
            counters[k] += v
    return spans, counters


def self_times(spans: list[tuple]) -> dict[str, dict[str, float]]:
    """Per span name: calls, total seconds and self seconds."""
    child_s: dict = defaultdict(float)
    for sid, name, t0, t1, parent, req in spans:
        if parent is not None:
            child_s[parent] += t1 - t0
    out: dict[str, dict[str, float]] = {}
    for sid, name, t0, t1, parent, req in spans:
        row = out.setdefault(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += t1 - t0
        row["self_s"] += max(0.0, (t1 - t0) - child_s[sid])
    return out


def per_layer(spans: list[tuple], c: dict[str, float], extra: dict[str, float]) -> dict[str, float]:
    """The per-layer metrics of PER_LAYER from one run's spans and counters;
    ``extra`` holds figures measured by the benchmark itself."""
    by_name: dict[str, list[tuple]] = defaultdict(list)
    children: dict = defaultdict(set)
    for s in spans:
        by_name[s[1]].append(s)
        if s[4] is not None:
            children[s[4]].add(s[1])

    def mean_ms(names) -> float:
        xs = [s[3] - s[2] for n in names for s in by_name[n]]
        return 1e3 * sum(xs) / len(xs) if xs else 0.0

    def div(a: float, b: float) -> float:
        return a / b if b else 0.0

    finds = by_name["server.op_find"]
    tiers = {"server.snapshot", "findsql.find", "catalog.find"}
    memo_hits = sum(1 for s in finds if not (children[s[0]] & tiers))
    # a Spark-path find: from Catalog.find's start to the end of op_find
    cat_find = []
    for s in by_name["catalog.find"]:
        parent = next((f for f in finds if f[0] == s[4]), None)
        if parent is not None:
            cat_find.append(parent[3] - s[2])
    commits = [s for n in ("catalog.add_dataset", "catalog.update_dataset", "catalog.upsert_content", "catalog.set_schema") for s in by_name[n]]
    gate_s = sum(s[3] - s[2] for g in GATES for s in by_name[f"qast.{g}"])
    renders = len(by_name["findsql.render"])
    duck_calls = len(by_name["findsql.find"])
    m = {
        "server.find_ms": mean_ms(["server.op_find"]),
        "server.find_memo_hits": memo_hits,
        "server.snapshot_rebuilds": c.get("server.snapshot_rebuilds", 0),
        "server.snapshot_rebuild_ms": 1e3 * div(c.get("server.snapshot_rebuild_s", 0), c.get("server.snapshot_rebuilds", 0)),
        "server.write_ms": mean_ms(["server.op_save", "server.op_add_dataset", "server.op_update", "server.op_schema"]),
        "server.extract_first_row_ms": mean_ms(["server.op_extract"]),
        "serving.find_local": max(0, extra.get("client_finds", 0) - len(finds)),
        "serving.proxied": len(by_name["serving.proxy"]),
        "serving.snapshot_reload_ms": 1e3 * div(c.get("serving.snapshot_reload_s", 0), c.get("serving.snapshot_reloads", 0)),
        "qast.gate_ms": 1e3 * div(gate_s, extra.get("client_finds", 0)),
        "qast.matcher_ms": 1e3 * div(c.get("qast.match_s", 0), len(by_name["qast.snapshot_matcher"])),
        "qast.rows_examined_per_hit": div(c.get("qast.rows_examined", 0), c.get("qast.rows_matched", 0)),
        "qast.compile_ms": mean_ms(["qast.compile_predicate"]),
        "findsql.find_ms": mean_ms(["findsql.find"]),
        "findsql.renders": renders,
        "findsql.hit_ratio": div(duck_calls - renders, duck_calls),
        "catalog.find_ms": 1e3 * div(sum(cat_find), len(cat_find)),
        "catalog.find_calls": len(by_name["catalog.find"]),
        "catalog.commit_ms": 1e3 * div(sum(s[3] - s[2] for s in commits), len(commits)),
        "catalog.commits": len(commits),
        "catalog.bytes_per_commit": div(extra.get("catalog_mb_growth", 0), len(commits)),
        "catalog.rebuild_rows": div(c.get("catalog.rebuild_rows", 0), c.get("server.snapshot_rebuilds", 0)),
        "store.fetch_mb_per_s": div(c.get("store.fetch_mb", 0), c.get("store.fetch_s", 0)),
        "store.add_mb_per_s": div(c.get("store.add_mb", 0), c.get("store.add_s", 0)),
        "extract.plan_ms": mean_ms(["extract.extract"]),
        "extract.rows_per_s": extra.get("extract_rows_per_s", 0),
        "extract.schema_ms": mean_ms(["extract.cached_schema"]),
        "session.materialize_calls": c.get("session.materialize_calls_per_pass", 0),
        "session.blocks_held": c.get("session.blocks_held", 0),
        "workloads.build_s": c.get("workloads.build_s", 0),
        "workloads.exec_s": c.get("workloads.exec_s", 0),
        "py4j.calls": c.get("py4j.calls", 0),
        "client.get_mb_per_s": extra.get("get_mb_per_s", 0),
        "lake.stored_mb": extra.get("stored_mb", 0),
        "trace.spans": len(spans),
    }
    queries = c.get("catalyst.queries", 0)
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = div(c.get(f"catalyst.{phase}_ms", 0), queries)
    for k in ("jobs", "stages", "tasks", "exchanges", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_run_s", "task_cpu_s", "jvm_gc_s"):
        m[f"spark.{k}"] = c.get(f"spark.{k}", 0)
    return {name: m[name] for name, _unit in PER_LAYER}


def table(spans: list[tuple]) -> str:
    rows = sorted(self_times(spans).items(), key=lambda kv: -kv[1]["self_s"])
    lines = [f"{'span':34} {'calls':>7} {'total_s':>9} {'self_s':>9}"]
    for name, r in rows:
        lines.append(f"{name:34} {r['calls']:7d} {r['total_s']:9.3f} {r['self_s']:9.3f}")
    return "\n".join(lines)
