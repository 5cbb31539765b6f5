"""The batch_ops workload: a fixed set of the repository's registered batch
workloads in one Spark session, each timed as build (``REGISTRY[name].fn``)
plus a noop-sink write that forces the full computation.

About half of the set goes through ``session.materialize`` or a shuffled
verify join; the other half uses neither, so an operator or session change
shows on the first half while the second half should stay flat.

run.py calls ``run_batch``, which writes the seeded tables, starts this file
as the runner process (the program's driver, whose process tree is the one
measured), and checks the collected results against each workload's DuckDB
oracle SQL.  The runner::

    python3 perfbench/batch.py --tables DIR --out FILE --seconds S [--trace]

collects every query once (the check pass), runs one untimed pass as the
timed passes do (the warm-up), prints ``TIMED`` and then runs whole passes
until ``S`` seconds are spent.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: one Spark core: the tables fit one partition each, and a single task
#: thread left the runs steadier and faster than two (README)
SPARK_CORES = 1
#: (name, uses session.materialize or a shuffled verify join)
QUERIES = [
    ("qast_eq_filter", False),
    ("agg_pricing_summary", False),
    ("events_sessionize", False),
    ("distinct_event_users", False),
    ("events_hourly", False),
    ("dedup_minhash_lsh", True),
    ("dedup_containment_prefix", True),
    ("text_tfidf_top_terms", True),
    ("bm25_search", True),
]


def _reset(spark) -> None:
    """Between queries, outside every timed region: drop materialized blocks
    with the program's own teardown and collect Python's garbage."""
    from comlake_core_spark.session import release_materialized

    release_materialized(spark)
    gc.collect()


def _run_query(spark, tables: str, name: str, tracer) -> tuple[float, float]:
    """Build one query and force it into the noop sink; its build and
    execution seconds."""
    from comlake_core_spark.workloads import REGISTRY
    from procs import now

    if tracer is not None:
        tracer._local.count_py4j = True
    t0 = now()
    df = REGISTRY[name].fn(spark, tables)
    t1 = now()
    if tracer is not None:
        tracer._local.count_py4j = False
    df.write.mode("overwrite").format("noop").save()
    t2 = now()
    if tracer is not None:
        tracer.count("workloads.build_s", t1 - t0)
        tracer.count("workloads.exec_s", t2 - t1)
        tracer.note_query(df._jdf)
        tracer.poll_spark()
        tracer.count("session.blocks_held", spark.sparkContext._jsc.getPersistentRDDs().size())
    del df
    _reset(spark)
    return t1 - t0, t2 - t1


def runner() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from procs import log, now

    tracer = None
    from comlake_core_spark.session import get_spark
    from comlake_core_spark.workloads import REGISTRY

    if args.trace:
        from tracing import install_batch

        tracer = install_batch()
    spark = get_spark("perfbench-batch")
    spark.sparkContext.setLogLevel("ERROR")
    log("batch: spark session up")
    if tracer is not None:
        tracer.attach_spark(spark)

    results = {}
    for name, _heavy in QUERIES:
        t0 = now()
        rows = REGISTRY[name].fn(spark, args.tables).collect()
        results[name] = [r.asDict(recursive=True) for r in rows]
        _reset(spark)
        log(f"batch: collected {name} in {now() - t0:.2f}s")
    log("batch: check pass collected")
    # the pass after the cold one still ran 20-25% slower than the passes
    # after it (the JVM was still compiling), so it is not timed
    w0 = now()
    for name, _heavy in QUERIES:
        _run_query(spark, args.tables, name, tracer)
    log(f"batch: warm pass in {now() - w0:.2f}s")
    if tracer is not None:
        tracer.reset()

    print("TIMED", flush=True)
    timings = []  # (name, build_s, exec_s)
    passes, pass_s = 0, 0.0
    deadline = now() + args.seconds
    # whole passes, as many as fit the time best (see lake.more_rounds)
    while deadline - now() > pass_s / 2:
        p0 = now()
        for name, _heavy in QUERIES:
            build_s, exec_s = _run_query(spark, args.tables, name, tracer)
            timings.append((name, build_s, exec_s))
            log(f"batch: {name} build {build_s:.2f}s exec {exec_s:.2f}s")
        passes += 1
        pass_s = now() - p0
    log(f"batch: {passes} timed passes")
    trace = None
    if tracer is not None:
        n_mat = sum(1 for s in tracer.spans if s[1] == "session.materialize")
        tracer.counters["session.materialize_calls_per_pass"] = n_mat / passes
        queries = passes * len(QUERIES)
        for k in ("workloads.build_s", "workloads.exec_s", "py4j.calls", "session.blocks_held"):
            tracer.counters[k] = tracer.counters.get(k, 0) / queries
        trace = {"spans": tracer.spans, "counters": dict(tracer.counters)}
    with open(args.out, "w") as f:
        json.dump({"results": results, "timings": timings, "trace": trace}, f, default=_jsonable)
    spark.stop()


def _jsonable(v):
    import datetime as dt
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    raise TypeError(type(v).__name__)


class BatchResult:
    def __init__(self):
        self.setup_s = 0.0
        self.timings: list = []  # (name, build_s, exec_s) per timed query
        self.errors: list[str] = []
        self.trace: dict | None = None


def run_batch(work: str, seed: int, seconds: float, trace: bool, t_start: float) -> BatchResult:
    """Write the tables, run the runner process, and check its collected
    results against each workload's DuckDB oracle SQL."""
    import duckdb

    import checks
    import inputs
    import procs
    from procs import log, now

    res = BatchResult()
    out = os.path.join(work, "batch.json")
    tables = os.path.join(work, "tables")
    paths = inputs.write_batch_tables(tables, seed)
    log("batch tables written")
    argv = [sys.executable, os.path.abspath(__file__), "--tables", tables, "--out", out, "--seconds", str(seconds)]
    proc = procs.spawn(argv + (["--trace"] if trace else []), work, "batch.log", SPARK_CORES)
    try:
        procs.wait_ready(proc, "batch runner", marker="TIMED")
        res.setup_s = now() - t_start
        proc.wait(170)
    finally:
        procs.stop(proc, grace=0)
    if proc.returncode != 0:
        raise RuntimeError(f"batch runner exited with {proc.returncode}; see its log")
    with open(out) as f:
        data = json.load(f)
    res.timings, res.trace = data["timings"], data["trace"]

    from comlake_core_spark.workloads import REGISTRY

    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for name, _heavy in QUERIES:
        cur = con.execute(REGISTRY[name].oracle)
        cols = [d[0] for d in cur.description]
        want = [dict(zip(cols, r)) for r in cur.fetchall()]
        err = checks.check_rows(data["results"][name], want)
        if err:
            res.errors.append(f"{name}: {err}")
    con.close()
    return res


if __name__ == "__main__":
    runner()
