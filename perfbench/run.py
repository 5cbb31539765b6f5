"""One command for the repository's benchmark.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

Workloads: read_mix and write_mix (the HTTP lake: a primary that owns Spark
and the catalog, and one read worker) and batch_ops (a fixed set of batch
queries in one Spark session).  The run sets everything up, measures whole
rounds of operations for ``--seconds``, checks every answer against
computations made apart from the program (checks.py), and prints as its
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the program's public functions are
wrapped and the metrics are the per-layer ones (tracing.py).

    python3 perfbench/run.py --gen-inputs DIR --workload W --seed N

writes the inputs of a workload to DIR and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import procs  # noqa: E402
from procs import now  # noqa: E402

WORKLOADS = ("read_mix", "write_mix", "batch_ops")


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _ms(op) -> float:
    return (op.t1 - op.t0) * 1e3


def _rate_mb_s(ops) -> float:
    secs = sum(o.t1 - o.t0 for o in ops)
    return sum(o.nbytes for o in ops) / 1e6 / secs if secs else 0.0


def _mean_of_medians(ops, kind: str, families: list[str]) -> float:
    """The mean over ``families`` of the median latency of each one's
    operations of ``kind``."""
    return statistics.mean(statistics.median(_ms(o) for o in ops if o.kind == kind and o.family == f) for f in families)


def end_to_end(workload: str, res) -> dict:
    """The end-to-end metrics of BENCHMARK.json.  Each workload has a light
    and a heavy class of operation and a side operation.  Where a class
    holds operations of different cost, the metric is the mean over them of
    each one's median, so that it never falls on a boundary between two of
    them:

    - read_mix: light_op_ms is that mean over the six /find families the
      snapshot and DuckDB tiers serve; heavy_op_ms is the median of the cold
      (?i) finds, which only the Spark tier serves; side_op_ms is that mean
      over the CSV and the JSON /extract, to the last byte of the streamed
      answer.
    - batch_ops: the mean time (build plus noop-sink force) of a query that
      uses neither session.materialize nor a shuffled verify join, and of
      one that does (a mean over a fixed set of queries, where a median
      would jump between queries); side_op_ms is the mean build (plan
      construction) time of a query.
    - write_mix: the p50 of the /find right after a write, and of a write
      (first request to last acknowledgement); side_op_ms is the p50 of
      the ingests' uploads alone.
    ops_per_s counts operations completed per second of the timed phase
    (batch_ops: query executions per second of query time).
    """
    if workload == "batch_ops":
        import batch

        heavy_names = {n for n, heavy in batch.QUERIES if heavy}
        light = [(b + e) * 1e3 for n, b, e in res.timings if n not in heavy_names]
        heavy = [(b + e) * 1e3 for n, b, e in res.timings if n in heavy_names]
        builds = [b * 1e3 for _n, b, _e in res.timings]
        side = sum(builds) / len(builds)
        rate = len(res.timings) / sum((b + e) for _n, b, e in res.timings)
        light_ms, heavy_ms = statistics.mean(light), statistics.mean(heavy)
    else:
        if workload == "read_mix":
            import inputs

            fast = [f for f, tier in inputs.FAMILIES.items() if tier != "spark"]
            light_ms = _mean_of_medians(res.ops, "find", fast)
            heavy_ms = statistics.median(_ms(o) for o in res.ops if o.kind == "find" and o.family == "icase" and not o.hot)
            side = _mean_of_medians(res.ops, "extract", ["csv", "json"])
        else:
            light_ms = statistics.median(_ms(o) for o in res.ops if o.kind == "find")
            heavy_ms = statistics.median(_ms(o) for o in res.ops if o.kind == "write")
            side = statistics.median(o.upload_s * 1e3 for o in res.ops if o.kind == "write" and o.nbytes)
        rate = res.rate
    return {
        "setup_s": _metric(res.setup_s, "s"),
        "ops_per_s": _metric(rate, "1/s"),
        "light_op_ms": _metric(light_ms, "ms"),
        "heavy_op_ms": _metric(heavy_ms, "ms"),
        "side_op_ms": _metric(side, "ms"),
    }


def layers(workload: str, res, work: str) -> dict:
    """The per-layer metrics of a traced run, and the self-time table on
    stderr."""
    import tracing

    if workload == "batch_ops":
        spans = [tuple(s) for s in res.trace["spans"]]
        counters = res.trace["counters"]
        extra: dict = {}
    else:
        spans, counters = tracing.load(
            [os.path.join(work, "trace-primary.json"), os.path.join(work, "trace-worker.json")]
        )
        extracts = [o for o in res.ops if o.kind == "extract"]
        ext_s = sum(o.t1 - o.t0 for o in extracts)
        extra = {
            "client_finds": sum(1 for o in res.ops if o.kind == "find"),
            "extract_rows_per_s": sum(o.rows for o in extracts) / ext_s if ext_s else 0.0,
            "get_mb_per_s": _rate_mb_s([o for o in res.ops if o.kind == "get"]),
            "stored_mb": res.stored_mb,
            "catalog_mb_growth": res.catalog_mb_timed,
        }
    procs.eprint(tracing.table(spans))
    values = tracing.per_layer(spans, counters, extra)
    return {name: _metric(values[name], unit) for name, unit in tracing.PER_LAYER}


def run(args) -> dict:
    t_start = now()
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.makedirs(os.path.join(work, "logs"))
    ok = False
    try:
        if args.workload == "batch_ops":
            import batch

            res = batch.run_batch(work, args.seed, args.seconds, bool(args.trace), t_start)
            attempted, failed = len(res.timings), 0
        else:
            import lake

            rig = lake.Lake(work, args.seed, bool(args.trace))
            fn = lake.run_read if args.workload == "read_mix" else lake.run_write
            try:
                res = fn(rig, args.seconds, t_start)
            except BaseException:
                rig.stop(grace=0)
                raise
            rig.log_peak_rss()
            # the program stops while its answers are checked
            stopper = threading.Thread(target=rig.stop)
            stopper.start()
            try:
                if args.workload == "read_mix":
                    lake.check_read(rig, res)
                else:
                    lake.check_write(res)
            finally:
                stopper.join()
            attempted, failed = len(res.ops), res.failed
        metrics = end_to_end(args.workload, res)
        if args.trace:
            # the traced run's own end-to-end figures, set against an
            # untraced run's, give the cost of tracing
            procs.log("traced end-to-end: " + json.dumps({k: round(v["value"], 3) for k, v in metrics.items()}))
            metrics = layers(args.workload, res, work)
        for e in res.errors[:20]:
            procs.eprint(f"WRONG: {e}")
        procs.log(f"{args.workload}: attempted {attempted}, failed {failed}, wrong {len(res.errors)}")
        ok = True
        return {"correct": not res.errors, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        if not ok:
            for name in sorted(os.listdir(os.path.join(work, "logs"))):
                with open(os.path.join(work, "logs", name), "rb") as f:
                    tail = f.read()[-3000:].decode(errors="replace")
                procs.eprint(f"--- {name} ---\n{tail}")
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-inputs", metavar="DIR", help="write the workload's inputs to DIR and exit")
    args = ap.parse_args()
    # a SIGTERM unwinds through the blocks that stop the program; a second
    # one must not cut that short
    def on_term(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)
    if args.gen_inputs:
        if args.workload == "batch_ops":
            import inputs

            inputs.write_batch_tables(args.gen_inputs, args.seed)
        else:
            import lake

            lake.write_lake_inputs(args.gen_inputs, args.seed)
        return
    import importlib.util

    if importlib.util.find_spec("comlake_core_spark") is None:
        sys.exit("comlake_core_spark is not importable from the checkout root")
    result = run(args)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
