"""The lake primary: one ComlakeServer that owns Spark and the catalog.

Run by run.py as its own process::

    python3 perfbench/primary.py --lake DIR --inputs DIR [--trace-out FILE]

It opens a LocalStore and a Catalog under ``--lake``, loads the seeded
contents and dataset registrations from ``--inputs`` through the public
store and catalog API, starts the public and private listeners, builds and
exports the /find snapshot, and prints ``READY <private_port>``.  It serves
until its standard input closes or it receives SIGTERM, then writes its
trace (when ``--trace-out`` is given) and stops Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_lake(server, inputs: str) -> None:
    from procs import log

    """Seed the store and catalog: one store.add and one upsert_content per
    content file, then one add_datasets call for every registration."""
    with open(os.path.join(inputs, "contents.json")) as f:
        contents = json.load(f)
    for c in contents:
        with open(os.path.join(inputs, c["name"]), "rb") as f:
            cid = server.store.add(f)
        log(f"primary: stored {c['name']}")
        if cid != c["cid"]:
            raise SystemExit(f"store returned {cid} for {c['name']}, expected {c['cid']}")
        server.catalog.upsert_content(cid, c["mime"])
        log(f"primary: registered {c['name']}")
    with open(os.path.join(inputs, "datasets.jsonl")) as f:
        metas = [json.loads(line) for line in f]
    log("primary: contents registered")
    ids = server.catalog.add_datasets(metas)
    if ids != list(range(1, len(metas) + 1)):
        raise SystemExit("catalog did not assign ids 1..N to the seeded datasets")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lake", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args()

    tracer = None
    if args.trace_out:
        from tracing import install_primary

        tracer = install_primary()

    from comlake_core_spark.catalog import Catalog
    from comlake_core_spark.server import ComlakeServer
    from comlake_core_spark.session import get_serving_spark
    from comlake_core_spark.store import LocalStore

    from procs import log

    log("primary: imports done")
    spark = get_serving_spark("perfbench-primary")
    log("primary: spark session up")
    spark.sparkContext.setLogLevel("ERROR")
    server = ComlakeServer(
        spark,
        LocalStore(os.path.join(args.lake, "cas")),
        Catalog(spark, os.path.join(args.lake, "cat")),
        port=0,
        snapshot_export=os.path.join(args.lake, "find.snap"),
    )
    load_lake(server, args.inputs)
    log("primary: lake loaded")
    server.start()
    private_port = server.start_private()
    # build and export the snapshot, so the worker starts with it
    status, _ = server.op_find(["==", [".", ["$"], "id"], 1])
    if status != 200:
        raise SystemExit("snapshot warm-up find failed")
    log("primary: snapshot exported")
    if tracer is not None:
        tracer.attach_spark(spark, poll_every=0.5)
        # the benchmark sends SIGUSR1 when its timed phase starts
        signal.signal(signal.SIGUSR1, lambda *_: tracer.reset())

    done = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: done.set())
    threading.Thread(target=lambda: (sys.stdin.read(), done.set()), daemon=True).start()
    print(f"READY {private_port}", flush=True)
    while not done.wait(0.5):
        pass
    try:
        if tracer is not None:
            tracer.dump(args.trace_out)
    finally:
        server.stop()
        spark.stop()


if __name__ == "__main__":
    main()
