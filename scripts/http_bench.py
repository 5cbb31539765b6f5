#!/usr/bin/env python
"""HTTP serving-layer throughput probe, mirroring the reference's wrk
evaluation (BASELINE.md: thesis/main/eval.tex:90-107 — find 5575.89 req/s,
file download 6238.30 req/s, no-op control 29788.50 req/s on an i5-8250U).

Boots the real serving tier — primary ComlakeServer + N SO_REUSEPORT read
workers (comlake_core_spark/serving.py) — on a LocalStore + Catalog seeded
with datasets, then hammers four endpoints:

  find           POST /find  ["==",[".",["$"],"cid"],"Qm"]  (the wrk find.lua predicate)
  find_fallback  POST /find  dynamic-extra predicate         (snapshot-unsafe → Spark on primary)
  get            GET  /file/{cid}                            (small-file download)
  control        GET  /nope                                  (404 route — no-op control)

Load generation uses PROCESSES, not threads: a CPython threaded client is
itself GIL-bound near the old single-process server numbers, so this script
re-execs itself in `--client` mode N_CLIENTS times per endpoint (keep-alive
connection per process) and sums the counts.

Prints one JSON line {endpoint: req_per_sec, ...}. Env knobs:
  SPARK_GRAFT_HTTP_WORKERS   read workers (default 8; 0 = single-process server)
  SPARK_GRAFT_HTTP_CLIENTS   client processes (default 16)
  SPARK_GRAFT_HTTP_SECS      seconds per endpoint (default 5)
"""

from __future__ import annotations

import json
import os
import sys


def client_main(argv: list[str]) -> None:
    """Pure-stdlib keep-alive request loop; prints the request count.
    Kept import-light so spawned clients start fast."""
    import http.client
    import time

    port, method, path, duration = int(argv[0]), argv[1], argv[2], float(argv[3])
    body = sys.stdin.buffer.read() or None
    headers = {"Content-Type": "application/json"} if body else {}
    conn = http.client.HTTPConnection("127.0.0.1", port)
    n = 0
    stop = time.monotonic() + duration
    while time.monotonic() < stop:
        conn.request(method, path, body, headers)
        resp = conn.getresponse()
        resp.read()
        n += 1
    conn.close()
    print(n)


if len(sys.argv) > 1 and sys.argv[1] == "--client":
    client_main(sys.argv[2:])
    sys.exit(0)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_WORKERS = int(os.environ.get("SPARK_GRAFT_HTTP_WORKERS", "8"))
N_CLIENTS = int(os.environ.get("SPARK_GRAFT_HTTP_CLIENTS", "16"))
DURATION = float(os.environ.get("SPARK_GRAFT_HTTP_SECS", "5"))


def hammer(port: int, method: str, path: str, body: bytes | None) -> float:
    """Aggregate req/s over N_CLIENTS single-connection client processes."""
    import subprocess
    import time

    procs = []
    t0 = time.monotonic()
    for _ in range(N_CLIENTS):
        p = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--client", str(port), method, path, str(DURATION)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=False,
        )
        p.stdin.write(body or b"")
        p.stdin.close()
        procs.append(p)
    total = 0
    for p in procs:
        total += int(p.stdout.read().strip() or 0)
        p.wait()
    return total / (time.monotonic() - t0)


def main() -> None:
    import io
    import tempfile

    from comlake_core_spark.catalog import Catalog
    from comlake_core_spark.server import ComlakeServer
    from comlake_core_spark.serving import ServingTier
    from comlake_core_spark.session import get_serving_spark
    from comlake_core_spark.store import LocalStore

    root = tempfile.mkdtemp(prefix="comlake-httpbench-")
    # serving entry point: bounded checkpoint-block reclamation (VERDICT r14 #3)
    spark = get_serving_spark("http-bench")
    spark.sparkContext.setLogLevel("ERROR")
    primary = ComlakeServer(
        spark,
        LocalStore(os.path.join(root, "cas")),
        Catalog(spark, os.path.join(root, "cat")),
        port=0,
        reuse_port=N_WORKERS > 0,
        snapshot_export=os.path.join(root, "find.snap") if N_WORKERS > 0 else None,
    )
    tier = ServingTier(primary, n_workers=N_WORKERS) if N_WORKERS > 0 else None
    port = tier.start() if tier else primary.start()
    try:
        # seed: one small file + 100 datasets over it
        cid = primary.store.add(io.BytesIO(b"name,size\nlake,3\ncore,9\n"))
        primary.catalog.upsert_content(cid, "text/csv")
        for i in range(100):
            primary.catalog.add_dataset(
                {"file": cid, "description": f"d{i}", "source": "bench",
                 "topics": ["t"], "length": str(i)}
            )
        primary._invalidate_snapshot()
        primary._snapshot()  # build + export so workers serve /find locally

        find_body = json.dumps(["==", [".", ["$"], "cid"], "Qm"]).encode()
        # dynamic-extras numeric predicate: snapshot-served since r4
        # (string→double coercion regime, VERDICT r3 "What's wrong" #2)
        find_extras_body = json.dumps([">", [".", ["$"], "length"], 50]).encode()
        # '+' with an extras operand: snapshot-unsafe → the DuckDB middle
        # tier serves it worker-locally since r9 (findsql.py)
        find_spark_body = json.dumps(
            [">", ["+", [".", ["$"], "length"], 1], 2]
        ).encode()
        # the r9 residual-bench shape ["==", id, "1"]: normalize_find_ast
        # folds the literal cast (r10), so it is SNAPSHOT-served now —
        # kept as its own metric to show the class moved tiers
        find_mixed_body = json.dumps(["==", [".", ["$"], "id"], "1"]).encode()
        # a TRUE residual predicate (multi-operand mixed chain — pairwise
        # coercion defeats normalization): last-resort Spark tier on the
        # primary; workers answer from their (catalog-version, AST)
        # response memo after one proxied miss each (r10)
        find_residual_body = json.dumps(["==", [".", ["$"], "id"], "1", "1"]).encode()
        warm = hammer(port, "POST", "/find", find_body)  # warm sockets + page cache
        # one cold pass populates the Spark tier's memo and each worker's
        # proxy memo so the residual timing measures the steady state
        # (the cold miss is one ~1.5 s Spark job behind single-flight)
        hammer(port, "POST", "/find", find_residual_body)
        out = {
            "find_rps": round(hammer(port, "POST", "/find", find_body), 1),
            "find_extras_rps": round(hammer(port, "POST", "/find", find_extras_body), 1),
            "find_spark_fallback_rps": round(hammer(port, "POST", "/find", find_spark_body), 1),
            "find_mixed_literal_rps": round(hammer(port, "POST", "/find", find_mixed_body), 1),
            "find_spark_residual_rps": round(hammer(port, "POST", "/find", find_residual_body), 1),
            "get_rps": round(hammer(port, "GET", f"/file/{cid}", None), 1),
            "control_rps": round(hammer(port, "GET", "/nope", None), 1),
            "workers": N_WORKERS,
            "clients": N_CLIENTS,
            "warm_find_rps": round(warm, 1),
        }
        print(json.dumps(out))
    finally:
        if tier:
            tier.stop()
        else:
            primary.stop()
        spark.stop()


if __name__ == "__main__":
    main()
