"""The read worker with tracing: wraps the worker's layers (tracing.py),
then runs ``comlake_core_spark.serving``'s own CLI.  Writes its trace to
``--trace-out`` when stdin closes or on SIGTERM.

    python3 perfbench/worker.py --trace-out FILE <serving.main arguments>
"""

from __future__ import annotations

import os
import signal
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv = sys.argv[1:]
    if len(argv) < 2 or argv[0] != "--trace-out":
        sys.exit("usage: worker.py --trace-out FILE <serving arguments>")
    out, argv = argv[1], argv[2:]

    from comlake_core_spark import serving
    from tracing import install_worker

    tracer = install_worker()

    def finish(*_):
        tracer.dump(out)
        os._exit(0)

    signal.signal(signal.SIGTERM, finish)
    # the benchmark sends SIGUSR1 when its timed phase starts
    signal.signal(signal.SIGUSR1, lambda *_: tracer.reset())
    # stdin closing is the stop signal; the main thread serves forever
    threading.Thread(target=lambda: (sys.stdin.read(), os.kill(os.getpid(), signal.SIGTERM)), daemon=True).start()
    serving.main(argv)


if __name__ == "__main__":
    main()
