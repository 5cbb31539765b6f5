"""Process helpers: start the program's processes with the benchmark's
environment, stop them, and sample the peak resident set of their trees."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
def child_env(work: str, spark_cores: int | None) -> dict[str, str]:
    """Environment for every program process: the repository on the path,
    Spark's cores, memory and scratch directories inside the work dir."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # the heap starts at its maximum (SPARK_GRAFT_DRIVER_MEM): a heap that
        # G1 shrinks and regrows makes page faults part of the timings
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms2g' pyspark-shell",
        PYTHONHASHSEED="0",
    )
    if spark_cores is not None:
        env["SPARK_GRAFT_CPUS"] = str(spark_cores)
    return env


def spawn(argv: list[str], work: str, log_name: str, spark_cores: int | None = None) -> subprocess.Popen:
    log = open(os.path.join(work, "logs", log_name), "ab")
    try:
        return subprocess.Popen(
            argv,
            cwd=work,
            env=child_env(work, spark_cores),
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=log,
            text=True,
            start_new_session=True,
        )
    finally:
        log.close()


def wait_ready(proc: subprocess.Popen, what: str, timeout: float = 150, marker: str = "READY") -> str:
    """The first stdout line of ``proc``, which must start with ``marker``."""
    box: list[str] = []
    reader = threading.Thread(target=lambda: box.append(proc.stdout.readline()), daemon=True)
    reader.start()
    reader.join(timeout)
    line = box[0] if box else ""
    if not line.startswith(marker):
        raise RuntimeError(f"{what} did not start (got {line!r}); see its log")
    return line


def stop(proc: subprocess.Popen | None, grace: float = 30) -> None:
    """Close stdin (the processes' stop signal), then SIGTERM, then kill the
    whole process group, and wait for the process to end."""
    if proc is None or proc.poll() is not None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(grace)
    except subprocess.TimeoutExpired:
        proc.terminate()
        try:
            proc.wait(5)
        except subprocess.TimeoutExpired:
            pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)  # stragglers: JVM, Python workers
    except (ProcessLookupError, PermissionError):
        pass
    proc.wait()
    # wait until every process of the group has ended, so nothing writes
    # into the work directory after it is removed
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except (ProcessLookupError, PermissionError):
            return
        time.sleep(0.1)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def log_peak_rss(roots: list[int]) -> None:
    """Log the peak resident set (VmHWM) of every live process in the trees
    under ``roots``.  Diagnostics only: the JVM's peak follows G1's heap
    sizing too closely to serve as a metric (README)."""
    parts, todo = [], list(roots)
    while todo:
        pid = todo.pop()
        kb = _hwm_kb(pid)
        if kb:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                name = str(pid)
            parts.append(f"{name} {kb / 1024:.0f}")
        todo += _children(pid)
    log(f"peak RSS MB by process: {', '.join(parts)}")


def du_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total / 1e6


def now() -> float:
    return time.perf_counter()


_T0 = time.perf_counter()


def eprint(text: str) -> None:
    """Write to stderr; a closed stderr must not stop the clean-up that
    reports on its way."""
    import sys

    try:
        print(text, file=sys.stderr, flush=True)
    except OSError:
        pass


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the run started."""
    eprint(f"[{time.perf_counter() - _T0:7.2f}s] {msg}")
