"""Spark session lifecycle and host probes for the benchmark.

A session stopped with ``spark.stop()`` leaves the JVM up for the next
one; :func:`stop_session` also ends the JVM and its workers. All
scratch (Spark local dirs, the JVM's temp dir, event logs) lives under
one directory inside the checkout.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _conf(tmp: str, event_log_dir: str | None) -> dict[str, str]:
    n = cores()
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "1g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def start_session(tmp: str, event_log_dir: str | None = None):
    """A ``local[<cores>]`` session whose scratch stays under ``tmp``.
    The first call launches the JVM; later ones reuse it."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in _conf(tmp, event_log_dir).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext

    started = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a hung JVM must not outlive us
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional resident memory of ``pid``: pages shared with other
    processes (Python workers forked from one daemon) count once
    across them. Falls back to VmRSS where smaps_rollup is absent."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"),
                      (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            continue
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of this process and all its
    descendants (the JVM and its Python workers), sampled every
    ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in _tree_pids(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where absent."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


