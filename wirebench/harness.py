"""Process plumbing shared by the workloads: the work directory inside
the checkout, the Spark session, clean shutdown, peak-RSS sampling and
the percentile the metrics are reported with."""

from __future__ import annotations

import math
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".wirebench_work")
CORES = 4  # local[4]: the figures are comparable only at a fixed width
_T0 = time.time()


def log(msg: str) -> None:
    """Progress to stderr; stdout carries only the result lines."""
    print(f"[wirebench {time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


class WorkDir:
    """A per-run scratch tree under the checkout; removed on close."""

    def __init__(self, name: str):
        self.path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still uses it


def start_spark(work: WorkDir, event_log: bool):
    """A local[4] session whose every file lands inside ``work``."""
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    conf = {
        "spark.local.dir": work.sub("local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(work.sub("eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + work.sub("eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    from dump1090_postgis_spark.session import get_spark

    return get_spark(app_name="wirebench", master=f"local[{CORES}]",
                     shuffle_partitions=CORES, extra_conf=conf)


def jvm_process(spark):
    return spark.sparkContext._gateway.proc


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers) has exited."""
    proc = jvm_process(spark)
    spark.stop()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the launcher exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait(10)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """RSS of ``root_pid`` plus all its descendants, MB."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Peak tree RSS of the JVM (its Python workers included) while
    running; sampled every ``period`` seconds on a thread."""

    def __init__(self, pid: int, period: float = 0.25):
        self.pid, self.period = pid, period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(self.pid))
