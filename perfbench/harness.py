"""Process-level plumbing: the Spark session with the benchmark's host
settings, the process tree it starts, and the noop sink used to run a
DataFrame to completion."""

from __future__ import annotations

import os
import signal
import threading
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_env(root: str, work: str) -> None:
    """Environment every process started from here inherits: Python
    workers import ``texel_spark`` from the checkout, temp files stay in
    the run's work dir, and native thread pools use at most nproc."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher too: temp files in the work dir,
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import pyarrow as pa

    pa.set_cpu_count(nproc())
    pa.set_io_thread_count(nproc())


def start_session(work: str, event_log_dir: str | None = None):
    """``get_spark`` on ``local[nproc]`` with every file Spark writes kept
    under ``work``; optionally with the event log on."""
    from texel_spark.session import get_spark

    cores = nproc()
    conf = {
        # sf0.1-sized inputs are a few MB: scale the split size down with
        # them, as bench.py does, or every scan collapses to one task
        "spark.sql.files.maxPartitionBytes": "8388608",
        "spark.sql.files.openCostInBytes": "1048576",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="texel-perfbench", master=f"local[{cores}]", shuffle_partitions=max(cores, 16), extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (read from /proc)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except (FileNotFoundError, ProcessLookupError):
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def stop_everything(spark, timeout: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this one started (JVM, Python workers) has ended."""
    import subprocess

    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        # the JVM exits when its stdin closes (pyspark's launch contract)
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + timeout
    while any(_alive(p) for p in kids) and time.time() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


class RssSampler:
    """Peak resident memory of this process and its descendants, sampled
    from /proc on a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_kb(self) -> int:
        total = 0
        for p in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except (FileNotFoundError, ProcessLookupError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def run_noop(df: DataFrame) -> int:
    """Run ``df`` to completion through Spark's noop sink (every column
    computed, nothing written) and return its row count."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
    return int(obs.get["rows"])
