"""Shared plumbing: the run's work directory, the Spark session's life
cycle, memory readings, percentiles and the span recorder.

Everything a run writes lives under ``<checkout>/.perfbench_work`` (Spark
local dirs, JVM temp dir, warehouse, inputs, outputs, checkpoints) and is
removed when the run ends; traces are kept under ``.perfbench_out``.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

#: ``local[N]`` cores: ``SPARK_GRAFT_CPUS``, else ``nproc`` capped at 4
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or min(4, os.cpu_count() or 1))


def prepare_env() -> None:
    """Point every temporary location of Spark, the JVM and Python at the
    work directory. Must run before the first session starts."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    # the session factory sizes shuffle partitions from this variable
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "--conf spark.sql.streaming.ui.enabled=false",
            "pyspark-shell",
        ]
    )
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    import tempfile

    tempfile.tempdir = tmp


def set_event_log(spark, enabled: bool) -> None:
    """Enable or disable the Spark event log for the NEXT session the
    process starts: the JVM's ``spark.*`` system properties seed every
    new SparkConf."""
    system = spark.sparkContext._jvm.java.lang.System
    if enabled:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        system.setProperty("spark.eventLog.enabled", "true")
        system.setProperty("spark.eventLog.compress", "false")
        system.setProperty("spark.eventLog.rolling.enabled", "false")
        system.setProperty("spark.eventLog.dir", "file://" + os.path.join(WORK, "eventlog"))
    else:
        system.clearProperty("spark.eventLog.enabled")


def start_session():
    from go_fish_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident set of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = jvm_pid()
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0


def live_heap_mb() -> float:
    """JVM heap in use after full collections, requested here until the
    figure settles: what the program still holds (session, plans, state,
    caches). Spark's ContextCleaner drops the cached blocks and shuffle
    data of unreachable frames on its own thread, after the collection
    that finds them, so a single collection can land before or after
    that cleanup (on ``curation_batch`` it read 170-460 MB for ~300 MB
    settled); the loop waits it out. Python's collector runs first so no
    Python-side handle keeps a JVM object alive."""
    import gc

    from pyspark import SparkContext

    gc.collect()
    jvm = SparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(8):
        jvm.java.lang.System.gc()
        now = mem.getHeapMemoryUsage().getUsed() / 2**20
        if used is not None and abs(now - used) <= 0.01 * used:
            break
        used = now
        time.sleep(0.5)
    return now


def memory_mb() -> dict:
    """Both memory figures, RSS first (the collection must not move it)."""
    rss = peak_rss_mb()
    return {"peak_rss_mb": rss, "heap_live_mb": live_heap_mb()}


def shutdown_jvm() -> None:
    """Stop the active session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def cleanup() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation (``statistics.quantiles``'
    inclusive method), q in [0, 100]."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    if q <= 0:
        return float(min(values))
    if q >= 100:
        return float(max(values))
    return float(cuts[int(q) - 1])


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


@dataclass
class Tracer:
    """In-memory spans around the calls the benchmark makes into each
    layer; written out once, at the end of a traced run."""

    enabled: bool = False
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def write(self, workload: str) -> str:
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"{workload}-spans.json")
        with open(path, "w") as f:
            json.dump(self.spans, f)
        return path
