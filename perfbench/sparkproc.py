"""The Spark driver process the benchmark starts: environment, start, peak
memory and a stop that waits for the JVM to exit.

Everything Spark and the JVM write (shuffle files, temp files, the event
log) goes under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import shlex
import subprocess
import time

# The program's default driver heap (48g) lets a run of this benchmark peak
# near 8 GB resident on a 4-CPU host; capped, it peaks under 2 GB, so runs
# fit a host that other work shares, and the peak repeats more closely.
DRIVER_MEM = "1g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def configure(work_dir: str, event_log_dir: str | None) -> None:
    """Environment for the session `graph_database_spark.session.get_spark`
    builds: sized to the host's CPUs, temp and shuffle files in work_dir,
    the driver heap capped at DRIVER_MEM, and the Spark event log on only
    when event_log_dir is given. Every other setting is the program's
    default."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # compiler threads stay alive, so cpu.jvm_seconds sees all their ticks
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads"]
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{event_log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start():
    from graph_database_spark.session import get_spark
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    """Process id of the driver JVM `start` launched."""
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def probe_job_s(spark) -> float:
    """Wall seconds of one minimal Spark job: one task, no shuffle, so no
    SQL setting of the program's session applies to it. On a host shared
    with other tenants it slows and speeds up with the requests."""
    t = time.perf_counter()
    spark.range(0, 1, 1, 1).collect()
    return time.perf_counter() - t


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and every
    descendant (the JVM), in MB."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def host_probes(spark) -> dict:
    """Host-speed markers: median empty-job wall and best-of-3 CPU-bound
    job wall. Recorded for interpretation only."""
    from pyspark.sql import functions as F
    empty = []
    for _ in range(5):
        t = time.perf_counter()
        spark.range(1).count()
        empty.append(time.perf_counter() - t)
    cpu = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 20_000_000, 1, cpu_count()) \
            .select(F.bit_xor(F.xxhash64("id"))).collect()
        cpu.append(time.perf_counter() - t)
    return {"session.empty_job_ms": sorted(empty)[len(empty) // 2] * 1e3,
            "session.cpu_probe_s": min(cpu)}


def stop(spark) -> None:
    """Stop Spark, then the JVM gateway, and wait until the JVM exits."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
