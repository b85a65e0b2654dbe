"""Session lifetime, host stamp and process-level measurements.

The session comes from the engine's own ``get_spark``; the benchmark
only steers it through the environment: driver heap
(``SPARK_GRAFT_DRIVER_MEM``, committed up front with an equal ``-Xms``),
scratch directories inside the run's work directory, and, for traced
runs, an uncompressed single-file event log.
"""

from __future__ import annotations

import glob
import os
import shlex
import tempfile

DRIVER_MEM = "2g"


def cpus() -> int:
    """Worker threads: at most 4, and one fewer than the cores this
    process may use, so the driver's own threads (py4j, planning, GC)
    do not queue behind the tasks."""
    return max(1, min(4, len(os.sched_getaffinity(0)) - 1))


def configure_env(work: str, trace: bool) -> str | None:
    """Point every scratch directory of Python, the JVM and Spark into
    ``work`` and turn the event log on for traced runs. Returns the event
    log directory, or None."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    events = None
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
             "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    return events


def start_session():
    from dsgrid_spark.session import get_spark

    n = cpus()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, work: str) -> None:
    """A small job mix through paths every workload's operations take
    (parquet scan, broadcast join, shuffle aggregation, noop sink), so
    that most JVM class loading and JIT warm-up is paid in set-up. Its
    plans share no generated code with the workloads' own."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    path = os.path.join(work, "warmup.parquet")
    ids = np.arange(100_000)
    pq.write_table(pa.table({"k": ids % 101, "v": ids.astype(np.float64)}), path)
    keys = spark.range(0, 101).selectExpr("id AS k", "id * 2 AS w")
    (spark.read.parquet(path).join(F.broadcast(keys), "k")
       .groupBy("w").agg(F.sum("v").alias("v"))
       .write.format("noop").mode("overwrite").save())


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def codegen_compile_s(spark) -> float:
    """Total whole-stage and expression codegen compile time so far, from
    Spark's ``CodegenMetrics`` compilation-time histogram (milliseconds)."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    h = cm.METRIC_COMPILATION_TIME()
    return h.getCount() * h.getSnapshot().getMean() / 1000.0


def stop_session(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def event_log_lines(events_dir: str):
    files = [f for f in glob.glob(os.path.join(events_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {events_dir}, "
                           f"found {files}")
    with open(files[0]) as f:
        yield from f


def host_stamp(own_pids: set[int]) -> dict:
    """nproc, load average and the number of JVMs on the host that are not
    this run's, so a noisy neighbour shows next to the figures."""
    stray = 0
    for d in glob.glob("/proc/[0-9]*"):
        pid = int(os.path.basename(d))
        if pid in own_pids:
            continue
        try:
            with open(f"{d}/comm") as f:
                if f.read().strip() == "java":
                    stray += 1
        except OSError:
            continue
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": os.cpu_count(), "cpus_used": cpus(),
            "loadavg": load, "stray_jvms": stray}


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total
