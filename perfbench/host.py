"""Host facts and the host-true Spark session the benchmark runs on.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``:
Spark's local dirs, the JVM and Python temp dirs, the SQL warehouse, the
event logs and the generated input tables.  The Python workers Spark starts
import ``bingcrawler_spark`` from the checkout whatever their working
directory, because the checkout root is put on their ``PYTHONPATH`` before
the JVM starts.
"""

from __future__ import annotations

import os
import resource
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def require_program() -> None:
    """Fail unless the engine's sources sit in this checkout.  An installed
    copy elsewhere on sys.path must not stand in for them."""
    init = os.path.join(ROOT, "bingcrawler_spark", "__init__.py")
    if not os.path.isfile(init):
        raise SystemExit(f"perfbench: no bingcrawler_spark package in {ROOT}")
    if sys.path[0] != ROOT:
        sys.path.insert(0, ROOT)
    import bingcrawler_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(bingcrawler_spark.__file__))) != ROOT:
        raise SystemExit("perfbench: bingcrawler_spark imported from outside the checkout")


def prepare_env() -> None:
    """Point every scratch location inside the checkout and make the
    checkout importable by Spark's Python workers.  Must run before the
    JVM starts (it inherits this environment)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM, spark-submit's launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    import tempfile

    tempfile.tempdir = tmp


def n_cpus() -> int:
    """nproc: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(host_ram_mb: int) -> int:
    """A fifth of host RAM, between 1 and 4 GB.  The engine's own default
    (8 GB) was OOM-killed next to a second JVM on a 15 GB host; the crawl
    workloads peak near 2 GB of driver heap."""
    return max(1024, min(4096, host_ram_mb // 5))


def host_facts() -> dict:
    import pyspark

    return {
        "nproc": n_cpus(),
        "ram_mb": ram_mb(),
        "spark": pyspark.__version__,
        "comparable_with": "runs on the same host shape only; BENCH_r01-r05 "
        "came from a 32 vCPU host and cannot be compared with these numbers",
    }


def get_session(app: str, event_log_dir: str | None = None):
    """local[nproc] session through the engine's own factory, with driver
    memory sized from host RAM and all scratch space inside the checkout."""
    from bingcrawler_spark.session import get_spark

    cores = n_cpus()
    heap = driver_memory_mb(ram_mb())
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions": f"-Xms{heap}m",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app, cores=cores, shuffle_partitions=cores, extra_conf=conf)


def forget_udf_bindings() -> None:
    """Before a second SparkContext in this process: the engine's
    module-level pandas UDFs cache their JVM twin, which belongs to the
    first context (and its JVM), so every task would fail or log a
    broken-pipe error.  Dropping the cache makes them rebind."""
    from pyspark.sql.udf import UserDefinedFunction

    for name, mod in list(sys.modules.items()):
        if name.startswith("bingcrawler_spark"):
            for obj in vars(mod).values():
                udf = getattr(obj, "_unwrapped", None)
                if isinstance(udf, UserDefinedFunction):
                    udf._judf_placeholder = None


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this process's own peak RSS."""
    pid = spark.sparkContext._gateway.proc.pid
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def _descendants() -> dict[int, str]:
    """pid -> start time of every live process below this one."""
    children: dict[int, list[int]] = {}
    started: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()  # from the state field on
        if fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        started[int(name)] = fields[19]
    out: dict[int, str] = {}
    todo = [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), ()):
            out[pid] = started[pid]
            todo.append(pid)
    return out


def _alive(pid: int, started: str) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap it if it is a child of ours
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and fields[19] == started


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop every process this one started and wait until each has ended:
    the Spark context, the gateway JVM (which exits when its stdin closes),
    the Python workers below it, multiprocessing's resource tracker, and
    anything else still running below this process.  What has not ended
    after ``grace_s`` is killed.  The next session starts a new JVM."""
    procs = _descendants()
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        jvm = gateway.proc
        try:
            gateway.shutdown()
        except Exception:  # the JVM side may already be gone
            pass
        if jvm is not None:
            if jvm.stdin is not None:
                jvm.stdin.close()
            try:
                jvm.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    procs.update(_descendants())
    deadline = time.monotonic() + grace_s
    while True:
        left = {pid: s for pid, s in procs.items() if _alive(pid, s)}
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        procs = left
        time.sleep(0.1)
