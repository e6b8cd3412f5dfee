"""Host fit, fingerprint and process measurements.

``fit_env`` must run before pyspark is imported: the JVM reads its
options from the environment when the first session starts.
"""

from __future__ import annotations

import os
import resource
import shlex
import signal
import subprocess
import sys
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gb() -> int:
    """A quarter of physical memory, between 1 and 4 GB: the package's
    default (24 GB) is larger than many hosts."""
    return max(1, min(4, mem_total_bytes() // (4 << 30)))


def fit_env(root: str, work: str, event_log_dir: str | None) -> None:
    """Point Spark at this host and keep every file it writes inside
    ``work``. ``root`` (the checkout) goes on PYTHONPATH so Python
    DataSource and UDF workers can import the package."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    # PerfDisableSharedMem: no hsperfdata file under /tmp
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
             " -XX:+PerfDisableSharedMem",
             f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false",
                  f"spark.eventLog.dir=file://{event_log_dir}"]
    submit = [f"--conf {shlex.quote(c)}" for c in confs]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_MEM": f"{driver_heap_gb()}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    for var in ("SPARK_MASTER", "MASTER"):
        os.environ.pop(var, None)
    sys.path.insert(0, root)


def process_start_time() -> float:
    """Wall-clock time at which this process was started (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``."""
    out, todo = set(), [pid]
    while todo:
        for child in _children(todo.pop()):
            if child not in out:
                out.add(child)
                todo.append(child)
    return out


def _reap() -> None:
    """Collect this process's exited children; re-parented processes are
    collected by init."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Poll until none of ``pids`` exists; returns those still there.
    Polling /proc also covers processes that were re-parented away from
    this one, which ``waitpid`` cannot wait for."""
    deadline = time.monotonic() + timeout
    while True:
        _reap()
        left = {p for p in pids if os.path.exists(f"/proc/{p}")}
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.02)


def _signal(pids: set[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _end(pids: set[int], timeout: float) -> None:
    """Wait until ``pids`` have ended; KILL those that outlive ``timeout``."""
    _signal(_wait_gone(pids, timeout), signal.SIGKILL)
    _wait_gone(pids, timeout)


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the active session and the JVM PySpark launched, and wait
    until the JVM and every process under it (the Python worker daemon
    and its workers) have ended. PySpark alone leaves the JVM to notice
    that its stdin closed after this process has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    tree = descendants(proc.pid) if proc is not None else set()
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    if proc is None:
        return
    tree |= descendants(proc.pid)
    proc.stdin.close()  # the JVM exits on end of input
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
    _end(tree, timeout)


def stop_descendants(timeout: float = 30.0) -> None:
    """Last resort on every way out: TERM whatever still runs below this
    process and KILL what outlives ``timeout``."""
    tree = descendants(os.getpid())
    _signal(tree, signal.SIGTERM)
    _end(tree, timeout)


def _hwm_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this (driver Python) process plus the
    driver JVM it launched, in MiB."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    jvm = 0
    for pid in _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    jvm += _hwm_bytes(pid)
        except OSError:
            continue
    return (own + jvm) / (1 << 20)


def fingerprint(spark) -> dict:
    """nproc, memory, Java and PySpark versions of this run."""
    import pyspark

    prop = spark.sparkContext._jvm.System.getProperty
    return {"nproc": nproc(),
            "mem_total_gb": round(mem_total_bytes() / (1 << 30), 1),
            "driver_heap": os.environ.get("SPARK_GRAFT_MEM"),
            "java": f"{prop('java.vm.name')} {prop('java.runtime.version')}",
            "pyspark": pyspark.__version__,
            "spark": spark.version,
            "python": sys.version.split()[0]}
