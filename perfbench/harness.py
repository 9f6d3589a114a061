"""Process-level plumbing shared by the untraced and traced runs: the
per-run scratch directory inside the checkout, the stderr capture that
counts codegen fallbacks, the Spark session and its shutdown, the reaping
of every process a run started, peak RSS, the environment record and the
tail percentile."""

from __future__ import annotations

import ctypes
import os
import platform
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(WORK, "cache")
RESULTS = os.path.join(WORK, "results")

CODEGEN_PATTERNS = (b"Failed to compile", b"grows beyond 64 KB")
DISK_PROBE_MB = 32


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """Scratch space for one run (sinks, checkpoints, Spark local dirs,
    event log, temp files), removed on exit. The JVM and the Python
    workers inherit the temp-dir settings through the environment."""

    def __init__(self):
        self.path = os.path.join(WORK, f"run-{os.getpid()}")

    def __enter__(self):
        self.cpu0 = cpu_ticks()
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "local"):
            os.makedirs(os.path.join(self.path, sub))
        tmp = os.path.join(self.path, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        tempfile.tempdir = tmp
        return self

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)


class StderrCapture:
    """Send fd 2 — which the JVM inherits, so log4j output included — to a
    file for the whole run. On exit fd 2 is restored and, if the run
    failed, the tail of the capture is echoed there."""

    def __init__(self, path: str):
        self.path = path

    def __enter__(self):
        sys.stderr.flush()
        self.saved = os.dup(2)
        self.f = open(self.path, "wb")
        os.dup2(self.f.fileno(), 2)
        return self

    def codegen_fallbacks(self) -> int:
        sys.stderr.flush()
        with open(self.path, "rb") as f:
            return sum(1 for line in f if any(p in line for p in CODEGEN_PATTERNS))

    def __exit__(self, exc_type, *exc):
        sys.stderr.flush()
        os.dup2(self.saved, 2)
        os.close(self.saved)
        self.f.close()
        if exc_type is not None:
            with open(self.path, "rb") as f:
                tail = f.read()[-8000:]
            sys.stderr.write(tail.decode(errors="replace"))


def cpu_ticks() -> list[int]:
    """The aggregate `cpu` line of /proc/stat (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(since: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since `since`:
    a run that saw steal was slowed by its neighbours, not by the code."""
    d = [b - a for a, b in zip(since, cpu_ticks())]
    return d[7] / max(1, sum(d[:8]))


def start_session(extra_conf: dict | None = None):
    """build_session at local[cpus]; returns (spark, seconds it took)."""
    from illumio_spark.session import build_session

    n = cpus()
    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=extra_conf,
    )
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the processes, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


PR_SET_CHILD_SUBREAPER = 36
REAP_WAIT_S = 3  # for descendants to exit on their own, before SIGTERM
REAP_GRACE_S = 8  # after SIGTERM, before SIGKILL


def adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants (the
    JVM's Python workers, a pool's resource tracker, an untraced child's
    JVM), so that reap_descendants() sees and waits for them too."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def reap_descendants() -> None:
    """Wait until no process started (or adopted) by this one is left:
    the ones still running after REAP_WAIT_S get SIGTERM, and SIGKILL
    after REAP_GRACE_S more. Each is waited for, zombies included."""
    t0 = time.monotonic()
    while pids := _children():
        waited = time.monotonic() - t0
        if waited > REAP_WAIT_S:
            sig = signal.SIGKILL if waited > REAP_WAIT_S + REAP_GRACE_S else signal.SIGTERM
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)


def fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, typ = line.split()[1:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, typ
    return kind


def disk_probe_mb_s(directory: str) -> float:
    """fsync'd sequential write throughput where the sinks are written."""
    buf = os.urandom(DISK_PROBE_MB << 20)
    path = os.path.join(directory, "disk_probe.bin")
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    elapsed = time.perf_counter() - t0
    os.remove(path)
    return DISK_PROBE_MB / elapsed


def environment(spark, run: RunDir) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "cpus_used": cpus(),
        "master": spark.sparkContext.master,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_memory": conf.get("spark.driver.memory", "default"),
        "sink_root": run.path,
        "sink_fs": fs_type(run.path),
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "local_fs": fs_type(os.environ["SPARK_LOCAL_DIRS"]),
        "disk_mb_s": round(disk_probe_mb_s(run.path), 1),
        "cpu_steal_frac": steal_frac(run.cpu0),
    }


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile that leaves at least ten samples above it:
    (value, percentile), or (None, None) with fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return None, None
    return sorted(xs)[n - 11], round(100.0 * (n - 10) / n, 1)
