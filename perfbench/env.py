"""Run environment: sizing the Spark session to the machine, a fresh
on-disk area per run, driver log capture, and process teardown."""

from __future__ import annotations

import os
import re
import resource
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUNS_DIR = ROOT / ".perfbench_runs"

# The one driver ERROR the scheduler emits for a known benign race: a late
# task-end event updates an accumulator that was already cleaned up.
BENIGN_ERROR = re.compile(r"Failed to update accumulator")
_ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")


def machine_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: the session
    default (48g) exceeds small machines."""
    total_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(4, int(total_gib // 4)))}g"


class RunArea:
    """A fresh directory for one run (Spark local dirs, tables, the driver
    log), removed when the run ends. The JVM's stderr goes to the log so
    that ERROR lines can be counted; the original stderr is restored on
    close."""

    def __init__(self):
        RUNS_DIR.mkdir(exist_ok=True)
        self.path = Path(tempfile.mkdtemp(prefix=f"{os.getpid()}-", dir=RUNS_DIR))
        self.local_dirs = self.path / "spark-local"
        self.local_dirs.mkdir()
        self.log_path = self.path / "driver.log"
        self._saved_stderr = None

    def configure_env(self) -> None:
        os.environ["SPARK_GRAFT_CPUS"] = str(machine_cores())
        os.environ["SPARK_DRIVER_MEM"] = driver_memory()
        os.environ["SPARK_LOCAL_DIRS"] = str(self.local_dirs)

    def capture_stderr(self) -> None:
        sys.stderr.flush()
        self._saved_stderr = os.dup(2)
        fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    def restore_stderr(self) -> None:
        if self._saved_stderr is not None:
            sys.stderr.flush()
            os.dup2(self._saved_stderr, 2)
            os.close(self._saved_stderr)
            self._saved_stderr = None

    def log_counts(self) -> dict[str, int]:
        errors = benign = 0
        if self.log_path.exists():
            for line in self.log_path.read_text(errors="replace").splitlines():
                if _ERROR_LINE.match(line):
                    if BENIGN_ERROR.search(line):
                        benign += 1
                    else:
                        errors += 1
        return {"error_lines": errors, "benign_accumulator_race": benign}

    def log_tail(self, n: int = 40) -> str:
        if not self.log_path.exists():
            return ""
        return "\n".join(self.log_path.read_text(errors="replace").splitlines()[-n:])

    def table_dir(self, name: str) -> Path:
        d = self.path / name
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        return d

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            RUNS_DIR.rmdir()
        except OSError:
            pass  # another run's area is still there


def start_session():
    """Start (or restart) the program's Spark session with its own
    defaults; sizing comes from the environment set by RunArea."""
    from spectraplex_spark.session import get_spark

    return get_spark("perfbench")


def restart_session(spark):
    """Stop the SparkContext and start a new one in the same JVM."""
    spark.stop()
    return start_session()


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: the share of time a virtual
    machine's CPUs waited for the host."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def tree_cpu_seconds() -> float:
    """User plus system CPU time of this process and every process under
    it (the JVM and its Python workers), including reaped children. Time a
    virtual machine's host steals is not charged to processes."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    me = os.getpid()

    def under_me(pid):
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 0)
        return False

    return sum(v for pid, v in cpu.items() if under_me(pid)) / tick


def jvm_process(spark):
    return spark.sparkContext._gateway.proc


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus its JVM, in MiB."""
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kib = 0
    proc = jvm_process(spark)
    try:
        for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    except OSError:
        pass
    return (py_kib + jvm_kib) / 1024.0


def shutdown(spark) -> None:
    """Stop Spark and the JVM gateway process, and wait for it to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    proc = jvm_process(spark)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    deadline = time.time() + 30
    while proc.poll() is None and time.time() < deadline:
        time.sleep(0.1)
    if proc.poll() is None:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
