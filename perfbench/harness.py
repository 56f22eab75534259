"""Process plumbing: the work directory, the generator subprocess, and the
Spark session's lifetime, memory and GC readings."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

PERFBENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH)
#: Everything a run writes lives here, inside the checkout.
WORK = os.path.join(ROOT, ".perfbench_work")
#: Per-run results and spans are kept here after the run.
OUT = os.path.join(ROOT, ".perfbench_out")
TMP = os.path.join(WORK, "tmp")

DRIVER_MEMORY = "2g"


def isolate() -> None:
    """Start from an empty work directory and point the temporary files of
    Python and its subprocesses into it (the JVM's: :meth:`Session.conf`)."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(TMP)
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = TMP


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def run_gen(*args: str) -> dict:
    """Run ``gen.py`` to completion in its own process; returns its JSON."""
    expect = os.path.join(WORK, f"expect-{args[0]}-{time.monotonic_ns()}.json")
    subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "gen.py"), *args, "--expect", expect],
        check=True, timeout=120,
    )
    with open(expect) as f:
        out = json.load(f)
    os.remove(expect)
    return out


def start_gen(*args: str) -> tuple[subprocess.Popen, str]:
    """Start ``gen.py`` in the background; returns (process, expect path)."""
    expect = os.path.join(WORK, f"expect-{args[0]}-{time.monotonic_ns()}.json")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(PERFBENCH, "gen.py"), *args, "--expect", expect]
    )
    return proc, expect


def cpu_times() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def granted_share(before: list[int], after: list[int]) -> float:
    """Of the CPU time this machine's vCPUs asked for between two
    :func:`cpu_times` readings, the share the hypervisor gave them:
    busy ÷ (busy + steal). On a shared host the rest went to other guests
    while ours waited. A wall time taken over the interval, multiplied by
    this share, has the stolen time taken out; what the steal made other
    threads wait (a stage held up by its stolen task) stays in."""
    user, nice, system, _, _, irq, softirq, steal = (
        b - a for a, b in zip(before[:8], after[:8]))
    busy = user + nice + system + irq + softirq
    return busy / (busy + steal) if busy + steal else 1.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """Spark sessions in one JVM. The first :meth:`start` launches the JVM;
    later ones replace the session inside it. :meth:`stop` ends both."""

    def __init__(self, event_log_dir: str | None = None):
        self.event_log_dir = event_log_dir
        self.spark = None
        #: seconds each start took, to the end of its first job
        self.starts: list[float] = []

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": fresh_dir("spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log_dir:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return conf

    def start(self):
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        from near_event_streams_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()  # the JVM stays up
        conf = self.conf()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.range(1).count()  # first job: executors and codegen up
        self.starts.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm(self):
        return self.spark.sparkContext._jvm

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        """Peak RSS of the JVM plus this Python driver."""
        return vm_hwm_mb(self.jvm_pid()) + vm_hwm_mb(os.getpid())

    def gc_s(self) -> float:
        """Total JVM garbage-collection time so far."""
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
