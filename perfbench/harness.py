"""Shared machinery for the benchmark workloads: the pinned Spark session,
the closed-loop clock, order statistics, memory readings and the result
record every workload fills in."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Everything a run writes lives under these two directories of the checkout:
# SCRATCH is emptied at the start and end of every run, OUT keeps the spans
# and event logs of traced runs for later inspection.
SCRATCH = os.path.join(ROOT, ".perfbench_scratch")
OUT = os.path.join(ROOT, ".perfbench_out")


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def pin_environment(trace: bool, event_dir: str) -> None:
    """Set the process environment before the JVM starts.

    * ``SPARK_GRAFT_CPUS``: the engine's session defaults to ``local[32]``;
      the benchmark runs ``local[nproc]``.
    * ``SPARK_GRAFT_DRIVER_MEM``: 2g unless set (the engine defaults to
      8g), to keep a run small on a shared machine.
    * ``PYTHONPATH``: Python UDF workers import the engine package, so the
      checkout root must be on their path, not only on the driver's.
    * temp, local and warehouse directories point into the scratch
      directory, so a run writes nothing outside the checkout.
    * traced runs turn on Spark's event log, uncompressed (Spark 4.1
      defaults to zstd, which the standard library cannot read).
    """
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpu_count())
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [f'--driver-java-options "-Djava.io.tmpdir={tmp}"']
    args += [f"--conf {k}={v}" for k, v in confs.items()]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def reset_scratch() -> None:
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)


def start_spark():
    from databricks_etl_pipelines_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(root: int) -> set[int]:
    """Pids of every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: the ppid follows ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    found: set[int] = set()
    todo = [root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            if pid not in found:
                found.add(pid)
                todo.append(pid)
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # a zombie has ended; only its exit status is left
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: set[int], timeout: float) -> set[int]:
    """Wait up to ``timeout`` for ``pids`` to end, reaping any that are
    children of this process; returns those still alive."""
    end = time.monotonic() + timeout
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        left = {p for p in pids if _alive(p)}
        if not left or time.monotonic() >= end:
            return left
        time.sleep(0.05)


def stop_spark(spark=None) -> None:
    """Stop the Spark session, its JVM and every process started under
    this run (Python worker daemons included), and wait until each has
    ended. Safe to call when the session never started or half started.

    ``spark.stop()`` alone leaves the gateway JVM running until this
    interpreter exits, and the JVM then ends on its own some time later;
    here it is told to end (its stdin closed, as PySpark's launcher
    arranges) and waited for, then killed if it does not."""
    import signal

    from pyspark import SparkContext

    started = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may be gone already
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        pids = started | descendants(os.getpid())
        for sig, wait in ((None, 30.0), (signal.SIGTERM, 10.0),
                          (signal.SIGKILL, 10.0)):
            if sig is not None:
                for pid in pids:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            pids = _reap(pids, wait)
            if not pids:
                break
        if proc is not None:
            proc.wait(timeout=5)
        if pids:
            raise RuntimeError(f"processes did not end: {sorted(pids)}")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of one process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver: this Python process plus its JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(int(jvm_pid))


def tail(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label. Below twenty samples that percentile lies under the median, so
    the maximum is reported instead and labelled as such."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return s[-1], f"max of n={n}"
    return s[n - 11], f"p{100 * (n - 10) // n} of n={n}"


def file_bytes(root: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the regular files under ``root`` ending in
    ``suffix``."""
    total = count = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(d, n))
                count += 1
    return total, count


class Deadline:
    """Closed loop: start another repetition only while one more, as long
    as the longest so far, still fits in the measurement window; always
    run at least ``min_reps``."""

    def __init__(self, seconds: float, min_reps: int = 1):
        self.start = self.last = time.perf_counter()
        self.end = self.start + seconds
        self.min_reps = min_reps
        self.reps = 0
        self.longest = 0.0

    def more(self) -> bool:
        now = time.perf_counter()
        if self.reps:
            self.longest = max(self.longest, now - self.last)
        self.last = now
        go = self.reps < self.min_reps or now + self.longest <= self.end
        if go:
            self.reps += 1
        return go


@dataclass
class Result:
    """What one workload run reports besides its metrics.

    ``report`` holds figures under the workload's own names as (value,
    unit, note), ``inputs`` the (rows, bytes) of each generated input,
    ``checks`` whether each correctness check passed."""

    workload: str
    report: dict[str, tuple[float, str, str]] = field(default_factory=dict)
    inputs: dict[str, tuple[int, int]] = field(default_factory=dict)
    checks: dict[str, bool] = field(default_factory=dict)
    attempted: int = 0
    failed_ops: int = 0
    failed_checks: int = 0

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Record a correctness check; a failed one counts as a failed
        operation."""
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            self.failed_checks += 1
            print(f"CHECK FAILED {self.workload}.{name} {detail}".rstrip(),
                  flush=True)
        return bool(ok)

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed_ops += 0 if ok else 1

    @property
    def failed(self) -> int:
        return self.failed_ops + self.failed_checks

    @property
    def correct(self) -> bool:
        return all(self.checks.values()) and self.failed == 0
