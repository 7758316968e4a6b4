"""Host-fitted Spark session, host probe, memory peaks and op accounting.

Every engine setting the benchmark changes goes through the public
``get_spark(master=, shuffle_partitions=, extra_conf=)`` arguments; no
engine file is edited.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """Spark's task slots: half the host's CPUs. The other half is left for
    the JVM's GC and JIT threads, the Python driver and whatever else shares
    the host, so a busy neighbour delays a task less often and the run
    measures the program rather than the CPU scheduler."""
    return max(1, nproc() // 2)


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (from /proc), so
    set-up time includes interpreter start and imports."""
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return btime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole host since boot, from the
    ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def steal_share(start: dict, end: dict) -> float:
    """Share of the host's CPU time that the hypervisor gave to other
    guests between two probes."""
    total = end["cpu_ticks"][1] - start["cpu_ticks"][1]
    return (end["cpu_ticks"][0] - start["cpu_ticks"][0]) / total if total else 0.0


def host_probe() -> dict:
    """CPU count, memory, load, CPU ticks and a fixed single-thread spin
    loop: steal or contention from neighbours inflates ``spin_ms``
    proportionally."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i & 7
    spin_ms = (time.perf_counter() - t0) * 1000
    la1, la5, la15 = os.getloadavg()
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_kb() // 1024,
        "loadavg": [la1, la5, la15],
        "spin_ms": round(spin_ms, 1),
        "cpu_ticks": cpu_ticks(),
    }


def spark_settings(work_dir: str, event_log_dir: str | None) -> dict:
    """The session the benchmark runs on: ``local[cores()]``, 2 shuffle
    partitions per core (at least 8), a driver heap of a quarter of the
    host's memory (1-8 GB), and Spark's scratch space inside the work
    directory."""
    n = cores()
    heap_gb = max(1, min(8, mem_total_kb() // (4 * 1024 * 1024)))
    local_dir = os.path.join(work_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    extra = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.local.dir": local_dir,
        "spark.ui.showConsoleProgress": "false",
        # initial heap = max heap: heap resizing follows GC timing, and
        # would otherwise make peak RSS vary run to run on the same input;
        # no perf-data file, which the JVM would put in /tmp
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_gb}g -XX:-UsePerfData -Djava.io.tmpdir={local_dir}",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return {
        "master": f"local[{n}]",
        "shuffle_partitions": max(2 * n, 8),
        "extra_conf": extra,
        "env": {"SPARK_LOCAL_DIRS": local_dir, "TMPDIR": local_dir},
    }


def start_spark(settings: dict):
    from runyoro_llm_data_pipeline_spark import get_spark

    os.environ.update(settings["env"])
    tempfile.tempdir = settings["env"]["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        master=settings["master"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf=settings["extra_conf"],
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then shut the JVM gateway down and wait for the
    JVM process (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python driver plus its JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024


class CpuMeter:
    """CPU time used by the program's own threads: this Python driver plus
    every thread of its JVM (where Spark's local-mode tasks run) except the
    JIT compiler's. Compilation runs in the background on its own schedule,
    so whichever operation happens to overlap it would otherwise be charged
    for it. Per-thread times come from /proc in nanoseconds."""

    SKIP = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")

    def __init__(self, jvm_pid: int):
        self.tasks = f"/proc/{jvm_pid}/task"
        self.skip: dict[str, bool] = {}  # tid -> a JIT thread

    def _skipped(self, tid: str) -> bool:
        if tid not in self.skip:
            try:
                with open(f"{self.tasks}/{tid}/comm") as fh:
                    self.skip[tid] = fh.read().strip().startswith(self.SKIP)
            except OSError:
                return True
        return self.skip[tid]

    def snapshot(self) -> dict[str, int]:
        snap = {"python": time.process_time_ns()}
        for tid in os.listdir(self.tasks):
            if self._skipped(tid):
                continue
            try:
                with open(f"{self.tasks}/{tid}/schedstat") as fh:
                    snap[tid] = int(fh.read().split()[0])
            except OSError:
                pass  # the thread ended
        return snap

    @staticmethod
    def seconds(start: dict[str, int], end: dict[str, int]) -> float:
        """CPU seconds between two snapshots; a thread that ended in
        between is not counted."""
        return sum(ns - start.get(k, 0) for k, ns in end.items()) / 1e9

    @classmethod
    def of(cls, spark) -> "CpuMeter":
        return cls(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0-100) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


@dataclass
class Ops:
    """Timed operations and correctness checks of one run. An operation
    that raises, and a check that fails, both count as failed."""

    samples: dict[str, list[float]] = field(default_factory=dict)
    cpu_samples: dict[str, list[float]] = field(default_factory=dict)
    cpu: CpuMeter | None = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    @contextmanager
    def timed(self, kind: str):
        """Time one operation; the sample is kept only if it succeeded."""
        self.attempted += 1
        c0 = self.cpu.snapshot() if self.cpu else {}
        t0 = time.perf_counter()
        try:
            yield
        except Exception:
            self.failed += 1
            self.failures.append(f"{kind}: {traceback.format_exc(limit=3)}")
            raise
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        if self.cpu:
            self.cpu_samples.setdefault(kind, []).append(
                self.cpu.seconds(c0, self.cpu.snapshot()))

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {name} failed {detail}".strip())
            print(f"perfbench: check {name} failed {detail}", file=sys.stderr)
        return ok

    def total(self, kind: str) -> float:
        return sum(self.samples.get(kind, []))

    def median(self, kind: str) -> float:
        return statistics.median(self.samples[kind])

    def pct(self, kind: str, q: float) -> float:
        return percentile(self.samples[kind], q)

    def cpu_total(self, kind: str) -> float:
        return sum(self.cpu_samples.get(kind, []))

    def cpu_median(self, kind: str) -> float:
        return statistics.median(self.cpu_samples[kind])
