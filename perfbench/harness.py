"""What every workload shares: the pinned environment, the Spark session and
its shutdown, the clocks, the timed-region loop and the end-to-end metrics.
"""

from __future__ import annotations

import os
import resource
import shlex
import statistics
import subprocess
import time

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Settings the program reads from its environment, pinned so that a run does
# not depend on the host's defaults (SPARK_GRAFT_CPUS would otherwise be 32,
# i.e. local[32], and the JVM heap 16g). -Xms = the heap: a heap that
# grows during the run made the first catch-ups 10-20% slower.
CPUS = "4"
HEAP = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> dict[str, str]:
    """Pin the program's settings and keep every file Spark, the JVM and
    Python write under `work`. Must run before the JVM starts."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    java_opts = f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    pins = {
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_DRIVER_MEMORY": HEAP,
        "SPARK_LOCAL_DIRS": local,
    }
    os.environ.update(pins)
    os.environ.update({
        "TMPDIR": tmp,
        # Python workers import topk_spark too
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            "pyspark-shell",
        ]),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {**pins, "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
            "jvm_heap": f"-Xms{HEAP} -Xmx{HEAP}"}


def _process_start_epoch() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _process_tree() -> dict[int, int]:
    """{pid: cpu ticks} of this process and all its descendants."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)], ticks[int(d)] = int(f[1]), int(f[11]) + int(f[12])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        tree[pid] = ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and its descendants: the
    Python process, the JVM and the Python workers Spark starts."""
    return sum(_process_tree().values()) / os.sysconf("SC_CLK_TCK")


def pct(values: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation); the value itself for one
    sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Bench:
    """What a workload needs from the harness: arguments, a private work
    directory, the pinned Spark session, the tracer and the clocks."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(trace)
        self.t_process = _process_start_epoch()
        self.setup_s: float | None = None
        self.spark = None
        self.server = None
        self.layer: dict[str, float] = {}
        self.record: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self, master: str | None = None):
        from topk_spark.session import get_spark

        with self.tracer.span("session.get_spark", master=master):
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{os.getpid()}", master=master)
            start_s = time.perf_counter() - t0
        if master is None:
            self.layer["session.start_s"] = start_s
        return self.spark

    def ready(self) -> None:
        """Set-up is over: process start to now."""
        self.setup_s = time.time() - self.t_process

    def ops(self, min_ops: int, enough=lambda: True):
        """Indices of the timed region's operations: at least `min_ops` and
        until `enough()` holds, then another only while it is expected (at
        the mean op time so far) to end inside `seconds`, so the region
        never overruns by a whole slow op and the op count rarely flips on
        small speed changes."""
        t0, i = time.perf_counter(), 0
        while True:
            elapsed = time.perf_counter() - t0
            if i >= min_ops and enough() and elapsed * (i + 1) / i > self.seconds:
                return
            yield i
            i += 1

    def traced_op(self, i: int) -> bool:
        """In the traced run, ops alternate untraced, traced, traced,
        untraced (ABBA), so warm-up drift cancels out of the tracing
        overhead; with `--trace 0` no op is traced."""
        return self.trace and i % 4 in (1, 2)

    def e2e(self, throughput: float, latencies_ms: list[float],
            cpu_ms_per_op: float) -> dict[str, float]:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
        with open(f"/proc/{pid}/status") as fh:
            jvm_hwm_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        self.record["latencies_ms"] = [round(v, 1) for v in latencies_ms]
        return {
            "setup_s": self.setup_s,
            "peak_rss_mb": (jvm_hwm_kb + py_kb) / 1024.0,
            "throughput_per_s": throughput,
            "latency_p50_ms": statistics.median(latencies_ms),
            "latency_p90_ms": pct(latencies_ms, 90),
            "cpu_ms_per_op": cpu_ms_per_op,
        }

    def stop(self) -> None:
        """Stop the HTTP server and Spark, then wait until the JVM and every
        process it started (Python workers) have exited."""
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None
        if self.spark is None:
            return
        from pyspark import SparkContext

        others = set(_process_tree()) - {os.getpid()}
        gateway = SparkContext._gateway  # noqa: SLF001
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
        deadline = time.time() + 30
        while others and time.time() < deadline:
            others = {p for p in others if _alive(p)}
            time.sleep(0.05)
        for pid in others:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
