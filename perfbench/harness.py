"""Run environment, Spark session lifecycle, machine state and spans.

Everything a run writes goes under one work directory inside the checkout:
temp files, Spark local dirs, the JVM's tmpdir and the engine stores.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "claude_code_memory_spark"
# the Spark JVM heap: the benchmark corpus needs well under 1 GB, and the
# machine's memory is shared, so the package's 16g default is not used
DRIVER_MEM = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Point every scratch path at `work` and size Spark for this machine.
    Must run before the package or pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _status(pid: int) -> dict[str, str]:
    """The fields of /proc/<pid>/status; empty once the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            return dict(line.rstrip("\n").split(":\t", 1) for line in fh if ":\t" in line)
    except OSError:
        return {}


def process_tree() -> set[int]:
    """This process and all its live descendants."""
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _status(int(d)).get("PPid")
            if ppid is not None:
                parents[int(d)] = int(ppid)
    tree, grew = {os.getpid()}, True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM) over the tree:
    this Python process, the JVM and the Python workers."""
    kb = sum(int(_status(pid).get("VmHWM", "0 kB").split()[0]) for pid in process_tree())
    return kb / 1024.0


def _alive(pid: int) -> bool:
    state = _status(pid).get("State")
    return state is not None and not state.startswith("Z")


class MachineState:
    """Load at start and the CPU share spent outside this process tree
    while the run measured (from the package's `cpuacct.cpu_totals`)."""

    LOADED_SHARE = 0.10

    def __init__(self) -> None:
        from claude_code_memory_spark.cpuacct import JIFFY_HZ, cpu_totals

        self._totals = cpu_totals
        self._hz = JIFFY_HZ
        self.load1 = os.getloadavg()[0]
        self._t0 = time.perf_counter()
        self._snap = cpu_totals()

    def report(self) -> dict:
        busy1, tree1 = self._totals()
        wall = max(time.perf_counter() - self._t0, 1e-9)
        busy0, tree0 = self._snap
        ext = max((busy1 - busy0) - (tree1 - tree0), 0)
        share = min(ext / (cpus() * wall * self._hz), 1.0)
        return {
            "load1_at_start": self.load1,
            "external_cpu_share": share,
            "process_cpu_s": (tree1 - tree0) / self._hz,
            "loaded": share > self.LOADED_SHARE,
        }


def start_spark(app: str):
    from claude_code_memory_spark.session import get_spark

    spark = get_spark(app, cpus=cpus())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end its JVM and wait until every process it started
    (JVM, Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    children = process_tree() - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Exception):
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 - must not leave it running
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in children if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
        for p in alive:  # reap our own direct children
            with contextlib.suppress(ChildProcessError, OSError):
                os.waitpid(p, os.WNOHANG)


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class JobCounter:
    """Spark jobs, stages and tasks of one call, through a job group and
    the status tracker. A disabled counter counts nothing."""

    def __init__(self, spark, enabled: bool = True) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0

    @contextlib.contextmanager
    def group(self, label: str):
        if not self.enabled:
            yield {}
            return
        self._n += 1
        gid = f"bench-{label}-{self._n}"
        self.sc.setJobGroup(gid, label)
        counts: dict[str, int] = {}
        try:
            yield counts
        finally:
            self.sc.setJobGroup(f"bench-idle-{self._n}", "idle")
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
            counts.update(jobs=len(jobs), stages=stages, tasks=tasks)


class Tracer:
    """In-memory spans (name, start, end, parent, request id), written out
    once at the end. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.origin = time.perf_counter()  # span times are relative to this

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "request": request,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.perf_counter() - self.origin, "end": None})
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter() - self.origin

    def add(self, name: str, start: float, end: float, parent: int | None,
            request: str | None = None) -> None:
        """A span measured elsewhere (absolute perf_counter times), e.g. an
        engine stage time."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "request": request,
                               "parent": parent, "start": start - self.origin,
                               "end": end - self.origin})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part its
        child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
