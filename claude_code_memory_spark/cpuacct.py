"""Process-tree vs whole-system CPU accounting (Linux ``/proc``).

Measurement infrastructure, not engine logic. Wall-clock stage timings
on a shared machine are un-falsifiable: load1 lags ~2 minutes and
unavoidably reads the measurement's OWN 32-thread burst, and back-to-
back "idle" runs of identical code have swung individual stages 3×
(PLANS.md r11 A/B table). The number that actually distinguishes a
noisy neighbour from our own work is the system busy-jiffy delta MINUS
our process tree's delta — external CPU — plus the tree's own jiffies
as a machine-independent process-CPU-seconds figure that stage-level
targets can be set against (verdict r11 item 2).

The tree walk includes every live descendant (the local-mode executor
JVM is a child of the Python driver) and, via cutime/cstime, reaped
children — worker processes that die mid-stage stay accounted.

Shared by the engine's per-stage profile and the benchmark harness.
Fail-soft: on a /proc-less platform ``cpu_totals`` raises
OSError and callers omit the CPU columns rather than guessing.
"""

from __future__ import annotations

import os

#: Linux USER_HZ — jiffies per second per cpu for /proc/stat and
#: /proc/<pid>/stat fields 14-17.
JIFFY_HZ = 100


def cpu_totals() -> tuple[int, int]:
    """(system busy jiffies, this process tree's jiffies).

    Busy = everything except idle and iowait from ``/proc/stat``'s cpu
    line. Tree = utime+stime+cutime+cstime summed over this pid and all
    live descendants (parent links walked to a fixpoint so grandchild
    JVM threadsets are included)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    busy = sum(int(x) for x in f[1:]) - int(f[4]) - int(f[5])  # -idle -iowait
    parents: dict[int, int] = {}
    jiffies: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        rp = s.rsplit(")", 1)[1].split()
        parents[int(d)] = int(rp[1])
        # utime+stime+cutime+cstime (fields 14-17, 0-based 11-14 after
        # the ")" split removes pid and comm)
        jiffies[int(d)] = sum(int(rp[i]) for i in (11, 12, 13, 14))
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return busy, sum(jiffies.get(pid, 0) for pid in tree)


class StageAccountant:
    """Paired snapshots around named stages.

    >>> acc = StageAccountant()
    >>> acc.begin(); work(); acc.end("parse", wall_sec)

    ``stages[name]`` carries ``process_cpu_sec`` (our tree's CPU over
    the stage — the machine-independent figure targets are set in) and
    ``external_cpu_share`` (fraction of the whole machine spent OUTSIDE
    our tree while the stage ran; > 0.10 marks the stage's wall clock
    suspect)."""

    def __init__(self) -> None:
        self.stages: dict[str, dict] = {}
        self._snap: tuple[int, int] | None = None
        self._ncpu = os.cpu_count() or 1

    def begin(self) -> None:
        try:
            self._snap = cpu_totals()
        except OSError:
            self._snap = None

    def end(self, name: str, wall_sec: float) -> None:
        if self._snap is None:
            return
        try:
            busy1, tree1 = cpu_totals()
        except OSError:
            self._snap = None
            return
        busy0, tree0 = self._snap
        tree_delta = tree1 - tree0
        if tree_delta < 0:
            # /proc walks are not atomic: during heavy PySpark worker
            # churn a worker can be counted early in the walk, then die
            # and fold into its daemon's cutime before the daemon is
            # read — double-counting that snapshot and driving the NEXT
            # stage's delta negative (observed -215 s on the stress
            # corpus chunks stage, r12). A negative delta is an
            # accounting anomaly, not a measurement: report it as such
            # instead of publishing garbage, and keep the stage marked
            # suspect.
            self.stages[name] = {
                "process_cpu_sec": None,
                "external_cpu_share": None,
                "loaded": True,
                "anomaly": "tree_shrank",
            }
        else:
            ext = max((busy1 - busy0) - tree_delta, 0)
            ext_share = ext / (self._ncpu * max(wall_sec, 1e-9) * JIFFY_HZ)
            self.stages[name] = {
                "process_cpu_sec": round(tree_delta / JIFFY_HZ, 2),
                "external_cpu_share": round(min(ext_share, 1.0), 3),
                "loaded": ext_share > 0.10,
            }
        self._snap = (busy1, tree1)
