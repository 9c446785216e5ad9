"""Process-tree and host accounting from ``/proc``.

The benchmark's process tree is the workload's Python process (the
driver), the Spark JVM it launches, and the Python workers the JVM forks.
CPU time of a process that has exited and been reaped moves into its
parent's ``cutime``/``cstime``, so summing ``utime+stime+cutime+cstime``
over the live tree counts every CPU second exactly once.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
PF_FORKNOEXEC = 0x40  # task flag: forked, has not exec'd yet


def _stat(pid: int):
    """(comm, ppid, self_cpu_s, reaped_children_cpu_s, flags) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state(0) ppid(1) ... flags(6) ... utime(11) stime(12)
    # cutime(13) cstime(14)
    return (comm, int(f[1]), (int(f[11]) + int(f[12])) / CLK_TCK,
            (int(f[13]) + int(f[14])) / CLK_TCK, int(f[6]))


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_MB
    except OSError:
        return 0.0


def tree(root: int) -> dict[int, tuple]:
    """pid → _stat() for ``root`` and all of its live descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def _classify(root: int, procs: dict[int, tuple]) -> dict[int, str]:
    """driver (the root), jvm (java), python_worker (a Python process under
    the JVM: the pyspark daemon and its forked workers), other."""
    roles = {}
    jvms = {pid for pid, st in procs.items() if st[0] == "java"}
    for pid, st in procs.items():
        if pid == root:
            roles[pid] = "driver"
        elif pid in jvms:
            roles[pid] = "jvm"
        else:
            p = st[1]
            while p in procs and p not in jvms:
                p = procs[p][1]
            under_jvm = p in jvms
            roles[pid] = "python_worker" if under_jvm and st[0].startswith("python") else "other"
    return roles


def cpu_by_role(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far of driver / jvm / python_worker / other / total.

    Python workers are reaped by the pyspark daemon, so their time stays
    under ``python_worker``; what the JVM itself reaped (short-lived helper
    commands) is booked to ``other``."""
    root = root or os.getpid()
    procs = tree(root)
    roles = _classify(root, procs)
    out = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0, "other": 0.0}
    for pid, (_, _, own, reaped, _) in procs.items():
        role = roles[pid]
        if role == "jvm":
            out["jvm"] += own
            out["other"] += reaped
        else:
            out[role] += own + reaped
    out["total"] = sum(out.values())
    return out


def host_cpu() -> dict[str, float]:
    """Host-wide busy and steal CPU seconds from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f[:8]
    return {
        "busy": (user + nice + system + irq + softirq) / CLK_TCK,
        "steal": steal / CLK_TCK,
    }


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


class RssSampler:
    """Background sampler of the tree's summed RSS (and per-role peaks)."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = dict.fromkeys(("total", "driver", "jvm", "python_worker", "other"), 0.0)
        #: "comm:pid" → MB of every process in the sample that set the total peak
        self.peak_procs: dict[str, float] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        procs = tree(self.root)
        roles = _classify(self.root, procs)
        # a child the JVM is spawning shares the JVM's pages until it execs
        # (its RSS reads as the JVM's): counting it would double the JVM
        rss = {pid: _rss_mb(pid) for pid, st in procs.items()
               if not (st[4] & PF_FORKNOEXEC and roles.get(st[1]) == "jvm")}
        now = dict.fromkeys(self.peak, 0.0)
        for pid, mb in rss.items():
            now[roles[pid]] += mb
            now["total"] += mb
        if now["total"] > self.peak["total"]:
            self.peak_procs = {f"{procs[p][0]}:{p}": round(mb, 1) for p, mb in rss.items()}
        for k in self.peak:
            self.peak[k] = max(self.peak[k], now[k])
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def pass_window():
    """Snapshot of tree CPU and host counters, for deltas over a pass."""
    return {"t": time.perf_counter(), "cpu": cpu_by_role(), "host": host_cpu(),
            "load": loadavg()}


def pass_delta(a: dict, b: dict) -> dict:
    cpu = {k: b["cpu"][k] - a["cpu"][k] for k in a["cpu"]}
    busy = b["host"]["busy"] - a["host"]["busy"]
    return {
        "wall_s": b["t"] - a["t"],
        "cpu": cpu,
        "host_other_cpu_s": max(0.0, busy - cpu["total"]),
        "host_steal_s": b["host"]["steal"] - a["host"]["steal"],
        "loadavg_start": a["load"],
        "loadavg_end": b["load"],
    }
