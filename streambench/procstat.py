"""Per-process CPU, peak RSS and host stamps read from /proc.

The benchmark process is the driver; Spark's JVM is its descendant, and
the Python workers (and their daemon) are the JVM's descendants. CPU
for each role sums utime+stime of the live processes plus the children
they already reaped (cutime+cstime), so a worker that exited is still
counted once, by the parent that reaped it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu seconds, reaped children's cpu seconds)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    ppid = int(fields[1])
    own = int(fields[11]) + int(fields[12])
    reaped = int(fields[13]) + int(fields[14])
    return comm, ppid, own / _TICK, reaped / _TICK


def _tree(root: int) -> dict[int, tuple[str, int, float, float]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep = {root}
    grew = True
    while grew:
        grew = False
        for pid, (_, ppid, _, _) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return {p: procs[p] for p in keep if p in procs}


def _roles(root: int) -> list[tuple[str, float]]:
    """(role, cpu_s) entries for the driver's process tree. The JVM's
    reaped children are Python workers, so their CPU counts as such."""
    tree = _tree(root)
    jvm = {p for p, (comm, _, _, _) in tree.items() if comm == "java"}

    def under_jvm(pid: int) -> bool:
        seen = set()
        while pid in tree and pid not in seen:
            seen.add(pid)
            pid = tree[pid][1]
            if pid in jvm:
                return True
        return False

    out = []
    for pid, (_, _, own, reaped) in tree.items():
        if pid == root:
            out.append(("driver", own + reaped))
        elif pid in jvm:
            out.append(("jvm", own))
            out.append(("pyworker", reaped))
        elif under_jvm(pid):
            out.append(("pyworker", own + reaped))
        else:
            # launcher processes between the driver and the JVM
            out.append(("jvm", own + reaped))
    return out


def cpu_by_role() -> dict[str, float]:
    """Cumulative CPU seconds of the driver, JVM and Python workers."""
    totals = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for role, cpu in _roles(os.getpid()):
        totals[role] += cpu
    return totals


def _status_field(pid: int, key: str, task: str | None = None) -> int:
    path = f"/proc/{pid}/task/{task}/status" if task else f"/proc/{pid}/status"
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = sum(_status_field(p, "VmHWM") for p in _tree(os.getpid()))
    return kb / 1024.0


def jvm_invol_ctx_switches() -> int:
    """Involuntary context switches summed over every JVM thread."""
    total = 0
    for pid, (comm, _, _, _) in _tree(os.getpid()).items():
        if comm != "java":
            continue
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tasks:
            total += _status_field(pid, "nonvoluntary_ctxt_switches", tid)
    return total


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) clock ticks of the host's CPUs so far, from
    /proc/stat. Steal is time the hypervisor ran something else while
    this machine's virtual CPUs wanted to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user and nice
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def loadavg_1m() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return 0.0
