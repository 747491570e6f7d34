"""CPU time and peak resident memory of this process and all its
descendants (the JVM, the PySpark daemon and its workers), read from
``/proc``.

CPU counts ``utime + stime + cutime + cstime`` of every live process in the
tree, so a worker that exits mid-measurement is still counted: its time
moves into its parent's ``cutime`` when the parent reaps it. Peak memory is
the sum of each live process's ``VmHWM`` (its own resident high-water
mark, kept by the kernel, so nothing is sampled); pages that forked
workers share are counted once per process.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict:
    """pid -> (ppid, cpu ticks) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # fields after "(comm)": state ppid ... utime(11) stime cutime cstime
        rest = raw[raw.rindex(")") + 2 :].split()
        out[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_usage(reset_peak: bool = False) -> tuple:
    """``(cpu_seconds, peak_rss_bytes)`` summed over this process and its
    live descendants. ``reset_peak`` restarts each process's high-water
    mark from its current RSS (``clear_refs`` code 5), so the next reading
    covers only what runs in between."""
    root = os.getpid()
    stats = _stats()
    children: dict = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    cpu = hwm = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            cpu += stats[pid][1]
            if reset_peak:
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as f:
                        f.write("5")
                except OSError:
                    pass
            hwm += _hwm_bytes(pid)
        todo.extend(children.get(pid, ()))
    return cpu / _TICK, hwm
