"""Host and process-tree readings from ``/proc`` (Linux only).

CPU of a process tree is the sum, over every live process in the tree,
of its own user+system time plus the time of its children that it has
already reaped (``cutime``/``cstime``).  A child that exited and was
waited for therefore still counts, through its parent; a child that has
exited but is not reaped yet is still listed in ``/proc`` and counts as
live.  The split is by command name: ``java`` is the JVM, everything
else (the driver interpreter and the Spark Python workers) is Python.
``jit`` is the part of the JVM's CPU spent in its JIT compiler threads
(read per thread, so exact only while those threads live for the whole
run: start the JVM with ``-XX:-UseDynamicNumberOfCompilerThreads``).
"""

from __future__ import annotations

import os
import time
from typing import Dict, List, Tuple

_TICK = float(os.sysconf("SC_CLK_TCK"))


def _read_stat(pid: int):
    """(comm, ppid, own_cpu_s, reaped_children_cpu_s, start_ticks) or None."""
    try:
        with open("/proc/%d/stat" % pid, "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:        # exited between listdir and open
        return None
    head, _, tail = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = tail.split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14..17
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    start = int(fields[19])
    return comm, ppid, (utime + stime) / _TICK, (cutime + cstime) / _TICK, start


def tree_pids(root: int) -> List[Tuple[int, str]]:
    """``(pid, comm)`` of ``root`` and all its live descendants."""
    children: Dict[int, List[int]] = {}
    comms: Dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(int(name))
        if st is None:
            continue
        comms[int(name)] = st[0]
        children.setdefault(st[1], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in comms:
            out.append((pid, comms[pid]))
        todo.extend(children.get(pid, ()))
    return out


def _jit_cpu(pid: int) -> float:
    """CPU seconds of the live JIT compiler threads of JVM ``pid``."""
    total = 0.0
    try:
        tids = os.listdir("/proc/%d/task" % pid)
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open("/proc/%d/task/%s/stat" % (pid, tid), "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        head, _, tail = raw.rpartition(")")
        if "CompilerThre" in head:     # "C1 CompilerThre", "C2 CompilerThre"
            fields = tail.split()
            total += (int(fields[11]) + int(fields[12])) / _TICK
    return total


def tree_cpu(root: int = None, jit: bool = False) -> Dict[str, float]:
    """CPU seconds used so far by the tree under ``root`` (default: this
    process), split into ``jvm`` and ``py``, with ``total``; with ``jit``
    also the JIT compiler threads' share of ``jvm`` (a read per thread)."""
    root = os.getpid() if root is None else root
    split = {"jvm": 0.0, "py": 0.0, "jit": 0.0}
    for pid, comm in tree_pids(root):
        st = _read_stat(pid)
        if st is None:
            continue
        split["jvm" if comm == "java" else "py"] += st[2] + st[3]
        if jit and comm == "java":
            split["jit"] += _jit_cpu(pid)
    split["total"] = split["jvm"] + split["py"]
    return split


def _field_kb(path: str, key: str) -> int:
    """A ``key:  <n> kB`` field of a /proc status-style file (0 if the
    file or the field is gone)."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root: int = None) -> Dict[str, float]:
    """High-water RSS (``VmHWM``) of the JVM and of the live Python
    workers under ``root``; the driver interpreter itself is left out."""
    root = os.getpid() if root is None else root
    out = {"jvm": 0.0, "py_workers": 0.0}
    for pid, comm in tree_pids(root):
        if pid == root:
            continue
        key = "jvm" if comm == "java" else "py_workers"
        out[key] += _field_kb("/proc/%d/status" % pid, "VmHWM") / 1024.0
    out["total"] = out["jvm"] + out["py_workers"]
    return out


def steal() -> Tuple[float, int]:
    """Steal time so far, summed over this machine's CPUs (the ``cpu``
    line of /proc/stat), and the number of those CPUs: the time the
    hypervisor ran something else while a CPU of this machine had work."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    fields = lines[0].split()
    n_cpus = sum(1 for line in lines if line.startswith("cpu") and line[3:4].isdigit())
    return (int(fields[8]) / _TICK if len(fields) > 8 else 0.0), n_cpus


def seconds_since_process_start() -> float:
    """Wall seconds since this process was created (10 ms resolution)."""
    start_ticks = _read_stat(os.getpid())[4]
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def canary_s(rounds: int = 200000) -> float:
    """Wall time of a fixed pure-Python md5 loop: a host-speed probe."""
    import hashlib
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(rounds):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def host_info() -> Dict:
    mem_kb = _field_kb("/proc/meminfo", "MemTotal")
    return {"nproc": os.cpu_count(),
            "affinity_cpus": len(os.sched_getaffinity(0)),
            "mem_total_mb": round(mem_kb / 1024.0)}
