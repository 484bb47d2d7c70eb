"""Host size and process memory, read from /proc."""

from __future__ import annotations

import os


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot: steal is time the
    hypervisor ran something else while this VM wanted the CPU."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and all its descendants,
    the JVM and Spark's Python workers included; reaped descendants count
    through their parents' cutime/cstime. Time the hypervisor stole and
    time spent waiting are not in it."""
    kids = _children()
    ticks = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:  # the process ended meanwhile
        pass
    return out


def _hwm_mb(pid: int) -> float:
    v = _status(pid).get("VmHWM", "0 kB")
    return int(v.split()[0]) / 1024


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def peak_rss_mb() -> tuple[float, float]:
    """(driver + JVM VmHWM, largest Python-worker VmHWM) in MB.

    The JVM is the driver's child; Spark's Python daemon and its workers
    descend from the JVM."""
    kids = _children()
    me = os.getpid()
    driver = _hwm_mb(me)
    workers = [0.0]
    for jvm in kids.get(me, []):
        if _status(jvm).get("Name") != "java":
            continue
        driver += _hwm_mb(jvm)
        stack = list(kids.get(jvm, []))
        while stack:
            pid = stack.pop()
            stack.extend(kids.get(pid, []))
            if _status(pid).get("Name", "").startswith("python"):
                workers.append(_hwm_mb(pid))
    return driver, max(workers)
