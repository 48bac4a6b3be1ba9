"""Process and host readings from /proc: CPU time, peak RSS, steal.

None of these is gated. Steal and load average stamp each run with
how busy the machine was; the JVM figures are diagnostics because
they do not repeat (the JVM's heap sizing follows the whole box).
"""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def seconds_since_process_start() -> float:
    """Wall time since this process was created (so interpreter start
    and imports count), at /proc's clock-tick resolution."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5), after pid/comm
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def driver_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def jvm_pid() -> int:
    """The Spark driver JVM: a child that the main thread started."""
    me = os.getpid()
    with open(f"/proc/{me}/task/{me}/children") as fh:
        for pid in fh.read().split():
            with open(f"/proc/{pid}/comm") as comm:
                if comm.read().strip() == "java":
                    return int(pid)
    raise RuntimeError("no java child process: is the Spark session up?")


def process_cpu_s(pid: int) -> float:
    """User + system CPU of ``pid`` and its reaped children (the
    JVM's Python workers)."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return (utime + stime + cutime + cstime) / _TICK


def process_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times() -> list[int]:
    """Aggregate CPU counters from /proc/stat (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total > 0 else 0.0


def loadavg() -> float:
    return os.getloadavg()[0]
