"""Host facts and CPU steal, recorded with every result."""

from __future__ import annotations

import os
import platform
import subprocess


def cpu_ticks() -> tuple[int, int] | None:
    """(total, steal) jiffies from the aggregate ``cpu`` line of
    /proc/stat, or None where it is unreadable."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_share(before: tuple[int, int] | None,
                after: tuple[int, int] | None) -> float | None:
    if before is None or after is None or after[0] <= before[0]:
        return None
    return (after[1] - before[1]) / (after[0] - before[0])


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def process_start_epoch() -> float | None:
    """Wall-clock start of this process from /proc, or None."""
    try:
        with open("/proc/self/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        with open("/proc/stat") as fh:
            btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
        return btime + int(fields[19]) / os.sysconf("SC_CLK_TCK")
    except (OSError, StopIteration, ValueError, IndexError):
        return None


def facts() -> dict:
    import duckdb
    import pyspark
    mem_gb = None
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal"))
        mem_gb = round(kb / 1024 / 1024, 1)
    except (OSError, StopIteration):
        pass
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=5).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"cores": cores(), "mem_gb": mem_gb,
            "spark": pyspark.__version__, "python": platform.python_version(),
            "duckdb": duckdb.__version__, "git_sha": sha}
