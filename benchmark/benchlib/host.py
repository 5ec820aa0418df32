"""Host telemetry, so that a run on a contended machine identifies itself."""
import os


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_jiffies():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return (fields[7] if len(fields) > 7 else 0), sum(fields)
    except (OSError, ValueError):
        return 0, 0


def steal_pct(before, after):
    steal = after[0] - before[0]
    total = after[1] - before[1]
    return 100.0 * steal / total if total > 0 else 0.0


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1
