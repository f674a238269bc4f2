"""Host-noise record of one run: core count, load average, a fixed CPU
calibration loop timed at the start and end of the run, and the busy and
steal shares of all CPU time in between (from /proc/stat). Reported next
to the results; never used to normalise them."""
import os
import time

CALIB_ITERS = 2_000_000


def calib_ms():
    t = time.perf_counter()
    x = 0
    for i in range(CALIB_ITERS):
        x += i * i
    return (time.perf_counter() - t) * 1e3


def cpu_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal, sum(v)


def sample():
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"calib_ms": calib_ms(), "load1": load1, "stat": cpu_stat()}


def delta(a, b):
    busy, steal, total = (y - x for x, y in zip(a["stat"], b["stat"]))
    return {
        "nproc": os.cpu_count() or 1,
        "load1": a["load1"],
        "calib_ms_start": a["calib_ms"],
        "calib_ms_end": b["calib_ms"],
        "busy_frac": busy / total if total else 0.0,
        "steal_frac": steal / total if total else 0.0,
    }
