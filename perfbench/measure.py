"""Measurement helpers: percentiles, ledger space amplification, peak RSS."""

from __future__ import annotations

import math
import os
import statistics
from fractions import Fraction

# Percentiles the benchmark may report as a tail, lowest first.
PERCENTILE_LADDER = (50, 75, 90, 95, 99, 99.9)


def _rank(n: int, pct: float) -> int:
    """1-based nearest rank of the ``pct`` percentile among ``n`` samples,
    in exact arithmetic (99.9 / 100 * 10000 is not 9990 in floats)."""
    return max(1, math.ceil(Fraction(str(pct)) / 100 * n))


def nearest_rank(values: list[float], pct: float) -> float:
    """The nearest-rank ``pct`` percentile of ``values``."""
    return sorted(values)[_rank(len(values), pct) - 1]


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """``(pct, value)`` for the highest ladder percentile that has at least
    ten samples beyond it, or None when even the median has fewer."""
    n = len(values)
    fits = [p for p in PERCENTILE_LADDER if n - _rank(n, p) >= 10]
    if not fits:
        return None
    return fits[-1], nearest_rank(values, fits[-1])


def median(values: list[float]) -> float:
    return statistics.median(values)


def _files(root: str):
    for dirpath, _, names in os.walk(root):
        for name in names:
            yield os.path.join(dirpath, name)


def space_amplification(ledger_root: str, live_dir: str) -> float:
    """Bytes on disk of every retained snapshot under ``ledger_root``,
    counting each inode once (hard-linked partitions share inodes), divided
    by the bytes of the live snapshot ``live_dir``."""
    seen: set[tuple[int, int]] = set()
    retained = 0
    for entry in os.listdir(ledger_root):
        snap = os.path.join(ledger_root, entry)
        if not entry.startswith("v_") or not os.path.isdir(snap):
            continue
        for path in _files(snap):
            st = os.stat(path)
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                retained += st.st_size
    live = sum(os.stat(p).st_size for p in _files(live_dir))
    return retained / live


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the host since boot, from /proc/stat:
    steal is time this VM's CPUs were ready to run but the hypervisor ran
    something else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def session_cpu_s(sid: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of every live
    process in session ``sid`` (this process's session by default): the
    worker, its JVM and the JVM's Python workers. Time the hypervisor gave to
    other machines (steal) is not in it."""
    sid = os.getsid(0) if sid is None else sid
    ticks = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended meanwhile
        if int(fields[3]) == sid:  # fields[0] is the state, field 6 of stat
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MB (10^6 bytes)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
