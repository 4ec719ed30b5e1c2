"""Small measurement helpers: medians with their sample count, failure
accounting, byte counting for write amplification, and host readings
(peak RSS, CPU time stolen by the hypervisor)."""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass


def median_with_count(values: list[float]) -> tuple[float, int]:
    """(median, sample count); the median of no samples is NaN."""
    if not values:
        return float("nan"), 0
    return statistics.median(values), len(values)


@dataclass
class Attempts:
    """Attempts against failures: an attempt that raised or failed its
    check is attempted and failed, and contributes no timing."""

    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``: Hadoop's
    ``.crc`` side files, ``_SUCCESS`` and ``.checkpoint`` markers are
    bookkeeping, not data written for the user, so they are skipped."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if (name.startswith((".", "_")) or name.endswith(".checkpoint")):
                continue
            total += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return total, files


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid``, from /proc."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:  # process ended while we listed
            continue
        # the command name is parenthesised and may contain spaces
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS (Linux
    ``clear_refs`` 5), so the benchmark's own input generation and
    DuckDB oracles do not count as the program's peak."""
    with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident set (VmHWM) of this process plus its direct
    children (the Spark driver JVM), in MiB."""
    pid = os.getpid() if pid is None else pid
    kb = _status_kb(pid, "VmHWM")
    for child in child_pids(pid):
        try:
            kb += _status_kb(child, "VmHWM")
        except OSError:
            continue
    return kb / 1024.0
