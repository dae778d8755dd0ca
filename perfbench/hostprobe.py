"""Host diagnostics: a fixed-work speed probe, CPU jiffies and memory.

None of these normalizes a gated metric; they exist to tell host drift
from a code change when two sets of runs disagree.
"""

from __future__ import annotations

import hashlib
import os
import time

CALIB_ROUNDS = 200_000


def calib_s() -> float:
    """Wall of a fixed single-threaded md5 loop (no Spark running in it)."""
    t = time.perf_counter()
    h = b"perfbench"
    for _ in range(CALIB_ROUNDS):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t


def cpu_jiffies() -> dict:
    """Aggregate /proc/stat cpu line: busy, steal and total jiffies."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (f + [0] * 8)[:8]
    return {
        "busy": user + nice + system + irq + softirq,
        "steal": steal,
        "total": sum(f[:8]),
    }


def jiffies_delta(a: dict, b: dict) -> dict:
    total = max(b["total"] - a["total"], 1)
    return {
        "busy_jiffies": b["busy"] - a["busy"],
        "steal_frac": (b["steal"] - a["steal"]) / total,
    }


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def proc_cpu_s(pid: int) -> float:
    """utime + stime of a process (all its threads), in seconds."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


class WriteMeter:
    """Bytes written under a directory, from snapshots taken between
    operations: a file whose path, inode or mtime is new since the last
    snapshot counts in full. Files created and removed between two
    snapshots are missed, so this is a lower bound."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.seen = self._scan()
        self.written = 0

    def _scan(self) -> dict:
        out = {}
        for root, _dirs, files in os.walk(self.path):
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    def update(self) -> int:
        now = self._scan()
        new = sum(v[2] for p, v in now.items() if self.seen.get(p) != v)
        self.written += new
        self.seen = now
        return new
