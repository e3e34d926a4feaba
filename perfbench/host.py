"""Host conditions and process memory, read from /proc.

A run records the CPU steal share over its timed region, the usable core
count, the load average, the PySpark version and the source revision, so
a noisy run can be recognised from its artifact alone.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
from pathlib import Path


def cpu_sample() -> tuple[int, int] | None:
    """(steal ticks, total ticks) from the aggregate ``cpu`` line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before, after) -> float | None:
    if before is None or after is None or after[1] <= before[1]:
        return None
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_revision(root: Path) -> dict:
    """The git commit when the tree is a checkout, and always a digest of
    the package sources (the tree the benchmark runs may not be a git
    repository)."""
    commit = None
    if (root / ".git").exists():
        try:
            out = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                text=True, timeout=10,
            )
            if out.returncode == 0:
                commit = out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for path in sorted(root.glob("comp5339dataengineering_realtimefuelanalysis_spark/**/*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def host_record(root: Path, steal: float | None) -> dict:
    import pyspark

    return {
        "steal_pct": None if steal is None else round(steal, 3),
        "nproc": nproc(),
        "loadavg": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        **source_revision(root),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: the ppid follows ") S "
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Summed RSS of a process and all its descendants."""
    kids = _children_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the RSS of a process tree (the driver JVM and the Python
    workers it forks) on a background thread; ``peak_mb`` is the highest
    sample."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid = pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
