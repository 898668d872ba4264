"""Per-run isolation and host readings: run root, process-tree memory,
CPU steal and a fixed calibration loop."""

from __future__ import annotations

import os
import shutil
import tempfile
import time


class RunRoot:
    """A fresh directory per run holding every file the run writes: the
    temp dir, Spark's local dirs, checkpoints, sinks, lakes and the working
    directory. Removed when the run ends, so no run sees another's files
    (the registered queries keep build-once caches in the temp dir)."""

    def __init__(self, base: str) -> None:
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)
        for sub in ("tmp", "local", "work"):
            os.makedirs(self.sub(sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def enter(self) -> None:
        """Point temp files, Spark local dirs and the cwd into the root."""
        os.environ["TMPDIR"] = self.sub("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        tempfile.tempdir = self.sub("tmp")
        os.chdir(self.sub("work"))

    def remove(self, cwd: str) -> None:
        os.chdir(cwd)
        shutil.rmtree(self.path, ignore_errors=True)


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


def process_tree(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_by_process() -> dict[str, float]:
    """Peak resident set (MB) of this process and each descendant: the
    Python driver, the JVM and the Python workers. Read it before the
    Spark session stops, while the JVM and the workers are still alive."""
    out = {}
    for p in process_tree(os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[f"{name}:{p}"] = _vm_hwm_kb(p) / 1024.0
    return out


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total else 0.0


def calib_ms(rounds: int = 3) -> float:
    """Median time of a fixed single-thread Python loop: how fast this
    host runs the same work right now."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += (i * i) % 7
        times.append((time.perf_counter() - t0) * 1000)
    times.sort()
    return times[len(times) // 2]
