"""CPU, memory and host readings from /proc.

The benchmark's process tree is the driver Python process, the JVM it
launches and the JVM's Python workers. CPU time and resident memory
are summed over that tree, read from /proc/<pid>/stat and statm.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.1


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields start after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including children that
    exited and were reaped by a process of the tree."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Samples the tree's summed RSS on a thread while inside ``with``;
    ``peak`` is the largest sum seen over every use, ``peak_jvm`` and
    ``peak_python`` the largest sums of the JVM and of the Python
    processes alone."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.peak = self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        n = 0
        while not self._stop.is_set():
            # the tree changes slowly (workers are reused); rescan it
            # every tenth sample so a sample stays cheap
            if n % 10 == 0:
                pids = tree_pids(self.root)
                jvm = [p for p in pids if _is_jvm(p)]
                python = [p for p in pids if p not in jvm]
            j, py = tree_rss_bytes(jvm), tree_rss_bytes(python)
            self.peak = max(self.peak, j + py)
            self.peak_jvm = max(self.peak_jvm, j)
            self.peak_python = max(self.peak_python, py)
            n += 1
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_counters() -> dict[str, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal")
    return dict(zip(names, vals))


def host_snapshot() -> dict:
    """nproc, MemTotal, load average and the raw /proc/stat counters
    (steal included) at this instant."""
    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem.get("MemAvailable", 0) // 1024,
        "loadavg": load,
        "cpu": _cpu_counters(),
    }


def host_delta(before: dict, after: dict, own_cpu_s: float = 0.0) -> dict:
    """Shares of host CPU time between two snapshots: stolen by the
    hypervisor, busy, and busy in processes outside this benchmark
    (``own_cpu_s`` is the benchmark's own CPU time in the interval)."""
    d = {k: after["cpu"][k] - before["cpu"][k] for k in before["cpu"]}
    total = sum(d.values()) or 1
    busy = total - d["idle"] - d["iowait"]
    return {
        "steal_frac": round(d["steal"] / total, 4),
        "busy_frac": round(busy / total, 4),
        "others_busy_frac": round(max(0.0, busy - own_cpu_s * _TICK) / total, 4),
    }
