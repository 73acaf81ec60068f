"""Host telemetry from /proc: labels that tell host drift from a
regression, and the peak resident memory of the Spark processes."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19]) / _CLK_TCK
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def steal_seconds() -> float:
    """Cumulative steal time of all CPUs (field 8 of the cpu line)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def dirty_kb() -> int:
    """Dirty + Writeback page cache, in kB."""
    total = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, _, rest = line.partition(":")
            if key in ("Dirty", "Writeback"):
                total += int(rest.split()[0])
    return total


def snapshot() -> dict:
    """Counters taken at the start of a run."""
    return {"steal_s": steal_seconds(), "dirty_kb": dirty_kb()}


def telemetry(before: dict, first_task_s: float) -> dict:
    """The host labels every run record carries: steal over the run,
    Dirty+Writeback at its start, load average at its end, and the
    first Python-worker task latency after set-up."""
    return {
        "nproc": nproc(),
        "loadavg": loadavg(),
        "steal_s": steal_seconds() - before["steal_s"],
        "dirty_kb": before["dirty_kb"],
        "first_task_s": first_task_s,
    }


def _ppid_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def descendants(root: int, exclude: set[int]) -> list[int]:
    """Every process below ``root``, skipping the subtrees in ``exclude``."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            if child not in exclude:
                out.append(child)
                todo.append(child)
    return out


class RssSampler:
    """Samples the summed RSS of this process's descendants (the driver
    JVM and its Python workers; the PostgreSQL server's subtree is
    excluded) on a background thread, between ``start()`` and
    ``stop()`` of each operation; ``peaks_mb`` holds one peak per
    operation."""

    def __init__(self, exclude: set[int], interval: float = 0.1):
        self.exclude = exclude
        self.interval = interval
        self.peaks_mb: list[float] = []
        self._peak = 0
        self._active = threading.Event()
        self._quit = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._quit.is_set():
            if self._active.wait(self.interval):
                total = sum(_rss_bytes(p) for p in descendants(me, self.exclude))
                self._peak = max(self._peak, total)
                self._quit.wait(self.interval)

    def start(self) -> None:
        self._peak = 0
        self._active.set()

    def stop(self) -> None:
        self._active.clear()
        self.peaks_mb.append(self._peak / (1 << 20))

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._quit.set()
        self._active.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for the processes to exit; SIGKILL those still alive at the
    deadline, then wait for them too."""
    import signal
    import time

    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
