"""Host-side facts and measurements that need no Spark.

- ``cpus()`` / ``heap_gb()``: session sizing from the process's CPU
  affinity and ``/proc/meminfo``, never from constants.
- ``ProcTree``: CPU seconds and peak resident memory of every process the
  benchmark started (the Spark JVM and the Python workers it forks), and
  peak resident memory of the Python workers alone, read from ``/proc``.
- ``host_probe()``: a frozen stdlib-only workload (zlib + re) timed on one
  core.  Nothing in the program under test runs in it, so if it moves
  between two runs, the host moved, not the code.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time
import zlib

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gb() -> int:
    """Driver heap: a quarter of physical memory, 1..8 GB.  Local mode runs
    executors inside the driver JVM; the Python workers, the page cache and
    the oracle need the rest."""
    return max(1, min(8, round(mem_total_gb() / 4)))


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests (all cpus of this
    machine), from the ``steal`` column of /proc/stat."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime + reaped children's cutime + cstime: a worker that
    exits and is reaped keeps counting through its parent."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read()
    f = f[f.rindex(")") + 2:].split()
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * _PAGE


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class ProcTree:
    """Samples the processes below ``root`` (default: this process).

    ``cpu_s()`` is cumulative CPU seconds of the subtree (this process
    excluded); ``watch()`` runs a sampler thread that tracks two peaks
    until ``stop()`` returns them in MB: the subtree's summed RSS (the
    JVM and the Python workers), and the summed RSS of the Python
    workers alone.
    """

    def __init__(self, root: int | None = None, interval_s: float = 0.05):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self._peak = self._peak_py = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list:
        return descendants(self.root)

    def cpu_s(self) -> float:
        ticks = 0
        for pid in self.pids():
            try:
                ticks += _cpu_ticks(pid)
            except OSError:
                pass  # exited between listing and reading
        return ticks / _CLK_TCK

    @staticmethod
    def rss_bytes(pids: list) -> int:
        total = 0
        for pid in pids:
            try:
                total += _rss_bytes(pid)
            except OSError:
                pass
        return total

    def _sample(self, pids: list, py: list) -> None:
        self._peak = max(self._peak, self.rss_bytes(pids))
        self._peak_py = max(self._peak_py, self.rss_bytes(py))

    def _run(self) -> None:
        # re-list the subtree every 10th sample: scanning /proc is the
        # costly part, reading a few statm files is not
        n, pids, py = 0, [], []
        while not self._stop.is_set():
            if n % 10 == 0:
                pids = self.pids()
                py = [p for p in pids if _is_python(p)]
            n += 1
            self._sample(pids, py)
            self._stop.wait(self.interval_s)

    def _sample_now(self) -> None:
        pids = self.pids()
        self._sample(pids, [p for p in pids if _is_python(p)])

    def watch(self) -> None:
        self._peak = self._peak_py = 0
        self._sample_now()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> tuple:
        self._stop.set()
        self._thread.join()
        self._sample_now()
        return self._peak / 1e6, self._peak_py / 1e6


# ---------------------------------------------------------------------------
# frozen host probe -- do not optimise: it is the control, not a workload
# ---------------------------------------------------------------------------

_PROBE_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega 0123 4567 89"
).split()
_PROBE_RE = re.compile(r"\b([a-z]{3,6})\s+(\d+)|([aeiou]{2,})")


def _probe_text() -> bytes:
    out, x = [], 12345
    for _ in range(12000):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        out.append(_PROBE_WORDS[x % len(_PROBE_WORDS)])
    return " ".join(out).encode()


def _probe_once(buf: bytes) -> float:
    t0 = time.perf_counter()
    for level in (1, 6, 9):
        z = zlib.compress(buf, level)
        if zlib.decompress(z) != buf:
            raise RuntimeError("host probe: zlib round trip failed")
    text = buf.decode()
    n = 0
    for _ in range(6):
        n += len(_PROBE_RE.findall(text))
    if n == 0:
        raise RuntimeError("host probe: regex matched nothing")
    return time.perf_counter() - t0


@contextlib.contextmanager
def one_core():
    """Pin the calling thread to one of its allowed cpus."""
    before = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(before)})
    try:
        yield
    finally:
        os.sched_setaffinity(0, before)


def host_probe(reps: int = 5) -> float:
    """Median seconds of the frozen probe on one core."""
    buf = _probe_text()
    with one_core():
        return statistics.median(_probe_once(buf) for _ in range(reps))
