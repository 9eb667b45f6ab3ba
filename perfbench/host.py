"""Host conditions, host speed and process memory.

Every run records the 1-minute loadavg and the hypervisor steal share of CPU
time over its own window, so that a figure from a contended window can be
recognised as such.

The kernel workloads also measure the host's speed while they run: after
every document they time :func:`reference_ns`, fixed pure-Python work that
calls no code of the package.  On a shared 4-vCPU KVM guest (Intel Xeon) the
speed of identical single-thread work moved by up to 1.5x in phases of
seconds to minutes.  Per corpus pass, the reference time and the pass time
correlated at 0.91, so dividing one by the other removes most of the host's
phases from the kernel figures.

The Spark workload keeps every core busy, so its wall time also follows the
hypervisor's steal.  It measures CPU time instead, and times the same
reference on a thread's CPU clock while the program runs
(:class:`CpuClockSpeed`).
"""

from __future__ import annotations

import gc
import json
import os
import random
import threading
import time
from typing import Callable, Dict, Iterable, List

_rng = random.Random(3)
REFERENCE_WORDS = [
    "".join(_rng.choice("abcdefghijklmnop") for _ in range(_rng.randint(2, 9)))
    for _ in range(220)
]
# The reference's nominal time, about what it took between documents on the
# host above.  It only sets the scale of the host-normalised figures.
REFERENCE_NS = 400_000


def reference_ns(clock=time.perf_counter_ns) -> int:
    """Time of one run of the reference work on ``clock``: dict building,
    sorting, string joins and JSON encoding, the kinds of work the kernel
    does.  The cyclic GC is off meanwhile, so that the reference never pays
    for collecting the program's objects."""
    gc.disable()
    try:
        start = clock()
        groups: Dict[str, list] = {}
        for i, word in enumerate(REFERENCE_WORDS):
            groups.setdefault(word[:2], []).append((word, i))
        ordered = sorted(REFERENCE_WORDS, key=lambda w: (len(w), w))
        len(json.dumps(groups)) + len(" ".join(ordered).split())
        return clock() - start
    finally:
        gc.enable()


class CpuClockSpeed:
    """The host's speed on the CPU clock while other threads and processes
    run: a thread that times :func:`reference_ns` on its own CPU clock every
    ``PERIOD_S``.  Time the thread waits for a CPU, or that the hypervisor
    steals, is not on that clock, so what remains is how fast the CPU ran
    the work while it ran it.  Use as a context manager; ``value`` is the
    mean reference time over its nominal time.  ``tick``, if given, is
    called on the thread after every sample."""

    PERIOD_S = 0.05

    def __init__(self, tick: Callable[[], None] = None) -> None:
        self._tick = tick
        self._stop = threading.Event()
        self._samples: List[int] = []
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self._samples.append(reference_ns(time.thread_time_ns))
            if self._tick:
                self._tick()

    def __enter__(self) -> "CpuClockSpeed":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def value(self) -> float:
        if not self._samples:
            self._samples.append(reference_ns(time.thread_time_ns))
        return sum(self._samples) / (len(self._samples) * REFERENCE_NS)


def _cpu_times() -> List[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


class HostWindow:
    """Loadavg at open, and steal % of all CPU time between open and close."""

    def __init__(self) -> None:
        self.loadavg_1m = os.getloadavg()[0]
        self._start = _cpu_times()

    def close(self) -> Dict[str, float]:
        delta = [b - a for a, b in zip(self._start, _cpu_times())]
        total = sum(delta) or 1
        return {
            "loadavg_1m": self.loadavg_1m,
            "loadavg_1m_end": os.getloadavg()[0],
            "steal_pct": 100.0 * delta[7] / total,
        }


def _stat_fields(pid: str) -> List[str]:
    with open("/proc/%s/stat" % pid) as fh:
        # the command name may hold spaces; the fields follow its ')'
        return fh.read().rsplit(")", 1)[1].split()


def session_pids(sid: int) -> List[int]:
    """Live (not zombie) processes of session ``sid``."""
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            fields = _stat_fields(name)
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            found.append(int(name))
    return found


def descendant_pids(pid: int) -> List[int]:
    """``pid`` and every live process below it."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(name)[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    found, todo = [], [pid]
    while todo:
        current = todo.pop()
        found.append(current)
        todo.extend(children.get(current, ()))
    return found


_TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: Iterable[int]) -> Dict[int, float]:
    """CPU seconds (user + system, own and of reaped children) of each of
    ``pids`` that is still there.  Time the hypervisor stole from a vCPU is
    not charged to the process that was running on it."""
    found = {}
    for pid in pids:
        try:
            fields = _stat_fields(str(pid))
        except (OSError, IndexError):
            continue
        found[pid] = sum(int(x) for x in fields[11:15]) / _TICKS_PER_S
    return found


def reset_peak_rss(pids: Iterable[int]) -> None:
    """Reset the kernel's resident-set high-water mark (VmHWM) of ``pids``."""
    for pid in pids:
        try:
            with open("/proc/%d/clear_refs" % pid, "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of VmHWM over ``pids``, in MiB (processes that exited count 0)."""
    total_kb = 0
    for pid in pids:
        try:
            with open("/proc/%d/status" % pid) as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0
