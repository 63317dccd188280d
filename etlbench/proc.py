"""Read CPU, memory and steal from ``/proc``, from outside the program."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1]] + tail.split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(int(st[2]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def find_child(pid: int, comm: str) -> int | None:
    for p in children_map().get(pid, []):
        st = _stat(p)
        if st and st[0] == comm:
            return p
    return None


def session_members(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``. PySpark's Python
    daemon moves to a process group of its own, but keeps the session."""
    alive = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st and int(st[4]) == sid and st[1] != "Z":
                alive.append(int(name))
    return alive


def tree_cpu_s(pid: int) -> float:
    """user+system CPU of ``pid`` and every live descendant, plus the
    reaped children each of them has waited for."""
    ticks = 0
    for p in descendants(pid):
        st = _stat(p)
        if st:
            ticks += sum(int(x) for x in st[12:16])  # utime stime cutime cstime
    return ticks / _TICK


def pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class PythonPssSampler:
    """Peak summed PSS of the Python worker processes under the JVM."""

    def __init__(self, jvm_pid: int, period_s: float = 0.2):
        self.jvm_pid, self.period_s = jvm_pid, period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = 0.0
            for p in descendants(self.jvm_pid)[1:]:
                st = _stat(p)
                if st and st[0].startswith("python"):
                    total += pss_mb(p)
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user..steal; guest is already inside user
    return 100.0 * delta[7] / total if total else 0.0
