"""What the host's ``/proc`` says about this benchmark's process tree.

A sampler thread records the tree's resident memory (driver JVM plus Python
workers) and splits the machine's busy CPU into this tree's share and every
other process's share, so a run slowed by a neighbour can be seen in its
result without any retry protocol.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_table() -> dict[int, tuple[int, int, int]]:
    """{pid: (ppid, cpu_ticks, rss_pages)} for every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:  # the process exited while we listed
            continue
        # comm may hold spaces and parentheses: fields resume after the last ')'
        fields = st[st.rindex(")") + 2 :].split()
        # [1]=ppid [11]=utime [12]=stime [21]=rss.  Reaped children's time
        # (cutime) is left out: each child is sampled on its own while alive.
        table[int(d)] = (int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[21]))
    return table


def descendants(table: dict[int, tuple[int, int, int]], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = set(), [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            if c not in out:
                out.add(c)
                stack.append(c)
    return out


def _machine_busy_s() -> float:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal; guest is folded into user
    return (sum(vals[:8]) - vals[3] - vals[4]) / _CLK_TCK


class TreeSampler:
    """Samples the tree rooted at this process until :meth:`stop`."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        # Once a pid is seen in the tree it stays ours, even if Spark's
        # daemon re-parents it out of the tree later.
        self._ours: set[int] = set()
        self._ticks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="tree-sampler", daemon=True)
        self._busy0 = 0.0
        self._wall0 = 0.0
        self._own0 = 0
        self.other_cpu_cores = 0.0
        self.own_cpu_cores = 0.0

    def _sample(self) -> None:
        table = _stat_table()
        me = os.getpid()
        self._ours |= descendants(table, me) | {me}
        rss = 0
        for pid in self._ours:
            if pid in table:
                rss += table[pid][2]
                self._ticks[pid] = table[pid][1]
        self.peak_rss_bytes = max(self.peak_rss_bytes, rss * _PAGE)

    def tree(self) -> set[int]:
        """Every pid ever seen in this process's tree, this process excluded."""
        self._sample()
        return self._ours - {os.getpid()}

    def _own_ticks(self) -> int:
        return sum(self._ticks.values())

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "TreeSampler":
        self._sample()
        self._busy0, self._wall0, self._own0 = _machine_busy_s(), time.perf_counter(), self._own_ticks()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        wall = max(time.perf_counter() - self._wall0, 1e-9)
        own = (self._own_ticks() - self._own0) / _CLK_TCK
        self.own_cpu_cores = own / wall
        self.other_cpu_cores = max(0.0, (_machine_busy_s() - self._busy0 - own) / wall)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes(pids: set[int], timeout_s: float = 5.0) -> None:
    """Wait until every pid in ``pids`` has exited: politely, then with
    SIGTERM, then with SIGKILL.  Zombie children of this process are reaped."""
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.time() + timeout_s
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            left = {p for p in pids if _alive(p)}
            if not left or time.time() > deadline:
                break
            time.sleep(0.05)
        if not left or sig is None:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
