"""Peak-RSS sampler for the benchmark's process tree.

One daemon thread walks ``/proc`` every 0.1 s, finds every
descendant of the benchmark process and sums resident memory by kind:
the Spark driver JVM (``java``) and the PySpark Python daemon and
workers (``python`` processes below the JVM). The benchmark's own
interpreter is not counted: it holds no data.
"""

from __future__ import annotations

import os
import threading

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, command name, rss MB) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # comm is parenthesised and may hold spaces: split after the last ')'
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(entry)] = (int(fields[1]), comm, int(fields[21]) * _PAGE_MB)
    return out


def tree_rss(root: int) -> tuple[float, float]:
    """(jvm MB, python workers MB) summed over ``root``'s descendants."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    jvm = workers = 0.0
    stack = [(pid, False) for pid in children.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        _, comm, rss = table[pid]
        if comm == "java":
            jvm += rss
            under_jvm = True
        elif under_jvm and comm.startswith("python"):
            workers += rss
        stack.extend((c, under_jvm) for c in children.get(pid, []))
    return jvm, workers


class MemSampler:
    """Context manager: samples this process's tree every ``INTERVAL``
    seconds while open, then exposes the peaks."""

    INTERVAL = 0.1

    def __init__(self):
        self.root = os.getpid()
        self.peak_total_mb = self.peak_jvm_mb = self.peak_workers_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memsampler", daemon=True)

    def _sample(self) -> None:
        jvm, workers = tree_rss(self.root)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_workers_mb = max(self.peak_workers_mb, workers)
        self.peak_total_mb = max(self.peak_total_mb, jvm + workers)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self._sample()

    def __enter__(self) -> "MemSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
