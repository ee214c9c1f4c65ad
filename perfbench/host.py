"""Host-side measurements that need no Spark: a fixed-duration CPU probe
and a sampler of the resident memory of this process tree.

Kept free of heavy imports: the probe's worker processes run this file
as a script (``python3 host.py SECONDS`` prints the loops it completed).
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import threading
import time


def _spin(seconds: float) -> int:
    t0 = time.perf_counter()
    loops = 0
    x = 0
    while time.perf_counter() - t0 < seconds:
        for i in range(10_000):
            x += i * i
        loops += 1
    return loops


def cpu_probe(seconds: float = 0.3, workers: int = 4) -> int:
    """Loops completed by ``workers`` busy processes in ``seconds``.

    A guest's load average cannot see other tenants of the host; a low
    total beside an earlier high one shows a contended window. The workers
    are plain child processes, each waited for: ``multiprocessing`` would
    leave its resource tracker running past the end of the benchmark.
    """
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(seconds)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(workers)
    ]
    total = 0
    for p in procs:
        out, _ = p.communicate(timeout=60)
        total += int(out)
    return total


def become_subreaper() -> None:
    """Make this process adopt every orphaned descendant (Linux), so that
    ``reap_descendants`` also finds processes whose parent exited first,
    such as Python workers the JVM started."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap_descendants(grace: float = 10.0) -> int:
    """Stop every process descending from this one and wait for each to
    end: SIGTERM, then SIGKILL after ``grace`` seconds. Returns how many
    were still running."""
    signalled: set[int] = set()
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        while True:  # collect the ones that already ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        pids = _descendants(os.getpid())
        if not pids:
            return len(signalled)
        signalled.update(pids)
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _descendants(root: int) -> list[int]:
    tree = _children()
    found, todo = [], list(tree.get(root, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(tree.get(pid, ()))
    return found


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the JVM and its
    Python workers when ``root`` is this process, the Spark driver).

    Each process counts its proportional share (PSS) of the pages it
    shares: forked Python workers share most pages with their daemon, and
    a helper the JVM forks briefly maps the whole JVM heap, so summing
    plain RSS would count those pages several times.
    """
    tree = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
    return total


class RssSampler:
    """Samples this process tree's resident memory in a background thread
    while the ``with`` block runs; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


if __name__ == "__main__":
    _spin(0.1)  # a fresh process runs slow for its first moments; skip them
    print(_spin(float(sys.argv[1])))
