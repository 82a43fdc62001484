"""Process-tree resource sampling from ``/proc`` (Linux).

The tree is the benchmark's main process and its descendants: the Spark
JVM and the Python workers it forks. The input generator has exited before
sampling starts, and the sampler leaves itself out.

Peak RSS is sampled by a separate process (``python3 -m perfbench.proc
<root_pid>``), so sampling never holds the main process's interpreter lock,
which the in-process Redis server and the sink share. It prints the peak in
bytes when it receives SIGTERM. CPU time is read in the main process at the
two edges of the measured window.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int, exclude: frozenset[int] = frozenset()) -> list[int]:
    """``root`` and every live descendant, minus ``exclude``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int, exclude: frozenset[int] = frozenset()) -> float:
    """User + system CPU seconds of the tree, reaped children included (they
    are charged to their parent's cutime/cstime)."""
    total = 0
    for pid in tree_pids(root, exclude):
        fields = _stat(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Runs the peak-RSS sampler process for the life of a ``with`` block."""

    def __init__(self, root: int) -> None:
        self._root = root
        self._proc: subprocess.Popen | None = None
        self.peak_bytes = 0

    def __enter__(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.proc", str(self._root)],
            stdout=subprocess.PIPE,
            text=True,
        )
        return self

    @property
    def pid(self) -> int:
        return self._proc.pid

    def __exit__(self, *exc) -> None:
        self._proc.terminate()
        out, _ = self._proc.communicate(timeout=30)
        self.peak_bytes = json.loads(out)["peak_rss_bytes"] if out else 0


def _sample(root: int, interval: float = 0.05, rescan: float = 0.5) -> None:
    me = frozenset({os.getpid()})
    peak = 0
    stop = False

    def on_term(*_):
        nonlocal stop
        stop = True

    signal.signal(signal.SIGTERM, on_term)
    pids, scanned = [], 0.0
    while not stop:
        now = time.monotonic()
        if now - scanned >= rescan:
            pids, scanned = tree_pids(root, me), now
        peak = max(peak, sum(_rss(p) for p in pids))
        time.sleep(interval)
    print(json.dumps({"peak_rss_bytes": peak}), flush=True)


if __name__ == "__main__":
    _sample(int(sys.argv[1]))
