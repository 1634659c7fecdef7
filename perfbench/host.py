"""Process-tree and host readings from ``/proc`` (Linux only).

The benchmark marks every process it starts through the environment
variable ``MARKER`` (the Spark JVM and its Python workers inherit it),
which lets it refuse to start while processes of an earlier run live
and wait for its own to end.
"""

from __future__ import annotations

import os
import signal
import time

MARKER = "PERFBENCH_RUN"
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rfind(")") + 2 :].split()


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def tree() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for pid in _pids():
        st = _stat(pid)
        if st is not None:
            children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17, 1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def children_peak_rss_mb() -> float:
    """Sum over the live tree, this process left out, of each process's
    peak resident set."""
    me = os.getpid()
    return sum(_status_kb(pid, "VmHWM:") for pid in tree() if pid != me) / 1024.0


def own_peak_rss_mb() -> float:
    return _status_kb(os.getpid(), "VmHWM:") / 1024.0


def reset_own_peak() -> None:
    """Reset this process's peak resident set to its current one, so
    ``own_peak_rss_mb`` reads the peak since this call."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def machine_cpu() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def _marked(pid: int, value: str | None) -> bool:
    try:
        with open(f"/proc/{pid}/environ", "rb") as f:
            env = f.read().split(b"\0")
    except OSError:
        return False
    want = f"{MARKER}={value}".encode() if value is not None else None
    return any(e == want if want else e.startswith(MARKER.encode() + b"=") for e in env)


def _ancestors() -> set[int]:
    out, pid = set(), os.getpid()
    while pid > 1:
        out.add(pid)
        st = _stat(pid)
        if st is None:
            break
        pid = int(st[1])
    return out


def marked(value: str | None = None) -> list[int]:
    """Processes carrying the marker (with ``value``, if given) that are
    neither this process nor its ancestors.  With no value: a Spark JVM
    or Python worker of any earlier run."""
    mine = _ancestors()
    return [p for p in _pids() if p not in mine and _marked(p, value)]


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` lives; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _stat(p) is not None and _stat(p)[0] != "Z"]
    return alive


def stop_all(value: str, timeout_s: float = 30.0) -> list[int]:
    """Wait for this process's descendants and for every process marked
    with ``value`` (Python workers outlive the JVM that forked them and
    are re-parented) to end, then kill the rest.  Returns the pids that
    had to be killed."""
    procs = set(p for p in tree() if p != os.getpid()) | set(marked(value))
    alive = wait_gone(sorted(procs), timeout_s)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(alive, 5.0)
    return alive
