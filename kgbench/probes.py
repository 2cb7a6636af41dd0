"""Process-tree and host probes read from ``/proc`` (no psutil here).

The measured tree is the driver JVM and its descendants: the PySpark worker
daemon and every Python worker it forks. CPU comes from ``utime+stime`` plus
the ``cutime+cstime`` of reaped children, so workers that exit inside an
iteration still count once their parent reaps them. Peak RSS resets each
process's high-water mark (``clear_refs`` = 5) before an iteration and sums
``VmHWM`` after it: an upper bound on the tree's simultaneous peak.
"""

from __future__ import annotations

import os
import platform
import subprocess

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces/parens: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """Running or sleeping; an exited process waiting to be reaped is not."""
    st = _stat_fields(pid)
    return st is not None and st[0] not in ("Z", "X")


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None:  # fields 14-17 of stat(5), 0-based after comm
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def reset_peak_rss(root: int) -> None:
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # exited meanwhile


def tree_peak_rss_mb(root: int) -> float:
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


class Steal:
    """Hypervisor steal fraction of all CPU time over an interval."""

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), vals[7]

    def __init__(self) -> None:
        self.t0, self.s0 = self._read()

    def fraction(self) -> float:
        t1, s1 = self._read()
        return (s1 - self.s0) / max(1, t1 - self.t0)


def host_info(nproc: int) -> dict:
    """Host shape: cores, aggregate copy bandwidth, runtime versions.

    ``bench.membw_gbps`` forks ``nproc`` copy loops, so it must run before
    the JVM starts threads in this process."""
    import pyspark
    from bench import membw_gbps
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                          capture_output=True, text=True,
                          timeout=60).stderr.splitlines()
    return {
        "nproc": nproc,
        "host_copy_bw_gbps": round(membw_gbps(nproc, size=16_000_000,
                                              iters=5), 2),
        "java": java[0] if java else "?",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }
