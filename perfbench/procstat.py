"""CPU time and resident memory of the engine's processes, read from /proc.

Three groups are sampled: the driver Python process, the Spark JVM, and
the JVM's descendants (the pyspark daemon and its Python workers).
Worker CPU includes the `cutime`/`cstime` of every process in that
tree, so a worker that exited and was reaped between two samples still
counts in full.  The JVM's JIT compiler threads are also summed on their
own (`jit`, a part of `jvm`): a JVM only minutes old is still compiling,
and how much it compiles in a pass swings with the host's load.  The
launcher keeps every compiler thread alive for the whole run
(-XX:-UseDynamicNumberOfCompilerThreads), so none of their time is lost
when a thread would otherwise exit.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name (which may hold spaces)
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cpu(pid: int, with_children: bool) -> float:
    st = _stat(pid)
    if st is None:
        return 0.0
    # st[11..14] = utime, stime, cutime, cstime (proc(5) fields 14-17)
    ticks = int(st[11]) + int(st[12])
    if with_children:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def _jit_cpu(pid: int) -> float:
    """CPU seconds of the JVM's C1/C2 compiler threads."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        if "CompilerThre" in comm:
            st = raw[raw.rindex(")") + 2:].split()
            ticks += int(st[11]) + int(st[12])
    return ticks / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcSampler:
    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per group."""
        return {
            "driver": _cpu(self.driver, False),
            "jvm": _cpu(self.jvm, False),
            "workers": sum(_cpu(p, True) for p in _descendants(self.jvm)),
            "jit": _jit_cpu(self.jvm),
        }

    def peak_rss_mb(self) -> float:
        """Sum of the per-process resident high-water marks."""
        pids = [self.driver, self.jvm, *_descendants(self.jvm)]
        return sum(_hwm_kb(p) for p in pids) / 1024.0


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}
