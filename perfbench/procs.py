"""CPU time and peak memory of the benchmark's process tree, from /proc.

CPU time is what the processes were charged for (user + system, over
every thread); unlike wall time it does not grow when the host takes
the CPUs away (steal), so it reads steadily on a shared machine.

``work_cpu_seconds`` leaves out the JVM's JIT compiler threads. In a
fresh JVM they take about a third of all CPU, and how much they
compile, and when, varies from run to run more than anything the
program does. The run pins the compiler threads
(``-XX:-UseDynamicNumberOfCompilerThreads``) so none exits and takes
its CPU time out of reach of this count.
"""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_seconds(root: int | None = None) -> float:
    """User + system seconds of ``root`` (default: this process) and
    every live descendant, including children they have reaped."""
    root = os.getpid() if root is None else root
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        # fields 14-17 of stat: utime, stime, cutime, cstime
        total += sum(int(x) for x in st[11:15])
        todo.extend(children.get(pid, ()))
    return total / _TICK


def jit_cpu_seconds(jvm_pid: int) -> float:
    """User + system seconds of the JVM's C1/C2 compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += sum(int(x) for x in raw[raw.rindex(")") + 2:].split()[11:13])
    return total / _TICK


def work_cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds of this process tree less the JVM's JIT compiling."""
    return tree_cpu_seconds() - jit_cpu_seconds(jvm_pid)


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident memory of the JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0
