"""CPU time the program spends: the cost of set-up and of a batch pass.

On a host whose CPUs other tenants share, wall time swings with them: on
a 4-vCPU VM, `/recs` requests took 3.5 times as long on average while the
VM lost 30 % of its CPU time to steal as while it lost none. A thread's
CPU time (utime + stime in /proc) leaves steal out. It still rose under
heavy steal, per `/recs` request far more than per batch pass (likely
threads spinning while a preempted vCPU holds a lock they wait for), so
the serving workloads rescale wall latency by host probes instead
(stats.host_normalized).

Counted: the Spark driver JVM, less its JIT compiler threads, and this
Python process. JIT compilation is left out because how much of it is
done by a given moment depends on how fast the compiler threads ran, and
it goes on long after set-up (at 400 `/recs` requests it was still about
15 % of the JVM's CPU). Garbage collection is counted.
"""

from __future__ import annotations

import os

TICKS_PER_S = os.sysconf("SC_CLK_TCK")
# thread names of HotSpot's JIT compilers; sparkproc keeps these threads
# alive for the JVM's life, so none of their ticks is lost into the
# process total when one ends
_COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _name_and_ticks(path: str) -> tuple[str, int]:
    """(thread or process name, utime + stime in ticks) from a stat file."""
    with open(path) as f:
        data = f.read()
    name = data[data.index("(") + 1:data.rindex(")")]
    fields = data[data.rindex(")") + 2:].split()
    return name, int(fields[11]) + int(fields[12])


def jvm_seconds(pid: int) -> float:
    """CPU seconds of JVM `pid` so far, its JIT compiler threads left out."""
    _, total = _name_and_ticks(f"/proc/{pid}/stat")
    return total / TICKS_PER_S - compiler_seconds(pid)


def compiler_seconds(pid: int) -> float:
    """CPU seconds of JVM `pid`'s JIT compiler threads so far."""
    compile_ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, ticks = _name_and_ticks(f"/proc/{pid}/task/{tid}/stat")
        except (OSError, ValueError):
            continue            # the thread ended meanwhile
        if name.startswith(_COMPILER_THREADS):
            compile_ticks += ticks
    return compile_ticks / TICKS_PER_S


def python_seconds() -> float:
    """CPU seconds of this process so far."""
    t = os.times()
    return t.user + t.system
