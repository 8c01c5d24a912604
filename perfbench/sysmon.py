"""Process-tree CPU and memory from /proc, Spark job counts from the
status tracker, the host's speed from a reference loop and the CPU time
the hypervisor took from this VM.

The tree is this Python driver, the JVM it launched, and the Python
workers the JVM forks. CPU of a process includes that of the children it
has already reaped (``cutime``/``cstime``), so workers that exit between
two samples are still counted, once.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")

# The reference loop takes about REF_LOOP_S on a calm 4-vCPU Xeon VM, and
# flips between 0.025 and 0.035 s when that VM is busy.
REF_LOOP_N = 300_000
REF_LOOP_S = 0.020


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    return comm, int(f[1]), sum(int(x) for x in f[11:15]) / _TICK


def tree_cpu() -> dict[str, float]:
    """CPU seconds so far: ``driver`` (this process), ``jvm`` (java
    descendants) and ``pyworker`` (Python descendants)."""
    me = os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                procs[int(name)] = st
    own = os.times()
    out = {"driver": own.user + own.system, "jvm": 0.0, "pyworker": 0.0}
    for pid, (comm, _ppid, cpu) in procs.items():
        anc, hops = pid, 0
        while anc in procs and anc != me and hops < 64:
            anc, hops = procs[anc][1], hops + 1
        if anc != me or pid == me:
            continue
        out["pyworker" if comm.startswith("python") else "jvm"] += cpu
    return out


def host_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of this machine so far, from /proc/stat:
    time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def jvm_pid(gateway) -> int | None:
    proc = getattr(gateway, "proc", None)
    return proc.pid if proc is not None else None


def jvm_hwm_mb(pid: int | None) -> float:
    """Peak resident set of the JVM (VmHWM), in MiB."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks run under one job group."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for jid in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            si = st.getStageInfo(sid)
            if si:
                out["stages"] += 1
                out["tasks"] += si.numTasks
                out["failed_tasks"] += si.numFailedTasks
    return out


def ref_loop_s() -> float:
    """The time of a fixed pure-Python integer loop: the host's
    single-thread speed at this moment. The loop calls no code of the
    program, so a program change cannot speed it up; a busier host slows
    it down along with the program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(REF_LOOP_N):
        acc += i * i % 7
    return time.perf_counter() - t0
