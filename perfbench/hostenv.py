"""The pinned run environment and what the benchmark reads from /proc."""

from __future__ import annotations

import ctypes
import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>

JVM_OPTS = (
    # the engine's default tiered C1/C2 JIT is kept; its compiler threads
    # all start with the JVM instead of being added and retired with the
    # compile queue, so their CPU can be read per thread (``jit_cpu_s``)
    "-XX:-UseDynamicNumberOfCompilerThreads",
    # no hsperfdata file in /tmp, which is outside the checkout
    "-XX:-UsePerfData",
)


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pinned_env(work_dir: str) -> dict[str, str]:
    """Environment for the engine: local[nproc], a fixed driver heap well
    below physical RAM, all scratch (shuffle, spill, checkpoints, Python
    temp files) under the run's work directory, fixed hash seed, UTC."""
    tmp = os.path.join(work_dir, "tmp")
    heap_mb = min(2048, mem_total_mb() // 4)
    return {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "SPARK_CONF_DIR": os.path.join(work_dir, "conf"),
        "PYTHONHASHSEED": "0",
        "TZ": "UTC",
    }


def write_spark_conf(conf_dir: str, tmp_dir: str, event_log_dir: str | None) -> None:
    """spark-defaults.conf owned by the benchmark, so no site config
    leaks in.  The event log is on only in the traced run."""
    os.makedirs(conf_dir, exist_ok=True)
    java_opts = " ".join((*JVM_OPTS, f"-Djava.io.tmpdir={tmp_dir}"))
    lines = [f"spark.driver.extraJavaOptions {java_opts}"]
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            "spark.eventLog.rolling.enabled false",
            "spark.eventLog.compress false",
            f"spark.eventLog.dir file://{event_log_dir}",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _stat(path: str) -> tuple[str, float, int]:
    """Command name, user + system CPU seconds and parent pid from a
    ``/proc/.../stat`` file."""
    with open(path) as fh:
        data = fh.read()
    # the command name may contain spaces: fields resume after ')'
    f = data[data.rindex(")") + 2:].split()
    return data[data.index("(") + 1:data.rindex(")")], (int(f[11]) + int(f[12])) / CLK_TCK, int(f[1])


def _tree() -> dict[int, tuple[str, float]]:
    """Command name and CPU seconds of this process and every live
    descendant."""
    children: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            comm, cpu, ppid = _stat(f"/proc/{name}/stat")
        except OSError:  # exited while we scanned
            continue
        children.setdefault(ppid, []).append(int(name))
        procs[int(name)] = (comm, cpu)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live
    descendant: the JVM and any Python workers."""
    return sum(cpu for _, cpu in _tree().values())


def jit_cpu_s() -> float:
    """User + system CPU seconds of the JIT compiler threads of the JVMs
    among this process's descendants (threads named ``C1 CompilerThre``
    / ``C2 CompilerThre``)."""
    total = 0.0
    for pid, (comm, _) in _tree().items():
        if comm != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                name, cpu, _ = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if "CompilerThre" in name:
                total += cpu
    return total


def steal_ticks() -> int:
    """Cumulative steal time of all CPUs (``/proc/stat``), in ticks."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def load_avg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def become_subreaper() -> None:
    """Make this process the one orphaned descendants are re-parented
    to (a Python worker whose JVM has exited, say), so that
    ``stop_descendants`` can find and wait for every process the run
    started."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int, *[ctypes.c_ulong] * 4]
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 15.0) -> None:
    """SIGTERM every live descendant, SIGKILL whatever is left after
    ``grace_s``, and return only once none is left and all are reaped."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sent: dict[int, int] = {}
    while True:
        _reap()
        live = [pid for pid in _tree() if pid != me]
        if not live:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in live:
            if sent.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent[pid] = sig
        time.sleep(0.05)
