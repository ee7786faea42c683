"""In-memory span recorder and /proc probes (CPU, steal, worker memory).

Spans are recorded by the benchmark around its own calls into each layer
(a workload action, a kernel call); spans inside the program are not
recorded. They stay in memory and are written out once, when the run
ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """Spans with name, start, end and parent. Disabled, it records
    nothing, so plain runs pay no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies, from /proc/stat, summed over the CPUs this
    process may run on."""
    ours = {f"cpu{i}" for i in os.sched_getaffinity(0)}
    steal = total = 0
    with open("/proc/stat", encoding="ascii") as f:
        for line in f:
            name, *fields = line.split()
            if name in ours:
                steal += int(fields[7])
                total += sum(int(x) for x in fields[:8])
    return steal, total


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings; a busy host slows every timing in the run."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def core_s_between(before: tuple[int, int],
                   after: tuple[int, int]) -> float:
    """Core seconds the host's CPUs were ours between two cpu_times()
    readings: wall time on every CPU, busy or idle, less what the
    hypervisor gave to other guests. A core left idle is charged; a
    stolen one is not."""
    return ((after[1] - before[1]) - (after[0] - before[0])) / _TICK


def _proc_table() -> dict[int, tuple[int, int, int, int, bytes]]:
    """pid -> (ppid, rss bytes, cpu ticks, reaped cpu ticks, comm) for
    every visible process: its own user + system time, and that of the
    exited children it has waited for."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        lp, rp = raw.find(b"("), raw.rfind(b")")
        rest = raw[rp + 2:].split()
        # fields after comm: state ppid ... utime stime cutime cstime are
        # the 12th-15th, rss the 22nd
        out[int(name)] = (int(rest[1]), int(rest[21]) * _PAGE,
                          int(rest[11]) + int(rest[12]),
                          int(rest[13]) + int(rest[14]), raw[lp + 1:rp])
    return out


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _is_pyspark_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def worker_rss_bytes(root_pid: int) -> int:
    """Summed RSS of the PySpark Python worker processes that descend
    from root_pid (the benchmark process starts the JVM, which starts
    the worker daemon, which forks the workers)."""
    table = _proc_table()
    return sum(table[pid][1] for pid in _descendants(table, root_pid)
               if table[pid][4].startswith(b"python")
               and _is_pyspark_worker(pid))


_JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")


def jit_cpu(root_pid: int) -> dict[tuple[int, int], float]:
    """(pid, tid) -> CPU seconds so far of the HotSpot JIT compiler
    threads of every JVM below root_pid."""
    table = _proc_table()
    out = {}
    for pid in _descendants(table, root_pid):
        if table[pid][4] != b"java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                    raw = f.read()
            except OSError:
                continue
            lp, rp = raw.find(b"("), raw.rfind(b")")
            if raw[lp + 1:rp].startswith(_JIT_THREADS):
                rest = raw[rp + 2:].split()
                out[(pid, int(tid))] = (int(rest[11]) + int(rest[12])) \
                    / _TICK
    return out


def tree_cpu_total(root_pid: int) -> float:
    """CPU seconds used so far by the process tree: the driver, the JVM
    and the Python workers, with the exited children its processes have
    waited for (Spark's launcher JVM, Python workers the daemon has
    reaped). A child that exits and is reaped moves its time to its
    parent's reaped total, so the sum stays the same across the exit and
    the difference of two readings counts short-lived workers too. Time
    the hypervisor gives to other guests is not in it."""
    table = _proc_table()
    return sum(table[pid][2] + table[pid][3]
               for pid in [root_pid, *_descendants(table, root_pid)]
               if pid in table) / _TICK


def jit_between(before: dict, after: dict) -> float:
    """JIT compiler-thread CPU seconds used between two jit_cpu readings.
    The JVM runs a fixed set of compiler threads, so none exits in
    between."""
    return sum(t - before.get(key, 0.0) for key, t in after.items())


class RssSampler:
    """Background thread tracking the peak of worker_rss_bytes."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, worker_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
