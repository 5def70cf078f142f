"""Resource probes that read the system from outside the program.

* ``ProcTree`` reads CPU time and RSS of this process and every descendant
  from ``/proc``: the Python driver, the Spark JVM and the PySpark worker
  processes (``pyspark.daemon`` and the workers it forks).
* ``StageProbe`` reads job and stage metrics from Spark's in-process status
  store over py4j.  It needs no web UI.
* ``host_cpu()`` reads the host's busy, idle and steal time from
  ``/proc/stat``, to tell a busy host from a slow program.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_RSS_SAMPLE_S = 0.1


def _stat(path: str):
    """(ppid, comm, own cpu s, reaped children's cpu s, rss bytes) from a
    ``/proc/<pid>[/task/<tid>]/stat`` file, or None if it is gone."""
    try:
        with open(path, "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    lp, rp = raw.index("("), raw.rindex(")")
    fields = raw[rp + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    own = (int(fields[11]) + int(fields[12])) / _CLK
    reaped = (int(fields[13]) + int(fields[14])) / _CLK
    return int(fields[1]), raw[lp + 1 : rp], own, reaped, int(fields[21]) * _PAGE


def _is_pyworker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass  # removed while walking
    return total


def _jvm_thread_cpu(pid: int) -> tuple[float, float]:
    """CPU seconds of a JVM's (JIT compiler, garbage collector) threads."""
    jit = gc = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return jit, gc
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st is None:
            continue
        _ppid, name, cpu, _reaped, _rss = st
        if "Compiler" in name:
            jit += cpu
        elif name.startswith(("GC Thread", "G1 ")):
            gc += cpu
    return jit, gc


class ProcTree:
    """CPU and RSS of the process tree rooted at this process.

    CPU of a process that exits is kept: its parent's reaped-children time
    (``cutime``/``cstime``) takes it over.  So the difference of two
    ``cpu()`` readings counts every process that ran in between.
    """

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self.peak_split: dict[str, int] = {}
        self._kinds: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, tuple]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(f"/proc/{name}/stat")
                if st is not None:
                    procs[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in procs.items():
            children.setdefault(st[0], []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                out[pid] = procs[pid]
                todo.extend(children.get(pid, ()))
        return out

    def _kind(self, pid: int, comm: str) -> str:
        kind = self._kinds.get(pid)
        if kind is None:
            if pid == self.root:
                kind = "driver"
            elif comm == "java":
                kind = "jvm"
            elif _is_pyworker(pid):
                kind = "python_workers"
            else:
                kind = "other"
            self._kinds[pid] = kind
        return kind

    def pids(self) -> list[int]:
        """Pids of every descendant (the root is excluded)."""
        return [p for p in self._tree() if p != self.root]

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per kind, plus ``total``.  ``jvm_jit`` and
        ``jvm_gc`` are the parts of ``jvm`` spent in the JIT compiler and
        garbage collector threads that are alive now."""
        out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0, "other": 0.0}
        jit = gc = 0.0
        for pid, (_ppid, comm, own, reaped, _rss) in self._tree().items():
            kind = self._kind(pid, comm)
            if pid == self.root:
                # the root's reaped time holds only processes outside the
                # tree's lifetime of interest (the JVM is reaped at exit)
                out[kind] += own
            else:
                out[kind] += own + reaped
            if kind == "jvm":
                j, g = _jvm_thread_cpu(pid)
                jit, gc = jit + j, gc + g
        out["total"] = sum(out.values())
        out["jvm_jit"], out["jvm_gc"] = jit, gc
        return out

    def rss(self) -> dict[str, int]:
        """RSS bytes per kind, plus ``total``."""
        out = {"driver": 0, "jvm": 0, "python_workers": 0, "other": 0}
        for pid, (_ppid, comm, _own, _reaped, rss) in self._tree().items():
            out[self._kind(pid, comm)] += rss
        out["total"] = sum(out.values())
        return out

    def _observe(self) -> None:
        now = self.rss()
        if now["total"] > self.peak_rss:
            self.peak_rss, self.peak_split = now["total"], now

    def _sample(self) -> None:
        while not self._stop.wait(_RSS_SAMPLE_S):
            self._observe()

    def start_sampling(self) -> None:
        self.peak_rss = 0
        self._observe()
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop_sampling(self) -> int:
        """Stop the RSS sampler and return the peak it saw, in bytes."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        self._observe()
        return self.peak_rss


class StageProbe:
    """Job and stage counters from the driver's ``AppStatusStore``.

    Ops are attributed two ways: by the job description the benchmark sets
    on every op, and by the window of job and stage ids the scheduler handed
    out while the op ran (jobs submitted from Spark's own threads, such as
    broadcast exchanges, do not always carry the description).
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()  # noqa: SLF001
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        gw = self._sc._gateway  # noqa: SLF001
        self._array_list = gw.jvm.java.util.ArrayList
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def ids(self) -> tuple[int, int]:
        """(next job id, next stage id) the scheduler will hand out."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def settle(self, timeout_ms: int = 3000) -> bool:
        """Wait, with a bound, until the status store has seen every event."""
        try:
            self._bus.waitUntilEmpty(timeout_ms)
            return True
        except Exception:  # py4j wraps the JVM's TimeoutException
            return False

    def stages(self, first_stage_id: int) -> list[dict]:
        """Every retained stage attempt with id >= ``first_stage_id``."""
        seq = self._store.stageList(
            self._array_list(), False, False, self._no_quantiles, self._array_list()
        )
        out = []
        for i in range(seq.length()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid < first_stage_id:
                break  # the store lists stages by descending id
            desc = s.description()
            out.append(
                {
                    "stage_id": sid,
                    "status": s.status().toString(),
                    "tasks": s.numTasks(),
                    "executor_cpu_s": s.executorCpuTime() / 1e9,
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "input_bytes": s.inputBytes(),
                    "description": desc.get() if desc.isDefined() else None,
                }
            )
        return out


def host_cpu() -> dict[str, float]:
    """Seconds of CPU time the whole machine (every core) spent busy, idle
    and stolen by the hypervisor, from the first line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) / _CLK for x in f.readline().split()[1:9]
        )
    return {
        "busy": user + nice + system + irq + softirq,
        "idle": idle + iowait,
        "steal": steal,
    }
