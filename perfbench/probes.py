"""Readers for what the benchmark measures from outside the engine:
``/proc`` (process-tree CPU, guest steal, JVM memory, Python workers)
and Spark's own status store and query-execution tracker.
"""

from __future__ import annotations

import os
import re
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """``(ppid, comm, cpu_s)`` of one process, where ``cpu_s`` counts its
    user and system time plus that of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm is parenthesised and may hold spaces: split after its last ')'.
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    cpu = sum(int(x) for x in rest[11:15]) / _TICK
    return int(rest[1]), comm, cpu


def process_table() -> dict[int, tuple[int, str, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(table: dict, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


def tree_cpu_s(root: int = 0) -> float:
    """CPU seconds of ``root`` (default: this process) and every live
    descendant. A dead descendant's time is already in its parent's
    reaped-children counters, so nothing is counted twice."""
    root = root or os.getpid()
    table = process_table()
    return sum(table[p][2] for p in descendants(table, root) | {root} if p in table)


def python_workers(jvm_pid: int) -> dict[int, float]:
    """pid -> CPU seconds of the Python processes the JVM started (the
    PySpark daemon and the workers it forks)."""
    table = process_table()
    return {
        p: table[p][2]
        for p in descendants(table, jvm_pid)
        if table[p][1].startswith("python")
    }


def jvm_peak_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as f:
        m = re.search(r"VmHWM:\s+(\d+) kB", f.read())
    return int(m.group(1)) / 1024 if m else 0.0


def cpu_times() -> tuple[int, int]:
    """``(steal, total)`` jiffies of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already inside user, so the total stops at steal.
    return vals[7], sum(vals[:8])


def calibrate() -> float:
    """Seconds for a fixed single-thread loop: a host-speed reference
    taken before and after the timed window, so a wall-time swing
    between runs can be attributed to the host rather than asserted."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


# ---------------------------------------------------------------- Spark


class StatusReader:
    """Reads jobs and stages that Spark's status store gained since the
    previous call. Both lists come back newest first, so each call only
    touches the new entries."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._last_job = self._max_job_id()
        self._last_stage = self._max_stage_id()

    def _drain(self) -> None:
        # The status store is fed asynchronously by the listener bus;
        # wait for it so a just-finished stage is complete when read.
        try:
            self._jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 — a timeout only delays the read
            pass

    def _jobs(self):
        return self._store.jobsList(None)

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def _max_job_id(self) -> int:
        jobs = self._jobs()
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_stage_id(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def new_activity(self) -> dict:
        """Counts and metric totals for jobs and stages since the last call."""
        self._drain()
        out = dict(jobs=0, last_job_end=None, stages=0, tasks=0,
                   failed_tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                   input_rows=0, input_bytes=0, shuffle_write=0, shuffle_read=0,
                   spill=0)
        jobs = self._jobs()
        top_job = self._last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            top_job = max(top_job, jid)
            out["jobs"] += 1
            done = j.completionTime()
            if done.isDefined():
                end = done.get().getTime() / 1000
                out["last_job_end"] = max(out["last_job_end"] or end, end)
        self._last_job = top_job
        stages = self._stages()
        top_stage = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top_stage = max(top_stage, sid)
            if s.status().name() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_rows"] += s.inputRecords()
            out["input_bytes"] += s.inputBytes()
            out["shuffle_write"] += s.shuffleWriteBytes()
            out["shuffle_read"] += s.shuffleReadBytes()
            out["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._last_stage = top_stage
        return out


def catalyst(df) -> dict:
    """Phase spans and final-plan shape of one collected DataFrame."""
    qe = df._jdf.queryExecution()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        p = kv._2()
        phases[kv._1()] = (p.startTimeMs() / 1000, p.endTimeMs() / 1000)
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    lines = [ln for ln in plan.treeString().splitlines() if ln.strip()]
    exchanges = sum(
        1 for ln in lines if re.match(r"[\s:+\-|]*(\w*Exchange)\b", ln)
    )
    return {"phases": phases, "plan_nodes": len(lines), "exchanges": exchanges}


def files_since(root: str, since: float) -> tuple[int, int]:
    """``(files, bytes)`` of data files under ``root`` modified at or
    after ``since``; checksums and commit markers are not data."""
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.startswith((".", "_")):
                continue
            try:
                st = os.stat(os.path.join(dirpath, name))
            except OSError:
                continue
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size


def alive(pids) -> bool:
    """Whether any of ``pids`` still runs (a zombie has ended)."""
    for pid in pids:
        st = None
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        if st[st.rindex(")") + 2] != "Z":
            return True
    return False
