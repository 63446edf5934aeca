"""Stage metrics from Spark's status store, and process figures from /proc.

Everything here is read after the action has finished, from state Spark
and the kernel already keep: no extra Spark job is started.  The status
store is reachable with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class StageStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0          # executor run time
    cpu_s: float = 0.0          # executor CPU time (JVM task threads)
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    # (total run s, median task s, max task s) per stage
    task_times: list[tuple[float, float, float]] = field(default_factory=list)

    def add(self, other: "StageStats") -> "StageStats":
        for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_write_bytes", "spill_bytes", "input_records",
                  "output_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_times += other.task_times
        return self

    @property
    def task_skew(self) -> float:
        """max / median task run time of the stage with the most run time."""
        if not self.task_times:
            return 0.0
        _, med, mx = max(self.task_times)
        return mx / med if med > 0 else 0.0


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def collect(spark, group_pred) -> dict[str, StageStats]:
    """Per job group (for groups where ``group_pred(group)`` holds):
    stage, task, time, shuffle, spill and I/O totals of its jobs."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stage_group: dict[int, str] = {}
    out: dict[str, StageStats] = {}
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        g = g.get() if g.isDefined() else None
        if g is None or not group_pred(g):
            continue
        out.setdefault(g, StageStats()).jobs += 1
        for sid in _seq(job.stageIds()):
            stage_group[sid] = g
    if not stage_group:
        return out
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    for st in _seq(store.stageList(None, True, True, q, None)):
        g = stage_group.get(st.stageId())
        if g is None or str(st.status()) != "COMPLETE":
            continue
        s = out[g]
        s.stages += 1
        s.tasks += st.numCompleteTasks()
        s.run_s += st.executorRunTime() / 1e3
        s.cpu_s += st.executorCpuTime() / 1e9
        s.gc_s += st.jvmGcTime() / 1e3
        s.shuffle_write_bytes += st.shuffleWriteBytes()
        s.spill_bytes += st.diskBytesSpilled()
        s.input_records += st.inputRecords()
        s.output_bytes += st.outputBytes()
        d = st.taskMetricsDistributions()
        if d.isDefined():
            rt = _seq(d.get().executorRunTime())
            s.task_times.append((st.executorRunTime() / 1e3,
                                 rt[0] / 1e3, rt[1] / 1e3))
    return out


def merged(groups: dict[str, StageStats], pred=lambda g: True) -> StageStats:
    total = StageStats()
    for g, s in groups.items():
        if pred(g):
            total.add(s)
    return total


# --------------------------------------------------------------- /proc

def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def _children(pid: int) -> list[int]:
    kids = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return kids


def process_tree(pid: int) -> list[int]:
    """``pid`` and its live descendants (the JVM and its Python workers)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            todo += _children(p)
        except OSError:
            pass
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over the JVM and its Python worker processes."""
    return sum(_status_kb(p, "VmHWM") for p in process_tree(pid)) / 1024


def read_bytes(pid: int) -> int:
    """Bytes the process has read through read(2) and kin (/proc rchar).
    Spark's own input-bytes metric counts only the footers of a
    vectorized parquet scan."""
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


def cpu_s(pid: int) -> float:
    """user + system CPU seconds of the JVM and its Python workers
    (live ones, plus exited ones their parent has reaped)."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / _TICK
