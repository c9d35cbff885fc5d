"""Measurements taken from outside the program: Spark's own counters
read through the Spark JVM, and the resident memory of the process tree.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

# StageData getters summed per job group; seconds are converted below
_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "spill_bytes": ("diskBytesSpilled", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "output_rows": ("outputRecords", 1),
}


class SparkCounters:
    """Per-job-group deltas of Spark's status store, codegen counters and
    the JVM's JIT and GC beans (in local mode the one Spark JVM also runs
    the executors, so these cover the tasks too)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gc = list(mf.getGarbageCollectorMXBeans())
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._n = 0

    def new_group(self) -> str:
        """Tag the jobs this thread starts from now on with a fresh group."""
        self._n += 1
        group = f"bench-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def jvm_totals(self) -> dict:
        return {
            "codegen_classes": float(self._codegen_hist.getCount()),
            "codegen_compile_s": self._codegen.compileTime() / 1e9,
            "jit_compile_s": self._jit.getTotalCompilationTime() / 1e3,
            "gc_s": sum(b.getCollectionTime() for b in self._gc) / 1e3,
        }

    def group_totals(self, group: str) -> dict:
        """Jobs, stages, tasks and summed stage metrics of ``group``, after
        the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty()
        out = {k: 0.0 for k in _STAGE_FIELDS}
        out.update(jobs=0.0, stages=0.0, tasks=0.0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            job = self._store.job(job_id)
            for sid in self._conv.asJava(job.stageIds()):
                stage = self._store.lastStageAttempt(sid)
                if str(stage.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                for k, (getter, scale) in _STAGE_FIELDS.items():
                    out[k] += getattr(stage, getter)() * scale
        return out


def descendants(root: int) -> dict[int, int]:
    """{pid: parent pid} of every live descendant of ``root`` (children,
    grandchildren, ...), read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = {}, [root]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            out[c] = parent
            todo.append(c)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss(root: int, skip: int | None = None) -> int:
    """Summed RSS of every descendant of ``root`` except ``skip``. A JVM
    child still running the JVM's binary is a fork about to exec a shell
    command (Hadoop's file-permission calls): its RSS is the JVM's own
    pages counted a second time, so it is left out too."""
    total = 0
    for pid, parent in descendants(root).items():
        exe = _exe(pid)
        if pid == skip or (os.path.basename(exe) == "java" and exe == _exe(parent)):
            continue
        total += rss_bytes(pid)
    return total


SAMPLE_INTERVAL_S = 0.25


class RssSampler:
    """Peak ``tree_rss`` of this process's descendants (the Spark JVM and
    the Python workers it forks) while the block runs. The
    benchmark's own process, which holds the reference data, is not
    counted. Sampling runs in a child process so that it never competes
    with the benchmark's main thread for the interpreter lock."""

    peak = 0

    def __enter__(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate("", timeout=60)
        self.peak = int(out)


def _sample_until_eof(root: int) -> int:
    """Sample ``tree_rss(root)`` every SAMPLE_INTERVAL_S until standard
    input closes; returns the peak."""
    done = threading.Event()
    threading.Thread(target=lambda: (sys.stdin.read(), done.set()), daemon=True).start()
    peak = 0
    while True:
        peak = max(peak, tree_rss(root, skip=os.getpid()))
        if done.wait(SAMPLE_INTERVAL_S):
            return max(peak, tree_rss(root, skip=os.getpid()))


if __name__ == "__main__":
    print(_sample_until_eof(int(sys.argv[1])))
