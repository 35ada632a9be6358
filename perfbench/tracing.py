"""Spans and Spark status-store readings for the traced run.

Spans are recorded by the benchmark around its calls into each layer
(registry build, Catalyst planning, execution, DAG nodes, writes); the
engine itself is not instrumented.  Spans stay in memory and are written
once at exit.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import time
from collections.abc import Iterator

#: Plan node names that start a shuffle or broadcast (``ReusedExchange``
#: moves no data, so it is not counted).
_EXCHANGE_NODES = {"Exchange", "ShuffleExchange", "BroadcastExchange"}
# tree-drawing prefix, then an optional whole-stage-codegen marker "*(1) "
_NODE_NAME = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w+)")


class Tracer:
    """In-memory span recorder: each span has a name, start, end, parent
    and the id of the op it belongs to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int, **attrs) -> Iterator[None]:
        rec = {
            "id": len(self.spans),
            "op": op,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, op: int, name: str, **match) -> float:
        """Summed duration of the op's spans called ``name`` whose
        attributes equal ``match``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["op"] == op
            and s["name"] == name
            and all(s.get(k) == v for k, v in match.items())
        )


def plan_shape(jplan) -> dict[str, int]:
    """Node and exchange counts of a physical plan (``executedPlan()``)."""
    names = [
        m.group(1)
        for line in jplan.treeString().splitlines()
        if (m := _NODE_NAME.match(line))
    ]
    return {
        "catalyst.plan_nodes": len(names),
        "catalyst.exchanges": sum(n in _EXCHANGE_NODES for n in names),
    }


def exec_metrics(spark, group: str, wall_s: float) -> dict[str, float]:
    """Job, stage and task totals for one job group, read from the
    AppStatusStore after the listener bus has drained."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in job_ids:
        seq = store.job(j).stageIds()
        stage_ids.update(seq.apply(i) for i in range(seq.size()))
    m = {
        "exec.wall_s": wall_s,
        "exec.jobs": len(job_ids),
        "exec.stages": 0,
        "exec.skipped_stages": 0,
        "exec.tasks": 0,
        "exec.failed_tasks": 0,
        "exec.task_run_s": 0.0,
        "exec.task_cpu_s": 0.0,
        "exec.gc_s": 0.0,
        "exec.scheduler_delay_s": 0.0,
        "exec.fetch_wait_s": 0.0,
        "exec.shuffle_read_bytes": 0,
        "exec.shuffle_write_bytes": 0,
        "exec.spill_bytes": 0,
        "exec.task_skew": 1.0,
    }
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            m["exec.skipped_stages"] += 1
            continue
        m["exec.stages"] += 1
        m["exec.tasks"] += sd.numTasks()
        m["exec.failed_tasks"] += sd.numFailedTasks()
        m["exec.task_run_s"] += sd.executorRunTime() / 1e3
        m["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
        m["exec.gc_s"] += sd.jvmGcTime() / 1e3
        m["exec.fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
        m["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
        m["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        m["exec.spill_bytes"] += sd.diskBytesSpilled()
        tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
        durations = []
        for i in range(tasks.size()):
            t = tasks.apply(i)
            m["exec.scheduler_delay_s"] += t.schedulerDelay() / 1e3
            d = t.duration()
            durations.append(d.get() if d.isDefined() else 0)
        if len(durations) >= 2:
            med = statistics.median(durations)
            if med > 0:
                m["exec.task_skew"] = max(m["exec.task_skew"], max(durations) / med)
    cores = sc.defaultParallelism
    m["exec.cpu_busy"] = m["exec.task_cpu_s"] / (wall_s * cores) if wall_s > 0 else 0.0
    return m


def file_stats(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``root``
    (hidden and ``_``-prefixed bookkeeping files excluded)."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_files(before: dict, after: dict) -> tuple[int, int]:
    """(count, bytes) of files that are new or changed between two
    :func:`file_stats` snapshots."""
    changed = [p for p, st in after.items() if before.get(p) != st]
    return len(changed), sum(after[p][0] for p in changed)


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``."""
    children = _children_map()
    out: list[int] = []
    todo = list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given live processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
