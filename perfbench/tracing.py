"""Spans around calls into the package's layers, and a process-tree memory
sampler.

Spans are recorded from the benchmark's side of each public call; the
package itself is not instrumented.  Each span gets its own Spark job group,
so the jobs and tasks it caused are counted through the status tracker.
Jobs submitted from threads the package starts itself carry no group; they
are charged to the innermost span open when they are first seen.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent, op id, jobs, tasks, and
    the ids of the SQL executions they ran) in memory.  Disabled, every
    method is a pass-through, so one workload code path serves the
    untraced and the traced run."""

    def __init__(self, spark):
        self.on = False
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op = "setup"
        self._stack: list[int] = []
        self._cached: list = []
        self._seen_ungrouped: set[int] = set()
        self._counted_stages: set[int] = set()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def enable(self, on: bool) -> None:
        """Turn tracing on or off; jobs run while it was off are never
        charged to a span."""
        self.on = on
        if on:
            self._seen_ungrouped = set(self._tracker().getJobIdsForGroup(None))

    def _tracker(self):
        return self.sc.statusTracker()

    def _set_group(self, idx: int | None) -> None:
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{idx}", self.spans[idx]["name"])

    def _count(self, idx: int) -> tuple[int, int]:
        st = self._tracker()
        jobs = set(st.getJobIdsForGroup(f"span-{idx}"))
        ungrouped = set(st.getJobIdsForGroup(None)) - self._seen_ungrouped
        self._seen_ungrouped |= ungrouped
        jobs |= ungrouped
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (list(info.stageIds) if info else []):
                if s in self._counted_stages:
                    continue
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    self._counted_stages.add(s)
                    tasks += sinfo.numCompletedTasks
        return len(jobs), tasks

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "op": self.op, "parent": parent,
                           "start": time.perf_counter(), "end": None,
                           # execution ids count up from 0; a run stays
                           # below the 1000 the SQL status store retains
                           "sql": [self._sql.executionsCount(), None]})
        self._stack.append(idx)
        self._set_group(idx)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self.spans[idx]["sql"][1] = self._sql.executionsCount()
            self._stack.pop()
            self.spans[idx]["jobs"], self.spans[idx]["tasks"] = self._count(idx)
            self._set_group(parent)

    def force(self, name: str, build):
        """Call ``build()`` (a layer call returning a DataFrame).  Traced:
        inside a span named ``name``, so eager work the call does is
        charged to it, and materialize the result (persist + count) there
        too.  Untraced: return the frame unchanged, so the plan stays lazy
        and fused."""
        if not self.on:
            return build()
        with self.span(name):
            df = build().persist()
            df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        """Unpersist every frame :meth:`force` cached (end of an op)."""
        while self._cached:
            self._cached.pop().unpersist()

    def python_rows(self, names: tuple[str, ...]) -> float:
        """Median over ops of the rows that Python stages (``mapInPandas``,
        pandas UDFs, grouped ``applyInPandas``) output inside the spans
        named ``names``: the "number of output rows" SQL metric of every
        Python plan node of the SQL executions those spans ran.  A frame
        read back from cache runs no Python stage and adds nothing."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        per_op: dict[str, int] = {}
        for s in self.spans:
            if s["name"] in names:
                rows = sum(self._python_rows(e) for e in range(*s["sql"]))
                per_op[s["op"]] = per_op.get(s["op"], 0) + rows
        return statistics.median(per_op.values()) if per_op else 0.0

    def _python_rows(self, execution_id: int) -> int:
        values = self._sql.executionMetrics(execution_id)
        nodes = self._sql.planGraph(execution_id).allNodes()
        rows = 0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not any(w in node.name() for w in ("Python", "Pandas", "Arrow")):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    rows += int(v.get().replace(",", ""))
        return rows

    def self_times(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the time child spans
        cover (children run sequentially on the one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [{**s, "dur_s": s["end"] - s["start"],
                 "self_s": s["end"] - s["start"] - child[i]}
                for i, s in enumerate(self.spans)]

    def per_op_medians(self) -> dict[str, float]:
        """For every span name: the median over ops (setup repetitions
        count as ops) of the per-op sums of self time, jobs and tasks;
        keys ``<name>_s``, ``<name>.jobs`` and ``<name>.tasks``."""
        sums: dict[str, dict[str, list[float]]] = {}
        for s in self.self_times():
            per = sums.setdefault(s["name"], {})
            acc = per.setdefault(s["op"], [0.0, 0, 0])
            acc[0] += s["self_s"]
            acc[1] += s["jobs"]
            acc[2] += s["tasks"]
        out = {}
        for name, per in sums.items():
            vals = list(per.values())
            out[f"{name}_s"] = statistics.median(v[0] for v in vals)
            out[f"{name}.jobs"] = statistics.median(v[1] for v in vals)
            out[f"{name}.tasks"] = statistics.median(v[2] for v in vals)
        return out


def descendants(root: int) -> list[int]:
    """Pids of every running process below ``root`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if state != "Z":                  # exited, only waiting to be reaped
            children.setdefault(int(ppid), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and its descendants: each
    process's resident pages, with pages shared between processes (the
    forked Python workers) split among their sharers, so the sum counts
    every resident page once."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process tree (driver, JVM,
    Python workers) every ``interval`` seconds on a daemon thread;
    ``peak`` is the largest total seen, in bytes."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
