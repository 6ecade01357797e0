"""Spans around the harness's calls into the engine, and the Spark stage
metrics of the jobs each span ran.

Every span runs its jobs under its own Spark job group, so after the run
the status store maps each span to its stages: executor run and CPU time,
output bytes, shuffle bytes, spill, and per-task run-time quantiles. Spans
also record the process tree's CPU by class (driver, jvm, jit, pyworkers)
from ``/proc``. Stage input bytes are not read: parquet's vectored reads run
off the task thread and outside Hadoop's file statistics, so Spark counts
only footer reads. Everything stays in memory until ``finish()``.

With tracing off, ``span()`` does nothing: no job groups, no /proc reads.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from host import CLASSES, ProcTree

_STAGE_FIELDS = {
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "output_mb": ("outputBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
}


class Tracer:
    def __init__(self, sc, tree: ProcTree, enabled: bool) -> None:
        self.sc = sc
        self.tree = tree
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(_group(sid), name)
        cpu0 = self.tree.cpu()
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            cpu1 = self.tree.cpu()
            rec["cpu_s"] = {c: cpu1[c] - cpu0[c] for c in CLASSES}
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(_group(self._stack[-1]), "")
            else:
                self.sc._jsc.clearJobGroup()

    def finish(self) -> None:
        """Attach each span's own stages (not its children's) with their
        metrics, read back from the status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        groups = {_group(rec["id"]) for rec in self.spans}
        by_group: dict[str, set[int]] = {}
        jobs = store.jobsList(jvm.java.util.ArrayList())
        for i in range(jobs.length()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if group.isDefined() and group.get() in groups:
                ids = job.stageIds()
                by_group.setdefault(group.get(), set()).update(
                    ids.apply(k) for k in range(ids.length())
                )
        wanted = set().union(*by_group.values())
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        metrics: dict[int, dict] = {}
        for i in range(stages.length()):
            s = stages.apply(i)
            if s.stageId() not in wanted:
                continue
            m = metrics.setdefault(
                s.stageId(), dict.fromkeys(_STAGE_FIELDS, 0.0) | {"tasks": 0}
            )
            for key, (field, scale) in _STAGE_FIELDS.items():
                m[key] += getattr(s, field)() * scale
            m["tasks"] += s.numCompleteTasks()
            summary = store.taskSummary(s.stageId(), s.attemptId(), quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                m["task_p50_s"], m["task_max_s"] = rt.apply(0) / 1e3, rt.apply(1) / 1e3
        for rec in self.spans:
            rec["stages"] = [
                {"stage_id": sid} | metrics[sid]
                for sid in sorted(by_group.get(_group(rec["id"]), ()))
                if sid in metrics
            ]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def _group(sid: int) -> str:
    return f"perfbench-span-{sid}"

