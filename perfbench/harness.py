"""One benchmark run: set-up, warm cycles, timed cycles, and the numbers.

A cycle is one pass of the workload's operations; ``Run.op`` times each
operation (wall, process-tree CPU, PSS peak, JVM heap peak) and records the
verdict on its answer. Set-up time counts from interpreter start to the
start of the first timed cycle. Over the untraced timed cycles that did
not raise, time is the minimum (the host's other tenants only ever slow a
cycle down), CPU and peak PSS the medians.
"""

from __future__ import annotations

import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

import layers
from host import CLASSES, WORK_CLASSES, JvmHeap, ProcTree, PssSampler, cpu_steal
from spans import Tracer
from workloads import WORKLOADS

# the JVM keeps speeding up for many cycles, and no cycle-to-cycle test
# tells reliably where that stops; each run instead warms with exactly one
# (cold) cycle, so every run times the same stretch of the warm-up curve
#
# On a slow host a run starts no timed cycle, past its first one (past its
# first traced one in a traced run), that would end after RUN_CAP_S if it
# took as long as the last, so that a run stays near a minute: the full
# measurement, 22 runs of each workload and 4 more, must end within 57
# minutes.
RUN_CAP_S = 66.0


class Op:
    """One timed operation and the verdict on its answer."""

    def __init__(self, rec: dict) -> None:
        self.rec = rec

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.rec["ok"] = False
            self.rec.setdefault("errors", []).append(message)
            print(f"perfbench: wrong answer in {self.rec['kind']}: {message}",
                  file=sys.stderr)


class Run:
    def __init__(self, spark, work: Path, seed: int, seconds: float,
                 trace: bool, t0: float) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t0 = t0
        self.tree = ProcTree()
        self.sampler = PssSampler(self.tree)
        self.heap = JvmHeap(spark.sparkContext)
        self.tracer = Tracer(spark.sparkContext, self.tree, enabled=False)
        self.ops: list[dict] = []
        self.cycles: list[dict] = []
        self.phase = "warm"
        self.sample_codec_mix: dict = {}

    @contextmanager
    def op(self, kind: str):
        rec = {
            "kind": kind, "cycle": len(self.cycles), "phase": self.phase,
            "traced": self.tracer.enabled, "ok": True,
        }
        self.ops.append(rec)
        self.heap.reset()
        cpu0 = self.tree.cpu()
        self.sampler.active.set()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind):
                yield Op(rec)
        except Exception:
            rec["ok"] = False
            raise
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            cpu1 = self.tree.cpu()
            self.sampler.sample()
            self.sampler.active.clear()
            rec["cpu_s"] = {c: cpu1[c] - cpu0[c] for c in cpu0}
            rec["heap_peak_mb"] = self.heap.peak_mb()

    def _cycle(self, workload) -> dict:
        i = len(self.cycles)
        start = time.perf_counter()
        start_s = start - self.t0
        try:
            workload.cycle(i)
            raised = False
        except Exception as e:
            # an answer check that raises (a decode that throws, a torn
            # sink) is a failed operation like a wrong answer; the cycle's
            # partial wall is kept out of the medians
            traceback.print_exc()
            raised = True
            self.ops.append({
                "kind": "cycle", "cycle": i, "phase": self.phase,
                "traced": self.tracer.enabled, "ok": False,
                "errors": [f"{type(e).__name__}: {e}"],
                "wall_s": 0.0, "cpu_s": dict.fromkeys(CLASSES, 0.0),
                "heap_peak_mb": 0.0,
            })
        ops = [o for o in self.ops if o["cycle"] == i]
        cyc = {
            "cycle": i, "phase": self.phase, "traced": self.tracer.enabled,
            "start_s": start_s,
            "wall_s": sum(o["wall_s"] for o in ops),
            # the work's CPU, without the JIT compiler threads
            "cpu_s": sum(o["cpu_s"][c] for o in ops for c in WORK_CLASSES),
            "jit_cpu_s": sum(o["cpu_s"]["jit"] for o in ops),
            "peak_pss": self.sampler.take(),
            "heap_peak_mb": max((o["heap_peak_mb"] for o in ops), default=0.0),
            "raised": raised,
            "elapsed_s": time.perf_counter() - start,  # with the checks
        }
        self.cycles.append(cyc)
        return cyc

    def timed(self, traced: bool) -> list[dict]:
        return [
            c for c in self.cycles
            if c["phase"] == "timed" and c["traced"] == traced and not c["raised"]
        ]

    def timed_walls(self, kind: str) -> list[float]:
        return [
            o["wall_s"] for o in self.ops
            if o["kind"] == kind and o["phase"] == "timed" and not o["traced"]
        ]

    def execute(self, name: str) -> dict:
        workload = WORKLOADS[name](self)
        phases = {"session_s": time.perf_counter() - self.t0}
        with self.sampler:
            workload.build()
            phases["build_s"] = time.perf_counter() - self.t0 - phases["session_s"]
            warm = [self._cycle(workload)]
            setup_s = time.perf_counter() - self.t0
            phases["warm_s"] = setup_s - phases["build_s"] - phases["session_s"]
            self.phase = "timed"
            steal0 = cpu_steal()
            # --seconds of timed work, as a whole number of cycles of the
            # workload's nominal length: the count does not vary with the
            # host's speed, so every run times the same cycles
            n_timed = max(1, round(self.seconds / workload.cycle_s))
            raised = any(c["raised"] for c in warm)
            cyc = None
            while not raised:
                # a traced run alternates untraced and traced cycles, so
                # each traced cycle lies between two untraced ones, and it
                # ends on an untraced one
                if cyc is not None:
                    k = len(self.timed(False)) + len(self.timed(True))
                    bracketed = not self.trace or (
                        bool(self.timed(True)) and not cyc["traced"]
                    )
                    late = time.perf_counter() - self.t0 + cyc["elapsed_s"] > RUN_CAP_S
                    if bracketed and (k >= n_timed or late):
                        break
                    self.tracer.enabled = self.trace and not cyc["traced"]
                cyc = self._cycle(workload)
                raised = cyc["raised"]
            self.tracer.enabled = False
            steal1 = cpu_steal()

            untraced = self.timed(False)
            e2e = {
                "setup_s": (setup_s, "s"),
                "job_s": (min((c["wall_s"] for c in untraced), default=0.0), "s"),
                "job_cpu_s": (layers.median([c["cpu_s"] for c in untraced]), "CPU-s"),
                "peak_pss_mb": (
                    layers.median([c["peak_pss"].get("total", 0.0) for c in untraced]),
                    "MB",
                ),
            }
            # after a cycle raised, the workload's own numbers may be
            # missing; the run is reported, as failed, without them
            if not raised:
                e2e |= workload.end_to_end()
            result = {
                "e2e": e2e,
                "setup_phases_s": phases,
                "warm_walls_s": [c["wall_s"] for c in warm],
                # share of the host's CPU time the hypervisor gave to other
                # guests while the timed cycles ran: context for slow runs
                "timed_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            }
            if self.trace:
                result["layers"] = {} if raised else self._layers(workload)
                result["spans"] = self.tracer.spans
        attempted = len(self.ops)
        failed = sum(not o["ok"] for o in self.ops)
        e2e["failed_op_ratio"] = (failed / max(1, attempted), "ratio")
        result.update(attempted=attempted, failed=failed, ops=self.ops, cycles=self.cycles)
        result["determinism"] = getattr(workload, "first_sig", None)
        return result

    def _layers(self, workload) -> dict:
        self.tracer.finish()
        traced = self.timed(True)
        ops = [o for o in self.ops if o["traced"]]
        # a layer the workload does not run reads 0
        out = dict.fromkeys(layers.PER_LAYER, 0.0)
        out |= layers.common(self.tracer, ops, traced)
        out |= workload.layer_metrics(self.tracer)
        probe, mix = layers.codec_probe(workload.sample_chunk(), workload.bloom_column)
        out |= probe
        # each traced cycle against the mean of the untraced cycles on
        # either side of it, so the engine's remaining warm-up cancels
        timed = [c for c in self.cycles if c["phase"] == "timed" and not c["raised"]]
        brackets = [
            (c["wall_s"], (a["wall_s"] + b["wall_s"]) / 2)
            for a, c, b in zip(timed, timed[1:], timed[2:])
            if c["traced"] and not a["traced"] and not b["traced"]
        ]
        out["trace.job_s"] = layers.median([t for t, _ in brackets])
        out["trace.untraced_job_s"] = layers.median([u for _, u in brackets])
        out["trace.overhead_s"] = layers.median([t - u for t, u in brackets])
        self.sample_codec_mix = mix
        return {k: (out[k], unit) for k, unit in layers.PER_LAYER.items()}
