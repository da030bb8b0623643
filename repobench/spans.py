"""Spans around the benchmark's calls into the package, with Spark's own
per-stage counters for the jobs each call started.

A span opens before a call into a public function of a package module and
closes after the benchmark's action on its result. ``returned()`` marks the
moment the function handed back its plan, so ``pre_action_s`` is the time
spent inside the call itself (plan construction plus any eager checkpoint,
count or collect it makes). Every span tags its thread's jobs with a job
group (threads started through ``pyspark.util.inheritable_thread_target``
inherit it); after the span, the jobs of that group are read from
``statusTracker`` and their stages from ``statusStore().lastStageAttempt``,
which work with the UI off. Spans stay in memory until ``summary()``.

With tracing off, ``span()`` only yields a no-op handle, so untraced runs
pay nothing beyond a context manager.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

# per-span metrics, in the order BENCHMARK.json lists them
SPAN_FIELDS = ("self_s", "pre_action_s", "jobs", "task_cpu_s", "offcpu_s", "shuffle_bytes")
_COUNTERS = ("jobs", "run_s", "task_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "offcpu_s")


class _Handle:
    __slots__ = ("t0", "t_ret")

    def __init__(self, t0: float):
        self.t0 = t0
        self.t_ret = None

    def returned(self) -> None:
        if self.t_ret is None:
            self.t_ret = time.perf_counter()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._seq = 0
        self.lookups = 0
        self.hits = 0
        self.phase = "setup"

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext


    def count_artifact_lookups(self, module) -> None:
        """Count published-artifact lookups through ``module._published_meta``
        (the build-once check every artifact writer calls by module-global
        or call-time import), and how many returned a reusable artifact."""
        inner = module._published_meta

        def counted(*args, **kwargs):
            meta = inner(*args, **kwargs)
            self.lookups += 1
            self.hits += meta is not None
            return meta

        module._published_meta = counted

    @contextmanager
    def span(self, name: str):
        """Spans never nest (the benchmark opens one at a time), so a span's
        self time is its wall time."""
        if not self.enabled:
            yield _Handle(0.0)
            return
        self._seq += 1
        group = f"bench-span-{self._seq}"
        sc = self.sc  # None while the session itself is being created
        if sc is not None:
            sc.setJobGroup(group, name)
        h = _Handle(time.perf_counter())
        try:
            yield h
        finally:
            t1 = time.perf_counter()
            rec = {
                "name": name,
                "phase": self.phase,
                "self_s": t1 - h.t0,
                "pre_action_s": (h.t_ret or t1) - h.t0,
            }
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.update(self._stage_counters(group))
            else:
                rec.update(dict.fromkeys(_COUNTERS, 0))
            self.spans.append(rec)

    def _stage_counters(self, group: str) -> dict:
        """Sum Spark's stage counters over the jobs of one job group. The
        listener bus is asynchronous, so wait (bounded) until every job of
        the group has ended before reading its stages."""
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        deadline = time.perf_counter() + 5.0
        for j in job_ids:
            while True:
                info = tracker.getJobInfo(j)
                if info is not None and info.status != "RUNNING":
                    break
                if time.perf_counter() > deadline:
                    break
                time.sleep(0.01)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(_COUNTERS, 0)
        out["jobs"] = len(job_ids)
        for s in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:
                continue  # skipped stage: never attempted
            if sd.status().toString() != "COMPLETE":
                continue
            out["run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["offcpu_s"] = max(0.0, out["run_s"] - out["task_cpu_s"])
        return out

    def summary(self, n_cycles: int) -> tuple[dict, dict]:
        """(per-span medians per call over set-up and measured calls,
        workload totals per measured cycle)."""
        by_name: dict[str, list[dict]] = {}
        for s in self.spans:
            by_name.setdefault(s["name"], []).append(s)
        per_span = {
            name: {f: statistics.median(r[f] for r in recs) for f in SPAN_FIELDS}
            | {"calls": len(recs)}
            for name, recs in by_name.items()
        }
        top = [s for s in self.spans if s["phase"] == "measure"]
        cycles = max(1, n_cycles)
        totals = {
            "gc_s": sum(s["gc_s"] for s in top) / cycles,
            "spill_bytes": sum(s["spill_bytes"] for s in top) / cycles,
            "artifact_lookups": self.lookups,
            "artifact_hits": self.hits,
            "hit_ratio": self.hits / self.lookups if self.lookups else 0.0,
        }
        return per_span, totals
