"""Spans around the benchmark's calls into each layer, with the Spark stage
metrics of the jobs each span ran.

A span sets the job group ``<workload>:<layer>`` for its duration, then
reads the stages of the group's new jobs from the status store right away
(old stages are evicted). Where the store is not reachable the span keeps
its wall time and reports the stage metrics as missing; it never raises.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Per-span quantities that add up; ``self`` values are differences of these.
QUANTITIES = ("wall_s", "task_s", "shuffle_bytes", "spill_bytes", "jobs")


@dataclass
class Span:
    wall_s: float = 0.0
    task_s: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    jobs: float = 0.0
    rows_out: float = 0.0
    extra: dict = field(default_factory=dict)


class Tracer:
    """Spans of one traced pass; ``next_pass`` starts another in the same
    session (job ids already read stay excluded)."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.seen_jobs: set[int] = set()
        self.spans: dict[str, Span] = {}
        self.stage_metrics = True

    def next_pass(self) -> dict[str, Span]:
        done, self.spans = self.spans, {}
        return done

    @contextmanager
    def span(self, layer: str):
        group = f"{self.workload}:{layer}"
        s = Span()
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._stage_metrics(group, s)
            self.spans[layer] = s

    def _stage_metrics(self, group: str, s: Span) -> None:
        tracker = self.sc.statusTracker()
        jobs = [j for j in tracker.getJobIdsForGroup(group) if j not in self.seen_jobs]
        self.seen_jobs.update(jobs)
        s.jobs = len(jobs)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        if not self.stage_metrics or not stage_ids:
            return
        try:
            jvm = self.sc._jvm
            stages = self.sc._jsc.sc().statusStore().stageList(
                jvm.java.util.ArrayList(), False, False,
                self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
            )
            for i in range(stages.size()):
                sd = stages.apply(i)
                if sd.stageId() not in stage_ids:
                    continue
                s.task_s += sd.executorRunTime() / 1000.0
                s.shuffle_bytes += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                s.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        except Exception:  # no status store (e.g. Spark Connect): wall time only
            self.stage_metrics = False


def noop(df) -> int:
    """Run ``df`` to the ``noop`` sink and return its row count, observed in
    the same pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"]


def self_metrics(spans: dict[str, Span], minus: dict[str, tuple[str, ...]],
                 rest: str = "cli") -> dict[str, dict]:
    """Each layer's own share: its span minus the spans it contains
    (``minus[layer]``), per additive quantity. The ``rest`` span's own
    share is what it spends beyond the own shares of all other layers."""
    out = {}
    for layer, s in spans.items():
        if layer == rest:
            continue
        # a pass that raised lacks the spans after the failure
        out[layer] = {q: getattr(s, q) - sum(getattr(spans[m], q) for m in minus.get(layer, ())
                                             if m in spans)
                      for q in QUANTITIES}
        out[layer]["rows_out"] = s.rows_out
    if rest in spans:
        out[rest] = {q: getattr(spans[rest], q) - sum(o[q] for o in out.values())
                     for q in QUANTITIES}
        out[rest]["rows_out"] = spans[rest].rows_out
    return out
