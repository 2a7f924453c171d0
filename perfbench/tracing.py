"""Layer tracing for the benchmark's traced run, measured from outside the
program.

Each timed call into the program is tagged with its own Spark job group;
after the run, the group's jobs (``statusTracker``) and their stages'
task metrics (the driver's local REST API) give per-layer counts and
busy times.  Spans stay in memory and are written when the run ends.
With tracing off every method is a no-op apart from the clock reads.
"""

from __future__ import annotations

import json
import time
import urllib.request
from urllib.parse import urlparse

# (REST field, per-layer metric, scale to the metric's unit)
STAGE_FIELDS = (
    ("executorRunTime", "spark.executor_run_s", 1e-3),
    ("executorCpuTime", "spark.executor_cpu_s", 1e-9),
    ("jvmGcTime", "spark.jvm_gc_s", 1e-3),
    ("shuffleWriteBytes", "spark.shuffle_write_mb", 1e-6),
    ("memoryBytesSpilled", "spark.spill_mb", 1e-6),
    ("outputBytes", "spark.output_mb", 1e-6),
)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[str] = []       # job groups of the open spans
        self._stages: dict[int, dict] | None = None

    def span(self, name: str):
        """Context manager timing one call; when tracing is on, tags its
        Spark jobs with the job group ``name`` and records the span with
        the enclosing open span as its parent."""
        return _Span(self, name)

    def _enter(self, name: str) -> None:
        self._open.append(name)
        self.spark.sparkContext.setJobGroup(name, name)

    def _exit(self, name: str, t0: float, t1: float) -> None:
        """Record the span and hand job tagging back to the enclosing
        span, so jobs run after it (checks, other spans) are not
        charged to it."""
        self._open.pop()
        self.spans.append({"name": name, "start": t0, "end": t1,
                           "parent": self._open[-1] if self._open else None})
        outer = self._open[-1] if self._open else "untraced"
        self.spark.sparkContext.setJobGroup(outer, outer)

    def job_ids(self, group: str) -> list[int]:
        if not self.enabled:
            return []
        return list(self.spark.sparkContext.statusTracker()
                    .getJobIdsForGroup(group))

    def stage_ids(self, job_ids) -> set[int]:
        tracker = self.spark.sparkContext.statusTracker()
        out: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return out

    def _all_stages(self) -> dict[int, dict]:
        if self._stages is None:
            sc = self.spark.sparkContext
            port = urlparse(sc.uiWebUrl).port
            url = (f"http://127.0.0.1:{port}/api/v1/applications/"
                   f"{sc.applicationId}/stages")
            with urllib.request.urlopen(url, timeout=60) as r:
                rows = json.load(r)
            # one entry per attempt: keep the latest
            self._stages = {}
            for s in sorted(rows, key=lambda s: s["attemptId"]):
                self._stages[s["stageId"]] = s
        return self._stages

    def stage_totals(self, stage_ids) -> dict[str, float]:
        """Summed stage metrics over ``stage_ids`` (skipped stages, which
        never ran, carry no tasks and add nothing)."""
        stages = self._all_stages()
        tot = {m: 0.0 for _, m, _ in STAGE_FIELDS}
        tot["spark.stages"] = 0
        tot["spark.tasks"] = 0
        for sid in stage_ids:
            s = stages.get(sid)
            if s is None or s.get("status") != "COMPLETE":
                continue
            tot["spark.stages"] += 1
            tot["spark.tasks"] += s.get("numCompleteTasks", 0)
            for field, metric, scale in STAGE_FIELDS:
                tot[metric] += s.get(field, 0) * scale
        return tot

    def group_totals(self, groups) -> dict[str, float]:
        jobs = [j for g in groups for j in self.job_ids(g)]
        return self.stage_totals(self.stage_ids(jobs))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        if self.tracer.enabled:
            self.tracer._enter(self.name)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        self.seconds = self.end - self.start
        if self.tracer.enabled:
            self.tracer._exit(self.name, self.start, self.end)
