"""Spans around layer calls, with Spark's own counts for each span.

Each span runs its layer call under a Spark job group of its own, so
the jobs it triggered can be listed afterwards through
`statusTracker()`. Per-stage task, CPU, shuffle and spill figures come
from the status store (`lastStageAttempt`), which works with the UI
off. A figure the store cannot give is left out of the span, never
estimated. Spans stay in memory; the caller writes them out when the
run ends.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

_STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "memoryBytesSpilled",
    "output_bytes": "outputBytes",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, layer: str, parent: str | None = None):
        """Time the enclosed calls as one span of `layer` and attach
        the Spark jobs they triggered. Yields the span dict so the
        caller can add row counts."""
        group = f"kgbench-{next(self._ids)}-{layer}"
        rec = {"name": layer, "id": group, "parent": parent}
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self.sc._jsc.clearJobGroup()
            rec.update(self._job_counts(group))
            self.spans.append(rec)

    def _job_counts(self, group: str) -> dict:
        """Job count of the group, and stage and task figures summed
        over its stages that ran. Stage figures are left out when any
        job or stage of the group cannot be read."""
        from py4j.protocol import Py4JError

        # the status store is filled from the listener bus, which runs
        # behind the actions: drain it so every task of the span counts
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group) or []
        out: dict = {"jobs": len(jobs)}
        infos = [tracker.getJobInfo(job) for job in jobs]
        if None in infos:
            return out
        store = self.sc._jsc.sc().statusStore()
        totals = dict.fromkeys(_STAGE_FIELDS, 0)
        totals["stages"] = 0
        missing: set[str] = set()
        for sid in sorted({sid for info in infos for sid in info.stageIds}):
            try:
                data = store.lastStageAttempt(sid)
            except Py4JError:  # stage evicted from the store
                return out
            if str(data.status()) == "SKIPPED":
                continue
            totals["stages"] += 1
            for key, getter in _STAGE_FIELDS.items():
                try:
                    totals[key] += int(getattr(data, getter)())
                except Py4JError:  # field absent in this Spark version
                    missing.add(key)
        out.update((k, v) for k, v in totals.items() if k not in missing)
        return out
