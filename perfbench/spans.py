"""Tracing for the ``--trace 1`` run: spans around every call the harness
makes into a layer, Spark's per-batch progress, and stage metrics.

Spans live in memory (``Tracer.spans``) and are written once, at the end
of the run. Nothing here reaches inside the package: spans wrap the public
calls, sinks are wrapped by a delegating sink, and Spark's own numbers come
from a ``StreamingQueryListener`` and the application status store.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class TracedSink:
    """Delegating sink: a span per ``write_batch``; a batch id seen before
    is a redelivery, which the wrapped exactly-once sink skips."""

    def __init__(self, inner, name: str, tracer: Tracer):
        self.inner, self.name, self.tracer = inner, name, tracer
        self.seen: set[int] = set()
        self.redelivered = 0

    def write_batch(self, df, batch_id: int) -> None:
        if batch_id in self.seen:
            self.redelivered += 1
        self.seen.add(batch_id)
        with self.tracer.span(f"sink.{self.name}.write_batch", op=batch_id):
            self.inner.write_batch(df, batch_id)

    def close(self) -> None:
        self.inner.close()


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressRecorder(StreamingQueryListener):
    """Keeps every micro-batch's progress as a plain dict."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators
        self.batches.append(
            {
                "batch_id": p.batchId,
                "start": _epoch(p.timestamp),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_mb": sum(o.memoryUsedBytes for o in ops) / 2**20,
                "state_updated": sum(o.numRowsUpdated for o in ops),
                "state_removed": sum(o.numRowsRemoved for o in ops),
                "state_dropped": sum(o.numRowsDroppedByWatermark for o in ops),
            }
        )

    def wait_for(self, n: int, timeout: float = 10.0) -> None:
        """Progress events arrive asynchronously; wait until ``n`` are in."""
        end = time.time() + timeout
        while len(self.batches) < n and time.time() < end:
            time.sleep(0.05)


class StageMeter:
    """Totals of the stages and jobs Spark completed since the last read,
    from the application status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.last_stage = max((s.stageId() for s in self._new_stages(-1)), default=-1)
        self.last_job = max((j.jobId() for j in self._new_jobs(-1)), default=-1)

    def _new_stages(self, last: int):
        gw = self.sc._gateway
        seq = self.store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        return self._newer(seq, lambda s: s.stageId(), last)

    def _new_jobs(self, last: int):
        return self._newer(self.store.jobsList(None), lambda j: j.jobId(), last)

    @staticmethod
    def _newer(seq, ident, last: int):
        """Entries whose ``ident`` is above ``last``; the store lists newest first."""
        it = seq.iterator()
        while it.hasNext():
            entry = it.next()
            if ident(entry) <= last:
                return
            yield entry

    def read(self) -> dict:
        tot = dict(tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0, shuffle_mb=0.0, spill_mb=0.0)
        stages = list(self._new_stages(self.last_stage))
        for s in stages:
            if s.status().toString() != "COMPLETE":
                continue
            tot["tasks"] += s.numTasks()
            tot["run_s"] += s.executorRunTime() / 1e3
            tot["cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["shuffle_mb"] += s.shuffleWriteBytes() / 2**20
            tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        self.last_stage = max([self.last_stage] + [s.stageId() for s in stages])
        jobs = [j.jobId() for j in self._new_jobs(self.last_job)]
        tot["jobs"] = len(jobs)
        self.last_job = max([self.last_job] + jobs)
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        tot["storage_blocks"] = sum(i.numCachedPartitions() for i in infos)
        return tot
