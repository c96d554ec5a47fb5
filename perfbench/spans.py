"""Spans around calls into the program's layers, with Spark counters.

A `Tracer` records one span per call the benchmark makes into a
layer's public function: name, layer, start, end, parent span and
run id. Spans stay in memory and are written out when the run ends.

With tracing on, each span also carries the Spark work it caused:
jobs, executed stages, tasks, shuffle-write bytes and spill bytes,
read from the status tracker and the application status store after
the span has closed — outside its timed interval. The time spent
reading them is charged to no span (`collect_s`), so self times stay
clean, but it does lengthen the enclosing benchmark timers; that is
the tracing overhead the run reports.

With tracing off, `span` only takes two clock readings, so the
untraced runs that give the end-to-end metrics pay no collection
cost.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes")
STREAM_COUNTERS = ("microbatches", "add_batch_ms", "wal_commit_ms", "state_rows",
                   "dropped_late_rows")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    child_s: float = 0.0  # time covered by direct children
    collect_s: float = 0.0  # direct children's counter reads, which ran inside it

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s - self.collect_s


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


class SparkCounters:
    """Reads job, stage, task, shuffle and spill counters for the jobs
    started since the previous read, and the streaming progress
    reports delivered since then to a `StreamingQueryListener`."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        self._next_job = jsc.dagScheduler().numTotalJobs()
        self._progress: list = []
        spark.streams.addListener(_progress_listener(self._progress))

    def read(self) -> dict:
        # drain the listener bus so every finished job's stage data
        # and every progress report has been delivered
        self._jsc.listenerBus().waitUntilEmpty()
        total = self._jsc.dagScheduler().numTotalJobs()
        out = dict.fromkeys(COUNTERS + STREAM_COUNTERS, 0)
        for p in self._progress:
            out["microbatches"] += 1
            out["add_batch_ms"] += p.durationMs.get("addBatch", 0)
            out["wal_commit_ms"] += p.durationMs.get("walCommit", 0)
            for op in p.stateOperators:
                out["state_rows"] = max(out["state_rows"], op.numRowsTotal)
                out["dropped_late_rows"] += op.numRowsDroppedByWatermark
        self._progress.clear()
        for job_id in range(self._next_job, total):
            out["jobs"] += 1
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(stage_id)
                except Exception:  # stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._next_job = total
        return out


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._counters: SparkCounters | None = None
        self.collect_s = 0.0

    def attach(self, spark) -> None:
        """Start counting Spark work (traced runs only)."""
        if self.enabled:
            self._counters = SparkCounters(spark)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next_id, name, layer, parent.id if parent else None,
                  time.perf_counter())
        self._next_id += 1
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.duration
            self.spans.append(sp)
            if self._counters is not None:
                t0 = time.perf_counter()
                sp.counters = self._counters.read()
                dt = time.perf_counter() - t0
                self.collect_s += dt
                if parent is not None:  # the read ran inside the parent only
                    parent.collect_s += dt

    # ------------------------------------------------------- reports

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time_table(self) -> dict[str, dict]:
        """Per layer: span count, total and self seconds, and the
        counters summed over the layer's spans."""
        table: dict[str, dict] = defaultdict(
            lambda: {"spans": 0, "total_s": 0.0, "self_s": 0.0,
                     **dict.fromkeys(COUNTERS + STREAM_COUNTERS, 0)}
        )
        for s in self.spans:
            row = table[s.layer]
            row["spans"] += 1
            row["total_s"] += s.duration
            row["self_s"] += s.self_s
            for k in COUNTERS + STREAM_COUNTERS:
                row[k] += s.counters.get(k, 0)
        return dict(table)

    def write(self, out_dir: str, extra: dict) -> None:
        os.makedirs(out_dir, exist_ok=True)
        spans = [
            {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
             "run_id": self.run_id, "start": s.start, "end": s.end,
             "self_s": s.self_s, **s.counters}
            for s in self.spans
        ]
        with open(os.path.join(out_dir, "spans.json"), "w") as fh:
            json.dump(spans, fh)
        table = self.self_time_table()
        with open(os.path.join(out_dir, "self_time.json"), "w") as fh:
            json.dump({"run_id": self.run_id, "layers": table, "collect_s": self.collect_s,
                       **extra}, fh, indent=1, sort_keys=True)
        lines = [f"{'layer':<24}{'spans':>7}{'self_s':>10}{'total_s':>10}"
                 f"{'jobs':>7}{'stages':>8}{'tasks':>8}{'shuffle_B':>12}{'spill_B':>10}"]
        for layer, r in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
            lines.append(
                f"{layer:<24}{r['spans']:>7}{r['self_s']:>10.3f}{r['total_s']:>10.3f}"
                f"{r['jobs']:>7}{r['stages']:>8}{r['tasks']:>8}"
                f"{r['shuffle_write_bytes']:>12}{r['spill_bytes']:>10}"
            )
        lines.append(f"counter collection (outside spans): {self.collect_s:.3f}s")
        with open(os.path.join(out_dir, "self_time.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
