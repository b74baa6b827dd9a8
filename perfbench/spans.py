"""Spans around calls into the package's layers, with Spark counters.

A span records its name, layer, start, end, parent and run id. Spans are
kept in memory and written once, at the end of a run. Every span owns a
Spark job group, so the jobs (and through them the stages) that ran
inside it can be read back from Spark's own status store afterwards.
A layer's self time is the span duration minus the time its child spans
cover.

``NullTracer`` has the same interface and records nothing; untraced
iterations run with it (``enabled`` is False, so workloads skip the
materialisation and counting they do only for a trace).
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: stage-level counters summed per span (AppStatusStore StageData getters)
STAGE_COUNTERS = (
    "executorRunTime", "jvmGcTime", "inputBytes", "inputRecords",
    "outputBytes", "outputRecords", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "numTasks",
)

#: SQL scan metrics summed per span (SQLAppStatusStore)
SQL_COUNTERS = {"number of files read": "files_read"}


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}/{self.span_id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, layer: str):
        yield None

    def count(self, span, **counts) -> None:
        pass


class Tracer:
    """Records spans and binds each to a Spark job group."""

    enabled = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=len(self.spans), name=name, layer=layer,
            run_id=self.run_id,
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def count(self, span: Span | None, **counts) -> None:
        if span is not None:
            for k, v in counts.items():
                span.counts[k] = span.counts.get(k, 0) + v

    # -- after the run ------------------------------------------------------

    def self_time(self, span: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == span.span_id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.duration - covered

    def collect_spark_counters(self) -> None:
        """Attach per-span job/stage/SQL counters from the status store.

        Waits for the listener bus first, so every finished job's
        metrics have reached the store."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_group: dict[str, Span] = {s.group: s for s in self.spans}
        job_span: dict[int, Span] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            grp = job.jobGroup()
            if not grp.isDefined() or grp.get() not in by_group:
                continue
            sp = by_group[grp.get()]
            job_span[job.jobId()] = sp
            c = sp.spark
            c["jobs"] = c.get("jobs", 0) + 1
            stage_ids = job.stageIds()
            for j in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(j))
                except Exception:  # noqa: BLE001 - stage evicted/skipped
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                for name in STAGE_COUNTERS:
                    c[name] = c.get(name, 0) + int(getattr(st, name)())
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            job_ids = ex.jobs().keySet().toSeq()
            spans = {
                job_span[job_ids.apply(j)].span_id
                for j in range(job_ids.size())
                if job_ids.apply(j) in job_span
            }
            if len(spans) != 1:
                continue
            sp = self.spans[spans.pop()]
            wanted = {}
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() in SQL_COUNTERS:
                    wanted[m.accumulatorId()] = SQL_COUNTERS[m.name()]
            if not wanted:
                continue
            values = sql.executionMetrics(ex.executionId())
            for acc, key in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    sp.spark[key] = sp.spark.get(key, 0) + _metric_int(v.get())

    def write(self, path: str) -> None:
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = self.self_time(s)
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f, indent=1)


def _metric_int(text: str) -> int:
    """First integer of a SQL metric string such as ``'1,204'``."""
    m = re.search(r"[\d,]+", text)
    return int(m.group(0).replace(",", "")) if m else 0
