"""Per-op attribution from outside the program: Spark job groups around
each op phase, and the jobs and stages Spark's own status store recorded
for them.

Spans are built from the op records kept in memory and written once when
the run ends. Every read of the status store happens after the op
returned, outside its timed region.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    op_id: int
    attrs: dict = field(default_factory=dict)


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Reads what Spark recorded for each traced op phase."""

    STAGE_FIELDS = (
        "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleReadBytes",
        "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
        "numFailedTasks", "numTasks",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def jobs(self, group: str) -> list[dict]:
        """Each job Spark ran under ``group``: epoch start/end seconds and
        its completed stages' task metrics."""
        self.jsc.listenerBus().waitUntilEmpty(10_000)
        store = self.jsc.statusStore()
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1000 if sub.isDefined() else None
            end = done.get().getTime() / 1000 if done.isDefined() else None
            stages = {k: 0 for k in self.STAGE_FIELDS}
            stages["count"] = 0
            ids = jd.stageIds()
            for i in range(ids.size()):
                sd = store.lastStageAttempt(ids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                stages["count"] += 1
                for k in self.STAGE_FIELDS:
                    stages[k] += getattr(sd, k)()
            out.append({"id": jid, "start": start, "end": end, **stages})
        return out

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        """QueryPlanningTracker phase times of ``df``'s query execution."""
        out = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return out


def job_union(rec) -> float:
    """Seconds of an op record's wall time covered by its Spark jobs."""
    jobs = rec.jobs_build + rec.jobs_mat
    return union_s([(j["start"] or rec.start, j["end"] or rec.end) for j in jobs],
                   rec.start, rec.end)


def write_spans(path: str, records) -> None:
    """Write the spans of the traced op records to ``path`` as JSON."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump([asdict(s) for s in spans_from(records)], f)


def spans_from(records) -> list[Span]:
    """Op, phase and job spans of the traced op records. An op span's
    ``self_s`` is its duration minus the time its job spans cover."""
    spans = []
    for i, r in enumerate(records):
        if not r.traced:
            continue
        op = f"{r.name}#{i}"
        spans.append(Span(op, r.start, r.end, None, i, {
            "error": r.error, "build_s": r.build_s, "total_s": r.total_s,
            "self_s": r.total_s - job_union(r), "leaked_bytes": r.leaked_bytes,
            "catalyst_ms": r.catalyst_ms,
        }))
        for phase, lo, hi, jobs in (("build", r.start, r.mid, r.jobs_build),
                                    ("materialize", r.mid, r.end, r.jobs_mat)):
            spans.append(Span(f"{op}:{phase}", lo, hi, op, i))
            for j in jobs:
                spans.append(Span(
                    f"job{j['id']}", j["start"] or lo, j["end"] or hi, f"{op}:{phase}", i,
                    {k: v for k, v in j.items() if k not in ("id", "start", "end")},
                ))
    return spans
