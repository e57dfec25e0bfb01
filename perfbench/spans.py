"""Spans around calls into the program, and Spark's own status stores.

A span records name, start, end and parent. While a span is open its tag
is added to the session, so Spark jobs submitted from this thread carry it;
jobs submitted elsewhere (a streaming query's ``foreachBatch``, async
broadcast jobs) are attributed to the innermost span open at their
submission time. Stage and task metrics come from the application status
store, and written-file counts from the SQL status store; both work with
the UI off.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

TAG_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """Keeps spans in memory; ``enabled=False`` records nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.spark.addTag(f"{TAG_PREFIX}{s.id}")
        try:
            yield s
        finally:
            self.spark.removeTag(f"{TAG_PREFIX}{s.id}")
            s.end = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a traced wrapper; callers that look
        the attribute up at call time (module globals, function-local
        imports) then run inside a span."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)

    def dump(self, path: str, jobs: dict[int, dict]) -> None:
        with open(path, "w") as handle:
            json.dump(
                {"spans": [asdict(s) for s in self.spans],
                 "jobs": [jobs[j] for j in sorted(jobs)]},
                handle,
            )


class StatusStore:
    """Reads jobs, stages, SQL executions and cached RDDs from the
    in-process status stores, serialised to JSON inside the JVM."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, after: int = -1) -> list[dict]:
        return [j for j in self._json(self._store.jobsList(None)) if j["jobId"] > after]

    def stages(self, ids: set[int]) -> list[dict]:
        stages = self._json(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )
        return [s for s in stages if s["stageId"] in ids]

    def last_execution_id(self) -> int:
        total = self._sql.executionsCount()
        if total == 0:
            return -1
        return self._json(self._sql.executionsList(total - 1, 1))[0]["executionId"]

    def written_files(self, after: int, upto: int) -> int:
        """Files written by the SQL executions with ids in (after, upto]
        ("number of written files" of their write commands)."""
        total = self._sql.executionsCount()
        tail = self._json(self._sql.executionsList(max(0, total - (upto - after) - 1),
                                                   upto - after + 1))
        n = 0
        for e in tail:
            if not after < e["executionId"] <= upto:
                continue
            ids = {str(m["accumulatorId"]) for m in e["metrics"]
                   if m["name"] == "number of written files"}
            values = e.get("metricValues") or {}
            n += sum(int(values[i].replace(",", "")) for i in ids if i in values)
        return n

    def cached_mb(self) -> float:
        rdds = self._json(self._store.rddList(True))
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / 2**20

    def last_job_id(self) -> int:
        jobs = self._json(self._store.jobsList(None))
        return max((j["jobId"] for j in jobs), default=-1)


def stage_totals(stages: list[dict]) -> dict[str, float]:
    keys = [
        "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
        "inputRecords", "outputBytes", "outputRecords", "shuffleWriteBytes",
        "diskBytesSpilled", "numTasks",
    ]
    return {k: float(sum(s.get(k) or 0 for s in stages)) for k in keys}


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> None:
    """Fill ``Span.jobs``: by span tag where a job carries one (the
    deepest), else the innermost span open at the job's submission."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}
    for s in spans:
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    for job in jobs:
        tagged = [
            int(t.rsplit(TAG_PREFIX, 1)[1])
            for t in job.get("jobTags") or []
            if TAG_PREFIX in t
        ]
        tagged = [i for i in tagged if i in by_id]
        if tagged:
            owner = max(tagged, key=lambda i: depth[i])
        else:
            submitted = (job.get("submissionTime") or 0) / 1000.0
            open_ = [s for s in spans if s.start <= submitted <= s.end]
            if not open_:
                continue
            owner = max(open_, key=lambda s: depth[s.id]).id
        by_id[owner].jobs.append(job["jobId"])


def subtree(spans: list[Span], root: Span) -> list[Span]:
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.id, []))
    return out


def idle_seconds(span: Span, jobs: list[dict]) -> float:
    """Span time during which none of the given jobs was running."""
    intervals = sorted(
        (max(span.start, j["submissionTime"] / 1000.0),
         min(span.end, (j.get("completionTime") or j["submissionTime"]) / 1000.0))
        for j in jobs
        if j.get("submissionTime")
    )
    busy, cursor = 0.0, span.start
    for lo, hi in intervals:
        lo = max(lo, cursor)
        if hi > lo:
            busy += hi - lo
            cursor = hi
    return max(0.0, (span.end - span.start) - busy)
