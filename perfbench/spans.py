"""Spans around the benchmark's calls into the program.

Every span records name, start, end, parent and run id, and sets a
Spark job group for its duration, so the jobs the call starts can be
read back from the driver's status store when the run ends. Spans are
kept in memory and written out once, with the per-layer table.

A disabled tracer records nothing and sets no job group, so untraced
runs measure the program as it is.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: list[dict] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class StageTotals:
    """Executor-side totals of a set of completed stages."""

    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    def add(self, other: "StageTotals") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


class Timed:
    """Wraps a fetcher or parser plugin; adds the seconds its calls take
    in the Python workers to a Spark accumulator."""

    def __init__(self, inner, acc):
        self.inner, self.acc = inner, acc

    def __call__(self, *args):
        t = time.perf_counter()
        try:
            return self.inner(*args)
        finally:
            self.acc.add(time.perf_counter() - t)


def call_site_file(job_name: str) -> str:
    """``"count at /x/operators/serial_ids.py:231"`` -> ``"serial_ids.py"``."""
    where = job_name.rsplit(" at ", 1)[-1]
    return os.path.basename(where.rsplit(":", 1)[0])


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.stages: dict[int, StageTotals] = {}
        self.overhead_s = 0.0  # time spent in the tracer itself

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                  self.run_id, 0.0)
        self.spans.append(sp)
        self._stack.append(sp.sid)
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, f"{self.run_id}/{sp.sid}")
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.setLocalProperty(GROUP_PROP, prev)
            self._stack.pop()
            self.overhead_s += time.perf_counter() - sp.end

    def collect(self) -> None:
        """Read every job of this run's spans, and its stages, from the
        status store. Jobs of a span's group belong to that span."""
        if not self.enabled:
            return
        t = time.perf_counter()
        store = self.sc._jsc.sc().statusStore()
        by_group = {f"{self.run_id}/{sp.sid}": sp for sp in self.spans}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = j.jobGroup()
            sp = by_group.get(group.get()) if group.isDefined() else None
            if sp is None:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            ids = j.stageIds()
            sp.jobs.append({
                "job_id": j.jobId(),
                "site": call_site_file(j.name()),
                "wall_s": (done.get().getTime() - sub.get().getTime()) / 1000.0
                if sub.isDefined() and done.isDefined() else 0.0,
                "stages": [ids.apply(k) for k in range(ids.size())],
                "status": str(j.status()),
            })
        for sp in self.spans:
            sp.jobs.sort(key=lambda j: j["job_id"])
            # a job started from JVM code (a py4j call, or a stage job
            # that adaptive execution submits) has a JVM call site; it
            # belongs to the nearest job of the span started from Python
            py = [i for i, j in enumerate(sp.jobs) if j["site"].endswith(".py")]
            for i, j in enumerate(sp.jobs):
                if py and not j["site"].endswith(".py"):
                    before = [k for k in py if k < i]
                    j["site"] = sp.jobs[before[-1] if before else py[0]]["site"]
        stages = store.stageList(
            None,
            getattr(store, "stageList$default$2")(),
            getattr(store, "stageList$default$3")(),
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        wanted = {s for sp in self.spans for j in sp.jobs for s in j["stages"]}
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            # a job lists the stages it skipped too; only a stage that
            # ran (complete or failed) did work
            if sid not in wanted or str(s.status()) not in ("COMPLETE", "FAILED"):
                continue
            tot = self.stages.setdefault(sid, StageTotals())
            tot.add(StageTotals(
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                input_bytes=s.inputBytes(),
                output_bytes=s.outputBytes(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                tasks=s.numCompleteTasks(),
                failed_tasks=s.numFailedTasks(),
            ))
        self.overhead_s += time.perf_counter() - t

    # -- queries over the collected spans ------------------------------

    def named(self, prefix: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == prefix or sp.name.startswith(prefix + ".")]

    def descendants(self, sp: Span) -> list[Span]:
        out, frontier = [], [sp.sid]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out.extend(kids)
            frontier = [k.sid for k in kids]
        return out

    def jobs(self, spans: list[Span] | None = None) -> list[dict]:
        """Jobs of ``spans`` and their descendants; of every span if None."""
        if spans is None:
            return [j for sp in self.spans for j in sp.jobs]
        chosen = {sp.sid: sp for sp in spans}
        for sp in spans:
            chosen.update((d.sid, d) for d in self.descendants(sp))
        return [j for sp in chosen.values() for j in sp.jobs]

    def totals(self, jobs: list[dict]) -> StageTotals:
        out = StageTotals()
        for sid in {s for j in jobs for s in j["stages"]}:
            if sid in self.stages:
                out.add(self.stages[sid])
        return out

    def self_seconds(self, sp: Span) -> float:
        kids = [s for s in self.spans if s.parent == sp.sid]
        return sp.seconds - sum(k.seconds for k in kids)

    def layer_table(self) -> dict[str, dict]:
        """Per layer (first name component): span count, self seconds
        (span time not covered by child spans), and the jobs and
        executor totals of the layer's own spans."""
        table: dict[str, dict] = {}
        for sp in self.spans:
            row = table.setdefault(sp.layer, {"spans": 0, "self_s": 0.0, "jobs": 0,
                                               "exec": StageTotals()})
            row["spans"] += 1
            row["self_s"] += self.self_seconds(sp)
            row["jobs"] += len(sp.jobs)
            row["exec"].add(self.totals(sp.jobs))
        return {k: dict(v, exec=asdict(v["exec"])) for k, v in table.items()}

    def write(self, path: str, extra: dict) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": [
                {"sid": s.sid, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                 "start": s.start, "end": s.end, "self_s": self.self_seconds(s),
                 "jobs": s.jobs}
                for s in self.spans
            ],
            "layers": self.layer_table(),
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
