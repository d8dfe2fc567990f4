"""Spans around the benchmark's public calls, plus Spark event-log totals.

Everything here observes the engine from outside:

- ``Tracer.span`` times a block; with tracing on it also tags the Spark
  jobs started inside it with a job group named after the span, so the
  event log attributes every job, stage and task to the innermost span.
- ``wrapped_layers`` swaps in timing wrappers for the eager public
  functions the crawl loop and the curation pipeline call by module-level
  name, and restores the originals on exit.
- ``parse_event_log`` folds Spark's JSON event log into per-span totals.

Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field

_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans.  When ``sc`` is set, each span also becomes the Spark
    job group of the jobs started inside it (the parent's group is restored
    on exit)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext whose jobs get tagged; None = untagged

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        t0 = time.perf_counter()
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = s.start + (time.perf_counter() - t0)
            self._stack.pop()
            self._tag(parent)

    def _tag(self, s: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", f"{_GROUP_PREFIX}{s.id}" if s else None)
        self.sc.setLocalProperty("spark.job.description", s.name if s else None)

    def total(self, name: str, under: Span | None = None) -> tuple[float, int]:
        """(seconds, calls) summed over spans called ``name`` (inside
        ``under`` when given)."""
        spans = [s for s in self.spans if s.name == name and (under is None or self.within(s, under))]
        return sum(s.seconds for s in spans), len(spans)

    def within(self, s: Span, root: Span) -> bool:
        while s is not None:
            if s.id == root.id:
                return True
            s = self.spans[s.parent] if s.parent is not None else None
        return False

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# eager public functions the engine calls by module-level name: wrapping the
# name the caller looks up is what makes the wrapper visible to it
def _layer_targets():
    import eget_spark.pipeline as pipeline
    import eget_spark.plans.crawl as crawl_plan
    from eget_spark.plans.tables import RoundTable

    return [
        (crawl_plan, "with_global_seq", "sequence.with_global_seq"),
        (crawl_plan, "build_bloom", "seen.build_bloom"),
        (RoundTable, "append", "tables.append"),
        (pipeline, "dedup_groups", "dedup.groups"),
    ]


@contextlib.contextmanager
def wrapped_layers(tracer: Tracer):
    saved = []
    for owner, attr, span_name in _layer_targets():
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, _timed(tracer, span_name, orig))
    try:
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


def _timed(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


# -- event log ---------------------------------------------------------------

ENGINE_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class EventLog:
    jobs: dict[int, dict]  # job id -> {span, start, end}
    totals: dict[int, dict]  # span id -> ENGINE_KEYS (self, not inclusive)


def parse_event_log(path: str) -> EventLog:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    totals: dict[int, dict] = {}

    def bucket(job_id: int | None) -> dict | None:
        job = jobs.get(job_id)
        if job is None or job["span"] is None:
            return None
        return totals.setdefault(job["span"], dict.fromkeys(ENGINE_KEYS, 0))

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                span = int(group[len(_GROUP_PREFIX):]) if group.startswith(_GROUP_PREFIX) else None
                jobs[e["Job ID"]] = {"span": span, "start": e["Submission Time"] / 1e3, "end": None}
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, e["Job ID"])
                b = bucket(e["Job ID"])
                if b is not None:
                    b["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                b = bucket(stage_job.get(e["Stage Info"]["Stage ID"]))
                if b is not None:
                    b["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                b = bucket(stage_job.get(e["Stage ID"]))
                m = e.get("Task Metrics")
                if b is None or not m:
                    continue
                b["tasks"] += 1
                b["executor_run_s"] += m["Executor Run Time"] / 1e3
                b["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                b["gc_s"] += m["JVM GC Time"] / 1e3
                rd = m.get("Shuffle Read Metrics", {})
                b["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                b["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                b["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return EventLog(jobs, totals)


def inclusive_totals(tracer: Tracer, log: EventLog) -> dict[int, dict]:
    """Per span: its own event-log totals plus all of its descendants'."""
    out = {s.id: dict(log.totals.get(s.id, dict.fromkeys(ENGINE_KEYS, 0))) for s in tracer.spans}
    for s in reversed(tracer.spans):  # children are created after parents
        if s.parent is not None:
            for k in ENGINE_KEYS:
                out[s.parent][k] += out[s.id][k]
    return out


def job_busy_seconds(tracer: Tracer, log: EventLog, root: Span) -> float:
    """Length of the union of the job intervals started inside ``root``."""
    iv = sorted(
        (j["start"], j["end"])
        for j in log.jobs.values()
        if j["span"] is not None and j["end"] is not None and tracer.within(tracer.spans[j["span"]], root)
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy
