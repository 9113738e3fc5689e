"""Tracing for the benchmark: in-memory spans plus Spark-side counts.

Everything here observes the engine from outside the program:

* spans are opened by the benchmark around its calls into each layer's
  public functions;
* Spark job and stage figures come from the application status store
  (``SparkContext.statusStore()``), which works with the UI disabled;
* Structured Streaming micro-batches come from a
  ``StreamingQueryListener``.

Jobs are attributed to a call by job-id window: the load is one closed-
loop client, so every job submitted between a call's start and end
belongs to it — including jobs Structured Streaming runs under its own
job group, which a job-group lookup would miss.
"""

from __future__ import annotations

import itertools
import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

MB = 1024 * 1024
# JVM timestamps have millisecond resolution; a child may appear to
# start or end up to this much outside its parent.
CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    name: str
    trace_id: int
    span_id: int
    parent_id: int | None
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written out once, at the end."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)

    def new_trace(self) -> int:
        return next(self._traces)

    def add(self, name, trace_id, parent_id, start, end, **attrs) -> Span:
        span = Span(name, trace_id, next(self._ids), parent_id, start, end, attrs)
        self.spans.append(span)
        return span

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                kids.setdefault(s.parent_id, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.span_id] = (s.end - s.start) - covered
        return out

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        return [
            {"name": s.name, "trace_id": s.trace_id, "span_id": s.span_id,
             "parent_id": s.parent_id, "start": s.start, "end": s.end,
             "self_s": selfs[s.span_id], **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _epoch(date) -> float:
    return date.getTime() / 1000.0


class SparkProbe:
    """Reads finished jobs and their stages from the status store."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc
        self.store = self.jsc.sc().statusStore()
        self.conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        self.skip_to_now()

    def skip_to_now(self) -> None:
        """Forget jobs run so far (e.g. by an untraced pass)."""
        self.last_job = self._max_job_id()

    def _jobs_newest_first(self):
        return self.conv.asJava(self.store.jobsList(None))

    def _max_job_id(self) -> int:
        jobs = self._jobs_newest_first()
        return max((j.jobId() for j in itertools.islice(jobs, 1)), default=-1)

    def set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.jsc.clearJobGroup()

    def new_jobs(self, group: str, timeout: float = 10.0) -> list[dict]:
        """Jobs submitted since the previous call, once each has ended
        and its stage metrics have reached the store."""
        deadline = time.time() + timeout
        while True:
            raw = []
            for j in self._jobs_newest_first():
                if j.jobId() <= self.last_job:
                    break
                raw.append(j)
            if all(_opt(j.completionTime()) is not None for j in raw) or time.time() > deadline:
                break
            time.sleep(0.01)
        jobs = []
        for j in reversed(raw):
            done = _opt(j.completionTime())
            stages = [self._stage(s) for s in self.conv.asJava(j.stageIds())]
            stages = [s for s in stages if s is not None]
            jobs.append({
                "job_id": j.jobId(),
                "start": _epoch(_opt(j.submissionTime())),
                "end": _epoch(done) if done is not None else time.time(),
                "in_group": _opt(j.jobGroup()) == group,
                "skipped_stages": j.numSkippedStages(),
                "failed_tasks": j.numFailedTasks(),
                "stages": stages,
            })
        if raw:
            self.last_job = raw[0].jobId()
        return jobs

    def _stage(self, stage_id):
        try:
            s = self.store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - evicted from the store
            return None
        if str(s.status().toString()) == "SKIPPED":
            return None
        return {
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "deser_s": s.executorDeserializeTime() / 1e3,
            "input_bytes": s.inputBytes(),
            "input_rows": s.inputRecords(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }

    def storage(self) -> tuple[int, float]:
        """(live cached/checkpointed RDDs, their memory+disk MB)."""
        infos = self.jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return len(infos), size / MB


def plan_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own query
    execution, from its phase tracker (planning is forced if the frame
    was only written through a separate write command)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs() / 1e3
    return total


class StreamProbe:
    """Collects micro-batch progress through a StreamingQueryListener,
    registered only while a traced pass runs."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                state = p.stateOperators or []
                batches.append({
                    "ts": _iso_epoch(p.timestamp),
                    "trigger_s": d.get("triggerExecution", 0) / 1e3,
                    "add_batch_s": d.get("addBatch", 0) / 1e3,
                    "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
                    "state_rows": sum(s.numRowsTotal for s in state),
                    "state_bytes": sum(s.memoryUsedBytes for s in state),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self.spark = spark

    def attach(self) -> None:
        self.spark.streams.addListener(self.listener)

    def detach(self) -> None:
        """Deliver the events still queued, then stop listening."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self.listener)


def _iso_epoch(ts: str) -> float:
    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    /proc/stat. Steal is time a virtual CPU was ready to run but the
    hypervisor ran something else: other tenants' load."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def process_tree_hwm_mb(root_pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``root_pid`` and every
    live descendant: the Python driver, the JVM and Python workers."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    total_kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
