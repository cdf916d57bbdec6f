"""Tracing for the traced benchmark run: spans around the engine's public
entry points, plus Spark job/stage metrics read from the driver's status
store.

Spans are recorded by the benchmark, not by the engine: ``Tracer.patch``
swaps a module attribute (or a ``MergeTable`` method) for a wrapper at
the place its caller looks it up, and ``Tracer.unpatch`` restores the
original. A span is ``(name, start, end, parent, op, job_lo, job_hi)``;
``job_lo``/``job_hi`` are the DAG scheduler's next job id at entry and
exit, so the jobs a span launched are exactly the id range ``[lo, hi)``
minus the ranges of its children. Ids are sequential, so this needs no
listener and is not limited by ``spark.ui.retainedJobs`` (a count based
on the size of the status store's job list is, and goes wrong after the
first thousand jobs). Stage metrics are read right after each op, while
its jobs are still retained.

Lazy builders (``fetch_pages``, ``attach_topics``, ``attach_labels``,
``extract_embedded_json``) only build plans: their executor work runs in
the span of whichever action later executes the plan.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict


class SparkStatus:
    """Job ids and per-job metrics from the live AppStatusStore."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def jobs(self, lo: int, hi: int) -> dict[int, dict]:
        """Metrics of jobs ``lo .. hi-1``: submit/complete times (epoch
        s) and the totals of the stages each job ran first."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        seen_stages: set[int] = set()
        out: dict[int, dict] = {}
        for jid in range(lo, hi):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            rec = {
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stages": 0, "tasks": 0, "task_s": 0.0, "task_cpu_s": 0.0,
                "gc_s": 0.0, "input_b": 0, "shuffle_read_b": 0, "shuffle_write_b": 0,
            }
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["task_s"] += st.executorRunTime() / 1e3
                rec["task_cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1e3
                rec["input_b"] += st.inputBytes()
                rec["shuffle_read_b"] += st.shuffleReadBytes()
                rec["shuffle_write_b"] += st.shuffleWriteBytes()
            out[jid] = rec
        return out


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder with patch/unpatch of traced callables."""

    def __init__(self, status: SparkStatus):
        self.status = status
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._op = None

    def _open(self, name: str) -> dict:
        span = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op,
            "id": len(self.spans),
            "job_lo": self.status.next_job_id(),
            "job_hi": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["job_hi"] = self.status.next_job_id()
        span["end"] = time.time()
        self._stack.pop()

    def span(self, name: str, fn, *args, **kwargs):
        span = self._open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(span)

    def op(self, op_id: int, name: str, fn, *args, **kwargs):
        """Run one benchmark op as a root span."""
        self._op = op_id
        try:
            return self.span(name, fn, *args, **kwargs)
        finally:
            self._op = None

    def patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.span(name, orig, *args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def span_table(spans: list[dict], jobs: dict[int, dict]) -> dict[str, dict]:
    """Per span name: calls, self_s (duration minus the part its
    children cover), jobs and task_s launched by the span itself (its
    job-id range minus its children's)."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    table: dict[str, dict] = defaultdict(
        lambda: {"calls": 0, "self_s": 0.0, "jobs": 0, "task_s": 0.0}
    )
    for s in spans:
        kids = children[s["id"]]
        own = set(range(s["job_lo"], s["job_hi"]))
        for k in kids:
            own -= set(range(k["job_lo"], k["job_hi"]))
        row = table[s["name"]]
        row["calls"] += 1
        row["self_s"] += (s["end"] - s["start"]) - union_seconds(
            [(k["start"], k["end"]) for k in kids], s["start"], s["end"]
        )
        row["jobs"] += len(own)
        row["task_s"] += sum(jobs[j]["task_s"] for j in own if j in jobs)
    return dict(table)


def op_spark_metrics(jobs: dict[int, dict], start: float, end: float) -> dict[str, float]:
    """Spark-level totals of one op's jobs; ``driver_gap_s`` is the op's
    wall time not covered by any running job."""
    wall = end - start
    busy = union_seconds(
        [(j["start"], j["end"]) for j in jobs.values() if j["start"] and j["end"]],
        start,
        end,
    )
    tot = lambda k: sum(j[k] for j in jobs.values())  # noqa: E731
    return {
        "jobs": len(jobs),
        "stages": tot("stages"),
        "tasks": tot("tasks"),
        "driver_gap_s": wall - busy,
        "task_s": tot("task_s"),
        "task_cpu_s": tot("task_cpu_s"),
        "gc_s": tot("gc_s"),
        "parallelism": tot("task_s") / wall if wall > 0 else 0.0,
        "shuffle_read_mb": tot("shuffle_read_b") / 1e6,
        "shuffle_write_mb": tot("shuffle_write_b") / 1e6,
        "input_mb": tot("input_b") / 1e6,
    }
