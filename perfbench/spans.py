"""Spans recorded from the benchmark's own files, and Spark's per-op
execution counters.

A span is ``{id, parent, name, op, start, end}`` plus attributes; times
are epoch seconds. Spans stay in memory and are written once, with the
run's output file. Spark's counters come from the application status
store (``sc._jsc.sc().statusStore()``), which is populated with the UI
disabled; each op runs under its own job group, so its jobs are found
by group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# perf_counter for durations, shifted onto the epoch so span times can be
# compared with the JVM's job timestamps (epoch milliseconds)
_EPOCH_SHIFT = time.time() - time.perf_counter()


def now() -> float:
    return _EPOCH_SHIFT + time.perf_counter()


class Tracer:
    """Span recorder; every method is a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans) + 1,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "op": op,
            "start": now(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return {
            s["id"]: (s["end"] - s["start"])
            - covered(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                s["start"],
                s["end"],
            )
            for s in self.spans
        }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def _opt_ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Reads one job group's jobs and stage metrics from the status store."""

    def __init__(self, sc):
        self._sc = sc
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        jvm = sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def jobs(self, group: str) -> list[dict]:
        # listener events are delivered asynchronously; drain them so the
        # store holds the group's finished jobs and stages
        self._bus.waitUntilEmpty()
        out = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            rec = {
                "job": int(jid),
                "submit": _opt_ms(job.submissionTime()),
                "end": _opt_ms(job.completionTime()),
                "status": str(job.status()),
                "stages": [],
            }
            it = job.stageIds().iterator()
            while it.hasNext():
                rec["stages"].append(self._stage(int(it.next())))
            out.append(rec)
        out.sort(key=lambda j: j["job"])
        return out

    def _stage(self, sid: int) -> dict:
        rec = {"stage": sid, "ran": False}
        try:
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
        except Exception:  # skipped stages never enter the store
            return rec
        it = attempts.iterator()
        while it.hasNext():
            sd = it.next()
            if str(sd.status()) == "SKIPPED":
                continue
            rec["ran"] = True
            for k, v in (
                ("tasks", sd.numCompleteTasks()),
                ("task_ms", sd.executorRunTime()),
                ("cpu_ns", sd.executorCpuTime()),
                ("gc_ms", sd.jvmGcTime()),
                ("input_b", sd.inputBytes()),
                ("output_b", sd.outputBytes()),
                ("shuffle_read_b", sd.shuffleReadBytes()),
                ("shuffle_write_b", sd.shuffleWriteBytes()),
                ("spill_b", sd.diskBytesSpilled()),
            ):
                rec[k] = rec.get(k, 0) + int(v)
        return rec


_MB = 1024.0 * 1024.0


def op_layers(op_span: dict, phases: dict[str, dict], jobs: list[dict]) -> dict:
    """Per-layer numbers for one traced op execution.

    ``phases`` maps build/plan/collect to their spans. Jobs are
    attributed to the phase their submission falls in; fetch time is the
    part of the collect phase no job of the op was running.
    """
    stages = [s for j in jobs for s in j["stages"] if s["ran"]]
    intervals = [(j["submit"], j["end"]) for j in jobs if j["submit"] and j["end"]]
    build = phases["build"]
    collect = phases["collect"]
    plan = phases.get("plan")

    def tot(k):
        return sum(s.get(k, 0) for s in stages)

    job_wall = covered(intervals, op_span["start"], op_span["end"])
    task_s = tot("task_ms") / 1000.0
    collect_s = collect["end"] - collect["start"]
    return {
        "registry.build_s": build["end"] - build["start"],
        "registry.build_jobs": sum(
            1 for j in jobs if j["submit"] and j["submit"] <= build["end"]
        ),
        "spark.plan_s": (plan["end"] - plan["start"]) if plan else 0.0,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": tot("tasks"),
        "spark.job_wall_s": job_wall,
        "spark.task_s": task_s,
        "spark.cpu_s": tot("cpu_ns") / 1e9,
        "spark.gc_s": tot("gc_ms") / 1000.0,
        "spark.input_mb": tot("input_b") / _MB,
        "spark.shuffle_write_mb": tot("shuffle_write_b") / _MB,
        "spark.shuffle_read_mb": tot("shuffle_read_b") / _MB,
        "spark.spill_mb": tot("spill_b") / _MB,
        "spark.output_mb": tot("output_b") / _MB,
        "spark.fetch_s": collect_s - covered(intervals, collect["start"], collect["end"]),
    }
