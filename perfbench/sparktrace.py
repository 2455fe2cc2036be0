"""Spans around the benchmark's calls into the program, and Spark's own
per-job and per-stage metrics for each span.

With tracing on, every span sets a Spark job group before the call and,
after it, reads the jobs of that group and their stages from the
application status store (``sc._jsc.sc().statusStore()``, which works with
the UI disabled). With tracing off a span only takes two clock readings.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time

from py4j.protocol import Py4JJavaError

from harness import interval_union


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent on job groups and store reads
        self._seq = 0
        self._stack: list[int] = []
        self.rebind(spark)

    def rebind(self, spark) -> None:
        """Follow a new session (the scaling build restarts Spark)."""
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._seen_job = -1
        self._store = self.sc._jsc.sc().statusStore() if self.enabled else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span. Yields its record, to which the caller may add
        counts; with tracing on it also gets the span's Spark jobs and
        stages on exit."""
        self._seq += 1
        sid = self._seq
        rec = {
            "run_id": self.run_id,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            **attrs,
        }
        group = f"{self.run_id}-{sid}"
        if self.enabled:
            t = time.perf_counter()
            self.sc.setJobGroup(group, name)
            self.overhead_s += time.perf_counter() - t
        self._stack.append(sid)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                if self._stack:
                    self.sc.setJobGroup(f"{self.run_id}-{self._stack[-1]}", name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                rec["jobs"] = self.jobs(group)
                rec["stages"] = self.stages({i for j in rec["jobs"] for i in j["stage_ids"]})
                rec.update(summarize(rec["jobs"], rec["stages"], rec["wall_s"]))
                self.overhead_s += time.perf_counter() - t
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    # ------------------------------------------------------------ status store

    def jobs(self, group: str) -> list[dict]:
        """The jobs of ``group``. The listener bus is drained first, so that
        the store holds every job the span ran; only jobs newer than the
        last span's are read (the store lists the newest first)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = []
        newest = self._seen_job
        it = self._store.jobsList(self._jvm.java.util.ArrayList())
        it = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(it).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= self._seen_job:
                break
            newest = max(newest, j.jobId())
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            sub, done = j.submissionTime(), j.completionTime()
            out.append(
                {
                    "job_id": j.jobId(),
                    "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                    "stage_ids": list(
                        self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(j.stageIds())
                    ),
                }
            )
        self._seen_job = newest
        return out

    def stages(self, stage_ids: set[int]) -> dict[int, dict]:
        """Metrics of the completed stages among ``stage_ids``. A stage that
        a job skipped, because an earlier job had computed it, is left out,
        so no stage counts twice."""
        out = {}
        quantiles = self.sc._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sid in sorted(stage_ids):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # the store has dropped it
                continue
            if str(s.status()) != "COMPLETE":
                continue
            summary = self._store.taskSummary(sid, s.attemptId(), quantiles)
            skew = 1.0
            if summary.isDefined():
                run_ms = summary.get().executorRunTime()
                p50, p100 = run_ms.apply(0), run_ms.apply(1)
                skew = p100 / p50 if p50 > 0 else 1.0
            out[sid] = {
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_rows": s.inputRecords(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.diskBytesSpilled(),
                "task_skew": skew,
            }
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def summarize(jobs: list[dict], stages: dict[int, dict], wall_s: float) -> dict:
    """Totals over a set of jobs and the stages they ran. ``job_s`` is the
    union of the job intervals and ``driver_s`` the rest of ``wall_s``, when
    no job was running. ``task_skew`` is that of the stage that ran longest,
    since the slowest task sets that stage's time."""
    ids = {i for j in jobs for i in j["stage_ids"]}
    rows = [st for sid, st in stages.items() if sid in ids]
    job_s = interval_union([(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]])
    longest = max(rows, key=lambda s: s["run_s"], default=None)
    return {
        "n_jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in rows),
        "job_s": job_s,
        "driver_s": max(0.0, wall_s - job_s),
        "run_s": sum(s["run_s"] for s in rows),
        "cpu_s": sum(s["cpu_s"] for s in rows),
        "gc_s": sum(s["gc_s"] for s in rows),
        "input_rows": sum(s["input_rows"] for s in rows),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in rows),
        "spill_bytes": sum(s["spill_bytes"] for s in rows),
        "task_skew": longest["task_skew"] if longest else 0.0,
    }
