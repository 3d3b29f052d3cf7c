"""Layer timings read from Spark's own status stores, from outside the
package.

Each traced operator call runs under its own job group. After the call,
:meth:`Tracer.end_call` reads the jobs of that group from the app status
store (stages: run time, CPU, GC, shuffle, spill, task times) and the SQL
executions that ran those jobs from the SQL status store (Python-worker
time and bytes sent). Spans (workload -> op call -> job -> stage, plus
kernel spans) stay in memory and are written once, by :meth:`write`.
"""

from __future__ import annotations

import json
import re
import statistics
import time

_SQL_NUM = re.compile(r"(?:total[^\n]*\n)?\s*(-?[\d.]+)\s*([A-Za-z]+)")
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6,
    "TiB": 1024**4 / 1e6,
}
# per operator call; each is reported as ``<role>.<name>``
CALL_METRICS = (
    "jobs", "driver_s", "exec_run_s", "exec_cpu_s", "gc_s", "py_run_s",
    "py_sent_mb", "shuffle_mb", "spill_mb", "out_rows", "task_skew",
)


def sql_value(text: str) -> float:
    """A SQL metric's display string ("3.1 s", "1.2 MiB", or the
    "total (min, med, max ...)" form) in seconds or megabytes."""
    m = _SQL_NUM.match(text or "")
    if not m:
        return 0.0
    return float(m.group(1)) * _UNIT.get(m.group(2), 1.0)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def live_counts(sc) -> tuple[int, int]:
    """(broadcasts, persisted RDDs) alive in the driver right now."""
    it = sc._jsc.sc().env().blockManager().blockInfoManager().entries()
    bcast = set()
    while it.hasNext():
        name = it.next()._1().name()
        if name.startswith("broadcast_"):
            bcast.add(name.split("_")[1])
    return len(bcast), sc._jsc.getPersistentRDDs().size()


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.root = self.span(workload, time.time(), None, None)
        self._call = None
        self.last_call = None

    def span(self, name, start, end, parent, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return sid

    def begin_call(self, role: str, op: str, i: int) -> None:
        t = time.perf_counter()
        group = f"opbench-{role}-{i}"
        self.sc.setJobGroup(group, op)
        self._call = (group, role, op, time.time(), self.sql.executionsCount())
        self.overhead_s += time.perf_counter() - t

    def end_call(self, end: float, out_rows: int) -> dict:
        """The metrics of the call that ended at ``end`` (epoch seconds);
        also records its spans."""
        t = time.perf_counter()
        group, role, op, start, first_exec = self._call
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        call = self.last_call = self.span(f"{role}:{op}", start, end, self.root, role=role)
        m = dict.fromkeys(CALL_METRICS, 0.0)
        m["jobs"], m["out_rows"] = len(jobs), out_rows
        covered, longest = [], (0.0, None)
        for j in jobs:
            jd = self.store.job(j)
            js, je = _ms(jd.submissionTime()), _ms(jd.completionTime())
            jspan = self.span(f"job {j}", js, je, call, desc=str(jd.name())[:80])
            if js is not None and je is not None:
                covered.append((js, je))
            for sid in _seq(jd.stageIds()):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # stage never ran (skipped, no attempt stored)
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                ss, se = _ms(sd.submissionTime()), _ms(sd.completionTime())
                self.span(f"stage {sid}", ss, se, jspan, tasks=sd.numTasks())
                m["exec_run_s"] += sd.executorRunTime() / 1e3
                m["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                m["gc_s"] += sd.jvmGcTime() / 1e3
                m["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
                m["spill_mb"] += (sd.diskBytesSpilled() + sd.memoryBytesSpilled()) / 1e6
                dur = (se - ss) if ss is not None and se is not None else 0.0
                if dur > longest[0]:
                    longest = (dur, sd)
        m["driver_s"] = max(0.0, (end - start) - _union(covered, start, end))
        if longest[1] is not None:
            m["task_skew"] = self._skew(longest[1])
        jobset = set(jobs)
        n_exec = self.sql.executionsCount() - first_exec
        for ex in _seq(self.sql.executionsList(first_exec, n_exec)):
            if not jobset.intersection(int(k) for k in _keys(ex.jobs())):
                continue
            values = self.sql.executionMetrics(ex.executionId())
            for node in _seq(self.sql.planGraph(ex.executionId()).allNodes()):
                for mm in _seq(node.metrics()):
                    name = mm.name()
                    if name not in ("time to run Python workers", "data sent to Python workers"):
                        continue
                    v = values.get(mm.accumulatorId())
                    v = sql_value(v.get()) if v.isDefined() else 0.0
                    m["py_run_s" if name.startswith("time") else "py_sent_mb"] += v
        self.overhead_s += time.perf_counter() - t
        return m

    def _skew(self, sd) -> float:
        tasks = _seq(self.store.taskList(sd.stageId(), sd.attemptId(), 100_000))
        d = [tk.duration().get() for tk in tasks if tk.duration().isDefined()]
        med = statistics.median(d) if d else 0
        return max(d) / med if med > 0 else 1.0

    def note(self, sid: int, **attrs) -> None:
        self.spans[sid].update(attrs)

    def write(self, path: str) -> None:
        self.spans[self.root]["end"] = time.time()
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def _keys(scala_map) -> list:
    it = scala_map.keysIterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
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
