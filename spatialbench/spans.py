"""Tracing from outside the engine: spans around public entry points.

A :class:`Tracer` wraps named engine functions in every
``hadoopgis_spark`` module that holds them (the defining module and each
module that imported the function by name), so calls made inside the
engine are traced too. Each span runs under its own Spark job group;
job and stage counts are read from the status store after the run, so
the timed calls pay only the wrapper and two local-property round trips.

The pure helpers (:func:`uncovered`, :func:`tail_percentile`) carry the
definitions the metrics rest on and are tested without Spark.
"""

from __future__ import annotations

import contextlib
import functools
import math
import sys
import time
import uuid
from dataclasses import dataclass, field


def uncovered(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` that no interval in ``intervals``
    covers (intervals are clipped to the window and may overlap)."""
    clipped = sorted((max(s, start), min(e, end))
                     for s, e in intervals if e > start and s < end)
    covered = 0.0
    run_s = run_e = None
    for s, e in clipped:
        if run_e is None or s > run_e:
            if run_e is not None:
                covered += run_e - run_s
            run_s, run_e = s, e
        else:
            run_e = max(run_e, e)
    if run_e is not None:
        covered += run_e - run_s
    return (end - start) - covered


def tail_percentile(values, min_beyond: int = 10):
    """``(percentile, value, n)`` for the highest whole percentile that
    leaves at least ``min_beyond`` samples above its nearest-rank value.

    With ``min_beyond`` samples or fewer no percentile qualifies; the
    maximum is returned as percentile 100."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("no samples")
    p = math.floor(100 * (n - min_beyond) / n)
    if p < 1:
        return 100, v[-1], n
    rank = math.ceil(p * n / 100) - 1
    return p, v[rank], n


_PY4J_DELETE = "m\nd\n"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    group: str = ""
    py4j: int = 0
    info: dict = field(default_factory=dict)


def subtree(spans, root_sid: int) -> list:
    """``root_sid``'s span and all its descendants."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [s for s in spans if s.sid == root_sid]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out


class Tracer:
    """In-memory span recorder bound to one Spark session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._patched: list = []
        self._py4j = 0
        self._own = False
        self._send = None
        self.jobs: dict = {}
        self.enabled = False
        self.captured: dict = {}

    # -- py4j command counter ------------------------------------------
    def _install_py4j_counter(self) -> None:
        from py4j import clientserver

        cls = clientserver.ClientServerConnection
        orig = cls.send_command
        tracer = self

        def send_command(conn, command):
            # proxy deletions ("m" "d") follow Python's garbage collector,
            # not the program, so they are not counted
            if not tracer._own and not command.startswith(_PY4J_DELETE):
                tracer._py4j += 1
            return orig(conn, command)

        cls.send_command = send_command
        self._send = (cls, orig)

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 self.op, 0.0, group=f"sb-{uuid.uuid4().hex[:12]}")
        self.spans.append(s)
        self._set_group(s)
        self._stack.append(s)
        s.py4j = -self._py4j
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            s.py4j += self._py4j
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        self._own = True
        try:
            if s is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(s.group, s.name)
        finally:
            self._own = False

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, out)
                return out

        return traced

    def install(self, targets: dict) -> None:
        """``targets``: span name -> (function, on_result or None).
        Replaces every attribute bound to the function in any loaded
        ``hadoopgis_spark`` module; :meth:`uninstall` restores them."""
        self._install_py4j_counter()
        wrappers = {id(fn): self.wrap(name, fn, cb)
                    for name, (fn, cb) in targets.items()}
        originals = {id(fn): fn for fn, _ in targets.values()}
        for mname, mod in list(sys.modules.items()):
            if not (mname == "hadoopgis_spark" or mname.startswith("hadoopgis_spark.")):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrappers and val is originals[id(val)]:
                    setattr(mod, attr, wrappers[id(val)])
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()
        if self._send is not None:
            cls, orig = self._send
            cls.send_command = orig
            self._send = None

    # -- job / stage counts ------------------------------------------------
    def collect_jobs(self) -> None:
        """Fill ``self.jobs`` (job id -> record) and each span's own job
        ids. Reads the status store once, after all spans closed.

        A shuffle stage is listed again, as skipped, by every later job
        that reuses its output (adaptive execution submits each query
        stage as its own job), so each stage counts once: in the first
        job that lists it, which is the job that ran it."""
        self._own = True
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        owner = {}
        for s in self.spans:
            s.info["job_ids"] = sorted(tracker.getJobIdsForGroup(s.group))
            owner.update(dict.fromkeys(s.info["job_ids"], s))
        counted: set = set()
        for jid in sorted(owner):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            rec = {
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else owner[jid].start,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else owner[jid].end,
                "stages": 0, "tasks": 0, "task_ms": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
                "input_records": 0,
            }
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in counted:
                    continue
                st = _stage_record(store, sid)
                if st is None:
                    continue  # never ran
                counted.add(sid)
                rec["stages"] += 1
                for k in ("tasks", "task_ms", "shuffle_write_bytes",
                          "spill_bytes", "input_records"):
                    rec[k] += st[k]
            self.jobs[jid] = rec
        self._own = False

    def collect_sql(self, names) -> None:
        """Sum the SQL metrics ``names`` (driver-side scan metrics such
        as ``number of partitions read``) of the SQL executions whose
        jobs ran under each span, into ``span.info["sql"]``."""
        self._own = True
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        per_job: dict = {}
        for k in range(execs.size()):
            e = execs.apply(k)
            wanted = {}
            plan_metrics = e.metrics()
            for m in range(plan_metrics.size()):
                pm = plan_metrics.apply(m)
                if pm.name() in names:
                    wanted[pm.accumulatorId()] = pm.name()
            if not wanted:
                continue
            values = store.executionMetrics(e.executionId())
            sums = dict.fromkeys(names, 0)
            for acc, name in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    sums[name] += int(str(v.get()).replace(",", "").split()[0])
            job_ids = e.jobs().keySet().toSeq()
            for j in range(job_ids.size()):
                per_job[int(job_ids.apply(j))] = (e.executionId(), sums)
        for s in self.spans:
            seen = {per_job[j][0]: per_job[j][1] for j in s.info.get("job_ids", [])
                    if j in per_job}
            s.info["sql"] = {n: sum(v[n] for v in seen.values()) for n in names}
        self._own = False

    def totals(self, spans) -> dict:
        """Summed job/stage counts of the jobs run under ``spans``,
        plus ``driver_s``: the spans' wall time that no job covers."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0,
               "input_records": 0}
        intervals = []
        for s in spans:
            for jid in s.info.get("job_ids", []):
                rec = self.jobs[jid]
                out["jobs"] += 1
                for k in ("stages", "tasks", "task_ms", "shuffle_write_bytes",
                          "spill_bytes", "input_records"):
                    out[k] += rec[k]
                intervals.append((rec["start"], rec["end"]))
        tops = [s for s in spans if s.parent not in {x.sid for x in spans}]
        out["driver_s"] = sum(uncovered(s.start, s.end, intervals) for s in tops)
        return out


def _stage_record(store, sid: int) -> dict | None:
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.lastStageAttempt(sid)
    except Py4JJavaError:
        return None
    if sd.status().toString() == "SKIPPED":
        return None
    return {
        "tasks": int(sd.numCompleteTasks()),
        "task_ms": int(sd.executorRunTime()),
        "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
        "spill_bytes": int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
        "input_records": int(sd.inputRecords()),
    }
