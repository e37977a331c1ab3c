"""Per-op measurement: wall time and process-tree CPU always; in a
traced run also spans, py4j round trips, Spark job/stage metrics and
Catalyst phase times.

Everything here sits outside the engine: spans wrap the calls the
benchmark makes into the library, py4j calls are counted by wrapping
the gateway client's ``send_command``, and job/stage metrics are read
from Spark's status store after the listener bus has drained. Jobs are
attributed to an op by job-id range, which is exact because the
benchmark is a single client.
"""

from __future__ import annotations

import contextlib
import time

from procstat import ProcessTree, cpu_delta, work_cpu

PHASES = ("analysis", "optimization", "planning")


class Spans:
    """In-memory span log: (id, parent, name, start, end) in seconds."""

    def __init__(self):
        self.rows: list[list] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def __call__(self, name: str):
        sid = len(self.rows)
        rec = [sid, self._stack[-1] if self._stack else None, name,
               time.perf_counter(), None]
        self.rows.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec[4] = time.perf_counter()
            self._stack.pop()

    def self_ms(self, root: int) -> dict[str, float]:
        """Self time by layer for every span below (and including)
        ``root``: a span's duration minus what its children cover.
        The layer is the span name up to its last dot."""
        kids: dict[int, list] = {}
        for r in self.rows[root:]:
            if r[1] is not None:
                kids.setdefault(r[1], []).append(r)
        out: dict[str, float] = {}
        todo = [self.rows[root]]
        while todo:
            r = todo.pop()
            ch = kids.get(r[0], [])
            covered = sum(c[4] - c[3] for c in ch)  # children are sequential
            layer = r[2].rsplit(".", 1)[0] if "." in r[2] else r[2]
            out[layer] = out.get(layer, 0.0) + (r[4] - r[3] - covered) * 1e3
            todo.extend(ch)
        return out


def _no_span(_name: str):
    return contextlib.nullcontext()


class Py4jCounter:
    """Counts round trips through the gateway client while enabled.
    Releases of Java references are not counted: Python's garbage
    collector sends them whenever it happens to run."""

    def __init__(self, sc):
        self.n = 0
        self.on = False
        client = sc._gateway._gateway_client
        orig = client.send_command

        def counting(command, *a, **kw):
            if self.on and not command.startswith("m\nd\n"):
                self.n += 1
            return orig(command, *a, **kw)

        client.send_command = counting


class JobReader:
    """Reads jobs and their stages from the live status store."""

    def __init__(self, sc):
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.next_jid = 0

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list:
        self.drain()
        jobs = []
        while True:
            try:
                jobs.append(self.store.job(self.next_jid))
            except Exception:
                return jobs
            self.next_jid += 1

    def summarize(self, jobs, t0_ms: float, t1_ms: float) -> dict:
        m = dict.fromkeys(("spark.jobs", "spark.stages", "spark.skipped_stages",
                           "spark.tasks", "spark.task_cpu_ms",
                           "spark.task_run_ms", "spark.shuffle_bytes",
                           "spark.spill_bytes", "spark.input_bytes",
                           "spark.output_bytes"), 0.0)
        spans = []
        seen = set()
        for j in jobs:
            m["spark.jobs"] += 1
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                spans.append((max(sub.get().getTime(), t0_ms),
                              min(comp.get().getTime(), t1_ms)))
            ids = j.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                s = self.store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    m["spark.skipped_stages"] += 1
                    continue
                m["spark.stages"] += 1
                m["spark.tasks"] += s.numCompleteTasks()
                m["spark.task_cpu_ms"] += s.executorCpuTime() / 1e6
                m["spark.task_run_ms"] += s.executorRunTime()
                m["spark.shuffle_bytes"] += s.shuffleWriteBytes()
                m["spark.spill_bytes"] += (s.memoryBytesSpilled()
                                           + s.diskBytesSpilled())
                m["spark.input_bytes"] += s.inputBytes()
                m["spark.output_bytes"] += s.outputBytes()
        covered, end = 0.0, float("-inf")
        for a, b in sorted(spans):
            if b <= a:
                continue
            if a > end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        m["_job_covered_ms"] = covered
        return m


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own query
    execution (planning is forced here if the action used another)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    ph = qe.tracker().phases()
    return float(sum(ph.apply(p).durationMs() for p in PHASES
                     if ph.contains(p)))


class Recorder:
    """Runs ops and records one dict of measurements per op."""

    def __init__(self, spark, jvm_pid: int, traced: bool):
        self.tree = ProcessTree(jvm_pid)
        self.traced = traced
        self.ops: list[dict] = []
        if traced:
            self.spans = Spans()
            self.py4j = Py4jCounter(spark.sparkContext)
            self.jobs = JobReader(spark.sparkContext)
        else:
            self.spans = _no_span

    def mark(self, key: str, value: float) -> None:
        """Attach a measurement to the op being run."""
        self.marks[key] = value

    def skip_jobs(self) -> None:
        """Forget the jobs run so far (set-up, warm-up)."""
        if self.traced:
            self.jobs.new_jobs()

    def run(self, optype: str, fn, timed: bool = True):
        """Run ``fn()``, which returns ``(result, final_df_or_None)``.
        Returns ``(result, record)``; failures propagate."""
        self.marks = {}
        if self.traced:
            self.py4j.n, self.py4j.on = 0, True
            root = len(self.spans.rows)
        c0 = self.tree.cpu()
        w0 = time.time()
        t0 = time.perf_counter()
        if self.traced:
            with self.spans(f"op.{optype}"):
                result, final = fn()
        else:
            result, final = fn()
        wall = (time.perf_counter() - t0) * 1e3
        w1 = time.time()
        cpu = cpu_delta(c0, self.tree.cpu())
        rec = {"op": optype, "wall_ms": wall,
               "cpu_ms": work_cpu(cpu) * 1e3,
               **{f"cpu.{k}_ms": v * 1e3 for k, v in cpu.items()},
               **self.marks}
        if self.traced:
            self.py4j.on = False
            rec["py4j.calls"] = self.py4j.n
            js = self.jobs.summarize(self.jobs.new_jobs(), w0 * 1e3, w1 * 1e3)
            rec["driver.gap_ms"] = max(0.0, wall - js.pop("_job_covered_ms"))
            rec.update(js)
            if final is not None:
                rec["spark.plan_ms"] = catalyst_ms(final)
            for layer, ms in self.spans.self_ms(root).items():
                rec[f"self.{layer}_ms"] = ms
        if timed:
            self.ops.append(rec)
        return result, rec
