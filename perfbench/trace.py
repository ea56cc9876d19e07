"""Spans, Spark status-store attribution and process memory sampling.

Spans are recorded by the benchmark around its own calls into each
layer (nothing inside the engine is instrumented).  Spark work is read
from outside the program: after each op the listener bus is drained
and the jobs whose *submission time* falls inside a span's interval are
attributed to that span.  With one client the op intervals never
overlap, so this also counts jobs launched from the engine's worker
threads, which a job-group filter would miss.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent and request id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> None:
        """Set ``self_s`` on every span: its duration minus the part of
        its interval covered by its children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            s["self_s"] = (s["end"] - s["start"]) - union_length(
                kids.get(s["id"], [])
            )


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkProbe:
    """Reads jobs, stages and SQL scan metrics from Spark's status
    stores (works with the UI disabled) and attributes them to time
    windows."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.drain()
        self._next_job = 1 + max((j["id"] for j in self._jobs_since(0)), default=-1)
        self._next_exec = 1 + max(
            (e.executionId() for e in self._conv.asJava(self._sql.executionsList())),
            default=-1,
        )

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _jobs_since(self, first: int) -> list[dict]:
        out = []
        for j in self._conv.asJava(self._store.jobsList(None)):
            jid = j.jobId()
            if jid < first:
                continue
            sub = j.submissionTime()
            end = j.completionTime()
            out.append({
                "id": jid,
                "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "completed": end.get().getTime() / 1000.0 if end.isDefined() else None,
                "stages": list(self._conv.asJava(j.stageIds())),
            })
        return out

    def _stage(self, sid: int, since: float) -> dict | None:
        """A stage's figures, if it ran (not skipped) after ``since``: a
        job also lists the stages it reuses from earlier jobs."""
        from py4j.protocol import Py4JJavaError

        try:
            s = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # no longer in the store
            return None
        sub = s.submissionTime()
        if s.status().toString() == "SKIPPED" or not sub.isDefined():
            return None
        if sub.get().getTime() / 1000.0 < since:
            return None
        return {
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "input_bytes": s.inputBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "executor_run_s": s.executorRunTime() / 1000.0,
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
        }

    def _scans(self, job_ids: set[int]) -> dict:
        """Scan-node metrics of the SQL executions that ran ``job_ids``."""
        files = rows = 0
        last = self._next_exec
        for e in self._conv.asJava(self._sql.executionsList()):
            eid = e.executionId()
            if eid < self._next_exec:
                continue
            last = max(last, eid + 1)
            jobs = set(self._conv.asJava(e.jobs()).keySet())
            if not jobs & job_ids:
                continue
            vals = self._conv.asJava(self._sql.executionMetrics(eid))
            for node in self._conv.asJava(self._sql.planGraph(eid).allNodes()):
                if not node.name().startswith("Scan"):
                    continue
                for m in self._conv.asJava(node.metrics()):
                    v = vals.get(m.accumulatorId())
                    if v is None:
                        continue
                    if m.name() == "number of files read":
                        files += _count(v)
                    elif m.name() == "number of output rows":
                        rows += _count(v)
        self._next_exec = last
        return {"files_read": files, "rows_read": rows}

    def cached_bytes(self) -> int:
        return sum(
            r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo()
        )

    def collect(self, windows: list[tuple[int, float, float]]) -> dict:
        """Attribute every job submitted since the last call to the
        innermost window ``(span id, start, end)`` containing its
        submission time.  Returns per-span job lists plus the op's
        stage, task, shuffle and scan totals."""
        self.drain()
        jobs = self._jobs_since(self._next_job)
        if jobs:
            self._next_job = 1 + max(j["id"] for j in jobs)
        by_span: dict[int, list[dict]] = {}
        for j in jobs:
            t = j["submitted"]
            # ms timestamps: widen each window by half a millisecond
            inside = [w for w in windows if w[1] - 5e-4 <= t <= w[2] + 5e-4]
            if inside:
                sid = max(inside, key=lambda w: w[1])[0]
                by_span.setdefault(sid, []).append(j)
        attributed = [j for js in by_span.values() for j in js]
        totals = {
            "jobs": len(attributed), "stages": 0, "tasks": 0,
            "input_bytes": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        }
        since = min((w[1] for w in windows), default=0.0) - 5e-4
        for sid in sorted({s for j in attributed for s in j["stages"]}):
            st = self._stage(sid, since)
            if st is None:
                continue
            totals["stages"] += 1
            for k, v in st.items():
                totals[k] += v
        intervals = [
            (j["submitted"], j["completed"] or j["submitted"]) for j in attributed
        ]
        totals["job_s"] = union_length(intervals)
        totals.update(self._scans({j["id"] for j in attributed}))
        return {"by_span": by_span, "totals": totals}


def _count(v: str) -> int:
    """Parse a SQL sum metric as the status store renders it: ``12,345``."""
    try:
        return int(v.replace(",", ""))
    except ValueError:
        return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _parents() -> dict[int, int]:
    """``{pid: parent pid}`` of every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name is parenthesised and may contain spaces
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (FileNotFoundError, ProcessLookupError):
        return 0.0


class RssSampler:
    """Peak RSS of this process tree, sampled from ``/proc``, split
    into the JVM and the Python processes (this driver plus the JVM's
    Python workers)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_total = self.peak_jvm = self.peak_python = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def reset(self) -> dict:
        """Start new peaks; returns the peaks so far."""
        self.sample()
        with self._lock:
            old = {"total": self.peak_total, "jvm": self.peak_jvm,
                   "python": self.peak_python}
            self.peak_total = self.peak_jvm = self.peak_python = 0.0
        return old

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def sample(self) -> None:
        parents = _parents()
        tree, frontier = {os.getpid()}, {os.getpid()}
        while frontier:
            frontier = {p for p, pp in parents.items() if pp in frontier} - tree
            tree |= frontier

        # a child of the JVM still running the java binary is a fork
        # about to exec a helper command: its RSS is the JVM's pages
        jvms = {p for p in tree if os.path.basename(_exe(p)) == "java"}
        forks = {p for p in jvms if parents.get(p) in jvms}
        rss = {p: _rss_mb(p) for p in tree - forks}
        jvm = sum(rss[p] for p in jvms - forks)
        total = sum(rss.values())
        with self._lock:
            self.peak_total = max(self.peak_total, total)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_python = max(self.peak_python, total - jvm)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
