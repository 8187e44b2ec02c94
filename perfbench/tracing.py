"""Spans, the Spark event-log parser, and the per-layer attribution.

A span is one timed call from the benchmark into a public function of a
repo module. Spans are kept in memory and written out when the run ends.
The traced run also enables Spark's event log; every Spark stage is
attributed to the span that caused it, first by the job description the
recorder sets before each call and otherwise by submission time, which
covers jobs submitted from streaming threads.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

MB = 1024.0 * 1024.0

# SQL metrics (per task, summed) the per-layer report reads.
SQL_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
    "time to commit changes": "state_commit_ms",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    run_id: str

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span recorder. With a SparkContext it also labels the
    Spark jobs of each main-thread span with ``"<name> #<id>"``."""

    def __init__(self, workload: str, run_id: str, spark_context=None):
        self.workload = workload
        self.run_id = run_id
        self.spans: list[Span] = []
        self._sc = spark_context
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._open: dict[int, str] = {}
        self.cost_s = 0.0  # time spent inside the recorder itself

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time the body as a span. ``parent`` links a span opened on
        another thread (a streaming sink callback) to its cause."""
        c0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
            self._open[sid] = name
        if stack:
            parent = stack[-1]
        labelled = self._sc is not None and threading.current_thread() is threading.main_thread()
        if labelled:
            self._sc.setJobDescription(f"{name} #{sid}")
        stack.append(sid)
        opened = time.perf_counter() - c0
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            c1 = time.perf_counter()
            stack.pop()
            with self._lock:
                del self._open[sid]
                self.spans.append(Span(sid, name, start, end, parent, self.workload, self.run_id))
                parent_label = f"{self._open[stack[-1]]} #{stack[-1]}" if stack else None
            if labelled:
                self._sc.setJobDescription(parent_label)
            with self._lock:  # spans close on streaming callback threads too
                self.cost_s += opened + time.perf_counter() - c1

    def walls(self, name: str) -> list[float]:
        return [s.wall for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.wall - union_length(children[s.id], s.start, s.end) for s in spans}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Stage:
    id: int
    description: str | None
    submit: float  # seconds since the epoch
    complete: float
    tasks: int = 0
    exec_run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    read_bytes: float = 0.0
    read_rows: float = 0.0
    state_rows: float = 0.0
    state_bytes: float = 0.0
    python_ms: float = 0.0
    to_python_bytes: float = 0.0
    from_python_bytes: float = 0.0
    state_commit_ms: float = 0.0


@dataclass
class Job:
    id: int
    description: str | None
    submit: float


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """Event files of one application: a rolling ``eventlog_v2_<app>``
    directory (ordered by index) or a single ``<app>`` file."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return [p for p in (os.path.join(log_dir, app_id),) if os.path.exists(p)]


def parse_event_log(lines) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs and per-stage task totals from event-log JSON lines."""
    jobs: list[Job] = []
    stages: dict[int, Stage] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            jobs.append(Job(ev["Job ID"], desc, ev["Submission Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            t = info.get("Submission Time", 0) / 1000.0
            stages[info["Stage ID"]] = Stage(info["Stage ID"], desc, t, t)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.get(info["Stage ID"])
            if st is not None and info.get("Completion Time"):
                st.complete = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(ev["Stage ID"])
            if st is None:
                continue
            st.tasks += 1
            tm = ev.get("Task Metrics") or {}
            st.exec_run_ms += tm.get("Executor Run Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            inp = tm.get("Input Metrics") or {}
            st.read_bytes += inp.get("Bytes Read", 0)
            st.read_rows += inp.get("Records Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in SQL_METRICS:
                    field = SQL_METRICS[name]
                    setattr(st, field, getattr(st, field) + float(acc.get("Update") or 0))
                elif name == "number of total state rows":
                    st.state_rows += float(acc.get("Update") or 0)
                elif name == "memory used by state":
                    st.state_bytes += float(acc.get("Update") or 0)
    return jobs, stages


def read_event_log(log_dir: str, app_id: str) -> tuple[list[Job], dict[int, Stage]]:
    def lines():
        for path in event_log_files(log_dir, app_id):
            with open(path) as fh:
                yield from (ln for ln in fh if ln.strip())

    return parse_event_log(lines())


def attribute(spans: list[Span], jobs: list[Job], stages: dict[int, Stage]) -> tuple[dict, dict]:
    """Map stages and jobs to spans. A labelled stage goes to the span its
    description names; any other goes to the innermost span open when it
    was submitted (latest start wins). Unmatched work is dropped."""
    by_id = {s.id: s for s in spans}

    def owner(desc: str | None, t: float) -> int | None:
        if desc and " #" in desc:
            try:
                sid = int(desc.rsplit(" #", 1)[1].split()[0])
            except ValueError:
                sid = None
            if sid in by_id:
                return sid
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= by_id[best].start):
                best = s.id
        return best

    stage_owner = {st.id: owner(st.description, st.submit) for st in stages.values()}
    job_owner = {j.id: owner(j.description, j.submit) for j in jobs}
    return stage_owner, job_owner


def span_attrs(spans: list[Span], jobs: list[Job], stages: dict[int, Stage]) -> dict[int, dict]:
    """Attribute set A, self time and the Python-boundary and state-store
    totals for every span; driver_s is the span's wall time outside every
    stage of its own or its children's jobs."""
    stage_owner, job_owner = attribute(spans, jobs, stages)
    per: dict[int, dict] = {
        s.id: defaultdict(float, {"wall_s": s.wall, "_stage_iv": []}) for s in spans
    }
    for sid in job_owner.values():
        if sid is not None:
            per[sid]["jobs"] += 1
    for st_id, sid in stage_owner.items():
        if sid is None:
            continue
        st, a = stages[st_id], per[sid]
        a["stages"] += 1
        a["tasks"] += st.tasks
        a["exec_run_s"] += st.exec_run_ms / 1000.0
        a["gc_s"] += st.gc_ms / 1000.0
        a["shuffle_write_mb"] += st.shuffle_write_bytes / MB
        a["spill_mb"] += st.spill_bytes / MB
        a["read_mb"] += st.read_bytes / MB
        a["read_rows"] += st.read_rows
        a["python_s"] += st.python_ms / 1000.0
        a["to_python_mb"] += st.to_python_bytes / MB
        a["from_python_mb"] += st.from_python_bytes / MB
        a["state_commit_ms"] += st.state_commit_ms
        a["state_rows"] = max(a["state_rows"], st.state_rows)
        a["state_mb"] = max(a["state_mb"], st.state_bytes / MB)
        a["_stage_iv"].append((st.submit, st.complete))
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)

    def subtree_iv(sid: int) -> list:
        return per[sid]["_stage_iv"] + [iv for k in kids[sid] for iv in subtree_iv(k)]

    own = self_times(spans)
    for s in spans:
        per[s.id]["driver_s"] = s.wall - union_length(subtree_iv(s.id), s.start, s.end)
        per[s.id]["self_s"] = own[s.id]
    for a in per.values():
        del a["_stage_iv"]
    return {sid: dict(a) for sid, a in per.items()}


class ProgressLog:
    """Collects streaming progress events (a StreamingQueryListener body;
    ``listener()`` builds the pyspark subclass lazily so this module
    imports without Spark)."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def on_progress(self, p) -> None:
        ops = list(p.stateOperators or [])
        rec = {
            "name": p.name,
            "batch": p.batchId,
            "rows": p.numInputRows,
            "durations": dict(p.durationMs or {}),
            "commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
        }
        with self._lock:
            self.batches.append(rec)

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


class PeakRss:
    """Samples the summed resident memory of this process and all its
    descendants (driver, JVM, Python workers) from /proc. The driver and
    the JVM count their resident set. Processes below the JVM (the Python
    worker daemon and its forks) count their proportional set size, which
    splits the pages forked workers share instead of counting them once per
    worker; reading it for the JVM itself would take milliseconds per
    sample and contend with the JVM for its address-space lock."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._samples = 0
        self._pids: list[tuple[int, int]] = []

    def _tree(self, pid: int) -> list[tuple[int, int]]:
        """(pid, depth) of ``pid`` and all its descendants."""
        out, todo = [], [(pid, 0)]
        while todo:
            p, depth = todo.pop()
            out.append((p, depth))
            for task in glob.glob(f"/proc/{p}/task/*/children"):
                try:
                    with open(task) as fh:
                        todo.extend((int(c), depth + 1) for c in fh.read().split())
                except OSError:
                    pass
        return out

    def _bytes(self, pid: int, depth: int) -> int:
        if depth < 2:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        # a child the JVM is spawning shares the JVM's address space until
        # it execs, and would count the whole JVM a second time
        if os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java":
            return 0
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            return next(int(ln.split()[1]) * 1024 for ln in fh if ln.startswith("Pss:"))

    def sample(self) -> int:
        # listing the tree reads one file per JVM thread, so it is redone
        # every tenth sample only: this thread shares the GIL with the
        # benchmark's driver thread
        if self._samples % 10 == 0:
            self._pids = self._tree(os.getpid())
        total = 0
        for pid, depth in self._pids:
            try:
                total += self._bytes(pid, depth)
            except (OSError, StopIteration, ValueError, IndexError):
                pass  # the process ended between listing and reading
        self._samples += 1
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_bytes / MB
