"""Layer probes the benchmark reads from outside the program.

Nothing here changes what the program does; every probe reads a
public or status API after the fact:

* ``Tracer``        — spans (name, start, end, parent, op id) kept in
  memory; self time per span name.
* ``SparkProbe``    — one Spark job group per operation; the jobs,
  stages, tasks, executor run time, input and shuffle bytes of the
  operation, read from ``AppStatusStore`` (works with the UI off).
  Jobs are attributed by job-id window, so jobs the program submits
  from helper threads (which do not inherit the group) still count.
* ``ProgressListener`` — a ``StreamingQueryListener`` collecting each
  micro-batch's ``StreamingQueryProgress``.
* ``list_store`` / ``proc_tree_hwm_mb`` — store directory listings
  and process peak memory from /proc.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans. Disabled tracers record nothing and cost one
    attribute check per call, so the untraced passes share code with
    the traced ones."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()  # sink callbacks open spans from another thread

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {"name": name, "op": op,
               "parent": parent if parent is not None else (stack[-1] if stack else None),
               "start": time.perf_counter(), "end": None}
        with self._lock:
            sid = rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, spans: list[dict] | None = None) -> dict[str, float]:
        """Seconds per span name of each span's duration minus the part
        of it its children cover (children may overlap each other)."""
        spans = self.spans if spans is None else spans
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class SparkProbe:
    """Per-operation Spark counters from the application status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def start(self, label: str) -> int:
        """Open an operation: its own job group; returns the first job id
        the operation can own."""
        self._n += 1
        self.sc.setJobGroup(f"perfbench-{self._n}-{label}", label)
        return self.next_job_id()

    def finish(self, first_job: int) -> dict:
        """Close the operation opened at ``first_job``; its counters."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return self.counters(first_job, self.next_job_id())

    def counters(self, first_job: int, end_job: int) -> dict:
        """Counters of jobs [first_job, end_job): skipped stages (reused
        shuffle output) are not counted as stages or tasks."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = {k: 0 for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
                              "input_bytes", "input_records", "shuffle_read_bytes",
                              "shuffle_write_bytes", "output_bytes", "failed_jobs")}
        stage_ids: set[int] = set()
        for jid in range(first_job, end_job):
            job = store.job(jid)
            out["jobs"] += 1
            out["failed_jobs"] += job.status().toString() == "FAILED"
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numTasks())
            out["failed_tasks"] += int(st.numFailedTasks())
            out["executor_run_ms"] += int(st.executorRunTime())
            out["input_bytes"] += int(st.inputBytes())
            out["input_records"] += int(st.inputRecords())
            out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            out["output_bytes"] += int(st.outputBytes())
        return out


class ProgressListener(StreamingQueryListener):
    """Collects every StreamingQueryProgress as a dict, per query id."""

    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.setdefault(p["id"], []).append(p)

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, query_id: str, n: int, timeout_s: float = 10.0) -> list[dict]:
        """Progress events of ``query_id`` once ``n`` have arrived
        (delivery is asynchronous)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                got = list(self.progress.get(query_id, []))
            if len(got) >= n or time.monotonic() > deadline:
                return got
            time.sleep(0.01)


def list_store(root: str) -> dict[str, int]:
    """Data files under ``root`` (path → size); hidden and marker
    files (``.crc``, ``_SUCCESS``) are left out."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                kids.append(int(entry))
    return kids


def proc_tree_hwm_mb(root_pid: int) -> dict[int, float]:
    """VmHWM (peak resident set) in MB of ``root_pid`` and every live
    descendant — the driver JVM plus its Python worker daemon and
    workers."""
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
        todo.extend(_children(pid))
    return out
