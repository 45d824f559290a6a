"""Tracing and host probes for the benchmark, all from outside the engine.

- ``Tracer``: spans (name, start, end, parent, run id) kept in memory and
  written out once, when the run ends. Disabled tracers record nothing.
- ``ProgressLog``: a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress`` as a dict.
- ``parse_event_log`` / ``attribute_jobs``: per-job task counts, executor
  time, shuffle and spill bytes from an uncompressed Spark event log,
  attributed to the span whose interval holds each job's submission.
- ``batch_commits``: micro-batch commit times and admitted files, read
  back from a streaming checkpoint directory.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans.
        Children of one span never overlap (spans nest on one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def windows(self) -> list[tuple[str, float, float]]:
        return [(s.name, s.start, s.end) for s in self.spans]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [s.__dict__ for s in self.spans],
                    "self_s": self.self_times(),
                },
                f,
                indent=1,
            )


def make_progress_log():
    """A ``StreamingQueryListener`` subclass instance collecting progress
    dicts in ``.progress``. Built lazily so importing this module does not
    import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    submit_s: float
    stage_ids: list[int]
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    #: per stage of two or more tasks: (longest task ms, stage wall ms)
    stage_skew: list[tuple[int, int]] = field(default_factory=list)


def parse_event_log(paths: list[str]) -> list[Job]:
    """Jobs of one or more uncompressed event-log files, with their task
    metrics summed per job. Lines that are not JSON (a torn last line of
    an in-progress log) are skipped."""
    jobs: dict[tuple[str, int], Job] = {}
    stage_job: dict[tuple[str, int], Job] = {}
    task_max: dict[tuple[str, int], int] = {}
    task_n: dict[tuple[str, int], int] = {}
    stage_wall: dict[tuple[str, int], int] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, list(ev["Stage IDs"]))
                    jobs[(path, job.job_id)] = job
                    for sid in job.stage_ids:
                        stage_job[(path, sid)] = job
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get((path, ev["Stage ID"]))
                    metrics = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    if job is None:
                        continue
                    job.tasks += 1
                    job.executor_run_ms += metrics.get("Executor Run Time", 0)
                    job.shuffle_write_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                        "Disk Bytes Spilled", 0
                    )
                    job.bytes_written += (metrics.get("Output Metrics") or {}).get("Bytes Written", 0)
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    key = (path, ev["Stage ID"])
                    task_max[key] = max(task_max.get(key, 0), dur)
                    task_n[key] = task_n.get(key, 0) + 1
                elif kind == "SparkListenerStageCompleted":
                    st = ev["Stage Info"]
                    if "Submission Time" in st and "Completion Time" in st:
                        stage_wall[(path, st["Stage ID"])] = st["Completion Time"] - st["Submission Time"]
    for key, wall in stage_wall.items():
        job = stage_job.get(key)
        if job is not None and task_n.get(key, 0) >= 2:
            job.stage_skew.append((task_max[key], wall))
    return sorted(jobs.values(), key=lambda j: j.submit_s)


def event_log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir``, including the per-app
    directories of Spark's rolling (v2) format."""
    out = []
    for d, _, files in os.walk(log_dir):
        out += [os.path.join(d, f) for f in files if not f.startswith(".")]
    return sorted(out)


def attribute_jobs(jobs: list[Job], windows: list[tuple[str, float, float]]) -> dict[str, list[Job]]:
    """Jobs grouped by the innermost window (latest start) whose interval
    holds the job's submission time; jobs outside every window are
    dropped."""
    out: dict[str, list[Job]] = {}
    for job in jobs:
        best = None
        for name, start, end in windows:
            if start <= job.submit_s <= end and (best is None or start >= best[1]):
                best = (name, start)
        if best is not None:
            out.setdefault(best[0], []).append(job)
    return out


def job_totals(jobs: list[Job]) -> dict[str, float]:
    skew = [t / w for j in jobs for t, w in j.stage_skew if w > 0]
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_run_ms": sum(j.executor_run_ms for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "bytes_written": sum(j.bytes_written for j in jobs),
        "max_task_over_stage_wall": max(skew, default=0.0),
    }


# ---------------------------------------------------------------------------
# streaming checkpoint read-back
# ---------------------------------------------------------------------------

@dataclass
class BatchCommit:
    batch_id: int
    commit_s: float  # the commit entry was written: the sink returned
    files: list[str]


def batch_commits(checkpoint_dir: str) -> list[BatchCommit]:
    """Committed micro-batches of a file-source query, from its checkpoint:
    ``commits/<id>`` (written after the sink returned) and
    ``sources/0/<id>`` (the files the file source admitted into that
    batch)."""
    commits_dir = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commits_dir):
        return []
    out = []
    for name in os.listdir(commits_dir):
        if not name.isdigit():
            continue
        bid = int(name)
        files = []
        src = os.path.join(checkpoint_dir, "sources", "0", name)
        if os.path.isfile(src):
            with open(src) as fh:
                for line in fh:
                    line = line.strip()
                    if line.startswith("{"):
                        files.append(os.path.basename(json.loads(line)["path"]))
        out.append(BatchCommit(bid, os.path.getmtime(os.path.join(commits_dir, name)), files))
    return sorted(out, key=lambda b: b.batch_id)


# ---------------------------------------------------------------------------
# host probes
# ---------------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat; the delta
    across a run gives the host steal share."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except OSError:
        return 0, 0


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system) consumed so far by ``root_pid`` (this
    process by default) and its live descendants, including children they
    have reaped. The delta across an interval is the CPU the process tree
    spent in it: the Python driver, the JVM and the JVM's Python workers.
    Unlike wall time it does not grow when other tenants of a shared host
    take the CPUs."""
    root = os.getpid() if root_pid is None else root_pid
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        f = stat[stat.rfind(")") + 2 :].split()
        procs[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of the driver JVM (VmHWM) plus the Python driver."""
    import resource

    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def git_commit(root: str) -> str:
    """HEAD commit read from ``.git`` without running git; 'unknown' in a
    checkout that is not a repository."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.isfile(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"
