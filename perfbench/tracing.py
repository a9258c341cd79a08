"""Measurement plumbing: process-tree CPU/RSS, spans, Spark status store.

Everything here observes the engine from outside: the process tree is read
from /proc, spans wrap calls into the engine's public functions under their
own Spark job groups, and Spark's counters come, via py4j, from the JVM
``AppStatusStore`` (jobs with their group and submission time, per-stage
task metrics). No engine code is modified or patched.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may contain spaces: split after its closing paren
    return s[s.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (driver, JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the live tree, including children each
    process has already reaped (finished Python workers)."""
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _CLK


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of the tree, each address space counted once: a child
    the JVM spawns (``posix_spawn``) shares the JVM's memory until it execs,
    and meanwhile reads the same ``statm`` as its parent."""
    statm: dict[int, str] = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
        except OSError:
            pass
    total = 0
    for pid, text in statm.items():
        st = _stat(pid)
        if st is not None and statm.get(int(st[1])) == text:
            continue
        total += int(text.split()[1]) * _PAGE
    return total


class RssSampler:
    """Background thread sampling the resident memory of the tree.

    ``peak`` is the second-highest sample: a process forked from a large
    parent shares its pages until it execs, and one sample that catches
    that moment would count them twice."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root, self.interval_s = root, interval_s
        self._top = [0, 0]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> int:
        return self._top[0]

    def _sample(self):
        self._top = sorted(self._top + [tree_rss_bytes(self.root)])[-2:]

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans; each span also names the Spark job group its calls
    run under, so the status store can attribute jobs and stages to it."""

    def __init__(self, spark, run_id: str):
        self.spark, self.run_id = spark, run_id
        self.spans: list[Span] = []

    def span(self, name: str, parent: str | None = None):
        return _SpanCtx(self, name, parent)

    def group(self, name: str) -> str:
        return f"{self.run_id}:{name}"

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def self_seconds(self, name: str) -> float:
        """A span's duration minus the part its child spans cover."""
        s = self.get(name)
        covered = sum(c.seconds for c in self.spans if c.parent == name)
        return s.seconds - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f, indent=1)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, parent: str | None):
        self.tracer, self.name, self.parent = tracer, name, parent

    def __enter__(self) -> Span:
        sc = self.tracer.spark.sparkContext
        sc.setJobGroup(self.tracer.group(self.name), self.name)
        self.span = Span(self.name, time.time(), parent=self.parent, run_id=self.tracer.run_id)
        return self.span

    def __exit__(self, *exc):
        self.span.end = time.time()
        self.tracer.spans.append(self.span)
        sc = self.tracer.spark.sparkContext
        if self.parent is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self.tracer.group(self.parent), self.parent)


# ---------------------------------------------------------- status store

STAGE_FIELDS = (
    "executorRunTime",
    "jvmGcTime",
    "shuffleReadBytes",
    "shuffleReadRecords",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numTasks",
    "numFailedTasks",
)


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submitted_ms: int
    stage_ids: list[int]


class StatusStore:
    """Reads jobs (with their group and submission time) and per-stage task
    metrics once the listener bus has drained."""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()

    def snapshot(self) -> tuple[list[JobRecord], dict[int, dict]]:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = []
        seq = store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            grp = j.jobGroup()
            sub = j.submissionTime()
            sids = j.stageIds()
            jobs.append(
                JobRecord(
                    j.jobId(),
                    grp.get() if grp.isDefined() else None,
                    sub.get().getTime() if sub.isDefined() else 0,
                    [sids.apply(k) for k in range(sids.size())],
                )
            )
        gw = self.spark.sparkContext._gateway
        no_tasks = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        stages: dict[int, dict] = {}
        for sid in sorted({s for j in jobs for s in j.stage_ids}):
            try:
                seq = store.stageData(sid, False, no_tasks, False, no_quantiles)
            except Exception:  # never submitted (skipped) or evicted
                continue
            acc = stages[sid] = dict.fromkeys(STAGE_FIELDS, 0)
            for i in range(seq.size()):
                s = seq.apply(i)
                for f in STAGE_FIELDS:  # attempts of one stage add up
                    acc[f] += getattr(s, f)()
        return jobs, stages


def totals(jobs: list[JobRecord], stages: dict[int, dict]) -> dict:
    """Stage metrics summed over ``jobs`` (a stage shared by two jobs counts
    once), plus the job count."""
    out = dict.fromkeys(STAGE_FIELDS, 0)
    seen = set()
    for j in jobs:
        for sid in j.stage_ids:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for f in STAGE_FIELDS:
                out[f] += stages[sid][f]
    out["jobs"] = len(jobs)
    return out


def group_jobs(jobs: list[JobRecord], group: str) -> list[JobRecord]:
    return [j for j in jobs if j.group == group]


def window_jobs(jobs: list[JobRecord], start_ms: float, end_ms: float) -> list[JobRecord]:
    """Jobs submitted inside [start_ms, end_ms]: how streaming triggers are
    attributed, since their jobs run on the stream thread, not under a
    job group the benchmark sets."""
    return [j for j in jobs if start_ms <= j.submitted_ms <= end_ms]
