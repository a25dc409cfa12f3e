"""Measurement plumbing: answer checks, spans, Spark status-store counters,
machine state and small statistics helpers."""

from __future__ import annotations

import math
import os
import threading
import time
from contextlib import contextmanager


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        return 0.0
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    s = sorted(values)
    if not s:
        return 0.0
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def machine_state() -> dict:
    """1-minute load average and the cumulative CPU steal ticks from
    ``/proc/stat``; compared at start and end of a run to flag noise."""
    state = {"load1": os.getloadavg()[0], "steal_ticks": 0}
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        state["steal_ticks"] = int(fields[8]) if len(fields) > 8 else 0
    except OSError:
        pass
    return state


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by a process and every live
    descendant (the gateway JVM, which runs the executors, and the Python
    workers it forks), plus their reaped children. CPU time leaves out
    the time another tenant held the CPU (steal), which wall time does
    not."""
    root_pid = root_pid or os.getpid()
    stats: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        # after the comm field: state ppid ... utime(12) stime cutime cstime
        stats[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _ticks) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    ticks = sum(stats[p][1] for p in tree if p in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden and ``_`` files skipped."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _corrupt(value):
    """A wrong answer of the same shape, for the checks' self-test: every
    leaf a check compares is changed, numbers inside dicts included."""
    if isinstance(value, bool) or value is None:
        return "corrupted"
    if isinstance(value, (int, float)):
        return value + 1 + abs(value)  # beyond any relative tolerance
    if isinstance(value, dict):
        return {k: _corrupt(v) for k, v in value.items()} if value else {"corrupted": 1}
    if isinstance(value, set):
        return value | {"__corrupted__"}
    if isinstance(value, (list, tuple)):
        return [*value, "__corrupted__"]
    return f"{value}__corrupted__"


class Checker:
    """Counts checked operations and wrong or failed ones. Thread-safe.
    With ``corrupt`` every engine answer is altered before comparison, so
    a run must report every checked operation as failed."""

    def __init__(self, corrupt: bool = False):
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        #: failures per check class (the first two dotted parts of a name)
        self.failed_by: dict[str, int] = {}
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def expect(self, name: str, expected, got, equal=None) -> bool:
        if self.corrupt:
            got = _corrupt(got)
        try:
            ok = bool(equal(expected, got)) if equal else expected == got
        except (TypeError, KeyError, ValueError, AttributeError):
            ok = False
        self._record(name, ok, f"{name}: expected {str(expected)[:200]} got {str(got)[:200]}")
        return ok

    def error(self, name: str, exc: BaseException) -> None:
        self._record(name, False, f"{name}: {type(exc).__name__}: {str(exc)[:300]}")

    def _record(self, name: str, ok: bool, detail: str) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                cls = ".".join(name.split(".")[:2])
                self.failed_by[cls] = self.failed_by.get(cls, 0) + 1
                if len(self.errors) < 20:
                    self.errors.append(detail)


class Tracer:
    """Spans around layer calls, made from the benchmark's own code.

    Disabled, ``span`` costs one ``perf_counter`` pair. Enabled, each span
    also tags the Spark jobs it submits with a job group ``<name>|<id>``
    (job groups are thread-local, so concurrent clients stay apart), and
    ``force`` runs a row-digest action on a lazy DataFrame so the span
    covers the work of that layer. Spans stay in memory; the runner writes
    them out at the end."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append((sid, name))
        sc.setJobGroup(f"{name}|{sid}", name)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if stack:
                psid, pname = stack[-1]
                sc.setJobGroup(f"{pname}|{psid}", pname)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name,
                    "parent": parent[0] if parent else None,
                    "start": start - self.t0, "end": end - self.t0,
                })

    def force(self, df) -> int:
        """Row-digest action (count + xor of row hashes); returns the row
        count. Only runs when tracing."""
        if not self.enabled:
            return 0
        from pyspark.sql import functions as F

        # to_json: hash expressions reject map columns
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.to_json(F.struct(*df.columns)))).alias("h"),
        ).collect()[0]
        return int(row["n"])

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


class SparkCounters:
    """Per-job-group counters read from Spark's status store (available
    with the UI disabled). Call ``collect`` once, after the measured phase,
    with the first job id of that phase."""

    STAGE_FIELDS = (
        "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
        "inputBytes", "inputRecords", "outputBytes", "outputRecords",
        "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
    )

    def __init__(self, spark):
        self.spark = spark
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}

    def next_job_id(self) -> int:
        jobs = self._status().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1

    def _status(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def collect(self, first_job: int) -> None:
        sc = self.spark.sparkContext
        status = self._status()
        jobs = status.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid < first_job:
                continue
            g = j.jobGroup()
            sids = j.stageIds()
            self.jobs.append({
                "id": jid,
                "group": g.get() if g.isDefined() else None,
                "stages": [sids.apply(k) for k in range(sids.size())],
            })
        wanted = {s for j in self.jobs for s in j["stages"]}
        stages = status.stageList(
            None, False, False, sc._gateway.new_array(sc._gateway.jvm.double, 0), None
        )
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid not in wanted or s.status().toString() == "SKIPPED":
                continue
            row = {f: getattr(s, f)() for f in self.STAGE_FIELDS}
            prev = self.stages.get(sid)
            if prev is None:
                self.stages[sid] = row
            else:  # retried stage attempts add up
                for f in self.STAGE_FIELDS:
                    prev[f] += row[f]

    def _jobs_of(self, layer: str | tuple[str, ...] | None) -> list[dict]:
        """Jobs of one layer (span name), of several, or all of them."""
        if layer is None:
            return self.jobs
        names = (layer,) if isinstance(layer, str) else layer
        return [j for j in self.jobs if j["group"] and j["group"].split("|")[0] in names]

    def n_jobs(self, layer: str | tuple[str, ...] | None = None) -> int:
        return len(self._jobs_of(layer))

    def total(self, field: str, layer: str | tuple[str, ...] | None = None) -> float:
        seen: set[int] = set()
        out = 0
        for j in self._jobs_of(layer):
            for s in j["stages"]:
                if s in self.stages and s not in seen:
                    seen.add(s)
                    out += self.stages[s][field]
        return out
