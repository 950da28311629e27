"""Tracing for the benchmark: spans, Spark job groups, event-log parsing.

All of it lives in the benchmark's own files and measures the library
from outside, around calls into its public functions:

- :class:`Tracer` records spans (name, start, end, parent, op id) in
  memory and, when enabled, tags every Spark job with a job group
  ``pb|<op id>|<phase>|<function>`` so engine metrics can be attributed
  to the operation and to the public call that started them.
- :func:`parse_event_log` reads a Spark JSON event log with the standard
  library only and groups job, stage and task metrics by job group.
- :func:`tail_percentile` is the reporting rule for tail latency.
- :class:`RssSampler` tracks the peak resident memory of this process
  and all its descendants (the JVM and the Python workers) from /proc.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

GROUP_PREFIX = "pb"
# public-function spans and the jobs they start belong to phase "call";
# the collect that consumes the answer is phase "action"
CALL, ACTION = "call", "action"


def group_id(op_id: int, phase: str, fn: str) -> str:
    return f"{GROUP_PREFIX}|{op_id}|{phase}|{fn}"


def parse_group(gid: Optional[str]):
    """(op id, phase, function) of a benchmark job group, else None."""
    if not gid or not gid.startswith(GROUP_PREFIX + "|"):
        return None
    parts = gid.split("|", 3)
    if len(parts) != 4:
        return None
    try:
        return int(parts[1]), parts[2], parts[3]
    except ValueError:
        return None


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: Optional[str]
    op_id: int


class Tracer:
    """Spans and job groups around the benchmark's calls into the
    library. Disabled, it only calls through (no spans, no job groups),
    so untraced runs pay nothing for it."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: List[Span] = []
        self._op: Optional[int] = None
        self._op_name: Optional[str] = None
        # perf_counter when the last action returned: an operation's wall
        # time ends with its collected answer, before the answer check
        self.last_action_end: Optional[float] = None

    def _set_group(self, phase: str, fn: str) -> None:
        self.sc.setJobGroup(group_id(self._op, phase, fn),
                            f"{self._op_name}: {fn}")

    def begin_op(self, op_id: int, name: str) -> float:
        self._op, self._op_name = op_id, name
        return time.time()

    def end_op(self, name: str, start: float) -> None:
        if self.enabled:
            self.spans.append(Span(name, start, time.time(), None, self._op))
            self.sc.setJobGroup(f"{GROUP_PREFIX}|idle", "between operations")
        self._op = self._op_name = None

    def call(self, fn_name: str, fn: Callable, *args, **kwargs):
        """Call a public library function; traced, its wall time is the
        function's plan time and the jobs it starts are its probes."""
        if not self.enabled:
            return fn(*args, **kwargs)
        self._set_group(CALL, fn_name)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append(
                Span(fn_name, t0, time.time(), self._op_name, self._op))

    def action(self, name: str, fn: Callable):
        """Run the action that collects an operation's answer."""
        if not self.enabled:
            out = fn()
            self.last_action_end = time.perf_counter()
            return out
        self._set_group(ACTION, name)
        t0 = time.time()
        try:
            out = fn()
            self.last_action_end = time.perf_counter()
            return out
        finally:
            self.spans.append(
                Span(f"action:{name}", t0, time.time(), self._op_name,
                     self._op))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# --------------------------------------------------------------------- #
# Spark event log
# --------------------------------------------------------------------- #

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class TaskRecord:
    stage: int
    failed: bool
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    result_bytes: float = 0.0
    spill_bytes: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    py_sent: float = 0.0
    py_received: float = 0.0


@dataclass
class JobRecord:
    job_id: int
    group: Optional[str]
    submit_ms: int
    end_ms: Optional[int] = None
    stages: List[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: Dict[int, JobRecord]
    tasks: List[TaskRecord]
    stage_job: Dict[int, int]


def _accum(info: dict, name: str) -> float:
    total = 0.0
    for acc in info.get("Accumulables") or ():
        if acc.get("Name") == name:
            try:
                total += float(acc.get("Update", 0) or 0)
            except (TypeError, ValueError):
                pass
    return total


def parse_event_log(lines) -> EventLog:
    """Parse a Spark JSON event log (an iterable of lines)."""
    jobs: Dict[int, JobRecord] = {}
    tasks: List[TaskRecord] = []
    stage_job: Dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = int(ev["Job ID"])
            rec = JobRecord(jid, props.get("spark.jobGroup.id"),
                            int(ev.get("Submission Time", 0)))
            rec.stages = [int(s) for s in ev.get("Stage IDs", [])]
            for s in rec.stages:
                stage_job.setdefault(s, jid)
            jobs[jid] = rec
        elif kind == "SparkListenerJobEnd":
            jid = int(ev["Job ID"])
            if jid in jobs:
                jobs[jid].end_ms = int(ev.get("Completion Time", 0))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            tasks.append(TaskRecord(
                stage=int(ev["Stage ID"]),
                failed=bool(info.get("Failed")) or (
                    reason is not None and reason != "Success"),
                run_ms=float(m.get("Executor Run Time", 0)),
                cpu_ns=float(m.get("Executor CPU Time", 0)),
                gc_ms=float(m.get("JVM GC Time", 0)),
                result_bytes=float(m.get("Result Size", 0)),
                spill_bytes=float(m.get("Memory Bytes Spilled", 0))
                + float(m.get("Disk Bytes Spilled", 0)),
                shuffle_read=float(sr.get("Remote Bytes Read", 0))
                + float(sr.get("Local Bytes Read", 0)),
                shuffle_write=float(sw.get("Shuffle Bytes Written", 0)),
                py_sent=_accum(info, PY_SENT),
                py_received=_accum(info, PY_RECEIVED),
            ))
    return EventLog(jobs, tasks, stage_job)


def read_event_log(event_dir: str) -> EventLog:
    """Parse the single application log Spark wrote into ``event_dir``."""
    names = sorted(n for n in os.listdir(event_dir)
                   if not n.startswith("."))
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, "
                           f"found {names}")
    with open(os.path.join(event_dir, names[0])) as fh:
        return parse_event_log(fh)


def _union_ms(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


@dataclass
class OpEngine:
    """Engine-side facts of one operation, from its job groups."""

    jobs: int = 0
    probe_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: float = 0.0
    shuffle_read: float = 0.0
    spill: float = 0.0
    result_bytes: float = 0.0
    py_sent: float = 0.0
    py_received: float = 0.0
    job_busy_s: float = 0.0
    task_skew: float = 1.0
    fn_jobs: Dict[str, int] = field(default_factory=dict)


def attribute(log: EventLog) -> Dict[int, OpEngine]:
    """Group event-log jobs, stages and tasks by benchmark operation
    (the op id in the job group), never by stage names."""
    out: Dict[int, OpEngine] = defaultdict(OpEngine)
    job_op: Dict[int, int] = {}
    op_intervals: Dict[int, list] = defaultdict(list)
    for job in log.jobs.values():
        g = parse_group(job.group)
        if g is None:
            continue
        op, phase, fn = g
        job_op[job.job_id] = op
        eng = out[op]
        eng.jobs += 1
        eng.fn_jobs[fn] = eng.fn_jobs.get(fn, 0) + 1
        if phase == CALL:
            eng.probe_jobs += 1
        if job.end_ms is not None:
            op_intervals[op].append((job.submit_ms, job.end_ms))
    stage_times: Dict[int, List[float]] = defaultdict(list)
    for t in log.tasks:
        op = job_op.get(log.stage_job.get(t.stage, -1))
        if op is None:
            continue
        eng = out[op]
        eng.tasks += 1
        eng.failed_tasks += int(t.failed)
        eng.run_s += t.run_ms / 1e3
        eng.cpu_s += t.cpu_ns / 1e9
        eng.gc_s += t.gc_ms / 1e3
        eng.shuffle_write += t.shuffle_write
        eng.shuffle_read += t.shuffle_read
        eng.spill += t.spill_bytes
        eng.result_bytes += t.result_bytes
        eng.py_sent += t.py_sent
        eng.py_received += t.py_received
        stage_times[t.stage].append(t.run_ms)
    op_stages: Dict[int, list] = defaultdict(list)
    for stage, times in stage_times.items():
        op_stages[job_op[log.stage_job[stage]]].append(times)
    for op, stages in op_stages.items():
        eng = out[op]
        eng.stages = len(stages)
        longest = max(stages, key=sum)
        med = _median(longest)
        eng.task_skew = max(longest) / med if med > 0 else 1.0
    for op, iv in op_intervals.items():
        out[op].job_busy_s = _union_ms(iv) / 1e3
    return dict(out)


def _median(xs) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


# --------------------------------------------------------------------- #
# reporting rules
# --------------------------------------------------------------------- #

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def tail_percentile(values, min_beyond: int = MIN_BEYOND):
    """The highest percentile on :data:`TAIL_LADDER` that still has at
    least ``min_beyond`` samples strictly beyond it (nearest-rank).

    Returns ``(percentile, value, samples_beyond)``. With fewer than
    ``2 * min_beyond`` samples no ladder step qualifies; the rule then
    falls back to the nearest-rank value with exactly ``min_beyond``
    samples beyond it (or the maximum, with fewer beyond, when there
    are at most ``min_beyond`` samples) and reports the percentile that
    value sits at."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, s[rank - 1], n - rank
    rank = n - min_beyond if n > min_beyond else n
    return 100.0 * rank / n, s[rank - 1], n - rank


def descendants(root: int) -> set:
    """Pids of every live descendant of ``root``, from /proc."""
    children: Dict[int, list] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields follow ')'
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(name))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak summed RSS of this process and every descendant, sampled
    from /proc on a background thread."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._root = os.getpid()

    def _tree_rss(self) -> int:
        total = 0
        for pid in descendants(self._root) | {self._root}:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# --------------------------------------------------------------------- #
# per-layer metrics of a traced run
# --------------------------------------------------------------------- #

LAYER_UNITS = {
    "sketches.tdigest.add_rows_per_s": "1/s",
    "sketches.kll.add_rows_per_s": "1/s",
    "sketches.hll.add_rows_per_s": "1/s",
    "sketches.cms.add_rows_per_s": "1/s",
    "sketches.bloom.add_rows_per_s": "1/s",
    "sketches.tdigest.merge_s": "s",
    "sketches.tdigest.quantile_us": "us",
    "sketches.tdigest.cdf_us": "us",
    "sketches.wire.encode_mb_per_s": "MB/s",
    "sketches.wire.decode_mb_per_s": "MB/s",
    "sketches.wire.bytes_per_group": "B",
    "arrow.identity_s": "s",
    "arrow.bytes_to_python": "B",
    "arrow.bytes_from_python": "B",
    "ops.plan_s": "s",
    "ops.action_s": "s",
    "ops.probe_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.slot_busy_ratio": "ratio",
    "spark.task_skew": "ratio",
    "spark.failed_tasks": "count",
    "driver.idle_s": "s",
    "driver.result_bytes": "B",
    "sources.input_s": "s",
    "plans.get_spark_s": "s",
    "trace.op_s_p50": "s",
}


def _engine_means(ops: List[OpEngine], walls: List[float], cores: int):
    """Engine, Arrow and driver metrics of a set of operations: means
    per operation, ratios over the set."""
    n = len(ops)

    def mean(attr):
        return sum(getattr(e, attr) for e in ops) / n

    skews = [e.task_skew for e in ops if e.tasks]
    return {
        "arrow.bytes_to_python": mean("py_sent"),
        "arrow.bytes_from_python": mean("py_received"),
        "ops.probe_jobs": mean("probe_jobs"),
        "spark.jobs": mean("jobs"),
        "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.executor_run_s": mean("run_s"),
        "spark.executor_cpu_s": mean("cpu_s"),
        "spark.gc_s": mean("gc_s"),
        "spark.shuffle_write_bytes": mean("shuffle_write"),
        "spark.shuffle_read_bytes": mean("shuffle_read"),
        "spark.spill_bytes": mean("spill"),
        "spark.slot_busy_ratio": sum(e.run_s for e in ops)
        / (sum(walls) * cores),
        "spark.task_skew": _median(skews) if skews else 1.0,
        "spark.failed_tasks": mean("failed_tasks"),
        "driver.idle_s": sum(max(0.0, w - e.job_busy_s)
                             for w, e in zip(walls, ops)) / n,
        "driver.result_bytes": mean("result_bytes"),
    }


def layer_metrics(log: EventLog, spans: List[Span], samples, cores: int):
    """Per-layer metrics of the timed operations (op ids 0..n-1), each
    a mean per operation unless it is a ratio; the same engine metrics
    per operation type; and a per-function table (plan time, action
    time, probe jobs)."""
    engines = attribute(log)
    n = len(samples)
    walls = [w for _, w, _ in samples]
    per_op = [engines.get(i, OpEngine()) for i in range(n)]
    out = _engine_means(per_op, walls, cores)
    per_type = {}
    for name in dict.fromkeys(m for m, _, _ in samples):
        idx = [i for i, (m, _, _) in enumerate(samples) if m == name]
        per_type[name] = _engine_means([per_op[i] for i in idx],
                                       [walls[i] for i in idx], cores)
    timed = [s for s in spans if 0 <= s.op_id < n and s.parent is not None]
    calls = [s for s in timed if not s.name.startswith("action:")]
    actions = {s.op_id: s.end - s.start for s in timed
               if s.name.startswith("action:")}
    out["ops.plan_s"] = sum(s.end - s.start for s in calls) / n
    out["ops.action_s"] = sum(actions.values()) / n
    per_fn: Dict[str, dict] = {}
    for fn in dict.fromkeys(s.name for s in calls):
        mine = [s for s in calls if s.name == fn]
        ops = sorted({s.op_id for s in mine})
        per_fn[fn] = {
            "calls": len(mine),
            "plan_s": _median([s.end - s.start for s in mine]),
            "action_s": _median([actions[o] for o in ops if o in actions]),
            "probe_jobs": sum(per_op[o].fn_jobs.get(fn, 0) for o in ops)
            / len(mine),
        }
    return out, per_type, per_fn
