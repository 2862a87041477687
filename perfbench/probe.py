"""Outside-in layer probe: spans around calls into the engine's public
functions, Spark counters per span read back from Spark's event log, and
the CPU time and high-water RSS of the driver process tree.

Nothing here edits the engine. In a traced run the public functions are
wrapped by replacing the module attributes the engine imports at call
time, and every span sets the Spark job group to its own id, so each job
is attributed to the innermost span that launched it.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict

ROOT_GROUP = "bench"


# --- spans -----------------------------------------------------------------


def _set_job_group(group: str) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setJobGroup(group, group)


class Tracer:
    """In-memory spans: name, start, end, parent span, trace id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.trace_id = "setup"
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.trace_id}:{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": self.trace_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        _set_job_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            _set_job_group(self._stack[-1]["id"] if self._stack else ROOT_GROUP)

    def _wrapped(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                # a call may have started a new SparkContext (the CLI stops
                # its session on exit); put this span's group on it
                _set_job_group(self._stack[-1]["id"])
                return out

        traced.__wrapped__ = fn
        return traced

    def patch(self, targets: list[tuple[str, str, str]]) -> None:
        """Wrap `module.attr` in a span named `name` for each target."""
        for module, attr, name in targets:
            mod = importlib.import_module(module)
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrapped(orig, name))
            self._patched.append((mod, attr, orig))

    def patch_method(self, cls, attr: str, caller: str, name: str) -> None:
        """Wrap method `cls.attr` in a span named `name` for the calls made
        directly from a function named `caller`."""
        orig = getattr(cls, attr)
        traced = self._wrapped(orig, name)

        def method(*args, **kwargs):
            if sys._getframe(1).f_code.co_name == caller:
                return traced(*args, **kwargs)
            return orig(*args, **kwargs)

        setattr(cls, attr, method)
        self._patched.append((cls, attr, orig))

    @property
    def patched(self) -> bool:
        return bool(self._patched)

    def unpatch(self) -> None:
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> its duration minus the part its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children[s["id"]]
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _union_length(covered)
    return out


def descendants(spans: list[dict], root_id: str) -> set[str]:
    """root_id and the ids of every span below it."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(children[sid])
    return out


# --- Spark counters from the event log -------------------------------------

COUNTERS = (
    "stages",
    "tasks",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "input_records",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


def _new_job(job_id: int, ev: dict, app: str) -> dict:
    props = ev.get("Properties") or {}
    # PySpark sets the Python call site for DataFrame actions; writer jobs
    # carry only the JVM one, which names their first stage
    stages = ev.get("Stage Infos") or [{}]
    return {
        "app": app,
        "job_id": job_id,
        "group": props.get("spark.jobGroup.id"),
        "callsite": props.get("callSite.short") or stages[0].get("Stage Name", ""),
        "submit_ms": ev.get("Submission Time"),
        "end_ms": None,
        "stage_tasks": defaultdict(list),
        **{c: 0 for c in COUNTERS},
    }


def parse_event_log(lines, app: str = "app") -> list[dict]:
    """Per-job counters from one application's event-log lines.

    A stage's tasks are charged to the lowest job id that lists the stage
    (later jobs over the same lineage skip it). `stage_tasks` maps a stage
    to its task durations in ms."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    seen_stages: set[tuple] = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = _new_job(jid, ev, app)
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = min(stage_job.get(sid, jid), jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            job = jobs.get(stage_job.get(sid))
            if job is None:
                continue
            key = (sid, ev.get("Stage Attempt ID", 0))
            if key not in seen_stages:
                seen_stages.add(key)
                job["stages"] += 1
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            job["tasks"] += 1
            job["run_ms"] += m.get("Executor Run Time", 0)
            job["cpu_ns"] += m.get("Executor CPU Time", 0)
            job["gc_ms"] += m.get("JVM GC Time", 0)
            job["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            if info.get("Finish Time") and info.get("Launch Time"):
                job["stage_tasks"][sid].append(info["Finish Time"] - info["Launch Time"])
    return [jobs[j] for j in sorted(jobs)]


def read_event_logs(log_dir: str) -> list[dict]:
    """Jobs of every application that logged into `log_dir`."""
    out = []
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            out.extend(parse_event_log(f, app=fn))
    return out


def group_counters(jobs: list[dict], groups: set[str]) -> dict:
    """Sum of COUNTERS over the jobs whose job group is in `groups`, plus
    their count and the wall time during which at least one ran."""
    sel = [j for j in jobs if j["group"] in groups]
    out = {c: sum(j[c] for j in sel) for c in COUNTERS}
    out["jobs"] = len(sel)
    out["job_wall_ms"] = _union_length(
        [(j["submit_ms"], j["end_ms"]) for j in sel if j["end_ms"] is not None]
    )
    return out


def task_skew(jobs: list[dict]) -> float:
    """Longest / median task duration of the stage with the most task time."""
    stages = [d for j in jobs for d in j["stage_tasks"].values() if d]
    if not stages:
        return 1.0
    durs = max(stages, key=sum)
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


# --- process-level probes --------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(pid: int | None = None) -> list[int]:
    """This process and all its live descendants."""
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """User plus system CPU seconds of this process and its live
    descendants (the Python driver and the JVM with all its threads)."""
    ticks = 0
    for p in _tree(pid):
        try:
            ticks += _stat_cpu_ticks(f"/proc/{p}/stat")
        except OSError:
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def _stat_cpu_ticks(path: str) -> int:
    """utime + stime of a /proc stat file (fields 14 and 15 of the line;
    the command name in parentheses may hold spaces)."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


# Thread names (as /proc truncates them) of the JVM's just-in-time compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_jit_cpu_s(pid: int | None = None) -> float:
    """CPU seconds spent by the JIT compiler threads of every JVM in this
    process tree. The JVM must keep its compiler threads alive
    (-XX:-UseDynamicNumberOfCompilerThreads) for this to be cumulative."""
    ticks = 0
    for p in _tree(pid):
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/comm") as f:
                    if not f.read().startswith(JIT_THREADS):
                        continue
                ticks += _stat_cpu_ticks(f"/proc/{p}/task/{tid}/stat")
            except OSError:
                pass
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_hwm_mb(pid: int | None = None) -> float:
    """Sum of VmHWM over this process and all its live descendants (the
    Python driver plus the JVM it launched), in MB."""
    return sum(_hwm_kb(p) for p in _tree(pid)) / 1024.0


def jvm_gc_ms(jvm) -> int:
    """Total collection time of the driver JVM's garbage collectors (py4j `jvm` view)."""
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(beans.get(i).getCollectionTime()) for i in range(beans.size()))
