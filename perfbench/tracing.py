"""Spans, process CPU and the Spark event log of a traced benchmark run.

Spans are recorded by the benchmark around its calls into the engine's
layers; nothing inside the engine is instrumented. Each span carries a
name, start, end, parent span and op id. Spans are kept in memory and
summarised once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.

    ``enabled`` is switched per op: the traced run interleaves traced and
    plain ops so that the tracing overhead is measured in one process.
    Spans opened on another thread (Spark's streaming callbacks) attach to
    the op's root span.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_id = -1
        self._root: Span | None = None
        #: add to a span time to get ``time.time()`` seconds
        self.wall_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sp = Span(len(self.spans), name, self._op_id,
                      parent.span_id if parent else None, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextlib.contextmanager
    def op(self, op_id: int):
        """The root span of one op; every other span of the op nests in it."""
        self._op_id = op_id
        with self.span("op") as root:
            self._root = root
            try:
                yield root
            finally:
                self._root = None

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out


def covered(parent: Span, kids: list[Span]) -> float:
    """Seconds of ``parent`` covered by the union of its children."""
    ivs = sorted(
        (max(k.start, parent.start), min(k.end, parent.end)) for k in kids
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(span: Span, kids: dict[int, list[Span]]) -> float:
    return span.seconds - covered(span, kids.get(span.span_id, []))


def per_op_totals(tracer: Tracer) -> dict[int, dict[str, float]]:
    """op id -> span name -> summed seconds (self time under ``<name>#self``)."""
    kids = tracer.children()
    out: dict[int, dict[str, float]] = {}
    for sp in tracer.spans:
        d = out.setdefault(sp.op_id, {})
        d[sp.name] = d.get(sp.name, 0.0) + sp.seconds
        key = f"{sp.name}#self"
        d[key] = d.get(key, 0.0) + self_seconds(sp, kids)
    return out


# -- /proc: CPU and memory of the driver, the JVM and its Python workers ----

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    own = (int(f[11]) + int(f[12])) / _TICK
    reaped = (int(f[13]) + int(f[14])) / _TICK
    return comm, int(f[1]), own, reaped


def process_table() -> dict[int, tuple[str, int, float, float]]:
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                table[int(name)] = st
    return table


def descendants(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def process_cpu() -> dict[str, float]:
    """Cumulative CPU seconds: ``driver_py``, ``jvm`` and ``pyworker``
    (the JVM's Python worker descendants, with the workers they reaped)."""
    table = process_table()
    me = os.getpid()
    jvm_pid = next(
        (p for p in descendants(table, me) if table[p][0] == "java"), None
    )
    out = {"driver_py": table[me][2], "jvm": 0.0, "pyworker": 0.0}
    if jvm_pid is not None:
        out["jvm"] = table[jvm_pid][2]
        out["pyworker"] = sum(
            table[p][2] + table[p][3] for p in descendants(table, jvm_pid)
        )
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of this process (``driver_py``), the JVM (``jvm``) and
    the JVM's Python workers (``pyworker``, summed); the end-to-end
    ``peak_rss_mb`` is their sum."""
    table = process_table()
    me = os.getpid()
    out = {"driver_py": _vm_hwm_kb(me) / 1024.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in descendants(table, me):
        part = "jvm" if table[pid][0] == "java" else "pyworker"
        out[part] += _vm_hwm_kb(pid) / 1024.0
    return out


# -- Spark event log ---------------------------------------------------------


def parse_event_log(log_dir: str, windows: dict[int, tuple[float, float]]
                    ) -> dict[int, dict[str, float]]:
    """Sum task metrics per op from the uncompressed event log(s) in
    ``log_dir``. A job belongs to the op whose wall-clock window
    (``time.time()`` seconds) holds its submission time; ``job_times``
    lists the submission times of an op's jobs."""
    jobs_of_op: dict[int, list[float]] = {}
    op_of_stage: dict[int, int] = {}
    out: dict[int, dict[str, float]] = {}

    def op_at(ms: int) -> int | None:
        t = ms / 1000.0
        for op_id, (s, e) in windows.items():
            if s <= t <= e:
                return op_id
        return None

    files = sorted(
        os.path.join(d, f) for d, _, names in os.walk(log_dir) for f in names
        if not f.startswith(".")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op_id = op_at(ev["Submission Time"])
                    if op_id is None:
                        continue
                    jobs_of_op.setdefault(op_id, []).append(ev["Submission Time"] / 1000.0)
                    for sid in ev["Stage IDs"]:
                        op_of_stage[sid] = op_id
                elif kind == "SparkListenerStageCompleted":
                    op_id = op_of_stage.get(ev["Stage Info"]["Stage ID"])
                    if op_id is not None:
                        d = out.setdefault(op_id, {})
                        d["stages"] = d.get("stages", 0) + 1
                elif kind == "SparkListenerTaskEnd":
                    op_id = op_of_stage.get(ev["Stage ID"])
                    if op_id is None:
                        continue
                    _add_task(out.setdefault(op_id, {}), ev)
    for op_id, times in jobs_of_op.items():
        d = out.setdefault(op_id, {})
        d["jobs"] = len(times)
        d["job_times"] = times
    return out


def _add_task(d: dict[str, float], ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    ser_ms = m.get("Result Serialization Time", 0)
    getting_ms = 0
    if info.get("Getting Result Time"):
        getting_ms = info["Finish Time"] - info["Getting Result Time"]
    duration_ms = info["Finish Time"] - info["Launch Time"]
    sched_ms = max(0, duration_ms - run_ms - deser_ms - ser_ms - getting_ms)
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    mb = 1024.0 * 1024.0
    add = {
        "tasks": 1,
        "executor_run_s": run_ms / 1000.0,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "deserialize_s": deser_ms / 1000.0,
        "scheduler_delay_s": sched_ms / 1000.0,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / mb,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / mb,
        "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb,
        "result_mb": m.get("Result Size", 0) / mb,
    }
    for k, v in add.items():
        d[k] = d.get(k, 0) + v
