"""Closed-loop timing harness shared by the workloads.

One client runs one op at a time. A run is: start the session, set the
workload up, one cold op (its end closes ``setup_s``), warm-up ops, then
the timed window: at least ``seconds`` wall-clock seconds and at least
the workload's ``timed_ops`` ops. Every op's output is checked outside
the timed region; an op that raises or fails its check counts as failed.

With tracing on, the timed window alternates traced and plain ops. Plain
ops give the untraced median that ``trace.overhead`` divides by; traced
ops give the per-layer metrics. Per-layer values are per-op medians over
the first ``traced_ops`` traced ops of the window, a set fixed by the
workload so that counts repeat exactly across runs of one seed.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any

import pandas as pd

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))

#: Engine threads and shuffle partitions of every workload: half of a
#: 4-vCPU host. On such a host shared with other tenants, back-to-back
#: pass medians were 7.6% apart at local[4] and 1.1% apart at local[2].
MASTER = "local[2]"
SHUFFLE_PARTITIONS = 2

#: JVM options of the driver (which runs the local executor). G1 grows the
#: heap in steps driven by the share of wall time spent in GC, so the
#: JVM's peak RSS on ``headline_queries`` fell into two groups 30-60%
#: apart from run to run. The serial collector sizes the heap from the
#: live data: JVM peak RSS within 5% over three runs of each workload,
#: op times within G1's run-to-run noise. The JVM picks it by itself on
#: small machines.
JVM_OPTIONS = "-XX:+UseSerialGC"


def per_layer_units() -> dict[str, str]:
    """Per-layer metric names and units, in report order, as
    ``BENCHMARK.json`` declares them. A layer a workload does not run
    reports 0."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


@dataclass
class Context:
    spark: Any
    sf_dir: str
    work_dir: str
    seed: int
    sf: float
    tracer: tracing.Tracer
    traced_run: bool
    #: layer values an op records itself (name -> value), reset per op
    op_values: dict[str, float] = field(default_factory=dict)

    def record(self, name: str, value: float) -> None:
        if self.tracer.enabled:
            self.op_values[name] = self.op_values.get(name, 0.0) + value


def multiset_hash(df: pd.DataFrame) -> tuple:
    """Order-insensitive fingerprint of a result: columns, dtypes, row
    count and the wrapping sum of per-row hashes."""
    row_hashes = pd.util.hash_pandas_object(df, index=False)
    return (
        tuple(df.columns),
        tuple(str(t) for t in df.dtypes),
        len(df),
        int(row_hashes.sum()),
    )


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. With ten samples or fewer no percentile qualifies
    and the median is reported at 50."""
    n = len(values)
    if n <= 10:
        return statistics.median(values), 50.0
    pct = math.floor((n - 10) / n * 100)
    ordered = sorted(values)
    return ordered[max(0, math.ceil(pct / 100 * n) - 1)], float(pct)


@dataclass
class OpRecord:
    index: int
    phase: str  # cold | warm | timed
    seconds: float
    ok: bool
    traced: bool
    wall: tuple[float, float]
    #: ``perf_counter`` when ``run`` returned or raised, before the check
    end: float
    values: dict[str, float]


class Harness:
    """Runs one workload's ops and turns them into metrics.

    A workload has ``name``, ``tables`` and ``scale`` (what to generate),
    ``items_per_op``, ``warm_ops``, ``timed_ops`` (the fewest ops of a
    timed window), ``traced_ops``, and the methods ``setup``, ``prepare`` (untimed),
    ``run`` (timed), ``verify`` (untimed, returns whether the output is
    right), ``layer_values``, ``finish`` (final check) and ``close``.
    """

    def __init__(self, workload, ctx: Context, seconds: float) -> None:
        self.w = workload
        self.ctx = ctx
        self.seconds = seconds
        self.ops: list[OpRecord] = []

    def _one(self, index: int, phase: str, traced: bool) -> None:
        ctx, tracer = self.ctx, self.ctx.tracer
        tracer.enabled = traced
        ctx.op_values = {}
        if ctx.traced_run:
            ctx.spark.sparkContext.setJobGroup(f"op-{index}", f"{self.w.name} {phase}")
        ok, seconds, cpu0, end = False, float("nan"), None, None
        wall0 = time.time()
        try:
            self.w.prepare(ctx, index)
            if traced:
                cpu0 = tracing.process_cpu()
            with tracer.op(index):
                t0 = time.perf_counter()
                try:
                    out = self.w.run(ctx, index)
                finally:
                    end = time.perf_counter()
                seconds = end - t0
            if traced:
                cpu1 = tracing.process_cpu()
                for k in cpu1:
                    ctx.op_values[f"cpu.{k}_s"] = cpu1[k] - cpu0[k]
            wall1 = time.time()
            ok = bool(self.w.verify(ctx, index, out))
            if not ok:
                print(f"perfbench: op {index} failed its output check", file=sys.stderr)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            traceback.print_exc()
            wall1 = time.time()
        finally:
            if traced:
                ctx.op_values["cache.persisted_rdds"] = float(
                    ctx.spark.sparkContext._jsc.getPersistentRDDs().size()
                )
            ctx.spark.catalog.clearCache()
            tracer.enabled = False
        self.ops.append(
            OpRecord(index, phase, seconds, ok, traced, (wall0, wall1),
                     end if end is not None else time.perf_counter(), dict(ctx.op_values))
        )

    def run(self, t_start: float) -> float:
        """Cold op, warm-up, timed window. Returns ``setup_s``: seconds from
        ``t_start`` to the end of the cold op's ``run``; its output check
        is not part of it."""
        self._one(0, "cold", False)
        setup_s = self.ops[0].end - t_start
        i = 1
        for _ in range(self.w.warm_ops):
            self._one(i, "warm", False)
            i += 1
        window0 = time.perf_counter()
        n = 0
        # A window holds ``timed_ops`` ops however fast the host is, so the
        # median is taken at the same point of the JIT drift on every run;
        # a traced one also holds ``traced_ops`` traced and as many plain ops.
        min_ops = self.w.timed_ops
        if self.ctx.traced_run:
            min_ops = max(min_ops, 2 * self.w.traced_ops)
        while n < min_ops or time.perf_counter() - window0 < self.seconds:
            traced = self.ctx.traced_run and n % 2 == 0
            self._one(i, "timed", traced)
            i += 1
            n += 1
        return setup_s

    # -- reporting -------------------------------------------------------

    def timed(self, traced: bool | None = None) -> list[OpRecord]:
        return [
            o for o in self.ops
            if o.phase == "timed" and o.ok and (traced is None or o.traced == traced)
        ]

    def end_to_end(self, setup_s: float, peak_mb: float) -> dict[str, tuple[float, str]]:
        secs = [o.seconds for o in self.timed()]
        return {
            "op_s.p50": (statistics.median(secs), "s"),
            "items_per_s": (self.w.items_per_op * len(secs) / sum(secs), "1/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }

    def per_layer(self, session_start_s: float, eventlog: dict[int, dict[str, float]],
                  load: tuple[float, float]) -> dict[str, tuple[float, str]]:
        tracer = self.ctx.tracer
        span_totals = tracing.per_op_totals(tracer)
        roots = {sp.op_id: sp for sp in tracer.spans if sp.parent is None}
        traced = self.timed(True)
        units = per_layer_units()
        per_op: list[dict[str, float]] = []
        # a fixed op set, so that counts repeat exactly across runs of one seed
        for o in traced[: self.w.traced_ops]:
            vals = {k: 0.0 for k in units}
            spans = span_totals.get(o.index, {})
            for name, v in spans.items():
                if name in vals:
                    vals[name] = v
            vals.update({k: v for k, v in o.values.items() if k in vals})
            for k, v in eventlog.get(o.index, {}).items():
                key = f"engine.{k}"  # job_times has no metric of its own
                if key in vals:
                    vals[key] = float(v)
            root = roots.get(o.index)
            if root is not None:
                vals["op.self_s"] = spans.get("op#self", 0.0)
                vals["op.self_share"] = vals["op.self_s"] / root.seconds
            self.w.layer_values(self.ctx, o, spans, eventlog.get(o.index, {}), vals)
            per_op.append(vals)
        out = {k: (statistics.median(v[k] for v in per_op), u) for k, u in units.items()}

        traced_secs = [o.seconds for o in traced]
        plain_secs = [o.seconds for o in self.timed(False)]
        all_secs = [o.seconds for o in self.timed()]
        half = len(all_secs) // 2
        t_val, t_pct = tail(all_secs)
        out.update({
            "session.start_s": (session_start_s, "s"),
            "op_s.traced_p50": (statistics.median(traced_secs), "s"),
            "op_s.tail": (t_val, "s"),
            "op_s.tail_pct": (t_pct, "%"),
            "op_s.n": (float(len(all_secs)), "count"),
            "op_s.trend": (
                statistics.median(all_secs[half:]) / statistics.median(all_secs[:half])
                if half else 1.0, "ratio"),
            "host.loadavg_start": (load[0], "load"),
            "host.loadavg_end": (load[1], "load"),
            "trace.overhead": (
                statistics.median(traced_secs) / statistics.median(plain_secs), "ratio"),
        })
        return out

    def attempted(self) -> int:
        return len(self.ops)

    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)


def work_paths(work_dir: str) -> dict[str, str]:
    paths = {k: os.path.join(work_dir, k) for k in ("data", "tmp", "eventlog", "state")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    return paths
