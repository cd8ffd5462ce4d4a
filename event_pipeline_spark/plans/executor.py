"""Driver-side DAG executor.

Walks the PipelineNode graph with the reference's routing semantics
(nexus/task.py:1050-1165) re-expressed for Spark:

- an "execution context" = one maximal ``||`` chain, executed as one unit
  (task.py:1080-1096) — each event contributes a DataFrame; the context
  result is their unionByName;
- ``|->`` hands the previous context's DataFrame to an event
  (task.py:371-377); ``->`` sequences without a data dependency;
- conditionals route on the context's success bit (evaluation states,
  base.py:276-308); sinks queue on entry and drain LIFO at chain end
  (task.py:1072-1076, 1156-1165);
- ``goto``/SwitchTask jumps to a configured descriptor branch or cancels
  the run (task.py:522-535, 1114-1131);
- per-event retry with backoff + exception whitelist runs in the driver
  (Spark's task retries handle executor-side faults; the whitelist
  semantics, base.py:136-147, only exist here).

Spark-first notes: each event's ``process()`` returns a DataFrame and
"executing" a context composes those plans. The runner itself forces
only (a) evaluation of row-level error columns when an event opts in
(``row_level_errors``) — one tiny aggregate — and (b) whatever the
terminal sink does. That is not a laziness guarantee: an operator may
start Spark jobs while it builds its plan, and those run inside
``process()``. On the web-curation path ``semantic_dedup``'s trainer
starts 3 and no other stage starts one (``tools/eager_audit.py`` lists
every such query; ROADMAP direction 2 tracks them). At 100 TB the driver walk is O(graph), invariant to data
size.
"""

from __future__ import annotations

import datetime as _dt
import time
import uuid
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_pipeline_spark.core.events import (
    EvaluationState,
    EventBase,
    EventRegistry,
    MaxRetryError,
    StopProcessingError,
    SwitchTask,
)
from event_pipeline_spark.plans.dag import PipelineNode, PipeType
from event_pipeline_spark.telemetry import signals as S
from event_pipeline_spark.telemetry.metrics import TelemetryLogger


class RunState(Enum):
    RUNNING = "running"
    COMPLETED = "completed"
    CANCELLED = "cancelled"
    ABORTED = "aborted"


@dataclass
class StageRecord:
    """One execution context's ledger row (the reference's
    EventExecutionContext state, task.py:57-118, minus the linked list —
    records are ordered)."""

    events: list[str]
    success: bool = True
    result: DataFrame | None = None
    errors: list[str] = field(default_factory=list)
    retry_counts: dict[str, int] = field(default_factory=dict)
    started: _dt.datetime | None = None
    finished: _dt.datetime | None = None

    @property
    def duration(self) -> float:
        if self.started and self.finished:
            return (self.finished - self.started).total_seconds()
        return 0.0


@dataclass
class RunResult:
    run_id: str
    state: RunState
    records: list[StageRecord]

    @property
    def result(self) -> DataFrame | None:
        """Last context's DataFrame (what a terminal sink would consume)."""
        for rec in reversed(self.records):
            if rec.result is not None:
                return rec.result
        return None

    def filter_by_event(self, name: str) -> list[StageRecord]:
        """Case-insensitive context lookup (task.py:590-603)."""
        return [
            r for r in self.records
            if any(e.lower() == name.lower() for e in r.events)
        ]

    def unpersist(self) -> None:
        """Release any stage results the run cached (row-level evaluation
        persists the evaluated DataFrame so downstream branches reuse it)."""
        for rec in self.records:
            if rec.result is not None and rec.result.is_cached:
                rec.result.unpersist()

    def first_error_record(self) -> StageRecord | None:
        """First failed context, walking run order (the reference's
        ``get_first_error_execution_node``, nexus/pipeline.py:561-567)."""
        return next((r for r in self.records if not r.success), None)

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        """The run ledger as a DataFrame — telemetry queries (SURVEY §2.6)
        run over this."""
        rows = [
            {
                "run_id": self.run_id,
                "event_name": "||".join(r.events),
                "status": "completed" if r.success else "failed",
                "error": "; ".join(r.errors) or None,
                "retry_count": max(r.retry_counts.values(), default=0),
                "start_time": r.started,
                "end_time": r.finished,
            }
            for r in self.records
        ]
        schema = (
            "run_id string, event_name string, status string, error string,"
            " retry_count int, start_time timestamp, end_time timestamp"
        )
        return spark.createDataFrame(rows, schema=schema)


#: run ledger keyed by run id — the reference's pipeline state cache /
#: ``load_class_by_id`` (nexus/pipeline.py:68-147, 498-535) re-expressed:
#: runs are looked up by id, not pickled class state.
_RUN_REGISTRY: dict[str, RunResult] = {}


def get_run(run_id: str) -> RunResult:
    """Fetch a completed run by id (raises KeyError when unknown)."""
    return _RUN_REGISTRY[run_id]


class PipelineRunner:
    """Executes a DAG over a SparkSession with bound pipeline params."""

    def __init__(
        self,
        spark: SparkSession,
        params: dict[str, Any] | None = None,
        telemetry: "TelemetryLogger | None" = None,
    ):
        self.spark = spark
        self.params = params or {}
        self.telemetry = telemetry

    # -- single event ---------------------------------------------------

    def _run_event(
        self,
        node: PipelineNode,
        incoming_pipe: PipeType | None,
        previous: DataFrame | None,
        record: StageRecord,
    ) -> tuple[bool, DataFrame | None, SwitchTask | None]:
        klass = EventRegistry.resolve(node.event)
        piped = previous if incoming_pipe is PipeType.PIPE_POINTER else None
        instance: EventBase = klass(self.spark, previous_result=piped)
        S.event_init.emit(sender=klass, event=instance, init_kwargs=None)

        task_id = uuid.uuid4().hex
        if self.telemetry is not None:
            self.telemetry.start_event(
                node.event, task_id, pipeline_id=self._current_run_id
            )

        def _finish(error: str | None) -> None:
            if self.telemetry is not None:
                for _ in range(instance._retry_count - 1 if instance._retry_count else 0):
                    self.telemetry.record_retry(
                        task_id, node.event, pipeline_id=self._current_run_id
                    )
                self.telemetry.end_event(
                    task_id, node.event, error=error,
                    pipeline_id=self._current_run_id,
                )

        if node.retries is not None and instance.get_retry_policy() is None:
            # `A * 3` in the DSL overrides an absent class policy
            from event_pipeline_spark.core.events import RetryPolicy

            instance.retry_policy = RetryPolicy(max_attempts=node.retries)

        if instance.can_bypass_current_event():
            # identity pass-through (base.py:499-521, 619-634)
            record.retry_counts[node.event] = 0
            _finish(None)
            return True, piped, None

        def call() -> tuple[bool, DataFrame | None]:
            out = instance.process(**self.params)
            if not isinstance(out, tuple):
                return True, out
            return out

        try:
            ok, df = instance.run_with_retry(call)
        except SwitchTask as sw:
            record.retry_counts[node.event] = instance._retry_count
            _finish(None)
            return True, sw.result, sw
        except StopProcessingError:
            _finish("StopProcessingError")
            raise
        except MaxRetryError as exc:
            record.errors.append(str(exc))
            record.retry_counts[node.event] = instance._retry_count
            _finish(str(exc))
            return False, None, None
        except Exception as exc:  # noqa: BLE001 — ledger carries it
            record.errors.append(f"{type(exc).__name__}: {exc}")
            record.retry_counts[node.event] = instance._retry_count
            _finish(f"{type(exc).__name__}: {exc}")
            return False, None, None

        record.retry_counts[node.event] = instance._retry_count
        _finish(None if ok else f"{node.event}: process() returned failure")
        if not ok:
            record.errors.append(f"{node.event}: process() returned failure")
        if instance.stop_on_success and ok:
            raise StopProcessingError(f"{node.event}: stop_on_success")
        if instance.stop_on_error and not ok:
            raise StopProcessingError(f"{node.event}: stop_on_error")
        return ok, df, None

    # -- context = maximal || chain ------------------------------------

    @staticmethod
    def _gather_parallel(node: PipelineNode) -> list[tuple[PipelineNode, PipeType | None]]:
        """Collect the ``||`` chain starting at node, with each member's
        incoming pipe (task.py:1080-1096)."""
        group: list[tuple[PipelineNode, PipeType | None]] = []
        incoming: PipeType | None = None
        current: PipelineNode | None = node
        while current is not None and current.on_success_pipe is PipeType.PARALLELISM:
            group.append((current, incoming))
            incoming = PipeType.PARALLELISM
            current = current.on_success
        if current is not None:
            group.append((current, incoming))
        return group

    def _evaluate(
        self, last_node: PipelineNode, record: StageRecord, outputs: list[DataFrame]
    ) -> bool:
        klass = EventRegistry.resolve(last_node.event)
        state: EvaluationState = klass.execution_evaluation_state
        has_error = bool(record.errors)
        # the reference records a result row for every executed event,
        # errored or not, and has_success means "any result exists"
        # (result.py usage in base.py:377-384 _evaluate)
        has_success = bool(record.retry_counts)

        if getattr(klass, "row_level_errors", False) and record.result is not None \
                and "error" in record.result.columns:
            n, errs = self._observe_row_errors(record)
            has_success = has_success or (n - errs) > 0
            has_error = has_error or errs > 0

        return state.success(has_success, has_error)

    def _observe_row_errors(self, record: StageRecord) -> tuple[int, int]:
        """Row-level evaluation without a second scan (SURVEY §4.3).

        A conditional node must know the success bit *now* (it decides
        which branch plan to build), so one action is unavoidable. The
        design makes that single action pay twice: ``df.observe()``
        piggybacks the (count, error-count) metrics on a noop-sink
        materialization of the *persisted* stage result, so the branch
        that consumes the result reads the cache instead of recomputing
        the stage plan. The previous design — a separate ``agg`` action —
        re-ran the whole stage (at 100 TB: the whole stage twice).

        Persist is MEMORY_AND_DISK (DataFrame default), so an
        executor-memory-sized result spills rather than OOMs; call
        ``RunResult.unpersist()`` when done with the run.
        """
        from pyspark.sql import Observation

        from event_pipeline_spark.streaming.observe import error_count_expr

        obs = Observation()
        observed = record.result.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            error_count_expr(record.result).alias("errs"),
        ).persist()
        observed.write.format("noop").mode("overwrite").save()
        metrics = obs.get
        record.result = observed
        return int(metrics["n"]), int(metrics["errs"])

    # -- the walk -------------------------------------------------------

    def run(self, root: PipelineNode) -> RunResult:
        run_id = uuid.uuid4().hex
        self._current_run_id = run_id
        S.pipeline_execution_start.emit(sender=type(self), pipeline=root)
        records: list[StageRecord] = []
        sink_stack: list[PipelineNode] = []
        state = RunState.RUNNING

        node: PipelineNode | None = root
        incoming: PipeType | None = None
        previous: DataFrame | None = None
        is_root = True

        while True:
            if node is None:
                if sink_stack:
                    node = sink_stack.pop()
                    incoming = node.parent.sink_pipe if node.parent else PipeType.POINTER
                    # sink consumes the branch output when piped
                    continue
                break

            # queue this conditional's sink for the post-branch drain
            # (task.py:1072-1076). Divergence: the reference skips this
            # for a ROOT conditional (its sink silently never runs); we
            # queue it regardless — sink-as-collapse-point is the
            # documented intent.
            if node.sink is not None:
                sink_stack.append(node.sink)
            is_root = False

            group = self._gather_parallel(node)
            group[0] = (group[0][0], incoming)
            last_node = group[-1][0]

            record = StageRecord(
                events=[g[0].event for g in group],
                started=_dt.datetime.now(_dt.timezone.utc),
            )
            S.event_execution_start.emit(
                sender=type(self), event=record.events, execution_context=record
            )
            outputs: list[DataFrame] = []
            switch: SwitchTask | None = None

            try:
                for member, member_pipe in group:
                    ok, df, sw = self._run_event(member, member_pipe, previous, record)
                    if df is not None:
                        outputs.append(df)
                    if sw is not None:
                        switch = sw
                        break
            except StopProcessingError as exc:
                record.errors.append(str(exc))
                record.finished = _dt.datetime.now(_dt.timezone.utc)
                record.success = False
                records.append(record)
                state = RunState.CANCELLED
                S.event_execution_cancelled.emit(
                    sender=type(self), task_profiles=record.events,
                    execution_context=record, state=state,
                )
                break

            # context result: union of member outputs
            result: DataFrame | None = None
            for df in outputs:
                result = df if result is None else result.unionByName(
                    df, allowMissingColumns=True
                )
            record.result = result
            record.finished = _dt.datetime.now(_dt.timezone.utc)
            record.success = self._evaluate(last_node, record, outputs)
            records.append(record)
            S.event_execution_end.emit(
                sender=type(self), event=record.events, execution_context=record
            )

            if switch is not None:
                cfg = last_node.descriptors.get(switch.descriptor)
                if cfg is None:
                    # unconfigured descriptor cancels the run
                    # (task.py:526-533)
                    record.errors.append(
                        f"no configured descriptor {switch.descriptor}"
                    )
                    state = RunState.CANCELLED
                    break
                pipe, target = cfg
                node, incoming = target, pipe
                previous = switch.result if switch.result is not None else result
                continue

            previous = result
            if last_node.is_conditional:
                if record.success:
                    node = last_node.on_success
                    incoming = last_node.on_success_pipe
                else:
                    node = last_node.on_failure
                    incoming = last_node.on_failure_pipe
            else:
                node = last_node.on_success
                incoming = last_node.on_success_pipe

        if state is RunState.RUNNING:
            state = RunState.COMPLETED
        run = RunResult(run_id=run_id, state=state, records=records)
        _RUN_REGISTRY[run_id] = run
        S.pipeline_execution_end.emit(sender=type(self), execution_context=run)
        return run
