"""``stream_upsert``: seeded update batches into a running streaming DAG.

Set-up loads every generated event into a day-partitioned
``ParquetTableStore`` and starts ``StreamingPipeline("Validate |-> Upsert")``
on a parquet file source. One op renames one prepared batch into the
source directory (the op clock starts at the rename) and waits in
``processAllAvailable()``. A batch holds existing ``event_id``s of a few
days with a changed ``value``, so the store keeps its row count and its
partition sizes; after every batch the store must hold exactly the
generated number of rows, and at the end it must equal a pandas
last-writer-wins replay of the base table and all batches.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PIPELINE = "Validate |-> Upsert"
TABLE = "events"

#: Rows per batch at sf0.1 and days each batch touches.
BATCH_ROWS_AT_SF01 = 5_000
BATCH_DAYS = 3


def _define_events():
    """Register the two events (module import must not have side effects)."""
    from pyspark.sql import functions as F

    from event_pipeline_spark.core.events import event

    @event(name="Validate")
    def validate(batch_df):
        return batch_df.where(F.col("event_id").isNotNull() & F.col("day").isNotNull())

    @event(name="Upsert")
    def upsert(previous_result, store, tracer):
        with tracer.span("stores.upsert_s"):
            store.upsert_table(TABLE, previous_result, key="event_id")
        return previous_result


def _day(ts: pd.Series) -> pd.Series:
    return ts.dt.strftime("%Y-%m-%d")


def _listing(root: str) -> dict[str, int]:
    """relative path -> size of every data file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


class StreamUpsert:
    name = "stream_upsert"
    tables = ("events",)
    scale = 1.0
    timed_ops = 10
    traced_ops = 4
    warm_ops = 3

    def setup(self, ctx) -> None:
        from pyspark.sql import functions as F

        from event_pipeline_spark.plans.dag import build_dag
        from event_pipeline_spark.stores.parquet import ParquetTableStore
        from event_pipeline_spark.streaming.runner import StreamingPipeline, read_parquet_stream

        _define_events()
        spark = ctx.spark
        base = pd.read_parquet(os.path.join(ctx.sf_dir, "events.parquet"))
        base["day"] = _day(base["ts"])
        self.base = base
        self.n_rows = len(base)
        self.batch_rows = max(1, int(round(BATCH_ROWS_AT_SF01 * ctx.sf / 0.1)))
        self.items_per_op = self.batch_rows
        self.batches: list[pd.DataFrame] = []
        self.rng = np.random.default_rng([ctx.seed, 1])

        self.store_root = os.path.join(ctx.work_dir, "store")
        self.table_dir = os.path.join(self.store_root, TABLE)
        self.store = ParquetTableStore(self.store_root, spark, partition_by=["day"])
        events = spark.read.parquet(os.path.join(ctx.sf_dir, "events.parquet"))
        self.store.write_table(
            TABLE, events.withColumn("day", F.date_format("ts", "yyyy-MM-dd")), mode="overwrite"
        )

        self.incoming = os.path.join(ctx.work_dir, "incoming")
        os.makedirs(self.incoming, exist_ok=True)
        self.schema = pa.Schema.from_pandas(base, preserve_index=False)
        spark_schema = spark.read.parquet(os.path.join(ctx.sf_dir, "events.parquet")).schema.add(
            "day", "string"
        )
        source = read_parquet_stream(spark, self.incoming, schema=spark_schema)
        self.runs_seen = 0
        self.pipeline = StreamingPipeline(
            build_dag(PIPELINE), params={"store": self.store, "tracer": ctx.tracer}
        )
        self.query = self.pipeline.start(
            source, os.path.join(ctx.work_dir, "checkpoint"),
            trigger={"processingTime": "0 seconds"}, query_name="perfbench_upsert",
        )
        self.last_batch_id = -1

    def _make_batch(self) -> pd.DataFrame:
        """``batch_rows`` existing events of ``BATCH_DAYS`` days, new values."""
        days = np.sort(self.rng.choice(self.base["day"].unique(), BATCH_DAYS, replace=False))
        pool = np.flatnonzero(self.base["day"].isin(days).to_numpy())
        rows = np.sort(self.rng.choice(pool, self.batch_rows, replace=False))
        batch = self.base.iloc[rows].copy()
        batch["value"] = np.round(batch["value"].to_numpy() + self.rng.uniform(0.01, 50.0, len(batch)), 2)
        return batch.reset_index(drop=True)

    def prepare(self, ctx, i: int) -> None:
        batch = self._make_batch()
        self.batches.append(batch)
        self.staged = os.path.join(self.incoming, f"_staging-{i}.parquet")
        pq.write_table(pa.Table.from_pandas(batch, schema=self.schema, preserve_index=False),
                       self.staged)
        self.final = os.path.join(self.incoming, f"batch-{i:05d}.parquet")
        if ctx.tracer.enabled:
            self.before = _listing(self.table_dir)

    def run(self, ctx, i: int) -> None:
        with ctx.tracer.span("engine.action_s"):
            os.rename(self.staged, self.final)
            self.query.processAllAvailable()
        if self.query.exception() is not None:
            raise RuntimeError(str(self.query.exception()))

    def verify(self, ctx, i: int, out: None) -> bool:
        runs = self.pipeline.runs[self.runs_seen:]
        self.runs_seen = len(self.pipeline.runs)
        if len(runs) != 1 or runs[0][1].first_error_record() is not None:
            return False
        progress = [p for p in self.query.recentProgress if p.batchId > self.last_batch_id]
        if progress:
            self.last_batch_id = max(p.batchId for p in progress)
        if ctx.tracer.enabled:
            self._record(ctx, progress, len(self.batches[-1]))
        rows = self.store.count(TABLE)
        ctx.record("stores.rows", rows)
        return rows == self.n_rows

    def _record(self, ctx, progress, batch_rows: int) -> None:
        dur: dict[str, float] = {}
        for p in progress:
            for k, v in (p.durationMs or {}).items():
                dur[k] = dur.get(k, 0.0) + v / 1000.0
        ctx.record("streaming.trigger_s", dur.get("triggerExecution", 0.0))
        ctx.record("streaming.add_batch_s", dur.get("addBatch", 0.0))
        ctx.record("streaming.planning_s", dur.get("queryPlanning", 0.0))
        ctx.record("streaming.offsets_s", dur.get("latestOffset", 0.0) + dur.get("getBatch", 0.0))
        ctx.record("streaming.commit_s", dur.get("walCommit", 0.0) + dur.get("commitOffsets", 0.0))
        after = _listing(self.table_dir)
        new = {p: s for p, s in after.items() if p not in self.before}
        touched = {os.path.dirname(p) for p in new} | {
            os.path.dirname(p) for p in self.before if p not in after
        }
        ctx.record("stores.partitions_rewritten", len(touched))
        ctx.record("stores.bytes_written_per_row", sum(new.values()) / batch_rows)
        ctx.record("stores.files", len(after))

    def layer_values(self, ctx, op, spans: dict, events: dict, vals: dict) -> None:
        action = spans.get("engine.action_s", 0.0)
        vals["streaming.wait_s"] = action - vals["streaming.trigger_s"]
        # the micro-batch runs the DAG inside addBatch; its self time is
        # what the event bodies do not cover
        vals["plans.run_s"] = vals["streaming.add_batch_s"]
        vals["plans.self_s"] = vals["streaming.add_batch_s"] - vals["stores.upsert_s"]

    def finish(self, ctx) -> bool:
        """The store equals a last-writer-wins replay of base and batches."""
        self.query.stop()
        expected = pd.concat([self.base, *self.batches], ignore_index=True)
        expected = expected.drop_duplicates("event_id", keep="last")
        got = pd.read_parquet(self.table_dir)
        got["day"] = got["day"].astype(str)
        cols = list(self.base.columns)
        expected = expected[cols].sort_values("event_id").reset_index(drop=True)
        got = got[cols].sort_values("event_id").reset_index(drop=True)
        got["ts"] = got["ts"].astype(expected["ts"].dtype)
        return expected.equals(got)

    def close(self, ctx) -> None:
        if self.query.isActive:
            self.query.stop()
