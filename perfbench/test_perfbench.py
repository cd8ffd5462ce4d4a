"""Self-tests of the benchmark: ``python -m pytest perfbench -q``.

They run every workload at sf0.01 for a few ops, so the whole file takes
a few minutes; the benchmark itself runs at sf0.1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import harness  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--sf", "0.01"],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_with_its_unit(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_stream_store_keeps_its_rows():
    out = _run("stream_upsert", 1)
    assert out["metrics"]["stores.rows"]["value"] == datagen.rows("events", 0.01)
    assert out["metrics"]["stores.partitions_rewritten"]["value"] > 0


def test_datagen_is_seeded():
    a = datagen.make_tables(5, 0.001, ("events", "documents"))
    b = datagen.make_tables(5, 0.001, ("events", "documents"))
    c = datagen.make_tables(6, 0.001, ("events", "documents"))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])
    # an equal share of events per day, whatever the seed
    days = c["events"]["ts"].dt.floor("D").value_counts()
    assert days.max() - days.min() <= 1


def test_tail_percentile():
    assert harness.tail([1.0, 2.0, 3.0]) == (2.0, 50.0)
    value, pct = harness.tail([float(i) for i in range(1, 41)])
    assert pct == 75.0 and value == 30.0


def test_setup_s_ends_before_the_cold_check():
    """``setup_s`` ends when the cold op's ``run`` returns; its output
    check is the benchmark's own work."""
    import time
    from types import SimpleNamespace

    class Slow:
        name, warm_ops, timed_ops, traced_ops = "slow", 0, 3, 1

        def prepare(self, ctx, i):
            pass

        def run(self, ctx, i):
            time.sleep(0.05)

        def verify(self, ctx, i, out):
            time.sleep(0.5 if i == 0 else 0.0)
            return True

    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    ctx = harness.Context(spark=spark, sf_dir="", work_dir="", seed=0, sf=0.0,
                          tracer=tracing.Tracer(), traced_run=False)
    h = harness.Harness(Slow(), ctx, seconds=0)
    t_start = time.perf_counter()
    setup_s = h.run(t_start)
    assert 0.05 <= setup_s < 0.3
    assert h.attempted() == 1 + Slow.timed_ops and h.failed() == 0


# -- in-process: failure counting and span nesting --------------------------


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    from event_pipeline_spark.session import get_session

    # Python workers import the engine whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = tmp_path_factory.mktemp("perfbench")
    data = datagen.write_tables(str(work / "data"), 3, 0.01,
                                ("customer", "orders", "lineitem", "events", "documents",
                                 "embeddings"))
    spark = get_session("perfbench-selftest", master=harness.MASTER,
                        shuffle_partitions=harness.SHUFFLE_PARTITIONS,
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield harness.Context(spark=spark, sf_dir=data, work_dir=str(work), seed=3,
                          sf=0.01, tracer=tracing.Tracer(), traced_run=False)
    spark.stop()


def _harness(workload, ctx):
    workload.warm_ops = 0
    workload.setup(ctx)
    return harness.Harness(workload, ctx, seconds=0)


def test_dropped_row_fails_the_op(ctx):
    from workloads.headline import HeadlineQueries

    w = HeadlineQueries()
    h = _harness(w, ctx)
    run = w.run

    def corrupt_second_op(c, i):
        out = run(c, i)
        if i == 2:
            out["q12"] = out["q12"].iloc[1:]
        return out

    w.run = corrupt_second_op
    import time

    h.run(time.perf_counter())
    assert [o.ok for o in h.ops] == [i != 2 for i in range(len(h.ops))]
    assert h.failed() == 1 and h.attempted() == len(h.ops) >= 3


def test_dropped_sink_row_fails_the_op(ctx, monkeypatch):
    import time

    from workloads import curation

    w = curation.DagCuration()
    h = _harness(w, ctx)
    read = curation._read_sink
    calls = []

    def drop_on_second_read(path):
        calls.append(path)
        df = read(path)
        return df.iloc[1:] if len(calls) == 2 else df

    monkeypatch.setattr(curation, "_read_sink", drop_on_second_read)
    h.run(time.perf_counter())
    assert [o.ok for o in h.ops][:2] == [True, False]
    assert h.failed() == 1


def test_traced_spans_nest(ctx):
    import time

    from workloads.headline import HeadlineQueries

    ctx.traced_run = True
    try:
        w = HeadlineQueries()
        h = _harness(w, ctx)
        h.run(time.perf_counter())
    finally:
        ctx.traced_run = False
    spans = {sp.span_id: sp for sp in ctx.tracer.spans}
    assert any(sp.parent is None for sp in spans.values())
    assert len(spans) > len(w.tables)
    for sp in spans.values():
        assert sp.end >= sp.start
        if sp.parent is not None:
            parent = spans[sp.parent]
            assert parent.start <= sp.start and sp.end <= parent.end, (sp, parent)
            assert parent.op_id == sp.op_id
    totals = tracing.per_op_totals(ctx.tracer)
    for op_id, names in totals.items():
        assert 0 <= names["op#self"] <= 0.1 * names["op"]
