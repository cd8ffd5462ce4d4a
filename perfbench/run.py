#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload headline_queries --seed 1 \
        --seconds 10 --trace 0

Runs one workload (``headline_queries``, ``dag_curation`` or
``stream_upsert``) against the engine in this checkout, checks every
op's output and prints, as the last line of standard output, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones. All
inputs are generated from ``--seed``; every file the run writes lives in
``.perfbench_work/`` under the checkout and is removed at exit.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("headline_queries", "dag_curation", "stream_upsert")


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="scale factor of the generated tables (self-tests use 0.01)")
    return p.parse_args(argv)


def _isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark at
    ``work`` before the JVM starts."""
    import harness

    paths = harness.work_paths(work)
    os.environ["TMPDIR"] = paths["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["tmp"]
    # every JVM (the spark-submit launcher too): no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f'-XX:-UsePerfData -Djava.io.tmpdir={paths["tmp"]} -Dderby.system.home={paths["tmp"]}'
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Python workers import the engine whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return paths


def _load_workload(name: str):
    if name == "headline_queries":
        from workloads.headline import HeadlineQueries as W
    elif name == "dag_curation":
        from workloads.curation import DagCuration as W
    else:
        from workloads.stream import StreamUpsert as W
    return W()


def _descendant_pids() -> list[int]:
    import tracing

    return tracing.descendants(tracing.process_table(), os.getpid())


def _stop_engine(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while _descendant_pids() and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendant_pids():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str]) -> int:
    args = _parse(argv)
    # wall-clock seconds of each phase of the run, for the record line
    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - mark[0], 3)
        mark[0] = now

    # on SIGTERM, unwind through the ``finally`` blocks that stop the engine
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the engine under test; a checkout without it fails here, before any result
    import event_pipeline_spark.session as session_mod

    import harness
    import tracing

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    paths = _isolate(work)
    try:
        load0 = os.getloadavg()[0]
        workload = _load_workload(args.workload)
        lap("imports")
        # in a child process, so that the driver's peak RSS is the engine's
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), paths["data"],
             str(args.seed), repr(args.sf * workload.scale), *workload.tables],
            check=True,
        )
        lap("datagen")

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": harness.JVM_OPTIONS,
            "spark.sql.warehouse.dir": os.path.join(paths["state"], "warehouse"),
        }
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + paths["eventlog"],
            })
        t_start = time.perf_counter()
        spark = session_mod.get_session(
            f"perfbench-{args.workload}", master=harness.MASTER,
            shuffle_partitions=harness.SHUFFLE_PARTITIONS, extra_conf=conf,
        )
        session_start_s = time.perf_counter() - t_start
        ctx = harness.Context(
            spark=spark, sf_dir=paths["data"], work_dir=paths["state"],
            seed=args.seed, sf=args.sf, tracer=tracing.Tracer(),
            traced_run=bool(args.trace),
        )
        try:
            lap("session")
            workload.setup(ctx)
            lap("workload_setup")
            h = harness.Harness(workload, ctx, args.seconds)
            setup_s = h.run(t_start)
            lap("ops")
            final_ok = workload.finish(ctx)
            rss_mb = tracing.peak_rss_mb()
            lap("finish")
        finally:
            workload.close(ctx)
            _stop_engine(spark)
            lap("stop")
        load1 = os.getloadavg()[0]
        if args.trace:
            windows = {o.index: o.wall for o in h.timed(True)}
            eventlog = tracing.parse_event_log(paths["eventlog"], windows)
            metrics = h.per_layer(session_start_s, eventlog, (load0, load1))
        else:
            metrics = h.end_to_end(setup_s, sum(rss_mb.values()))
        print("perfbench: " + json.dumps({
            "workload": args.workload, "seed": args.seed, "sf": args.sf,
            "master": harness.MASTER, "shuffle_partitions": harness.SHUFFLE_PARTITIONS,
            "jvm_options": harness.JVM_OPTIONS,
            "loadavg": [load0, load1], "phases_s": phases,
            "peak_rss_mb": {k: round(v, 1) for k, v in rss_mb.items()}, "ops": [
                [o.phase, round(o.seconds, 4), o.ok] for o in h.ops],
        }))
        failed = h.failed()
        print(json.dumps({
            "correct": bool(final_ok and failed == 0),
            "attempted": h.attempted(),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
