#!/usr/bin/env python3
"""Benchmark of the PySpark engine: a query mix and a pipeline replay.

    python3 perfbench/run.py --workload relational|pipeline \
        --seed N --seconds S --trace 0|1

Run from the repository root. The inputs are generated from ``--seed``
into ``perfbench/.work`` (removed at exit); Spark runs on local[nproc]
in one driver process, one client, closed loop. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it records host
contention; it adjusts nothing. Spans and run details are written to
``perfbench/.out``. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("relational", "pipeline")
SCALE = 0.01  # TPC-H scale factor of the generated inputs
SETUPS = 3  # input preparations per run; setup_s takes their median
# The timed window lasts at least --seconds and at least this many rounds
# (query-mix rounds or pipeline replays). The minimum is set so that it,
# not the clock, ends the window on a 4-core host: every run then times
# the same operations at the same point of the JIT warm-up curve. A run
# that fits one more round into its window would otherwise read lower.
MIN_ROUNDS = {"relational": 7, "pipeline": 3}

# name, unit, better
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("query_s", "s", "lower"),
    ("cold_s", "s", "lower"),
    ("drain_s", "s", "lower"),
    ("retained_heap_mb", "MB", "lower"),
)
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.build_jobs", "count", "lower"),
    ("spark.plan_s", "s", "lower"),
    ("spark.exec_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.busy_ratio", "ratio", "higher"),
    ("spark.jvm_cpu_s", "s", "lower"),
    ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("sources.input_bytes", "B", "lower"),
    ("sources.input_rows", "count", "lower"),
    ("functions.udf_worker_cpu_s", "s", "lower"),
    ("sources.index_build_s", "s", "lower"),
    ("sources.index_bytes", "B", "lower"),
    ("operators.persisted_rdds", "count", "lower"),
    ("operators.storage_mem_mb", "MB", "lower"),
    ("streaming.batch_p50_ms", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.trigger_overhead_ms", "ms", "lower"),
    ("streaming.batch_p90_ms", "ms", "lower"),
    ("streaming.jobs_per_batch", "count", "lower"),
    ("streaming.state_bytes", "B", "lower"),
    ("streaming.bytes_written_per_input_byte", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
)


class Ctx:
    """State of one benchmark run."""

    def __init__(self, seed: int, seconds: float, trace: bool) -> None:
        import probes

        self.root = ROOT
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.rng = random.Random(seed)
        self.tracer = probes.Tracer(trace)
        self.cores = os.cpu_count() or 4
        self.work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {}  # per-operation figures for the run's detail file
        self.op_seq = 0
        self.n_datasets = 0
        self.spark = None
        self.session_start_s = 0.0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def start_session(self) -> None:
        """Start the engine's session on local[nproc], with every scratch
        directory inside the work directory."""
        t = time.perf_counter()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        # the launcher JVM that spark-submit starts first writes to
        # /tmp/hsperfdata_<user> unless perf data is off
        os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
            p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p
        )
        heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        from pubg_data_pipeline_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # a fixed heap size: no run-to-run variation in how G1
                # grows the heap during the run
                "spark.driver.extraJavaOptions": (
                    f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
                # the status store keeps UI data for every job; bound it
                # so the retained heap does not grow with the op count
                "spark.ui.retainedJobs": "50",
                "spark.ui.retainedStages": "100",
                "spark.ui.retainedTasks": "1000",
                "spark.sql.ui.retainedExecutions": "5",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t

    def prepare_dataset(self, write=None):
        """Generate the seeded inputs SETUPS times into fresh directories
        and keep the last; returns (what ``write`` returned, or the data
        directory, and the median preparation time)."""
        import gen

        times, result, last = [], None, None
        for _ in range(SETUPS):
            t = time.perf_counter()
            out_dir = os.path.join(self.work, f"data{self.n_datasets}")
            self.n_datasets += 1
            tables = gen.make_tables(self.seed, SCALE)
            if write is None:
                gen.write_tables(tables, out_dir)
                result = out_dir
            else:
                os.makedirs(out_dir)
                result = write(tables, out_dir)
            times.append(time.perf_counter() - t)
            if last is not None:
                shutil.rmtree(last)
            last = out_dir
        return result, statistics.median(times)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run_workload(ctx: Ctx, workload: str) -> dict:
    import mixes
    import pipeline

    rounds = MIN_ROUNDS[workload]
    if workload == "relational":
        return mixes.run_mix(ctx, mixes.RELATIONAL, warmup_passes=3, min_rounds=rounds)
    return pipeline.run_pipeline(ctx, min_replays=rounds)


def format_metrics(raw: dict, trace: bool) -> dict:
    """The result's metrics; a per-layer metric the workload does not
    exercise reads 0."""
    if not trace:
        return {name: {"value": float(raw[name]), "unit": unit} for name, unit, _ in END_TO_END}
    return {name: {"value": float(raw.get(name, 0.0)), "unit": unit} for name, unit, _ in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pubg_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import mixes
    import probes

    ctx = Ctx(args.seed, args.seconds, bool(args.trace))
    host_start = probes.host_snapshot()
    caches_before = mixes.cache_entries(ROOT)
    try:
        os.makedirs(ctx.work)
        ctx.start_session()
        raw = run_workload(ctx, args.workload)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.stop()
        shutil.rmtree(ctx.work, ignore_errors=True)
        mixes.remove_paths(mixes.cache_entries(ROOT) - caches_before)

    host = {"start": host_start, "end": probes.host_snapshot()}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": ctx.cores, "host": host, "failures": ctx.failures,
        "raw": raw, **ctx.detail, "self_time_s": ctx.tracer.self_times(), "spans": ctx.tracer.spans,
    }
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print("host " + json.dumps(host))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": format_metrics(raw, ctx.trace),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
