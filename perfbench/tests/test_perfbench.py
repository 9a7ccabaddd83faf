"""The benchmark's own tests: its metric catalogue, the repeatability
of the Spark counts it reports, and the pipeline correctness check.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import checks
import mixes
import pipeline
import run

END_TO_END = {
    "setup_s": "s",
    "query_s": "s",
    "cold_s": "s",
    "drain_s": "s",
    "retained_heap_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.jvm_cpu_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "sources.input_bytes": "B",
    "sources.input_rows": "count",
    "functions.udf_worker_cpu_s": "s",
    "sources.index_build_s": "s",
    "sources.index_bytes": "B",
    "operators.persisted_rdds": "count",
    "operators.storage_mem_mb": "MB",
    "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.trigger_overhead_ms": "ms",
    "streaming.batch_p90_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.state_bytes": "B",
    "streaming.bytes_written_per_input_byte": "ratio",
    "trace.overhead_s": "s",
}


def test_metric_names_and_units_are_pinned():
    assert {n: u for n, u, _ in run.END_TO_END} == END_TO_END
    assert {n: u for n, u, _ in run.PER_LAYER} == PER_LAYER
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert run.format_metrics(dict.fromkeys(END_TO_END, 1.0), trace=False).keys() == END_TO_END.keys()
    assert run.format_metrics({}, trace=True).keys() == PER_LAYER.keys()


def test_relational_query_counts_repeat_exactly(ctx):
    from pubg_data_pipeline_spark.plans import all_specs

    data_dir, _ = ctx.prepare_dataset()
    spec = all_specs()[mixes.RELATIONAL[0]]
    mixes.execute(ctx, spec, data_dir, traced=True)  # first touch: caches, codegen
    a = mixes.execute(ctx, spec, data_dir, traced=True)
    b = mixes.execute(ctx, spec, data_dir, traced=True)
    for key in ("build_jobs", "jobs", "stages", "tasks", "rows"):
        assert a[key] == b[key], key
    assert a["jobs"] >= 1 and a["tasks"] >= 1


def test_corrupted_gold_state_fails_the_pipeline_check(ctx):
    from pyspark.sql import functions as F

    (docs_in, events_in), _ = ctx.prepare_dataset(
        lambda tables, out_dir: pipeline.write_batches(tables, out_dir, ctx.seed)
    )
    rec = pipeline.replay(ctx, docs_in, events_in, os.path.join(ctx.work, "replay_t"), traced=False)
    out = rec["out"]
    assert checks.pipeline_checks(ctx.spark, docs_in, events_in, out, pipeline.MIN_TOKENS) == {
        "bronze": True, "silver": True, "gold": True,
    }
    # one hour counted twice: the shape a double-merged epoch leaves
    state = ctx.spark.read.parquet(out["gold"]).toPandas()
    state.loc[0, "n"] += 1
    bad_gold = os.path.join(ctx.work, "gold_corrupt")
    ctx.spark.createDataFrame(state).withColumn("n", F.col("n").cast("long")).write.parquet(bad_gold)
    got = checks.pipeline_checks(
        ctx.spark, docs_in, events_in, {**out, "gold": bad_gold}, pipeline.MIN_TOKENS
    )
    assert got == {"bronze": True, "silver": True, "gold": False}
