"""The ``pipeline`` workload: a micro-batch replay through streaming.app.

The seeded inputs are cut into micro-batch parquet files:
- ``documents`` in doc_id order at seeded cut points, plus seeded
  resends of earlier documents under new, larger ids (so the keeper of
  every duplicate group is the same for the stream and for a batch
  dedup);
- ``events`` in event_id order at seeded cut points.

One replay drains three streams, each with ``Trigger.AvailableNow``
into fresh directories:
- bronze: documents, one file per trigger, through
  ``streaming_ingest_dedup`` (two sink writes per epoch);
- silver: a file stream over the bronze corpus through the quality gate
  into a parquet sink;
- gold: events, one file per trigger, through
  ``incremental_rollup_stream`` (the rollup state is rewritten every
  epoch).
One untimed replay warms up; the timed window then runs whole replays.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

import probes
from checks import pipeline_checks, silver_gate

BATCHES = 5
RESEND_SHARE = 0.05
SILVER_FILES_PER_TRIGGER = 4
MIN_TOKENS = 20
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
STREAMS = ("bronze", "silver", "gold")


def _cuts(rng: random.Random, n: int, parts: int) -> list[int]:
    return [0] + sorted(rng.sample(range(1, n), parts - 1)) + [n]


def write_batches(tables: dict[str, pa.Table], out_dir: str, seed: int) -> tuple[str, str]:
    """Cut documents and events into BATCHES files each; returns the two
    input directories. File mtimes increase with the batch index, which
    is the order the file source reads them in."""
    rng = random.Random(seed)
    docs, events = tables["documents"], tables["events"]
    n_docs = docs.num_rows
    doc_cuts = _cuts(rng, n_docs, BATCHES)
    batch_of = [0] * n_docs
    for b in range(BATCHES):
        for i in range(doc_cuts[b], doc_cuts[b + 1]):
            batch_of[i] = b
    resends: list[list[int]] = [[] for _ in range(BATCHES)]
    for i in sorted(rng.sample(range(n_docs), int(n_docs * RESEND_SHARE))):
        if batch_of[i] < BATCHES - 1:
            resends[rng.randrange(batch_of[i] + 1, BATCHES)].append(i)
    ev_cuts = _cuts(rng, events.num_rows, BATCHES)
    docs_in, events_in = os.path.join(out_dir, "docs_in"), os.path.join(out_dir, "events_in")
    os.makedirs(docs_in)
    os.makedirs(events_in)
    next_id = n_docs
    base_ns = time.time_ns() - 10**12
    for b in range(BATCHES):
        chunk = docs.slice(doc_cuts[b], doc_cuts[b + 1] - doc_cuts[b])
        if resends[b]:
            again = docs.take(resends[b])
            ids = pa.array(range(next_id, next_id + len(resends[b])), pa.int64())
            next_id += len(resends[b])
            chunk = pa.concat_tables([chunk, again.set_column(0, "doc_id", ids)])
        paths = (os.path.join(docs_in, f"b{b:03d}.parquet"), os.path.join(events_in, f"b{b:03d}.parquet"))
        pq.write_table(chunk, paths[0])
        pq.write_table(events.slice(ev_cuts[b], ev_cuts[b + 1] - ev_cuts[b]), paths[1])
        for p in paths:
            os.utime(p, ns=(base_ns + b * 10**9, base_ns + b * 10**9))
    return docs_in, events_in


def replay(ctx, docs_in: str, events_in: str, out_dir: str, traced: bool) -> dict:
    """Drain bronze, silver and gold once into fresh directories under
    ``out_dir``; returns wall times and the three streams' run ids."""
    from pubg_data_pipeline_spark.streaming import app

    spark = ctx.spark
    out = {name: os.path.join(out_dir, name) for name in STREAMS}
    ckpt = {name: os.path.join(out_dir, f"_ckpt_{name}") for name in STREAMS}
    index = os.path.join(out_dir, "bronze_index")
    tr = ctx.tracer if traced else probes.Tracer(False)
    rec: dict = {"dir": out_dir, "out": out, "index": index, "drain": {}, "run_id": {}}
    cpu0 = probes.child_cpu_s() if traced else None

    def drain(name: str, start) -> None:
        with tr.span(f"stream.{name}"):
            t = time.perf_counter()
            q = start()
            q.awaitTermination()
            rec["drain"][name] = time.perf_counter() - t
            rec["run_id"][name] = str(q.runId)

    t0 = time.perf_counter()
    with tr.span("replay"):
        drain("bronze", lambda: app.streaming_ingest_dedup(
            spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(docs_in),
            index, out["bronze"], available_now=True, checkpoint=ckpt["bronze"],
        ))
        drain("silver", lambda: silver_gate(
            spark.readStream.schema(DOC_SCHEMA + ", __epoch int")
            .option("maxFilesPerTrigger", SILVER_FILES_PER_TRIGGER)
            .parquet(out["bronze"]),
            MIN_TOKENS,
        ).writeStream.format("parquet").option("path", out["silver"])
            .option("checkpointLocation", ckpt["silver"])
            .trigger(availableNow=True).start())
        drain("gold", lambda: app.incremental_rollup_stream(
            spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(events_in),
            out["gold"], available_now=True, checkpoint=ckpt["gold"],
        ))
    rec["wall_s"] = time.perf_counter() - t0
    if traced:
        cpu1 = probes.child_cpu_s()
        rec["udf_cpu_s"] = cpu1["udf"] - cpu0["udf"]
        rec["jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
    return rec


def _layer_counts(ctx, rec: dict, listener) -> dict:
    """Per-replay Spark and streaming counters of a traced replay."""
    probes.drain_listener_bus(ctx.spark)
    counters = dict.fromkeys(probes.SPARK_COUNTERS, 0.0)
    n_batches = 0
    for name in STREAMS:
        c = probes.group_counters(ctx.spark, rec["run_id"][name])
        for k in counters:
            counters[k] += c[k]
        n_batches += len(listener.batches(rec["run_id"][name]))
    counters["jobs_per_batch"] = counters["jobs"] / max(1, n_batches)
    counters["state_bytes"] = float(
        probes.dir_bytes(rec["out"]["gold"]) + probes.dir_bytes(rec["index"])
    )
    counters["written_bytes"] = float(probes.dir_bytes(rec["dir"]))
    return counters


def run_pipeline(ctx, min_replays: int) -> dict:
    """Run the pipeline workload; ``min_replays`` must be at least 2 for
    the traced run."""
    spark = ctx.spark
    listener = probes.ProgressListener()
    spark.streams.addListener(listener)
    try:
        return _run(ctx, listener, min_replays)
    finally:
        spark.streams.removeListener(listener)


def _run(ctx, listener, min_replays: int) -> dict:
    (docs_in, events_in), prep_s = ctx.prepare_dataset(
        lambda tables, out_dir: write_batches(tables, out_dir, ctx.seed)
    )
    input_bytes = probes.dir_bytes(docs_in) + probes.dir_bytes(events_in)
    t = time.perf_counter()
    with ctx.tracer.span("warmup"):
        replay(ctx, docs_in, events_in, os.path.join(ctx.work, "replay_warmup"), traced=False)
    warm_s = time.perf_counter() - t

    recs: list[dict] = []
    untraced_s: list[float] = []
    n = 0
    deadline = time.perf_counter() + ctx.seconds
    with ctx.tracer.span("workload"):
        while True:
            # the traced run alternates traced and untraced replays; the
            # difference between the two is the tracing overhead
            traced = ctx.trace and n % 2 == 0
            rec = replay(ctx, docs_in, events_in, os.path.join(ctx.work, f"replay{n}"), traced)
            n += 1
            if ctx.trace and not traced:
                untraced_s.append(rec["wall_s"])
            else:
                if traced:
                    rec["layers"] = _layer_counts(ctx, rec, listener)
                recs.append(rec)
            if time.perf_counter() >= deadline and n >= min_replays:
                break

    # correctness, outside the timed window: every replay gives the same
    # layer sizes, and the last one meets the medallion invariants
    probes.drain_listener_bus(ctx.spark)
    sizes = []
    for rec in recs:
        sizes.append(tuple(ctx.spark.read.parquet(rec["out"][s]).count() for s in STREAMS))
        ctx.check(sizes[-1] == sizes[0], "pipeline:layer-rows")
        ctx.attempted += sum(len(listener.batches(rec["run_id"][s])) for s in STREAMS)
    for layer, ok in pipeline_checks(
        ctx.spark, docs_in, events_in, recs[-1]["out"], MIN_TOKENS
    ).items():
        ctx.check(ok, f"pipeline:{layer}")

    batches = [
        b for rec in recs for s in STREAMS for b in listener.batches(rec["run_id"][s])
    ]
    trigger = [b["duration_ms"]["triggerExecution"] for b in batches]
    first = {
        s: [listener.batches(rec["run_id"][s])[0]["duration_ms"]["triggerExecution"] for rec in recs]
        for s in STREAMS
    }
    ctx.detail["median_s"] = {s: statistics.median(r["drain"][s] for r in recs) for s in STREAMS}
    ctx.detail["replays_s"] = [r["wall_s"] for r in recs]
    drain_by_stream = sum(ctx.detail["median_s"].values())
    heap = probes.retained_heap_mb(ctx.spark)
    if not ctx.trace:
        return {
            "setup_s": ctx.session_start_s + prep_s + warm_s,
            "query_s": drain_by_stream,
            "cold_s": sum(statistics.median(v) for v in first.values()) / 1e3,
            "drain_s": statistics.median(r["wall_s"] for r in recs),
            "retained_heap_mb": heap,
        }
    add = [b["duration_ms"].get("addBatch", 0) for b in batches]

    def med(key: str) -> float:
        return statistics.median(r["layers"][key] for r in recs)

    storage = probes.storage_state(ctx.spark)
    layers = {probes.COUNTER_METRICS[k]: med(k) for k in probes.SPARK_COUNTERS}
    exec_s = statistics.median(r["wall_s"] for r in recs)
    layers.update({
        "session.start_s": ctx.session_start_s,
        "spark.exec_s": exec_s,
        "spark.busy_ratio": layers["spark.task_s"] / (exec_s * ctx.cores),
        "spark.jvm_cpu_s": statistics.median(r["jvm_cpu_s"] for r in recs),
        "functions.udf_worker_cpu_s": statistics.median(r["udf_cpu_s"] for r in recs),
        "operators.persisted_rdds": storage["persisted_rdds"],
        "operators.storage_mem_mb": storage["storage_mem_mb"],
        "streaming.batch_p50_ms": statistics.median(trigger),
        "streaming.add_batch_ms": statistics.median(add),
        "streaming.trigger_overhead_ms": statistics.median(t - a for t, a in zip(trigger, add)),
        "streaming.batch_p90_ms": statistics.quantiles(trigger, n=10)[-1],
        "streaming.jobs_per_batch": med("jobs_per_batch"),
        "streaming.state_bytes": med("state_bytes"),
        "streaming.bytes_written_per_input_byte": med("written_bytes") / input_bytes,
        "trace.overhead_s": exec_s - statistics.median(untraced_s),
    })
    return layers
