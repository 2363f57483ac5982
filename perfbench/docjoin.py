"""``docjoin-drain``: kasper's characters x fictions document join (B5),
drained from a pre-loaded backlog in capped batches.

System path: two co-partitioned ``kasper_topic_dir`` topics read with
``topic_dir_source(rate_limited=True)`` (``batch_size=1000`` per partition,
kasper's ``Config.BatchSize``) -> union -> ``assemble_documents`` ->
foreachBatch produce into a ``kasper_topic_dir`` output topic, driven by
``Pipeline.drain_batched`` until a run consumes nothing.

The generator (``generator.py backlog``) writes the backlog from its own
process before the drain starts, and its model gives the last-write-wins
document each fiction must end with. The output topic is read back with
plain file reads. A message's latency runs from the start of the drain to
the return of the sink call for the batch that consumed it.

The backlog has a fixed size (``sizes.FICTIONS`` fictions and
``sizes.CHARACTERS`` characters plus 10% updates per partition, so each
topic fills one capped batch and a second run finds the end of the log).
Drains of fresh copies of it repeat until ``--seconds`` have passed, at
least once.

Set-up (session, backlog, plan build) is done once and timed as
``setup_s``. No warm-up drain runs before the measured one: a batch of this
plan costs several seconds whatever its size (a drain of an 84-message
backlog took 28 s), so a warm-up
would cost about as much as the drain, and the run would not fit its time
budget. The drain's first batch pays the plan's one-time costs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from harness import (
    HERE,
    end_offsets,
    engine_counts,
    p50,
    progress_ms,
    session_overrides,
    weighted_percentile,
)
from sizes import PARTITIONS

BATCH_SIZE = 1000


def _backlog(ctx, root: str) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "generator.py"),
            "backlog",
            "--seed", str(ctx.seed),
            "--out", root,
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout)


def _line_count(pdir: str) -> int:
    n = 0
    for f in os.listdir(pdir):
        if f.endswith(".jsonl"):
            with open(os.path.join(pdir, f), "rb") as fh:
                n += fh.read().count(b"\n")
    return n


def _read_topic(root: str) -> list[dict]:
    """Messages of a topic directory in per-partition log order."""
    msgs = []
    if not os.path.isdir(root):
        return msgs
    for d in sorted(os.listdir(root)):
        if not d.startswith("p="):
            continue
        pdir = os.path.join(root, d)
        for f in sorted(x for x in os.listdir(pdir) if x.endswith(".jsonl")):
            with open(os.path.join(pdir, f), encoding="utf-8") as fh:
                msgs.extend(json.loads(line) for line in fh if line.strip())
    return msgs


class _Drain:
    """The drain plan over one backlog directory, with its sink."""

    def __init__(self, tracer, spark, base: str, name: str):
        from pyspark.sql import functions as F

        from kasper_spark.streaming.pipeline import Pipeline, PipelineConfig
        from kasper_spark.streaming.state import assemble_documents

        self.tracer = tracer
        self.base = base
        self.out_topic = os.path.join(base, "documents")
        self.returns: dict[int, float] = {}
        self.queries = []
        queries = self.queries

        class TracedQuery:
            """The started query, with its awaitTermination traced."""

            def __init__(self, q):
                self._q = q

            def awaitTermination(self, *args):  # noqa: N802 (Spark API)
                with tracer.span("query.await_termination"):
                    return self._q.awaitTermination(*args)

            def __getattr__(self, name):
                return getattr(self._q, name)

        class RecordingPipeline(Pipeline):
            def start(self, *args, **kwargs):
                t = time.time()
                with tracer.span("pipeline.start"):
                    q = super().start(*args, **kwargs)
                queries.append((t, q))
                return TracedQuery(q)

        self.pipe = RecordingPipeline(
            spark,
            PipelineConfig(
                name=name,
                checkpoint_root=os.path.join(base, "checkpoints"),
                batch_size=BATCH_SIZE,
            ),
        )

        def make_out():
            with tracer.span("pipeline.make_out"):
                chars = self.pipe.topic_dir_source(
                    os.path.join(base, "characters"), rate_limited=True
                ).withColumn("topic", F.lit("characters"))
                fics = self.pipe.topic_dir_source(
                    os.path.join(base, "fictions"), rate_limited=True
                ).withColumn("topic", F.lit("fictions"))
                return assemble_documents(chars.unionByName(fics))

        self.make_out = make_out

        def sink(df, batch_id: int) -> None:
            with tracer.span("pipeline.sink_call", batch=batch_id):
                rows = df.select(
                    F.col("fiction_id").alias("key"),
                    F.col("doc_json").alias("value"),
                    F.current_timestamp().alias("ts"),
                )
                with tracer.span("topic_dir.produce"):
                    rows.write.format("kasper_topic_dir").option("path", self.out_topic).option(
                        "partitions", str(PARTITIONS)
                    ).mode("append").save()
            self.returns[batch_id] = time.time()

        self.sink = sink

    def drain(self) -> int:
        with self.tracer.span("pipeline.drain_batched"):
            return self.pipe.drain_batched(
                self.make_out, output_mode="update", for_each_batch=self.sink
            )


def run(ctx) -> dict:
    from kasper_spark.session import get_spark

    tracer = ctx.tracer
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench-docjoin", **session_overrides(ctx.work))
    try:
        base = os.path.join(ctx.work, "docjoin-0")
        manifest = _backlog(ctx, base)
        drain = _Drain(tracer, spark, base, "docjoin-0")
        drain.make_out()  # build and analyse the plan once
        setup_s = time.perf_counter() - t0
        listener = None
        if tracer.enabled:
            from kasper_spark.streaming.metrics import PipelineMetricsListener

            listener = PipelineMetricsListener()
            spark.streams.addListener(listener)
        lat, weights, attempted, failed, wrong = [], [], 0, 0, []
        msgs, drain_s, n = 0, 0.0, 0
        while True:
            t_start = time.time()
            ctx.rss.start_window()
            runs = drain.drain()
            ctx.rss.end_window()
            t_done = time.time()
            part = _check(drain, manifest, t_start)
            lat += part["lat"]
            weights += part["weights"]
            attempted += part["attempted"]
            failed += part["failed"]
            wrong += part["wrong"]
            msgs += manifest["msgs"]
            drain_s += t_done - t_start
            n += 1
            if drain_s >= ctx.seconds:
                break
            base = os.path.join(ctx.work, f"docjoin-{n}")
            manifest = _backlog(ctx, base)
            drain = _Drain(tracer, spark, base, f"docjoin-{n}")
        result = {
            "attempted": attempted,
            "failed": failed,
            "correct": failed == 0,
            "metrics": {
                "latency_p50_ms": weighted_percentile(lat, weights, 50) if lat else 0.0,
                "latency_p99_ms": weighted_percentile(lat, weights, 99) if lat else 0.0,
                "throughput_per_s": msgs / drain_s,
            },
            "detail": {
                "batches": [
                    [p["batchId"], int(p["numInputRows"]), progress_ms(p, "triggerExecution")]
                    for _, q in drain.queries
                    for p in q.recentProgress
                ],
                "latency_samples": int(sum(weights)),
                "backlog_msgs": manifest["msgs"],
                "drains": n,
                "drain_s": drain_s,
                "setup_s": setup_s,
                "documents_checked": len(manifest["expected"]) * n,
                "wrong_documents": wrong[:10],
            },
        }
        if tracer.enabled:
            result["layers"] = _layers(ctx, spark, drain, manifest, runs, listener, t_done, msgs)
        return result
    finally:
        spark.stop()


def _check(drain: _Drain, manifest: dict, t_start: float) -> dict:
    """Latency samples of one drain and its failures: messages never
    consumed, and fictions whose last document in the output topic is
    missing or differs from the model's."""
    # Map every backlog message to the run (one batch each) that consumed
    # it: source 0 is characters, source 1 fictions, per the union order.
    base = drain.base
    sizes = {
        topic: [_line_count(os.path.join(base, topic, f"p={p}")) for p in range(PARTITIONS)]
        for topic in ("characters", "fictions")
    }
    runs = []
    for _, q in drain.queries:
        for prog in q.recentProgress:
            if prog["batchId"] in drain.returns and int(prog["numInputRows"]) > 0:
                runs.append(
                    (
                        [end_offsets(s) for s in prog["sources"]],
                        drain.returns[prog["batchId"]],
                    )
                )
    lat, weights = [], []
    attempted = failed = 0
    for si, topic in enumerate(("characters", "fictions")):
        for p in range(PARTITIONS):
            start = 0
            for ends, t in runs:
                stop = ends[si].get(p, 0)
                if stop > start:
                    lat.append((t - t_start) * 1000.0)
                    weights.append(stop - start)
                    start = stop
            attempted += sizes[topic][p]
            failed += sizes[topic][p] - start
    # last-write-wins document per fiction in the output topic
    final = {}
    for m in _read_topic(drain.out_topic):
        final[m["key"]] = json.loads(m["value"])
    expected = manifest["expected"]
    wrong = sorted(f for f in expected if final.get(f) != expected[f])
    wrong += sorted(set(final) - set(expected))
    failed += len(wrong)
    return {"lat": lat, "weights": weights, "attempted": attempted, "failed": failed, "wrong": wrong}


def _layers(ctx, spark, drain, manifest, runs, listener, t_done, msgs_total) -> dict:
    """Per-layer metrics of the last drain."""
    tr = ctx.tracer
    data = [
        prog
        for _, q in drain.queries
        for prog in q.recentProgress
        if int(prog["numInputRows"]) > 0
    ]
    trig = [progress_ms(p, "triggerExecution") for p in data]
    add = [progress_ms(p, "addBatch") for p in data]
    lat_off = [progress_ms(p, "latestOffset") for p in data]
    state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    # run wall: from one start() call to the next (the last to drain end)
    starts = [t for t, _ in drain.queries] + [t_done]
    run_walls = [
        (starts[i + 1] - starts[i]) * 1000.0 for i in range(len(drain.queries))
    ]
    per_run_trigger = [
        sum(progress_ms(p, "triggerExecution") for p in q.recentProgress)
        for _, q in drain.queries
    ]
    overhead = [w - t for w, t in zip(run_walls, per_run_trigger)]
    produced = _read_topic(drain.out_topic)
    incoming = sum(listener.snapshot()["incoming"].values()) if listener else 0
    engine = engine_counts(spark, [q.runId for _, q in drain.queries])
    # the last drain's runs; the accounting covers every drain
    n_runs = len(drain.queries)
    start_ms = tr.durations_ms("pipeline.start")[-n_runs:]
    await_ms = tr.durations_ms("query.await_termination")[-n_runs:]
    build_ms = tr.durations_ms("pipeline.make_out")[-n_runs:]
    drains = [s for s in tr.spans if s["name"] == "pipeline.drain_batched"]
    accounted = sum(
        s["end"] - s["start"]
        for s in tr.spans
        if s["name"] in ("pipeline.start", "query.await_termination", "pipeline.make_out")
        and any(d["start"] <= s["start"] and s["end"] <= d["end"] for d in drains)
    )
    drain_wall = sum(d["end"] - d["start"] for d in drains)
    log_files = sum(
        len([f for f in os.listdir(os.path.join(drain.base, t, d)) if f.endswith(".jsonl")])
        for t in ("characters", "fictions")
        for d in os.listdir(os.path.join(drain.base, t))
        if d.startswith("p=")
    )
    return {
        "session.get_spark_s": p50(tr.durations_ms("session.get_spark")) / 1000.0,
        "pipeline.batches": len(data),
        "pipeline.drain_runs": runs,
        "pipeline.rows_per_batch.p50": p50([int(p["numInputRows"]) for p in data]),
        "pipeline.trigger_ms.p50": p50(trig),
        "pipeline.add_batch_ms.p50": p50(add),
        "pipeline.overhead_ms.p50": p50([t - a for t, a in zip(trig, add)]),
        "pipeline.run_overhead_ms.p50": p50(overhead),
        "pipeline.start_ms": p50(start_ms),
        "pipeline.make_out_ms.p50": p50(build_ms),
        "pipeline.await_ms.p50": p50(await_ms),
        "pipeline.sink_call_ms.p50": p50(tr.durations_ms("pipeline.sink_call")[-len(data):]),
        "topic_dir.latest_offset_ms.p50": p50(lat_off),
        "topic_dir.latest_offset_ms.last": lat_off[-1] if lat_off else 0.0,
        "topic_dir.log_files": log_files,
        "topic_dir.lag_msgs.max": max(
            (manifest["msgs"] - sum(sum(end_offsets(s).values()) for s in p["sources"]) for p in data),
            default=0,
        ),
        "topic_dir.produce_ms.p50": p50(tr.durations_ms("topic_dir.produce")[-len(data):]),
        "topic_dir.produced_msgs": len(produced),
        "state.rows_total.last": int(state[-1]["numRowsTotal"]) if state else 0,
        "state.memory_bytes.last": int(state[-1]["memoryUsedBytes"]) if state else 0,
        "state.commit_ms.p50": p50([float(o["commitTimeMs"]) for o in state]),
        "state.update_ms.p50": p50([float(o["allUpdatesTimeMs"]) for o in state]),
        "engine.jobs_per_batch": engine["jobs"] / max(len(data), 1),
        "engine.stages_per_batch": engine["stages"] / max(len(data), 1),
        "engine.tasks_per_batch": engine["tasks"] / max(len(data), 1),
        "metrics.incoming_gap": incoming - msgs_total,
        "gen.msgs": manifest["msgs"],
        "trace.accounted_share": accounted / drain_wall if drain_wall else 0.0,
        "trace.spans": len(tr.spans),
    }
