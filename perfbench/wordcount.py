"""``wordcount-open``: open-loop topic word count at 10,000 msg/s.

System path: ``Pipeline.topic_dir_source`` -> ``running_word_count``
(RocksDB state) -> ``foreach_batch_writer(store=MapStore,
small_output=True)`` on the pipeline's default processing-time trigger
(``PipelineConfig.batch_wait_seconds``, 5 s, kasper's
``BatchWaitDuration``). A 1 s trigger cannot be met here: a batch costs more
than 1 s whatever its size, so batches run back to back, each as large as
the time the previous one took, and latency then swings with every change
in the CPU the host gives the run. The generator (``generator.py open``)
writes the topic from its own process.

An event's latency runs from its scheduled send time to the return of the
sink call for the batch that holds it; events are mapped to batches by
their per-partition offsets and the batches' end offsets. The timed window
holds the events scheduled in ``[T0, T0 + seconds)``, where ``T0`` is the
end of set-up. The generator stops at the end of the window; an event of
the window not visible ``GRACE_S`` after that counts as failed.

Set-up (session, generator, plan, query start) is done once; the query
then runs ``WARMUP_BATCHES`` batches: the first pays one-time costs, the
second drains what queued meanwhile. ``setup_s`` is the start-up plus the
warm-up.

The traced run accounts for the measured window with named parts: each
trigger period overlapping the window (from the trigger's start to the next
processing-time boundary, or to the batch's end if it overran) is split
into ``trigger.wait``, the engine's phases outside ``addBatch``, the part of
``addBatch`` outside the sink call, the sink call outside ``Store.put_all``
and ``Store.put_all``. The engine's progress gives the trigger starts and
phase durations; the spans give the sink and store parts. The periods must
tile the window, and each batch's spans must nest in its ``addBatch``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime

import numpy as np

from harness import (
    HERE,
    end_offsets,
    engine_counts,
    p50,
    progress_ms,
    session_overrides,
    stop_process,
    weighted_percentile,
)
from sizes import PARTITIONS, RATE, TICK_MS

WARMUP_BATCHES = 2
GRACE_S = 15.0
# a generator this far behind its schedule no longer offers the stated rate
MAX_GEN_LATE_MS = 1000.0


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _Setup:
    """One start-up: a session, a generator and a started query."""

    def __init__(self, ctx):
        from kasper_spark.session import get_spark
        from kasper_spark.stores.bridge import foreach_batch_writer
        from kasper_spark.stores.memory import MapStore
        from kasper_spark.streaming.pipeline import Pipeline, PipelineConfig
        from kasper_spark.streaming.state import running_word_count

        tracer = ctx.tracer
        base = os.path.join(ctx.work, "wordcount")
        self.topic = os.path.join(base, "topic")
        self.stop_file = os.path.join(base, "stop")
        os.makedirs(self.topic, exist_ok=True)
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench-wordcount", **session_overrides(ctx.work))
        self.listener = None
        if tracer.enabled:
            from kasper_spark.streaming.metrics import PipelineMetricsListener

            self.listener = PipelineMetricsListener()
            self.spark.streams.addListener(self.listener)
        self.gen = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "generator.py"),
                "open",
                "--seed", str(ctx.seed),
                "--out", self.topic,
                "--stop-file", self.stop_file,
            ],
            stdout=subprocess.PIPE,
            text=True,
        )
        ctx.rss.exclude.add(self.gen.pid)
        self.pipe = Pipeline(
            self.spark,
            PipelineConfig(
                name="wordcount", checkpoint_root=os.path.join(base, "checkpoints")
            ),
        )
        if tracer.enabled:
            store = _traced_map_store(tracer)
        else:
            store = MapStore()
        self.store = store
        writer = foreach_batch_writer(
            store=store, key_col="word", value_col="n", small_output=True
        )
        self.returns: dict[int, float] = {}

        def sink(df, batch_id: int) -> None:
            with tracer.span("stores.sink_call", batch=batch_id):
                writer(df, batch_id)
            self.returns[batch_id] = time.time()

        with tracer.span("pipeline.make_out"):
            counts = running_word_count(self.pipe.topic_dir_source(self.topic))
        with tracer.span("pipeline.start"):
            self.query = self.pipe.start(counts, output_mode="update", for_each_batch=sink)
        self.startup_s = time.perf_counter() - t0

    def warm_up(self) -> float:
        t0 = time.perf_counter()
        while len(self.returns) < WARMUP_BATCHES:
            if self.query.exception() is not None:
                raise RuntimeError(f"query failed in warm-up: {self.query.exception()}")
            time.sleep(0.02)
        return time.perf_counter() - t0

    def stop_generator(self) -> dict:
        with open(self.stop_file, "w"):
            pass
        out, _ = self.gen.communicate(timeout=60)
        if self.gen.returncode != 0:
            raise RuntimeError(f"generator exited with {self.gen.returncode}")
        return json.loads(out)

    def close(self) -> None:
        self.pipe.stop()
        if self.gen.poll() is None:
            with open(self.stop_file, "w"):
                pass
            stop_process(self.gen)
        self.spark.stop()


def _traced_map_store(tracer):
    from kasper_spark.stores.memory import MapStore

    class TracedMapStore(MapStore):
        def put_all(self, kvs):
            with tracer.span("stores.put_all", keys=len(kvs)):
                super().put_all(kvs)

    return TracedMapStore()


def run(ctx) -> dict:
    setup = _Setup(ctx)
    try:
        warmup = setup.warm_up()
        return _measure(ctx, setup, warmup)
    finally:
        setup.close()


def _measure(ctx, s: _Setup, warmup_s: float) -> dict:
    t_start = time.time()
    t_end = t_start + ctx.seconds
    deadline = t_end + GRACE_S
    ctx.rss.start_window()
    time.sleep(max(0.0, t_end - time.time()))
    ctx.rss.end_window()
    manifest = s.stop_generator()

    # wait until everything generated is visible, or until the deadline
    final_offsets = manifest["ticks"][-1][1] if manifest["ticks"] else [0] * PARTITIONS
    while time.time() < deadline:
        prog = s.query.recentProgress
        if prog and prog[-1]["batchId"] in s.returns:
            end = end_offsets(prog[-1]["sources"][0])
            if all(end.get(p, 0) >= final_offsets[p] for p in range(PARTITIONS)):
                break
        time.sleep(0.05)
    progress = [p for p in s.query.recentProgress if p["batchId"] in s.returns]
    s.pipe.stop()
    if s.listener is not None:  # progress events reach the listener async
        consumed = sum(int(p["numInputRows"]) for p in progress)
        settle = time.time() + 3.0
        while time.time() < settle and sum(s.listener.snapshot()["incoming"].values()) < consumed:
            time.sleep(0.05)

    # ---- latency: map each (tick, partition) file to its batch ----------
    batches = sorted(progress, key=lambda p: p["batchId"])
    ends = [(end_offsets(p["sources"][0]), s.returns[p["batchId"]]) for p in batches]
    lat, weights = [], []
    attempted = failed = 0
    per_part = RATE * TICK_MS // 1000 // PARTITIONS
    for due, tick_end in manifest["ticks"]:
        if not (t_start <= due < t_end):
            continue
        for part in range(PARTITIONS):
            attempted += per_part
            seen = next((t for end, t in ends if end.get(part, 0) >= tick_end[part]), None)
            if seen is None or seen > deadline:
                failed += per_part
            else:
                lat.append((seen - due) * 1000.0)
                weights.append(per_part)

    # ---- delivered rate: slope of events made visible against sink-return
    # time, over the batches that start in the window (the batch before it
    # catches up on set-up's backlog, so it would bias the slope) ----------
    points = [
        (t, sum(end.values()))
        for p, (end, t) in zip(batches, ends)
        if t_start <= _epoch(p["timestamp"]) < t_end
    ]
    delivered = 0.0
    if len(points) >= 2:
        t = np.array([t for t, _ in points]) - t_start
        delivered = float(np.polyfit(t, [n for _, n in points], 1)[0])

    # ---- correctness: exact per-word totals in the store ----------------
    got = {k: int(v) for k, v in s.store.as_dict().items()}
    expected = manifest["expected"]
    wrong_words = sorted(w for w in set(got) | set(expected) if got.get(w) != expected.get(w))
    miscount = sum(abs(got.get(w, 0) - expected.get(w, 0)) for w in wrong_words)
    failed += miscount

    result = {
        "attempted": attempted,
        "failed": failed,
        "correct": not wrong_words and failed == 0 and manifest["late_ms_max"] <= MAX_GEN_LATE_MS,
        "metrics": {
            "latency_p50_ms": weighted_percentile(lat, weights, 50) if lat else 0.0,
            "latency_p99_ms": weighted_percentile(lat, weights, 99) if lat else 0.0,
            "throughput_per_s": delivered,
        },
        "detail": {
            "latency_samples": int(sum(weights)),
            "startup_s": s.startup_s,
            "warmup_s": warmup_s,
            "setup_s": s.startup_s + warmup_s,
            "window_s": ctx.seconds,
            "offered_msgs_per_s": RATE,
            "gen_late_ms_max": manifest["late_ms_max"],
            "batches": [
                [p["batchId"], int(p["numInputRows"]), progress_ms(p, "triggerExecution")]
                for p in batches
            ],
            "wrong_words": wrong_words[:10],
        },
    }
    if ctx.tracer.enabled:
        result["layers"] = _layers(ctx, s, manifest, batches, t_start, t_end)
        parts, unnested = _account(ctx.tracer, s, batches, t_start, t_end)
        result["layers"]["trace.accounted_share"] = sum(parts.values()) / (t_end - t_start)
        result["detail"]["accounting_s"] = parts
        if unnested:
            result["detail"]["trace_errors"] = [
                f"batches {unnested}: sink spans not inside addBatch"
            ]
    return result


def _account(tr, s: _Setup, batches: list, t_start: float, t_end: float):
    """Named parts of the window ``[t_start, t_end)`` (seconds), and the
    batches whose spans do not nest in the engine's phases."""
    interval_ms = int(round(s.pipe.config.batch_wait_seconds * 1000))
    sinks = {sp["batch"]: sp for sp in tr.spans if sp["name"] == "stores.sink_call"}
    puts: dict[int, float] = {}
    for sp in tr.spans:
        if sp["name"] == "stores.put_all":
            puts[sp["parent"]] = puts.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
    parts = dict.fromkeys(
        ["trigger.wait", "engine.other_phases", "engine.add_batch", "stores.sink_call",
         "stores.put_all"],
        0.0,
    )
    unnested = 0
    for p in batches:
        start_ms = int(round(_epoch(p["timestamp"]) * 1000))
        trig = progress_ms(p, "triggerExecution") / 1000.0
        add = progress_ms(p, "addBatch") / 1000.0
        sink = sinks.get(p["batchId"])
        sink_s = (sink["end"] - sink["start"]) if sink else 0.0
        put_s = puts.get(sink["id"], 0.0) if sink else 0.0
        # the processing-time trigger's next start (Spark's
        # ProcessingTimeExecutor.nextBatchTime), unless the batch overran it
        next_ms = (start_ms // interval_ms + 1) * interval_ms
        wait = max(0.0, next_ms / 1000.0 - (start_ms / 1000.0 + trig))
        start, length = start_ms / 1000.0, trig + wait
        overlap = min(start + length, t_end) - max(start, t_start)
        if overlap <= 0 or length <= 0:
            continue
        pieces = {
            "trigger.wait": wait,
            "engine.other_phases": trig - add,
            "engine.add_batch": add - sink_s,
            "stores.sink_call": sink_s - put_s,
            "stores.put_all": put_s,
        }
        # engine durations are whole milliseconds
        if min(pieces.values()) < -0.002:
            unnested += 1
        for k, v in pieces.items():
            parts[k] += v * overlap / length
    return parts, unnested


def _layers(ctx, s: _Setup, manifest: dict, batches: list, t_start: float, t_end: float) -> dict:
    tr = ctx.tracer
    win = [p for p in batches if t_start <= _epoch(p["timestamp"]) < t_end]
    trig = [progress_ms(p, "triggerExecution") for p in win]
    add = [progress_ms(p, "addBatch") for p in win]
    lat_off = [progress_ms(p, "latestOffset") for p in win]
    state = [p["stateOperators"][0] for p in win if p.get("stateOperators")]
    ticks = manifest["ticks"]
    lag = []
    for p in win:
        done = s.returns[p["batchId"]]
        written = [e for due, e in ticks if due <= done]
        generated = sum(written[-1]) if written else 0
        lag.append(generated - sum(end_offsets(p["sources"][0]).values()))
    log_files = sum(
        len([f for f in os.listdir(os.path.join(s.topic, d)) if f.endswith(".jsonl")])
        for d in os.listdir(s.topic)
        if d.startswith("p=")
    )
    engine = engine_counts(s.spark, [s.query.runId])
    put_all = tr.durations_ms("stores.put_all")
    keys = [sp["keys"] for sp in tr.spans if sp["name"] == "stores.put_all"]
    incoming = sum(s.listener.snapshot()["incoming"].values()) if s.listener else 0
    return {
        "pipeline.batches": len(win),
        "pipeline.rows_per_batch.p50": p50([int(p["numInputRows"]) for p in win]),
        "pipeline.trigger_ms.p50": p50(trig),
        "pipeline.add_batch_ms.p50": p50(add),
        "pipeline.overhead_ms.p50": p50([t - a for t, a in zip(trig, add)]),
        "pipeline.start_ms": p50(tr.durations_ms("pipeline.start")),
        "pipeline.make_out_ms.p50": p50(tr.durations_ms("pipeline.make_out")),
        "pipeline.sink_call_ms.p50": p50(tr.durations_ms("stores.sink_call")),
        "engine.jobs_per_batch": engine["jobs"] / max(len(batches), 1),
        "engine.stages_per_batch": engine["stages"] / max(len(batches), 1),
        "engine.tasks_per_batch": engine["tasks"] / max(len(batches), 1),
        "session.get_spark_s": p50(tr.durations_ms("session.get_spark")) / 1000.0,
        "topic_dir.latest_offset_ms.p50": p50(lat_off),
        "topic_dir.latest_offset_ms.last": lat_off[-1] if lat_off else 0.0,
        "topic_dir.log_files": log_files,
        "topic_dir.lag_msgs.max": max(lag) if lag else 0,
        "state.rows_total.last": int(state[-1]["numRowsTotal"]) if state else 0,
        "state.memory_bytes.last": int(state[-1]["memoryUsedBytes"]) if state else 0,
        "state.commit_ms.p50": p50([float(o["commitTimeMs"]) for o in state]),
        "state.update_ms.p50": p50([float(o["allUpdatesTimeMs"]) for o in state]),
        "store.put_all_ms.p50": p50(put_all),
        "store.keys_per_batch.p50": p50(keys),
        "store.sink_call_ms.p50": p50(tr.durations_ms("stores.sink_call")),
        "metrics.incoming_gap": incoming - manifest["msgs"],
        "gen.late_ms.max": manifest["late_ms_max"],
        "gen.msgs": manifest["msgs"],
        "trace.spans": len(tr.spans),
    }
