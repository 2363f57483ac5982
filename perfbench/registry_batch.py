"""``registry-batch``: a fixed set of the registry's batch keys, pass 0 and
pass 1, over small tables the generator writes from the seed.

System path: ``QUERIES[name](spark, tables)`` (the registry and the
``operators.*`` modules build the plan) followed by a noop write (the engine
runs it), the way ``bench.py`` times its headline keys. ``KEYS`` is a fixed
subset of ``bench.py``'s ``HEADLINE`` list, one key per operator family:
scan aggregate, six-way join, rank window, distinct aggregate, text, exact
dedup, Arrow-batch vector scoring. ``generator.py tables`` writes the
parquet tables they read, with the catalog's columns and types, at about
the size of the catalog's sf0.001 tables, so a key's time is mostly its
per-query cost: planning, code generation, job scheduling.

Set-up is the session start, the session warm-up ``bench.py`` does, the
tables, and pass 0: the first execution of every key in the session.
``setup_s`` covers all of it; pass 0's own sums are per-layer metrics. The
measured window then re-runs every key in the same session (pass 1)
``WINDOW_PASSES`` times. Latency is the wall of one pass, from the first
key's plan build to the last key's noop write: the time to complete the
batch. Throughput is key runs per second of the window.

After the window each key's result is compared with its ``ORACLES`` DuckDB
SQL over the same files, by row count and an order-insensitive hash of the
rows. A key that raises, or whose result differs, counts as failed; a key
without an oracle is listed as unchecked.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys
import time

import numpy as np

from harness import HERE, engine_counts, p50, session_overrides, weighted_percentile

KEYS = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "window_topk_per_group",
    "agg_distinct",
    "word_count",
    "dedup_exact",
    "ann_bruteforce_topk",
]
# a fixed count, so every run measures the same work (about 10 s on 4 cores)
WINDOW_PASSES = 3
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _warm_session(spark, tables: str) -> None:
    """The session warm-up of ``bench.py``: JVM, parquet reader, codegen
    infrastructure, the noop sink, the Python worker pool and a broadcast
    join, none of them a benchmarked plan."""
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1_000_000).selectExpr("sum(cast(id as decimal(12,4)))").collect()
    spark.read.parquet(os.path.join(tables, "region.parquet")).count()
    spark.read.parquet(os.path.join(tables, "lineitem.parquet")).count()
    spark.range(1_000).write.format("noop").mode("overwrite").save()
    spark.range(1_000).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    r = spark.read.parquet(os.path.join(tables, "region.parquet"))
    n = spark.read.parquet(os.path.join(tables, "nation.parquet"))
    r.groupBy("r_name").count().collect()
    n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).count()


def _compile_count(spark) -> int:
    """Whole-stage and expression classes the JVM has compiled so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _run_pass(ctx, spark, queries, tables: str, n: int) -> dict:
    """Every key once: per key its wall (plan build plus noop write), or
    the error it raised."""
    tr = ctx.tracer
    walls, errors = {}, {}
    with tr.span("registry.pass", n=n):
        for key in KEYS:
            if tr.enabled:
                spark.sparkContext.setJobGroup(f"perfbench-p{n}-{key}", key)
            t0 = time.perf_counter()
            try:
                with tr.span("registry.build", key=key, n=n):
                    df = queries[key](spark, tables)
                with tr.span("engine.exec", key=key, n=n):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # one broken key must not end the run
                errors[key] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            walls[key] = time.perf_counter() - t0
    return {"walls": walls, "errors": errors}


def run(ctx) -> dict:
    from kasper_spark.registry import ORACLES, QUERIES, load_all_operators
    from kasper_spark.session import get_spark

    tr = ctx.tracer
    tables = os.path.join(ctx.work, "tables")
    t0 = time.perf_counter()
    gen = subprocess.Popen(
        [
            sys.executable,
            os.path.join(HERE, "generator.py"),
            "tables",
            "--seed", str(ctx.seed),
            "--out", tables,
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        load_all_operators()
        with tr.span("session.get_spark"):
            spark = get_spark("perfbench-registry", **session_overrides(ctx.work))
    finally:
        out, _ = gen.communicate(timeout=120)
    try:
        if gen.returncode != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        manifest = json.loads(out)
        _warm_session(spark, tables)
        compiles = [_compile_count(spark)]
        passes = [_run_pass(ctx, spark, QUERIES, tables, 0)]
        compiles.append(_compile_count(spark))
        setup_s = time.perf_counter() - t0

        ctx.rss.start_window()
        w0 = time.perf_counter()
        for _ in range(WINDOW_PASSES):
            passes.append(_run_pass(ctx, spark, QUERIES, tables, len(passes)))
            compiles.append(_compile_count(spark))
        window_s = time.perf_counter() - w0
        ctx.rss.end_window()

        checks = _check(spark, QUERIES, ORACLES, tables)
        window = passes[1:]
        runs = [w for p in window for w in p["walls"].values()]
        lat = [sum(p["walls"].values()) * 1000.0 for p in window]
        errors = {f"pass{i}:{k}": e for i, p in enumerate(passes) for k, e in p["errors"].items()}
        attempted = len(passes) * len(KEYS) + len(checks["checked"])
        failed = len(errors) + len(checks["mismatched"])
        result = {
            "attempted": attempted,
            "failed": failed,
            "correct": failed == 0,
            "metrics": {
                "latency_p50_ms": weighted_percentile(lat, [1] * len(lat), 50) if lat else 0.0,
                "latency_p99_ms": weighted_percentile(lat, [1] * len(lat), 99) if lat else 0.0,
                "throughput_per_s": len(runs) / sum(runs) if runs else 0.0,
            },
            "detail": {
                "setup_s": setup_s,
                "window_s": window_s,
                "passes": [{k: round(v, 4) for k, v in p["walls"].items()} for p in passes],
                "errors": errors,
                "table_rows": manifest["rows"],
                **checks,
            },
        }
        if tr.enabled:
            result["layers"] = _layers(ctx, spark, passes, compiles, window_s)
        return result
    finally:
        spark.stop()


# ---- correctness ------------------------------------------------------------


def _canon(v) -> str:
    """One value as text, the same for both engines' Python renderings."""
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(v) else repr(float(v))
    if hasattr(v, "isoformat"):  # pandas / datetime timestamps
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _digest(pdf) -> tuple[int, str, list[str]]:
    """Row count, order-insensitive hash of the rows (columns by name) and
    the column names."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    return len(rows), hashlib.sha256("\x1e".join(rows).encode()).hexdigest(), cols


def _check(spark, queries, oracles, tables: str) -> dict:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(tables, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    checked, mismatched, unchecked = [], {}, []
    for key in KEYS:
        if key not in oracles:
            unchecked.append(key)
            continue
        checked.append(key)
        try:
            got = _digest(queries[key](spark, tables).toPandas())
        except Exception as exc:
            mismatched[key] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        want = _digest(con.execute(oracles[key]).fetchdf())
        if got != want:
            mismatched[key] = f"rows {got[0]} vs oracle {want[0]}; columns {got[2]} vs {want[2]}"
    con.close()
    return {"checked": checked, "mismatched": mismatched, "unchecked": unchecked}


# ---- per-layer metrics --------------------------------------------------------


def _layers(ctx, spark, passes: list, compiles: list[int], window_s: float) -> dict:
    tr = ctx.tracer

    def span_sum(name: str, n: int) -> float:
        return sum(s["end"] - s["start"] for s in tr.spans if s["name"] == name and s["n"] == n)

    window = range(1, len(passes))
    counts = {
        n: {key: engine_counts(spark, [f"perfbench-p{n}-{key}"]) for key in KEYS}
        for n in (0, 1)
    }
    out = {
        "session.get_spark_s": p50(tr.durations_ms("session.get_spark")) / 1000.0,
        "registry.batch_cold_s": sum(passes[0]["walls"].values()),
        "registry.batch_warm_s": p50([sum(passes[n]["walls"].values()) for n in window]),
        "registry.passes": len(passes),
    }
    for tag, ns in (("pass0", [0]), ("pass1", window)):
        out[f"registry.build_s.{tag}"] = p50([span_sum("registry.build", n) for n in ns])
        out[f"engine.exec_s.{tag}"] = p50([span_sum("engine.exec", n) for n in ns])
        out[f"engine.codegen_compiles.{tag}"] = p50([compiles[n + 1] - compiles[n] for n in ns])
        c = counts[0 if tag == "pass0" else 1]
        for what in ("jobs", "stages", "tasks"):
            out[f"engine.{what}.{tag}"] = sum(v[what] for v in c.values())
    for key in KEYS:
        out[f"engine.jobs.{key}"] = counts[1][key]["jobs"]
    spent = sum(span_sum("registry.build", n) + span_sum("engine.exec", n) for n in window)
    out["trace.accounted_share"] = spent / window_s
    out["trace.spans"] = len(tr.spans)
    return out
