"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. It makes its inputs from
``--seed``, runs one workload against ``kasper_spark`` from that checkout,
checks the outputs against answers computed without ``kasper_spark``, and
prints as its last stdout line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are
the ``end_to_end`` list of ``BENCHMARK.json``; with ``--trace 1`` they are the
``per_layer`` list, from a run with spans recorded around every call into a
layer. Everything the run writes goes under ``perfbench/.work`` (removed at
exit) and ``perfbench/out`` (one record per run).

Workloads are described in ``BENCHMARK.json`` and ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    OUT,
    ROOT,
    WORK,
    RssSampler,
    Tracer,
    contention_probe,
    cpu_times,
    prepare_environment,
    process_tree,
    steal_share,
)

# share of the measured wall the traced run's named parts must account for
TRACE_TOLERANCE = (0.9, 1.05)


class Context:
    def __init__(self, seed: int, seconds: int, tracer: Tracer, work: str, rss: RssSampler):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.rss = rss


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run_workload(name: str, ctx: Context) -> dict:
    if name == "wordcount-open":
        import wordcount

        return wordcount.run(ctx)
    if name == "docjoin-drain":
        import docjoin

        return docjoin.run(ctx)
    if name == "registry-batch":
        import registry_batch

        return registry_batch.run(ctx)
    raise SystemExit(f"unknown workload {name!r}")


def _trace_errors(result: dict) -> list[str]:
    """Why a traced run's accounting does not hold, if it does not."""
    errors = list(result["detail"].get("trace_errors", []))
    share = result["layers"].get("trace.accounted_share", 0.0)
    lo, hi = TRACE_TOLERANCE
    if not lo <= share <= hi:
        errors.append(f"accounted share {share:.3f} outside [{lo}, {hi}]")
    return errors


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM (and, through it,
    the Python workers it started) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()


def _wait_descendants_gone(pids: set[int], timeout: float = 20.0) -> None:
    """Wait for the run's descendants to end; one a failed run left behind
    (a generator whose query never started) is terminated first."""
    for p in pids & set(process_tree(os.getpid())):
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        for p in alive:
            try:  # reap our own children; others end with their parent
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="kasper_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kasper_spark", "__init__.py")):
        print(f"perfbench: no kasper_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops its generator, queries and JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    # Everything but the result lines goes to stderr: the JVM inherits
    # fd 1 at launch, so point it at stderr before the JVM starts.
    sys.stdout.flush()
    saved_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        probe = contention_probe()
        prepare_environment(work)
        sys.path.insert(0, ROOT)
        tracer = Tracer(enabled=bool(args.trace))
        try:
            with RssSampler() as rss:
                ctx = Context(args.seed, args.seconds, tracer, work, rss)
                t0, cpu0 = time.perf_counter(), cpu_times()
                result = _run_workload(args.workload, ctx)
                result["detail"]["run_wall_s"] = time.perf_counter() - t0
                probe["cpu_steal_share"] = steal_share(cpu0, cpu_times())
        finally:
            children = set(process_tree(os.getpid())) - {os.getpid()}
            _stop_jvm()
            _wait_descendants_gone(children)
    finally:
        sys.stdout.flush()
        os.dup2(saved_stdout, 1)
        os.close(saved_stdout)
        shutil.rmtree(work, ignore_errors=True)

    measured = dict(result["metrics"])
    measured["setup_s"] = result["detail"]["setup_s"]
    measured["rss_mb"] = rss.window_median_mb
    layers = result.get("layers", {})
    if args.trace:
        layers["proc.peak_rss_mb"] = rss.peak_mb
        trace_errors = _trace_errors(result)
        if trace_errors:
            result["correct"] = False
            result["detail"]["trace_errors"] = trace_errors
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else measured
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in listed
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "contention": probe,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "correct": result["correct"],
        "end_to_end": measured,
        "layers": layers,
        "detail": result["detail"],
    }
    if args.trace:
        record["self_time_s"] = tracer.self_time_s()
        record["spans"] = tracer.spans
    out_file = os.path.join(
        OUT, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    )
    with open(out_file, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    print("perfbench record:", json.dumps({k: record[k] for k in ("contention", "detail")}))
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
