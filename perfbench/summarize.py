"""Summarize run records written by ``run.py`` under ``perfbench/out``.

    python3 perfbench/summarize.py [record.json ...]

With no arguments it reads every record in ``perfbench/out``. It groups the
records by (workload, trace, cpus) and prints one JSON object: for each
group the run count, each metric's median and quartile spread (the distance
between the first and third quartile as a share of the median, as
``statistics.quantiles(values, n=4)`` gives them), the contention probes,
and, where a group has both untraced and traced runs, the tracing overhead
(traced median minus untraced median of each end-to-end metric).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _stats(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"median": med, "min": min(values), "max": max(values)}
    if len(values) >= 2 and med:
        q = statistics.quantiles(values, n=4)
        out["iqr_share"] = (q[2] - q[0]) / med
    return out


def summarize(paths: list[str]) -> dict:
    groups: dict[str, list[dict]] = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            rec = json.load(fh)
        key = f"{rec['workload']} trace={rec['trace']} cpus={rec['cpus']}"
        groups.setdefault(key, []).append(rec)
    out = {}
    for key, recs in sorted(groups.items()):
        section = "layers" if recs[0]["trace"] else "end_to_end"
        names = sorted({n for r in recs for n in r[section]})
        out[key] = {
            "runs": len(recs),
            "seeds": sorted(r["seed"] for r in recs),
            "correct": all(r["correct"] for r in recs),
            "failed": sum(r["failed"] for r in recs),
            "attempted": sum(r["attempted"] for r in recs),
            "loadavg_1m": [r["contention"]["loadavg"][0] for r in recs],
            "foreign_live_jvms": max(r["contention"]["foreign_live_jvms"] for r in recs),
            "metrics": {n: _stats([float(r[section].get(n, 0)) for r in recs]) for n in names},
            "end_to_end": {
                n: _stats([float(r["end_to_end"][n]) for r in recs])
                for n in sorted(recs[0]["end_to_end"])
            },
        }
    for key, g in out.items():
        if "trace=1" not in key:
            continue
        base = out.get(key.replace("trace=1", "trace=0"))
        if base:
            g["tracing_overhead"] = {
                n: g["end_to_end"][n]["median"] - base["end_to_end"][n]["median"]
                for n in g["end_to_end"]
                if n in base["end_to_end"]
            }
    return out


def main(argv: list[str]) -> int:
    paths = argv or sorted(glob.glob(os.path.join(HERE, "out", "*.json")))
    if not paths:
        print("no run records", file=sys.stderr)
        return 1
    json.dump(summarize(paths), sys.stdout, indent=1)
    sys.stdout.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
