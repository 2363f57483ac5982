"""Load generator for the streaming workloads: a process of its own.

It writes only generated inputs under ``--out``: messages into
``kasper_topic_dir`` topic directories (``<topic>/p=<K>/<name>.jsonl``, one
JSON line per message, written under a hidden temp name and renamed in, as
the connector's own producers do) or parquet tables. It never imports
``kasper_spark``. Its model of the inputs gives the expected answers of the
streaming workloads, which it prints as one JSON object on stdout when it
exits. Sizes come from ``sizes.py``.

Modes:

``open``     Open loop for ``wordcount-open``. Every ``TICK_MS`` it writes
             ``RATE * TICK_MS`` Zipf-distributed 8-word lines into the
             topic ``--out``, split evenly over ``PARTITIONS`` partitions,
             one file per partition per tick. The schedule never waits for
             the consumer; a tick that is due late is written at once, and
             its lateness is reported as ``late_ms_max``. Each message's
             ``ts`` is its scheduled send time (epoch seconds). It stops
             when the file named by ``--stop-file`` appears.

``backlog``  Closed-loop backlog for ``docjoin-drain``: co-partitioned
             ``characters`` and ``fictions`` topics under ``--out``, one
             universe per partition, written in full before exiting.

``tables``   The parquet tables the ``registry-batch`` keys read, one
             ``<out>/<table>.parquet`` each, with the columns and types of
             the catalog's TPC-H-like tables (``kasper_spark/catalog.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

from sizes import CHARACTERS, FICTIONS, PARTITIONS, RATE, TICK_MS

VOCAB = 10_000
WORDS_PER_LINE = 8


def word(rank: int) -> str:
    return f"w{rank:05d}"


def zipf_probabilities(n: int, s: float = 1.0) -> np.ndarray:
    weights = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return weights / weights.sum()


def write_log_file(pdir: str, name: str, lines: list[str]) -> None:
    """Append one immutable log file: write hidden, then rename in."""
    tmp = os.path.join(pdir, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(pdir, f"{name}.jsonl"))


def run_open(args) -> dict:
    rng = np.random.default_rng(args.seed)
    probs = zipf_probabilities(VOCAB)
    per_tick = RATE * TICK_MS // 1000
    per_part = per_tick // PARTITIONS
    pdirs = [os.path.join(args.out, f"p={p}") for p in range(PARTITIONS)]
    for d in pdirs:
        os.makedirs(d, exist_ok=True)
    counts = np.zeros(VOCAB + 1, dtype=np.int64)
    ticks: list[list] = []  # [scheduled epoch s, [end offset per partition]]
    late_ms_max = 0.0
    tick_s = TICK_MS / 1000.0
    start = time.time() + tick_s
    k = 0
    while not os.path.exists(args.stop_file):
        due = start + k * tick_s
        now = time.time()
        if now < due:
            time.sleep(due - now)
        ranks = rng.choice(VOCAB, size=(per_tick, WORDS_PER_LINE), p=probs) + 1
        counts += np.bincount(ranks.ravel(), minlength=VOCAB + 1)
        for p, pdir in enumerate(pdirs):
            block = ranks[p * per_part : (p + 1) * per_part]
            lines = [
                '{"key": null, "value": "%s", "ts": %.3f}'
                % (" ".join(word(r) for r in row), due)
                for row in block.tolist()
            ]
            write_log_file(pdir, f"t{k:09d}", lines)
        late_ms_max = max(late_ms_max, (time.time() - due) * 1000.0)
        ticks.append([due, [(k + 1) * per_part] * PARTITIONS])
        k += 1
    return {
        "msgs": k * per_tick,
        "late_ms_max": late_ms_max,
        "ticks": ticks,
        "expected": {word(r): int(c) for r, c in enumerate(counts) if c},
    }


def backlog_model(seed: int) -> dict:
    """Messages of both topics per partition, in log order, and the
    last-write-wins document each fiction must end with."""
    rng = np.random.default_rng(seed)
    chars, fictions = CHARACTERS, FICTIONS
    out = {"characters": {}, "fictions": {}, "expected": {}}
    for p in range(PARTITIONS):
        final: dict[str, dict] = {}
        char_msgs = []
        for i in range(chars):
            c = {"id": f"c-{p}-{i:05d}", "name": f"name-{p}-{i}-v0", "version": 0}
            final[c["id"]] = c
            char_msgs.append(c)
        fic_msgs = []
        for j in range(fictions):
            ids = [f"c-{p}-{int(i):05d}" for i in rng.choice(chars, 3, replace=False)]
            fic_msgs.append(
                {
                    "id": f"f-{p}-{j:05d}",
                    "fictionType": ["novel", "film", "series"][int(rng.integers(3))],
                    "title": f"title-{p}-{j}",
                    "characterIds": ids,
                }
            )
        # 10% of characters are re-sent as updates, after the originals
        for i in sorted(rng.choice(chars, chars // 10, replace=False).tolist()):
            c = {"id": f"c-{p}-{i:05d}", "name": f"name-{p}-{i}-v1", "version": 1}
            final[c["id"]] = c
            char_msgs.append(c)
        out["characters"][p] = char_msgs
        out["fictions"][p] = fic_msgs
        for f in fic_msgs:
            out["expected"][f["id"]] = {
                "id": f["id"],
                "fictionType": f["fictionType"],
                "title": f["title"],
                "characters": [final[c] for c in f["characterIds"]],
            }
    return out


def run_backlog(args) -> dict:
    model = backlog_model(args.seed)
    t_epoch = 1_700_000_000.0
    total = 0
    for topic in ("characters", "fictions"):
        for p, msgs in model[topic].items():
            pdir = os.path.join(args.out, topic, f"p={p}")
            os.makedirs(pdir, exist_ok=True)
            lines = [
                json.dumps({"key": m["id"], "value": json.dumps(m), "ts": t_epoch})
                for m in msgs
            ]
            write_log_file(pdir, "b000000000", lines)
            total += len(lines)
    return {"msgs": total, "late_ms_max": 0.0, "expected": model["expected"]}


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "de", "zh"]
DOC_WORDS = (
    "the a data spark stream batch window join key value order line part "
    "customer table scan merge sort hash group filter query row column "
    "vector fast slow big small agg dup"
).split()
# rows per table (close to the catalog's sf0.001 tables)
CUSTOMERS, SUPPLIERS, ORDERS, EVENTS, DOCUMENTS, EMBEDDINGS = 150, 10, 1500, 1000, 500, 500
EMBEDDING_DIM = 64


def tables_model(seed: int) -> dict[str, dict]:
    """Columns of every table, as numpy arrays or lists."""
    rng = np.random.default_rng(seed)
    day = np.timedelta64(1, "D")
    t = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(CUSTOMERS, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
            "c_nationkey": rng.integers(0, 25, CUSTOMERS).astype(np.int32),
            "c_acctbal": rng.integers(-99_999, 999_999, CUSTOMERS) / 100.0,
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, CUSTOMERS)],
        },
        "supplier": {
            "s_suppkey": np.arange(SUPPLIERS, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
            "s_nationkey": rng.integers(0, 25, SUPPLIERS).astype(np.int32),
            "s_acctbal": rng.integers(-99_999, 999_999, SUPPLIERS) / 100.0,
        },
    }
    odate = np.datetime64("1992-01-01", "us") + rng.integers(0, 2400, ORDERS) * day
    t["orders"] = {
        "o_orderkey": np.arange(ORDERS, dtype=np.int64),
        # a tenth of the customers never order (left outer join rows)
        "o_custkey": rng.integers(0, CUSTOMERS * 9 // 10, ORDERS).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, ORDERS)],
        "o_totalprice": rng.integers(100_000, 40_000_000, ORDERS) / 100.0,
        "o_orderdate": odate,
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, ORDERS)],
    }
    lines = rng.integers(1, 8, ORDERS)
    n = int(lines.sum())
    okey = np.repeat(np.arange(ORDERS, dtype=np.int64), lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n) * day
    returned = ship < np.datetime64("1995-06-17", "us")
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 200, n).astype(np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, n).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90_000, 200_000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [
            ("R" if r and c else "A" if r else "N")
            for r, c in zip(returned, rng.integers(0, 2, n))
        ],
        "l_linestatus": ["F" if r else "O" for r in returned],
        "l_shipdate": ship,
    }
    t["events"] = {
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": np.sort(
            np.datetime64("2024-01-01", "us")
            + rng.integers(0, 30 * 86_400_000_000, EVENTS).astype("timedelta64[us]")
        ),
        "user_id": rng.integers(0, 20, EVENTS).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, EVENTS)],
        "value": rng.integers(0, 50_000, EVENTS) / 100.0,
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, EVENTS)],
    }
    texts = []
    for i in range(DOCUMENTS):
        if i >= 10 and rng.random() < 0.05:  # an exact copy, up to case and padding
            src = texts[int(rng.integers(0, i))]
            texts.append((" " + src.upper()) if rng.random() < 0.5 else src)
        else:
            words = rng.integers(0, len(DOC_WORDS), int(rng.integers(8, 90)))
            texts.append(" ".join(DOC_WORDS[j] for j in words))
    t["documents"] = {
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, DOCUMENTS)],
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    emb = (rng.standard_normal((EMBEDDINGS, EMBEDDING_DIM)) * 0.1).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, EMBEDDINGS).astype(np.int32),
    }
    return t


def run_tables(args) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(args.out, exist_ok=True)
    rows = {}
    for name, cols in tables_model(args.seed).items():
        arrays = {}
        for col, values in cols.items():
            if col == "embedding":
                arrays[col] = pa.array(values, type=pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(values)
        table = pa.table(arrays)
        pq.write_table(table, os.path.join(args.out, f"{name}.parquet"))
        rows[name] = table.num_rows
    return {"rows": rows}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=["open", "backlog", "tables"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to write into")
    ap.add_argument("--stop-file", help="stop when this file exists (open)")
    args = ap.parse_args(argv)
    if args.mode == "open":
        if not args.stop_file:
            ap.error("open mode needs --stop-file")
        result = run_open(args)
    elif args.mode == "backlog":
        result = run_backlog(args)
    else:
        result = run_tables(args)
    json.dump(result, sys.stdout)
    sys.stdout.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
