"""Seeded input generator for the benchmark workloads.

Every input the program sees is written here from the sf0.1 test tables and
the seed; the same (workload, seed) gives byte-identical files, and
`fingerprint` hashes them so a run can prove it.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import random
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_sf_dir():
    """The sf0.1 directory graft's own Bench reads by default."""
    try:
        with open(os.path.join(ROOT, "src/main/scala/graft/Bench.scala")) as f:
            m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
        return m.group(1) if m else None
    except OSError:
        return None


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR") or default_sf_dir()

# lake_txn: merges per round, rows per merge, and rounds generated (more
# than a run uses). These sizes are chosen, not measured: see README.md.
TXN_ROUNDS = 40
TXN_MERGES = 3
TXN_MERGE_ROWS = 400
# lake_txn stream part: one raw fetch file per day of sf0.1 events, as the
# reference DAG's incremental fetch lands them; this many consecutive days
STREAM_DAYS = 3
# events of the previous day each later fetch file re-sends: the size of the
# reference DAG's own fetch page, which overlaps its bulk feed
# (DatalakeQueries.run writes the events with event_id <= 50 twice)
RESEND_ROWS = 50
ETL_TABLES = ["events", "customer", "orders", "lineitem", "part", "supplier", "nation",
              "documents"]


def nproc():
    return len(os.sched_getaffinity(0))


def load(name):
    path = os.path.join(SF_DIR, name + ".parquet")
    if not os.path.exists(path):
        raise SystemExit(f"gen: missing test table {path} (set SPARK_GRAFT_SF_DIR)")
    return pq.read_table(path)


def write_split(table, path, files):
    """Write `table` as a directory of `files` parquet files (row order kept)."""
    os.makedirs(path)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def shuffled(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def gen_etl(seed, out):
    """The sf0.1 tables the DAG and its queries read, each with its rows in
    a seeded order and split into nproc files. Keys are not moved: the
    reference DAG's fetch page (event_id <= 50) is then the same for every
    seed, and so is every query's answer."""
    rng = np.random.default_rng(seed)
    rows = {}
    for t in ETL_TABLES:
        tab = shuffled(load(t), rng)
        write_split(tab, os.path.join(out, t + ".parquet"), nproc())
        rows[t] = tab.num_rows
    return {"tables": rows}


def gen_txn(seed, out):
    """The base table (orders as k, cust, cents, prio) plus a seeded op log:
    rounds of skewed-key merges, a range delete, range reads, time travel,
    a full read, optimize and vacuum."""
    rng = np.random.default_rng(seed)
    o = load("orders")
    keys = o.column("o_orderkey").to_numpy()
    base = pa.table({
        "k": keys,
        "cust": o.column("o_custkey"),
        "cents": pc.cast(pc.round(pc.multiply(o.column("o_totalprice"), 100.0)), pa.int64()),
        "prio": o.column("o_orderpriority"),
    })
    base = shuffled(base, rng)
    write_split(base, os.path.join(out, "base.parquet"), nproc())
    live_hi = int(keys.max())
    lo_key = int(keys.min())
    ops = []
    next_new = live_hi + 1
    for r in range(TXN_ROUNDS):
        rnd = []
        for m in range(TXN_MERGES):
            n_upd = TXN_MERGE_ROWS * 3 // 4
            # zipf-skewed picks over the existing key range: low ranks are hot
            ranks = np.minimum(rng.zipf(1.3, size=n_upd * 2), len(keys)) - 1
            upd = np.unique(np.sort(keys)[ranks])[:n_upd]
            new = np.arange(next_new, next_new + TXN_MERGE_ROWS - len(upd))
            next_new += len(new)
            ks = np.concatenate([upd, new]).astype(np.int64)
            cents = rng.integers(100, 50_000_000, size=len(ks))
            rnd.append(("merge", ",".join(map(str, ks)), ",".join(map(str, cents))))
            a = int(rng.integers(lo_key, live_hi))
            rnd.append(("read_range", a, a + 20000))
        a = int(rng.integers(lo_key, live_hi - 2000))
        rnd.append(("delete", a, a + int(rng.integers(200, 2000))))
        rnd.append(("read_asof", repr(float(rng.random()))))
        rnd.append(("read_full",))
        rnd.append(("optimize", nproc()))
        a = int(rng.integers(lo_key, live_hi))
        rnd.append(("read_range", a, a + 20000))
        rnd.append(("vacuum", 4))
        ops.append(rnd)
    # one op per line: round, op, then its arguments, tab-separated
    with open(os.path.join(out, "ops.tsv"), "w") as f:
        for r, rnd in enumerate(ops):
            for op in rnd:
                f.write("\t".join(map(str, (r,) + op)) + "\n")
    return {"tables": {"base": base.num_rows},
            "merge_rows_per_round": TXN_MERGES * TXN_MERGE_ROWS, "rounds": TXN_ROUNDS}


def gen_stream(seed, out):
    """STREAM_DAYS raw JSONL fetch files, one per day of sf0.1 events, for
    consecutive days from a seeded start day. Each file after the first
    also re-sends RESEND_ROWS events of the day before with a newer value
    and ts (the at-least-once refetch the keep-last dedup absorbs)."""
    rng = random.Random(seed)
    e = load("events")
    ts = pc.cast(pc.cast(e.column("ts"), pa.timestamp("us")), pa.int64()).to_pylist()
    ev = {c: e.column(c).to_pylist() for c in ["event_id", "user_id", "event_type", "value"]}
    day_us = 86_400_000_000
    first = min(ts) // day_us
    days = {}
    for i, t in enumerate(ts):
        days.setdefault(t // day_us - first, []).append(i)
    start = rng.randrange(len(days) - STREAM_DAYS + 1)
    raw = os.path.join(out, "raw")
    os.makedirs(raw)
    n_rows = 0
    prev = []
    for fi in range(STREAM_DAYS):
        idx = sorted(days[start + fi], key=lambda i: (ts[i], ev["event_id"][i]))
        rows = [{"event_id": ev["event_id"][i], "user_id": ev["user_id"][i],
                 "event_type": ev["event_type"][i], "value": ev["value"][i],
                 "ts_us": ts[i]} for i in idx]
        resent = []
        for row in rng.sample(prev, RESEND_ROWS) if prev else []:
            row = dict(row)
            row["value"] = round(rng.uniform(1, 500), 2)
            row["ts_us"] += 1_000_000
            resent.append(row)
        prev = rows
        rows = rows + resent
        with open(os.path.join(raw, f"fetch-{fi:04d}.jsonl"), "w") as f:
            for row in rows:
                f.write(json.dumps(row, separators=(",", ":")) + "\n")
        n_rows += len(rows)
    return {"raw_files": STREAM_DAYS, "first_day": start, "raw_rows": n_rows}


def gen_lake(seed, out):
    """The transaction table and op log, plus the stream's fetch files under
    stream/."""
    info = gen_txn(seed, out)
    info.update(gen_stream(seed, os.path.join(out, "stream")))
    return info


GENERATORS = {"etl_dag": gen_etl, "lake_txn": gen_lake}


def fingerprint(root):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    total = 0
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for fn in sorted(files):
            p = os.path.join(d, fn)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                b = f.read()
            total += len(b)
            h.update(b)
    return h.hexdigest()[:16], total


def generate(workload, seed, out):
    os.makedirs(out)
    info = GENERATORS[workload](seed, out)
    fp, nbytes = fingerprint(out)
    info["fingerprint"] = fp
    info["bytes"] = nbytes
    with open(os.path.join(out, "_inputs.json"), "w") as f:
        json.dump(info, f)
    return info


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
