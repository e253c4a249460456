"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload etl_dag --seed 1 --seconds 5 --trace 0

Run from the repository root. It builds graft and the harness from source
(perfbench/build.py), generates the workload's inputs from the sf0.1 test
tables and the seed (perfbench/gen.py), runs the benchmark JVM on
local[nproc], checks every output, and prints a report followed by one JSON
line: with --trace 0 the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. A wrong output makes the exit code 1.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

SETUP_REPEATS = 2
JVM_HEAP = "2g"
RUN_LIMIT_S = 170  # a run, after its build, ends within this or fails
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the operation whose latency is `op_s_iqm`, per workload
PRIMARY_OP = {
    "etl_dag": "one operation of the round: a DAG run, runDual or a registry query",
    "lake_txn": "one committed write",
}
DATALAKE_IO = {"readCsv", "readJsonl", "readJsonArray", "writeOrc", "readOrc", "writeParquet",
               "writeJsonl", "writeJsonlExport", "readExportMapping", "upsertPartitions",
               "readMergedSchema", "compact"}
DATALAKE_READ = {"readAsOf", "versionAsOf", "readVersion", "readPublished", "readToken",
                 "readPublishedPruned", "readPublishedPrunedMulti", "readFileStats",
                 "readCatalogTable", "readEvolved", "readAlias", "readVersionsMerged",
                 "currentVersion", "currentDataPath", "listVersions", "dataFiles",
                 "evolvedPrunedScan", "changeFeed", "changeFeedTokens"}
STREAM_PHASES = [("latestOffset", "stream.latest_offset_s"), ("getBatch", "stream.get_batch_s"),
                 ("queryPlanning", "stream.query_planning_s"), ("addBatch", "stream.add_batch_s"),
                 ("walCommit", "stream.wal_commit_s"), ("commitOffsets", "stream.commit_offsets_s")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def setup_inputs(workload, seed, work):
    """Generate the inputs SETUP_REPEATS times; every copy must be
    byte-identical. Returns (input dir, info, median generation seconds)."""
    times, infos = [], []
    for i in range(SETUP_REPEATS):
        t = time.time()
        infos.append(gen.generate(workload, seed, os.path.join(work, f"in{i}")))
        times.append(time.time() - t)
    fps = {x["fingerprint"] for x in infos}
    if len(fps) != 1:
        raise SystemExit(f"perfbench: same seed gave different inputs: {sorted(fps)}")
    for i in range(1, SETUP_REPEATS):
        shutil.rmtree(os.path.join(work, f"in{i}"))
    return os.path.join(work, "in0"), infos[0], stats.median(times)


def run_jvm(root, classes, args, work, budget_s):
    jars = os.path.join(build.spark_jars_dir(root), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed, pre-touched heap: peak RSS then moves with the JVM's own
    # memory (threads, metaspace, code, direct buffers), not with when the
    # collector happened to grow the heap
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dperfbench.expected=" + os.path.join(HERE, "expected_hashes.json")] + opens +
           ["-cp", classes + os.pathsep + jars, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_MASTER", None)
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(logf) as f:
            tail = f.read()[-4000:]
        log(tail)
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")


def datalake_defs(root):
    """(line, def name) of every def in sources/Datalake.scala, for mapping a
    job's call site to the Datalake function that issued it."""
    path = os.path.join(root, "src/main/scala/graft/sources/Datalake.scala")
    out = []
    with open(path) as f:
        for i, line in enumerate(f, 1):
            m = re.match(r"\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+)", line)
            if m:
                out.append((i, m.group(1)))
    return out


def job_layer(callsite, defs):
    """Module of the graft source file named in a job's call site; Datalake
    jobs are split into io, read and commit by the issuing function."""
    m = re.search(r"at (\w+)\.scala:(\d+)", callsite)
    if not m:
        return "other"
    f, line = m.group(1), int(m.group(2))
    if f == "Datalake":
        name = None
        for ln, d in defs:
            if ln > line:
                break
            name = d
        if name in DATALAKE_IO:
            return "datalake.io"
        if name in DATALAKE_READ:
            return "datalake.read"
        return "datalake.commit"
    return f


def timed(ops):
    return [(o["end_us"] - o["start_us"]) / 1e6 for o in ops]


def batches_in(res, ops):
    """Micro-batches whose trigger started inside one of `ops`."""
    out = []
    for b in res["batches"]:
        t = b["start_ms"] * 1000
        if any(o["start_us"] - 2000 <= t <= o["end_us"] for o in ops):
            out.append(b)
    return out


def latency(name, xs):
    """Median and tail of a latency sample: (value, unit, n, tail percentile)."""
    t = stats.tail(xs)
    return {f"{name}_p50": (stats.median(xs), "s", len(xs), None),
            f"{name}_tail": (t[1], "s", t[2], t[0]) if t else (None, "s", len(xs), None)}


def round_times(res, rounds, key=None):
    """Each round's time: the sum of its operations' walls, or of their
    `key` (cpu_s). The checks and the harness's copies between operations
    are not in it."""
    out = []
    for r in rounds:
        ops = [o for o in res["ops"] if o["round"] == r["round"]]
        out.append(sum(o[key] for o in ops) if key else sum(timed(ops)))
    return out


def end_to_end(res, workload, setup, rounds):
    """Gated metrics and printed-only metrics over the timed, untraced
    rounds."""
    ids = {r["round"] for r in rounds}
    ops = [o for o in res["ops"] if o["round"] in ids]
    run_s = round_times(res, rounds)
    cpu_s = round_times(res, rounds, "cpu_s")
    writes = [o for o in ops if o["kind"] == "write"]
    reads = [o for o in ops if o["kind"] == "read"]
    ingest = batches_in(res, [o for o in ops if o["name"] == "runPublishingBackfill"])
    batch_s = [b["ms"].get("triggerExecution", 0) / 1000.0 for b in ingest]
    primary = timed(writes) if workload == "lake_txn" else timed(ops)
    m = {
        "setup_s": (setup, "s", SETUP_REPEATS),
        "run_s": (stats.median(run_s), "s", len(run_s)),
        "op_s_iqm": (stats.iqm(primary), "s", len(primary)),
        "cpu_s": (stats.median(cpu_s), "s", len(cpu_s)),
        "peak_rss_mb": (res["jvm"]["vm_hwm_mb"], "MB", 1),
    }
    rows = stats.median([r["rows"] for r in rounds])
    shown = {**latency("op_s", primary),
             "rows_per_s": (rows / stats.median(run_s), "rows/s", len(run_s), None)}
    if workload == "lake_txn":
        shown.update(latency("write_s", timed(writes)))
        shown.update(latency("read_s", timed(reads)))
        shown.update(latency("batch_s", batch_s))
    written = sum(r["fs"]["bytes_written"] for r in rounds)
    inb = sum(r["input_bytes"] for r in rounds)
    shown["write_amp"] = (written / inb if inb else None, "B/B", len(rounds), None)
    if workload == "lake_txn":
        e = res["end"]
        shown["space_amp"] = (e["table_bytes"] / e["live_bytes"], "B/B", 1, None)
    return m, shown


def per_layer(res, workload, rounds, defs, cores, queries):
    """Per-layer metrics over the traced rounds, each a per-round mean."""
    ids = {r["round"] for r in rounds}
    n = max(1, len(rounds))
    ops = [o for o in res["ops"] if o["round"] in ids]
    opids = {o["id"]: o for o in ops}
    jobs = [j for j in res["jobs"] if j["op"] in opids and j["end_ms"] >= 0]
    stages = [s for j in jobs for s in j["stages"]]
    m = {}
    m["session.start_s"] = res["setup"]["session_s"]
    for ph in ("analysis", "optimization", "planning"):
        tot = 0.0
        for p in res["planning"]:
            if ph in p and any(o["start_us"] <= p[ph]["start_ms"] * 1000 <= o["end_us"] for o in ops):
                tot += (p[ph]["end_ms"] - p[ph]["start_ms"]) / 1000.0
        m[f"planning.{ph}_s"] = tot / n
    wall = sum((o["end_us"] - o["start_us"]) / 1e6 for o in ops)
    job_s = driver_s = 0.0
    per_op = []
    for o in ops:
        iv = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs if j["op"] == o["id"]]
        js = stats.union_length(iv) / 1e6
        inside = stats.union(iv, o["start_us"], o["end_us"])
        gaps = (o["end_us"] - o["start_us"] - sum(b - a for a, b in inside)) / 1e6
        w = (o["end_us"] - o["start_us"]) / 1e6
        job_s += js
        driver_s += gaps
        per_op.append((o["kind"] + ":" + o["name"], w, js, gaps, w - js - gaps))
    m["spark.jobs"] = len(jobs) / n
    m["spark.stages"] = len(stages) / n
    m["spark.tasks"] = sum(s["tasks"] for s in stages) / n
    m["spark.job_s"] = job_s / n
    m["spark.driver_s"] = driver_s / n
    run_s = sum(s["run_ms"] for s in stages) / 1000.0
    m["spark.task_run_s"] = run_s / n
    m["spark.task_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9 / n
    m["spark.gc_s"] = sum(s["gc_ms"] for s in stages) / 1000.0 / n
    m["spark.executor_busy"] = run_s / (wall * cores) if wall else 0.0
    skews = [max(s["task_ms"]) / max(1e-9, stats.median(s["task_ms"]))
             for s in stages if len(s["task_ms"]) >= 2]
    m["spark.task_skew"] = max(skews) if skews else 1.0
    m["spark.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in stages) / n
    m["spark.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in stages) / n
    m["spark.fetch_wait_s"] = sum(s["fetch_wait_ms"] for s in stages) / 1000.0 / n
    m["spark.spill_bytes"] = sum(s["spill"] for s in stages) / n
    m["spark.peak_exec_mem_bytes"] = max([s["peak_mem"] for s in stages] or [0])
    m["spark.input_bytes"] = sum(s["in_bytes"] for s in stages) / n
    m["spark.input_records"] = sum(s["in_recs"] for s in stages) / n
    m["spark.output_bytes"] = sum(s["out_bytes"] for s in stages) / n

    layer_jobs = {}
    for j in jobs:
        layer_jobs.setdefault(job_layer(j["callsite"], defs), []).append(j)
    spans = [s for s in res["spans"] if s["op"] in opids]
    for cat in ("io", "commit", "read"):
        key = f"datalake.{cat}"
        tot = tot_jobs = 0.0
        for o in ops:
            iv = [(s["start_us"], s["end_us"]) for s in spans
                  if s["op"] == o["id"] and s["name"].startswith(key + ":")]
            jv = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in layer_jobs.get(key, [])
                  if j["op"] == o["id"]]
            tot += stats.union_length(iv + jv, o["start_us"], o["end_us"]) / 1e6
            tot_jobs += stats.union_length(jv, o["start_us"], o["end_us"]) / 1e6
        m[f"{key}_s"] = tot / n
        if cat in ("io", "commit"):
            m[f"{key}_jobs"] = len(layer_jobs.get(key, [])) / n
        if cat == "commit":
            m["datalake.commit_driver_s"] = (tot - tot_jobs) / n
    lake = [r["lake"] for r in rounds]
    m["datalake.files_written"] = sum(x.get("files_written", 0) for x in lake) / n
    m["datalake.log_bytes"] = lake[-1].get("log_bytes", 0) if lake else 0
    m["datalake.files_live"] = lake[-1].get("files_live", 0) if lake else 0
    tot_f = sum(o.get("files_total", 0) for o in ops)
    m["datalake.files_scanned_ratio"] = (
        sum(o.get("files_scanned", 0) for o in ops) / tot_f if tot_f else 0.0)
    out_rows = sum(o.get("rows_out", 0) for o in ops)
    m["datalake.rows_scanned_per_row"] = (
        sum(o.get("rows_in_scanned", 0) for o in ops) / out_rows if out_rows else 0.0)
    for k in ("read_ops", "write_ops", "list_ops", "bytes_read", "bytes_written"):
        m[f"fs.{k}"] = sum(o.get("fs", {}).get(k, 0) for o in ops) / n

    bs = batches_in(res, ops)
    m["stream.batches"] = len(bs) / n
    for ph, key in STREAM_PHASES:
        m[key] = sum(b["ms"].get(ph, 0) for b in bs) / 1000.0 / n

    m["jvm.gc_s"] = sum(r["gc_ms"] for r in rounds) / 1000.0 / n
    m["jvm.jit_s"] = sum(r["jit_ms"] for r in rounds) / 1000.0 / n
    m["jvm.codegen_compiles"] = sum(r["codegen_compiles"] for r in rounds) / n
    m["jvm.cpu_s"] = sum(r["cpu_s"] for r in rounds) / n
    m["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]

    for q in queries:
        qops = [o for o in ops if o["kind"] == "query" and o["name"] == q]
        qids = {o["id"] for o in qops}
        qst = [s for j in jobs if j["op"] in qids for s in j["stages"]]
        m[f"query.{q}.wall_s"] = sum(timed(qops)) / n
        m[f"query.{q}.jobs"] = sum(1 for j in jobs if j["op"] in qids) / n
        m[f"query.{q}.task_cpu_s"] = sum(s["cpu_ns"] for s in qst) / 1e9 / n
        m[f"query.{q}.shuffle_bytes"] = sum(s["shuffle_write"] for s in qst) / n

    # self time per layer, from the benchmark's own spans
    selfs = stats.self_times([{"id": s["id"], "parent": s["parent"], "start": s["start_us"],
                               "end": s["end_us"]} for s in spans])
    by_layer = {}
    for s in spans:
        layer = "op" if s["name"].startswith("op.") else s["name"].split(":")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + selfs[s["id"]] / 1e6
    sites = {}
    for j in jobs:
        k = job_layer(j["callsite"], defs) + " <- " + j["callsite"]
        sites[k] = sites.get(k, 0) + 1
    return m, per_op, by_layer, sites


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"perfbench: unknown workload {a.workload}; one of {names}")
    if not gen.SF_DIR or not os.path.isdir(gen.SF_DIR):
        raise SystemExit(f"perfbench: sf0.1 test tables not found ({gen.SF_DIR}); "
                         "set SPARK_GRAFT_SF_DIR")
    classes = build.build(root)
    started = time.time()
    defs = datalake_defs(root)

    cores = nproc()
    work = os.path.join(root, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        in_dir, info, gen_s = setup_inputs(a.workload, a.seed, work)
        log(f"inputs: {a.workload} seed {a.seed} fingerprint {info['fingerprint']} "
            f"{info['bytes']} B {json.dumps({k: v for k, v in info.items() if k in ('tables', 'raw_rows')})}")
        out = os.path.join(work, "result.json")
        launch_ms = int(time.time() * 1000)
        run_jvm(root, classes, [a.workload, in_dir, work, str(a.seconds), str(a.trace), out,
                          str(launch_ms)], work, RUN_LIMIT_S - (time.time() - started))
        jvm_wall = time.time() - launch_ms / 1000.0
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    left = os.path.exists(work)

    meta = res["meta"]
    failures = list(res["failures"])
    if meta["default_parallelism"] != cores or int(meta["SPARK_GRAFT_CPUS"] or 0) != cores:
        failures.append(f"session: parallelism {meta['default_parallelism']} != nproc {cores}")
    if left:
        failures.append(f"hygiene: work dir {work} left behind")
    attempted = len(res["ops"]) + res["checks"]
    failed = min(attempted, len(failures))

    s = res["setup"]
    jvm_start = (s["main_us"] / 1000.0 - s["launch_ms"]) / 1000.0
    setup_s = gen_s + jvm_start + s["session_s"] + s["warmup_s"]
    timed_rounds = [r for r in res["rounds"] if r["round"] > 0]  # warm-up rounds are < 0
    plain = [r for r in timed_rounds if not r["traced"]]
    traced = [r for r in timed_rounds if r["traced"]]

    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print(f"# session: master={meta['master']} defaultParallelism={meta['default_parallelism']} "
          f"nproc={cores} SPARK_GRAFT_CPUS={meta['SPARK_GRAFT_CPUS']} "
          f"driver_heap_mb={meta['driver_heap_mb']} spark={meta['spark_version']} jdk={meta['jdk']}")
    print(f"# inputs: fingerprint={info['fingerprint']} bytes={info['bytes']} "
          f"rows/round={plain[0]['rows'] if plain else 'n/a'}")
    print(f"# setup: generate={gen_s:.3f}s (median of {SETUP_REPEATS}) jvm_start={jvm_start:.3f}s "
          f"session={s['session_s']:.3f}s warmup={s['warmup_s']:.3f}s; jvm wall {jvm_wall:.1f}s")
    h = res["hygiene"]
    print(f"# hygiene: disk_bytes start={h['disk_start']} end={h['disk_end']} "
          f"threads start={h['threads_start']} end={h['threads_end']} "
          f"leaked_streams={h['leaked_streams']}")
    print(f"# host: steal {res['host']['steal_share']:.2%} of the machine's CPU time during "
          "the timed rounds")
    print(f"# failed_ratio: {failed}/{attempted} = {failed / attempted:.6g} ratio")
    for x in failures[:20]:
        print(f"#   FAIL {x}")
    if res["hashes"]:
        print("# row hashes: " + json.dumps(res["hashes"], sort_keys=True))

    e2e_names = [x["name"] for x in bench["end_to_end"]]
    layer_names = [x["name"] for x in bench["per_layer"]]
    units = {x["name"]: x["unit"] for x in bench["end_to_end"] + bench["per_layer"]}
    if a.trace == 0:
        m, shown = end_to_end(res, a.workload, setup_s, plain)
        print(f"# op = {PRIMARY_OP[a.workload]}")
        for k, (v, u, n) in m.items():
            print(f"{k} = {fmt(v)} {u} (n={n})")
        for k, (v, u, n, pct) in shown.items():
            print(f"{k} = {fmt(v)} {u} (n={n}{f' p{pct:g}' if pct else ''})")
        by_op = {}
        for o in res["ops"]:
            if o["round"] in {r["round"] for r in plain}:
                by_op.setdefault(o["kind"] + ":" + o["name"], []).append(
                    (o["end_us"] - o["start_us"]) / 1e6)
        print("# rounds (wall s/cpu s/gc ms/jit ms/codegen compiles): " + " ".join(
            f"{(r['end_us'] - r['start_us']) / 1e6:.3f}/{r['cpu_s']:.2f}/{r['gc_ms']}/{r['jit_ms']}"
            f"/{r['codegen_compiles']}"
            for r in res["rounds"]))
        print("# ops (median s, n): " + ", ".join(
            f"{k}={stats.median(v):.3f}/{len(v)}" for k, v in sorted(by_op.items())))
        metrics = {k: {"value": m[k][0], "unit": units[k]} for k in e2e_names}
    else:
        # the registry queries with per-query metrics, named in BENCHMARK.json
        queries = sorted({k.split(".")[1] for k in layer_names if k.startswith("query.")})
        layer, per_op, by_layer, sites = per_layer(res, a.workload, traced, defs, cores, queries)
        base = stats.median(round_times(res, plain))
        tr = stats.median(round_times(res, traced))
        print(f"# tracing overhead: run_s traced {tr:.4f}s vs untraced {base:.4f}s = "
              f"{tr - base:+.4f}s ({(tr - base) / base:+.2%}) over {len(traced)}+{len(plain)} rounds")
        print("# self time per layer (s per traced round): " + ", ".join(
            f"{k}={v / max(1, len(traced)):.4f}" for k, v in sorted(by_layer.items())))
        agg = {}
        for name, w, js, ds, resid in per_op:
            x = agg.setdefault(name, [0, 0.0, 0.0, 0.0, 0.0, 0.0])
            x[0] += 1
            x[1] += w
            x[2] += js
            x[3] += ds
            x[4] += resid
            x[5] = max(x[5], abs(resid))
        print("# per op: n wall_s = spark.job_s + spark.driver_s + residual_s (max |residual|)")
        for name, x in sorted(agg.items()):
            print(f"#   {name}: n={x[0]} {x[1]:.4f} = {x[2]:.4f} + {x[3]:.4f} + {x[4]:+.4f} "
                  f"(max {x[5]:.4f})")
        print("# jobs by layer <- call site: " + "; ".join(
            f"{k} x{v}" for k, v in sorted(sites.items(), key=lambda x: -x[1])))
        for k in layer_names:
            print(f"{k} = {fmt(layer.get(k))} {units[k]}")
        trace_path = os.path.join(root, ".bench_out", f"spans-{a.workload}-seed{a.seed}.jsonl")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            for sp in res["spans"]:
                f.write(json.dumps({"name": sp["name"], "start_us": sp["start_us"],
                                    "end_us": sp["end_us"], "parent": sp["parent"],
                                    "op": sp["op"], "id": sp["id"]}) + "\n")
        print(f"# spans: {len(res['spans'])} written to {os.path.relpath(trace_path, root)}")
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in layer_names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
