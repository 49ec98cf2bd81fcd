#!/usr/bin/env python3
"""The repo benchmark: one command per workload, run from the repo root.

    python3 perfbench/run.py --workload {pipeline,board,iterative} \
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --selfcheck

It builds the program and this harness from source (perfbench/build.sbt,
once per source tree), generates the seed's sf0.1 tables, runs one JVM
(`local[nproc]`), checks outputs against DuckDB, and prints every metric by
name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. A traced run also
writes a per-op ledger and a per-workload rollup under .bench_build/ledger/.
See perfbench/README.md for definitions and the reading rule.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
sys.path.insert(0, HERE)
import gen_data  # noqa: E402

# Fixed op lists, so that parent and child commits time the same keys. The
# board is six cheap one-shot keys whose generated classes together overflow
# Spark's 100-entry codegen cache, so every pass recompiles; iterative takes
# three of the 35 stream_* and graph_* keys, in an order the seed permutes.
# The pipeline splits orders into 20 drops; each pass fires 4 of them into a
# fresh pipeline, taking the next 4 round the list. Warm-up passes are
# untimed; the board needs five, as its passes keep speeding up while the
# JIT catches up with the recompiled classes. README.md says how the keys
# were chosen.
BOARD = [
    "knn_ivf_multiprobe", "knn_radius_quantized", "source_quota_cap",
    "text_lang_confusion", "profile_histogram", "etl_upsert_scd2",
]
ITERATIVE = ["graph_components", "stream_dedup_stateful", "stream_tumbling"]
WORKLOADS = {
    "pipeline": {"drops": 20, "firings": 4, "warmups": 2},
    "board": {"keys": BOARD, "warmups": 5},
    "iterative": {"keys": ITERATIVE, "shuffle": True, "warmups": 2},
}
SF = 0.1
HEAP = "3g"
BENCH_TIMEOUT_S = 170

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

E2E_UNITS = {"setup_s": "s", "total_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "firing_late_s": "s", "rows_per_s": "rows/s", "fail_ratio": "ratio",
             "peak_rss_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    log("building program + harness (sbt compile)")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.override.build.repos=true", "-Dsbt.server.forcestart=false",
             "compile"], cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=840).returncode
    if rc != 0:
        fail(f"build failed (see {os.path.relpath(out.name, ROOT)})", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark jars not found: set SPARK_HOME")
    return os.path.join(home, "jars", "*")


# ---------------------------------------------------------------- run

def run_jvm(workload, seed, seconds, trace, run_dir, data_dir, cpus, spec, drop_rows):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={run_dir}",
           f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
           "-cp", f"{CLASSES}{os.pathsep}{spark_jars()}", "perfbench.Main",
           "--workload", workload, "--data", data_dir, "--out", run_dir,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--cpus", str(cpus)]
    if "keys" in spec:
        cmd += ["--keys", ",".join(spec["keys"])]
    if "warmups" in spec:
        cmd += ["--warmups", str(spec["warmups"])]
    if spec.get("shuffle"):
        cmd += ["--shuffle", "1"]
    if drop_rows:
        cmd += ["--drop-rows", ",".join(map(str, drop_rows)), "--firings", str(spec["firings"])]
    cmd += ["--spawn-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(WORK, "logs", f"{workload}-seed{seed}-trace{trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=BENCH_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    spawn_ms = int(cmd[-1])
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.isfile(res_path):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        fail(f"benchmark JVM exited with {rc}; log tail:\n{tail}", 4)
    shutil.copy(res_path, log_path[:-len(".log")] + ".result.json")
    with open(res_path) as fh:
        res = json.load(fh)
    res["spawn_ms"] = spawn_ms
    return res


def write_drops(data_dir, seed, n):
    """Split the orders table by seed into `n` CSV drops (header, comma,
    double quote), one directory each; returns the rows per drop."""
    if not n:
        return []
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW o AS SELECT *, hash(o_orderkey, {int(seed)}) % {int(n)} AS d "
                f"FROM read_parquet('{os.path.join(data_dir, 'orders.parquet')}')")
    rows = []
    for i in range(n):
        d = os.path.join(data_dir, "drops", f"drop={i}")
        os.makedirs(d)
        con.execute(f"COPY (SELECT * EXCLUDE (d) FROM o WHERE d = {i} ORDER BY o_orderkey) "
                    f"TO '{os.path.join(d, f'orders-{i}.csv')}' (HEADER, DELIMITER ',')")
        rows.append(con.execute(f"SELECT count(*) FROM o WHERE d = {i}").fetchone()[0])
    return rows


# ---------------------------------------------------------------- check

def load_diffcheck():
    path = os.path.join(ROOT, "tools", "diffcheck.py")
    spec = importlib.util.spec_from_file_location("diffcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_outputs(res, data_dir):
    """One verdict per checked item: (key, ok, detail)."""
    import duckdb
    import pyarrow.parquet as pq
    dc = load_diffcheck()
    con = duckdb.connect()
    for t in dc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    verdicts = []
    for c in res["checks"]:
        key = c["key"]
        if c.get("error"):
            verdicts.append((key, False, c["error"]))
            continue
        files = sorted(glob.glob(os.path.join(c["dir"], "*.parquet")))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if key == "pipeline_warehouse":
            got = con.execute(
                "SELECT count(*), sum(hash(order_id, customer_id, status, total_price,"
                " order_date, priority)::HUGEINT) FROM read_parquet(?)", [files]).fetchone()
            landed = [f for d in c["drops"]
                      for f in glob.glob(os.path.join(data_dir, "drops", f"drop={d}", "*.csv"))]
            want = con.execute(
                "SELECT count(*), sum(hash(o_orderkey::BIGINT, o_custkey::BIGINT,"
                " o_orderstatus, o_totalprice::DECIMAL(12,2), o_orderdate::DATE,"
                " o_orderpriority)::HUGEINT) FROM read_csv(?, header = true)",
                [landed]).fetchone()
            ok = got == want and got[0] == c["dropped_rows"]
            verdicts.append((key, ok, f"warehouse rows/checksum {got}, dropped {want}"))
        elif c.get("oracle_sql"):
            dc.ORACLE = {key: c["oracle_sql"]}
            r = dc.compare(key, data_dir, os.path.dirname(c["dir"]), con)
            verdicts.append((key, r.startswith("OK"), r))
        else:
            verdicts.append((key, rows > 0, f"unit-only: {rows} rows"))
    return verdicts


# ---------------------------------------------------------------- metrics

def by_pass(ops):
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    return [passes[p] for p in sorted(passes)]


def e2e_metrics(res, ops, failed, workload):
    walls = [o["wall_ms"] / 1000 for o in ops]
    passes = by_pass(ops)
    totals = [sum(o["wall_ms"] for o in p) / 1000 for p in passes]
    # A pass holds at most ten ops, so no percentile leaves ten beyond it:
    # the tail is the pass's slowest op (p100 of its n), median over passes.
    slowest = [max(o["wall_ms"] for o in p) / 1000 for p in passes]
    m = {
        "setup_s": (res["timed_start_epoch_ms"] - res["spawn_ms"]) / 1000,
        "total_s": statistics.median(totals),
        "op_p50_s": statistics.median(walls),
        "op_tail_s": statistics.median(slowest),
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
        "fail_ratio": failed / len(ops),
    }
    notes = {"op_tail_s": f"p100 of n={len(passes[0])} per pass, median of {len(passes)}",
             "total_s": "median of passes " + ", ".join(f"{t:.3f}" for t in totals)}
    if "drops" in WORKLOADS[workload]:
        late = [o["wall_ms"] / 1000 for p in passes for o in p
                if o["index"] >= 3 * len(p) // 4]
        m["firing_late_s"] = statistics.median(late)
        m["rows_per_s"] = sum(o["rows"] for o in ops) / sum(walls)
        notes["firing_late_s"] = f"median of last quarter, n={len(late)}"
    return m, notes


LAYER_SUMS = [
    "keys.build_ms", "keys.action_ms", "plan.analysis_ms", "plan.optimization_ms",
    "plan.planning_ms", "codegen.compiles", "codegen.compile_ms", "sched.jobs",
    "sched.stages", "sched.tasks", "sched.job_active_ms", "sched.driver_gap_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes",
    "exec.input_records", "stream.batches", "stream.batch_ms", "stream.state_rows",
    "jvm.gc_ms", "jvm.jit_cpu_ms", "etl.schema_ms", "etl.ingest_ms", "etl.crawl_ms",
    "etl.load_ms", "etl.query_ms", "etl.driver_ms", "etl.schema_bytes_read",
    "etl.load_rows"]


def layer_units(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("_bytes_read"):
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    if name == "exec.core_util":
        return "ratio"
    return "count"


def layer_metrics(res, cpus):
    """Per-pass layer totals (mean over traced passes) and the tracing
    overhead: the last traced pass against its untraced repeat. A layer no op
    of the workload reaches (etl.* off the pipeline) reads 0."""
    traced = res["traced_ops"]
    npass = len(by_pass(traced))
    m = {k: sum(o.get(k, 0) for o in traced) / npass for k in LAYER_SUMS}
    m["exec.peak_mem_bytes"] = max(o["exec.peak_mem_bytes"] for o in traced)
    active = m["sched.job_active_ms"]
    m["exec.core_util"] = m["exec.run_ms"] / (active * cpus) if active else 0.0
    plain = sum(o["wall_ms"] for o in res["ops"])
    m["trace.overhead_pct"] = 100.0 * (sum(o["wall_ms"] for o in by_pass(traced)[-1])
                                       - plain) / plain
    return m


def accounting_gaps(ops):
    """Ops whose spans do not add up to their wall within a tenth, or that
    hold a negative span. Keys: build + action = wall. Firings: the etl.*
    step spans plus etl.driver_ms (run() with no job running) and
    etl.query_ms = wall, so a job of run() that no step claims shows here."""
    bad = []
    for o in ops:
        parts = [o["keys.build_ms"], o["keys.action_ms"]]
        if "etl.driver_ms" in o:
            parts = [o[f"etl.{s}_ms"] for s in ("schema", "ingest", "crawl", "load",
                                                 "driver", "query")]
        if min(parts) < 0 or abs(sum(parts) - o["wall_ms"]) > 0.1 * o["wall_ms"]:
            bad.append(o["name"])
    return bad


def rollup(ops, cpus):
    """Where the seconds went, per op and in total: planning, codegen,
    scheduling (jobs active but cores idle), executor (busy cores as wall)
    and the driver gap (no job running)."""
    def split(o):
        active = o["sched.job_active_ms"]
        busy = o["exec.run_ms"] / cpus
        return {"wall_ms": o["wall_ms"],
                "planning_ms": o["plan.analysis_ms"] + o["plan.optimization_ms"]
                + o["plan.planning_ms"],
                "codegen_ms": o["codegen.compile_ms"],
                "scheduling_ms": active - busy, "executor_ms": busy,
                "driver_gap_ms": o["wall_ms"] - active}
    rows = [dict(name=o["name"], **split(o)) for o in ops]
    total = {k: sum(r[k] for r in rows) for k in rows[0] if k != "name"}
    share = {k + "_share": v / total["wall_ms"] for k, v in total.items() if k != "wall_ms"}
    return {"total": total, "share_of_wall": share, "ops": rows}


# ---------------------------------------------------------------- main

def run(args):
    t_start = time.time()
    workload = args.workload
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
    build()
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    run_dir = os.path.join(WORK, "runs", f"{workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    gen_data.write(data_dir, args.sf, args.seed)
    spec = WORKLOADS[workload]
    drop_rows = write_drops(data_dir, args.seed, spec.get("drops"))
    res = run_jvm(workload, args.seed, args.seconds, args.trace, run_dir, data_dir,
                  cpus, spec, drop_rows)
    verdicts = check_outputs(res, data_dir)
    bad_keys = {k for k, ok, _ in verdicts if not ok}
    ops = res["ops"] + res["traced_ops"]

    def op_failed(o):
        return bool(o["error"]) or o["name"] in bad_keys or \
            (o["name"].startswith("firing_") and "pipeline_warehouse" in bad_keys)
    failed = sum(op_failed(o) for o in ops)

    log(f"workload={workload} seed={args.seed} sf={args.sf} cpus={cpus} "
        f"nproc={res['nproc']} heap_max_mb={res['heap_max_mb']} passes={res['passes']} "
        f"ops={len(res['ops'])} loadavg={res['loadavg_start']:.2f}->{res['loadavg_end']:.2f} "
        f"steal_pct={res['steal_pct']}")
    for k, ok, detail in verdicts:
        log(f"check {'OK  ' if ok else 'FAIL'} {k}: {detail}")
    for o in ops:
        if op_failed(o):
            log(f"op FAILED {o['name']} (pass {o['pass']}): {o['error'] or 'output check failed'}")

    m, notes = e2e_metrics(res, res["ops"], sum(op_failed(o) for o in res["ops"]), workload)
    for k, v in m.items():
        log(f"{k:<14} {v:>14.4f} {E2E_UNITS[k]:<7} {notes.get(k, '')}")
    wanted, have, units = args.e2e, m, E2E_UNITS
    if args.trace:
        lm = layer_metrics(res, cpus)
        for k, v in lm.items():
            log(f"{k:<26} {v:>16.3f} {layer_units(k)}")
        gaps = accounting_gaps(res["traced_ops"])
        log("accounting: spans sum to op wall within a tenth on every op" if not gaps
            else f"accounting WARNING: spans do not sum to wall on {gaps}")
        ledger_dir = os.path.join(WORK, "ledger")
        os.makedirs(ledger_dir, exist_ok=True)
        stem = os.path.join(ledger_dir, f"{workload}-seed{args.seed}")
        env = {k: res[k] for k in ("cpus", "nproc", "heap_max_mb", "loadavg_start",
                                   "loadavg_end", "steal_pct")}
        with open(stem + ".jsonl", "w") as fh:
            for o in res["traced_ops"]:
                fh.write(json.dumps(dict(o, workload=workload, seed=args.seed,
                                         failed=op_failed(o), **env)) + "\n")
        ru = rollup(res["traced_ops"], cpus)
        with open(stem + "-rollup.json", "w") as fh:
            json.dump({"workload": workload, "seed": args.seed, "env": env,
                       "end_to_end": m, "layers": lm, **ru}, fh, indent=1)
        log("rollup " + " ".join(f"{k}={v:.3f}" for k, v in ru["share_of_wall"].items()))
        log(f"ledger {os.path.relpath(stem, ROOT)}.jsonl, rollup {os.path.relpath(stem, ROOT)}-rollup.json")
        wanted, have, units = args.per_layer, lm, {k: layer_units(k) for k in lm}
    missing = [k for k in wanted if k not in have]
    if missing:
        fail(f"BENCHMARK.json names metrics this run does not produce: {missing}", 5)
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"wall {time.time() - t_start:.1f}s")
    print(json.dumps({"correct": not bad_keys and failed == 0,
                      "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": have[k], "unit": units[k]} for k in wanted}}))


def selfcheck():
    """Run every workload, including those BENCHMARK.json leaves out, at
    sf0.001 (traced and untraced) and fail if any
    metric named in BENCHMARK.json is missing from its printed output or has
    no unit, or if a run reports incorrect outputs."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in [{"name": n} for n in WORKLOADS]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                                "--seed", "1", "--seconds", "1", "--trace", str(trace),
                                "--sf", "0.001"], cwd=ROOT, capture_output=True, text=True,
                               timeout=900)
            lines = p.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
                got = result["metrics"]
            except (IndexError, ValueError, KeyError):
                problems.append(f"{w['name']} trace={trace}: no result line (exit {p.returncode})"
                                f"\n{p.stderr[-2000:]}")
                continue
            if result.get("correct") is not True:
                problems.append(f"{w['name']} trace={trace}: outputs incorrect "
                                f"({result.get('failed')} of {result.get('attempted')} ops failed)")
            for metric in spec[group]:
                g = got.get(metric["name"])
                if not isinstance(g, dict) or not isinstance(g.get("value"), (int, float)) \
                        or not g.get("unit"):
                    problems.append(f"{w['name']} trace={trace}: {metric['name']} missing or unitless")
            log(f"selfcheck {w['name']} trace={trace}: {len(got)} metrics")
    for p in problems:
        print(f"[perfbench] selfcheck FAIL {p}", file=sys.stderr)
    sys.exit(1 if problems else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if args.selfcheck:
        selfcheck()
    if not args.workload:
        fail("--workload is required")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found at the repo root")
    with open(bench_json) as fh:
        spec = json.load(fh)
    args.e2e = [m["name"] for m in spec["end_to_end"]]
    args.per_layer = [m["name"] for m in spec["per_layer"]]
    run(args)


if __name__ == "__main__":
    main()
