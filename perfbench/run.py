#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_mix --seed 1 \
        --seconds 14 --trace 0

It builds the program from source (``build.py``), generates the
workload's inputs from the seed (``gen.py``), runs the workload in one
JVM at ``local[<cores>]`` with a single closed-loop client
(``src/perfbench/Main.scala``), checks every output, and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` registers the listeners and reports the
per-layer metrics. A full record of the run (host, per-op rows, spans)
is written to ``.bench_build/runs/``. See ``perfbench/README.md``.
"""
import argparse
import importlib.util
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave nothing in the checkout but .bench_build

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = Path.cwd()
JVM_TIMEOUT_S = 170

# The workloads and their sizing. query_mix's registry queries are part of
# the benchmark: changing them is a benchmark change.
QUERY_MIX = ["j1_enrich_group_stats", "a3_pivot_station_hour", "x5_anova_eta",
             "dd4_simhash_near_dup", "st8_stream_distinct_sketch"]
WORKLOADS = {"etl_ticks": "etl", "query_mix": "queries"}
SF = 0.01        # query_mix input size, in the repository's scale (TESTDATA.md)
PASS_S = 4.5     # a warm query_mix pass, after the two warm-up passes, on a 4-core host
TICK_S = 1.4     # a warm etl_ticks tick on a 4-core host
WARM_TICKS = 7   # the cold first tick and the ticks that follow it while the JIT warms
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, work, params, budget_s):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp / 'spark-warehouse'}",
            f"-Dderby.system.home={tmp}",
            "-cp", cp, "perfbench.Main"]
    params["launched_ms"] = str(int(time.time() * 1000))
    cmd += [f"{k}={v}" for k, v in params.items()]
    with open(work / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM exceeded {budget_s:.0f} s")
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"JVM exited with {rc}:\n{tail}")
    return json.loads(Path(params["out"]).read_text())


# ---- correctness -------------------------------------------------------------

def check_queries(res, data_dir, dump_dir):
    """Compare each query's warm-up output with its DuckDB oracle, using
    tools/localverify.py's comparison rules, and each measured op's row
    count with that output. Returns {query: problem} for every query
    whose output is wrong."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location("localverify", ROOT / "tools" / "localverify.py")
    lv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lv)
    con = duckdb.connect()
    for t in lv.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / t}.parquet')")
    oracles = json.loads((dump_dir / "oracle_sql.json").read_text())
    bad, rows = {}, {}
    for name, err in res["warmup_errors"].items():
        if err:
            bad[name] = "warm-up failed: " + err
            continue
        sdf = pd.read_parquet(dump_dir / name)
        rows[name] = len(sdf)
        sql = oracles.get(name)
        if sql is None:
            continue  # no SQL oracle: checked by row count only
        try:
            odf = lv.canon(con.execute(sql).df())
            sdf = lv.canon(sdf)
        except Exception as e:  # noqa: BLE001
            bad[name] = f"oracle error: {e}"
            continue
        if len(sdf) != len(odf) or list(sdf.columns) != list(odf.columns):
            bad[name] = f"shape {len(sdf)}x{list(sdf.columns)} vs oracle {len(odf)}x{list(odf.columns)}"
            continue
        for c in sdf.columns:
            diffs = [i for i, (x, y) in enumerate(zip(sdf[c].tolist(), odf[c].tolist()))
                     if not lv.values_equal(x, y)]
            if diffs:
                bad[name] = f"column {c}: {len(diffs)} values differ from the oracle"
                break
    for op in res["ops"]:
        if op["ok"] and op["name"] in rows and op["rows"] != rows[op["name"]]:
            bad.setdefault(op["name"], f"op returned {op['rows']} rows, warm-up {rows[op['name']]}")
    return bad


def check_etl(res, truth):
    """Check each tick's BatchResult and the final warehouse against the
    generator's planted ground truth. Returns (bad op ids, problems)."""
    ticks = truth["ticks"]
    problems, bad_ops = [], set()

    def expect(i, result):
        t = ticks[i]
        return result == f"{t['facts']},{t['dims']}"

    for op in res["warmup_ticks"]:
        i = int(op["name"].split("-")[1].split(".")[0])
        if not op["ok"] or not expect(i, op["result"]):
            problems.append(f"warm-up {op['name']}: {op['error'] or op['result']}, expected "
                            f"{ticks[i]['facts']},{ticks[i]['dims']}")
    for op in res["ops"]:
        i = int(op["name"].split("-")[1].split(".")[0])
        if op["ok"] and not expect(i, op["result"]):
            bad_ops.add(op["id"])
            problems.append(f"{op['name']}: BatchResult {op['result']}, expected "
                            f"{ticks[i]['facts']},{ticks[i]['dims']}")
    wh = res["warehouse"]
    loaded = ticks[:wh["ticks_loaded"]]
    want = {
        "facts": sum(t["facts"] for t in loaded),
        "fact_keys": sum(t["facts"] for t in loaded),
        "null_bikes": sum(t["null_bikes"] for t in loaded),
        "null_spaces": sum(t["null_spaces"] for t in loaded),
        "min_record_time": min(t["min_utc"] for t in loaded),
        "max_record_time": max(t["max_utc"] for t in loaded),
        "dims": sum(t["dims"] for t in loaded),
        "dim_keys": sum(t["dims"] for t in loaded),
        "null_total_spaces": sum(t["null_total_spaces"] for t in loaded),
    }
    for k, v in want.items():
        if wh[k] != v:
            problems.append(f"warehouse {k}: {wh[k]}, expected {v}")
    return bad_ops, problems


# ---- metrics -----------------------------------------------------------------

def end_to_end(res, ops, ok_ops):
    secs = [o["seconds"] for o in ops]
    return {
        "setup_s": res["setup_s"],
        "op_p50_s": stats.percentile(secs, 0.5),
        "op_p90_s": stats.percentile(secs, 0.9),
        "ops_per_s": ok_ops / res["measured_s"],
        "success_frac": ok_ops / len(ops),
        "heap_retained_mb": res["heap_retained_mb"],
    }


def overhead(ops):
    """Geometric mean, over traced ops, of the op's latency over that of
    its untraced twin (the same query in the same pass, run just before
    or after it), minus one. The second run of a twin pair is faster
    whichever is traced; pairs alternate the order, and the geometric
    mean cancels that. A tick cannot repeat, so a traced tick is compared
    with the mean of the untraced ticks just before and after."""
    by_pass = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o)
    ratios = []
    for o in ops:
        if not o["traced"]:
            continue
        twin = [x["seconds"] for x in by_pass[o["pass"]]
                if not x["traced"] and x["name"] == o["name"]]
        base = twin or [x["seconds"] for x in by_pass.get(o["pass"] - 1, []) +
                        by_pass.get(o["pass"] + 1, []) if not x["traced"]]
        if base:
            ratios.append(math.log(o["seconds"] / (sum(base) / len(base))))
    return math.exp(sum(ratios) / len(ratios)) - 1.0 if ratios else 0.0


def per_layer(res, cpus):
    traced = [o for o in res["ops"] if o["traced"]]
    n = max(1, len(traced))

    def mean(key):
        return sum(o["layers"].get(key, 0.0) for o in traced) / n

    def part(key):
        return sum(dict(o["parts"]).get(key, 0.0) for o in traced) / n

    wall = sum(o["seconds"] for o in traced)
    m = {
        "trace.overhead_frac": overhead(res["ops"]),
        "setup.warmup_s": res["warmup_s"],
        "tables.prime_s": res["prime_s"],
        "tables.cached_partitions": res["storage_start_partitions"],
        "tables.cached_mb": res["storage_start_mb"],
        "queries.build_s": part("build_s"),
        "plan.plan_s": part("plan_s"),
        "exec.run_s": part("exec_s"),
        "spark.slot_util": mean("task_run_s") * n / (wall * cpus) if wall else 0.0,
        "etl.fetch_s": part("fetch_s"),
        "etl.keys_read_s": part("keys_read_s"),
        "etl.sink_write_s": part("sink_write_s"),
        "etl.transform_s": part("transform_s"),
        "etl.jobs_per_tick": mean("jobs") if res.get("warehouse") else 0.0,
        "stream.trigger_p50_s": stats.percentile(res["trigger_s"], 0.5) if res["trigger_s"] else 0.0,
        "storage.pinned_mb": sum(o["pinned_mb"] for o in traced) / n - res["storage_start_mb"],
        "storage.pinned_end_mb": res["storage_end_mb"] - res["storage_start_mb"],
        "storage.cached_rdds": sum(o["cached_rdds"] for o in traced) / n,
        "host.cpu_probe_s": stats.median([res["host"]["cpu_probe_start_s"],
                                          res["host"]["cpu_probe_end_s"]]),
        "trace.op_p50_s": stats.percentile([o["seconds"] for o in traced], 0.5),
    }
    for k in ("jobs", "stages", "tasks", "sched_delay_s", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb", "output_mb",
              "failed_tasks"):
        m[f"spark.{k}"] = mean(k)
    for k in ("triggers", "add_batch_s", "wal_commit_s", "query_planning_s", "state_commit_s",
              "state_rows"):
        m[f"stream.{k}"] = mean(k)
    return m


def op_rows(res):
    rows = []
    for o in res["ops"]:
        r = {"op": o["id"], "name": o["name"], "pass": o["pass"], "traced": o["traced"],
             "ok": o["ok"], "seconds": o["seconds"], **dict(o["parts"])}
        if o["traced"]:
            r.update({"jobs": o["layers"].get("jobs", 0), "tasks": o["layers"].get("tasks", 0),
                      "shuffle_write_mb": o["layers"].get("shuffle_write_mb", 0),
                      "shuffle_read_mb": o["layers"].get("shuffle_read_mb", 0),
                      "pinned_mb": o["pinned_mb"]})
        rows.append(r)
    return rows


def commit():
    """The checkout's git commit, or None outside a git repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload}; known: {sorted(WORKLOADS)}")
    kind = WORKLOADS[args.workload]
    try:
        cp, digest = build.classpath()
    except build.BuildError as e:
        log(str(e))
        sys.exit(2)

    started = time.time()
    work = ROOT / ".bench_build" / "work" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    data = work / "data"
    params = {"kind": kind, "data": str(data), "out": str(work / "result.json"),
              "trace": str(args.trace), "seed": str(args.seed), "cpus": str(cores())}
    # a fixed amount of work sized from --seconds, so every run measures
    # the same ops
    if kind == "queries":
        gen.write_tables(data, args.seed, SF)
        params.update(names=",".join(QUERY_MIX), dump=str(work / "dump"),
                      passes=str(max(1, round(args.seconds / PASS_S))))
    else:
        ticks = max(1, round(args.seconds / TICK_S))
        truth = gen.write_ticks(data, args.seed, WARM_TICKS + ticks)
        params.update(warehouse=str(work / "warehouse"), warm_ticks=str(WARM_TICKS),
                      ticks=str(ticks))
    gen_s = time.time() - started
    try:
        res = run_jvm(cp, work, params, JVM_TIMEOUT_S - gen_s)
    except RuntimeError as e:
        log(str(e))
        sys.exit(3)
    jvm_s = time.time() - started - gen_s

    ops = res["ops"]
    if kind == "queries":
        bad = check_queries(res, data, work / "dump")
        problems = [f"{k}: {v}" for k, v in sorted(bad.items())]
        failed_ids = {o["id"] for o in ops if not o["ok"] or o["name"] in bad}
    else:
        bad_ops, problems = check_etl(res, truth)
        failed_ids = {o["id"] for o in ops if not o["ok"]} | bad_ops
    problems += [f"op {o['id']} {o['name']}: {o['error']}" for o in ops if not o["ok"]]
    ok_ops = len(ops) - len(failed_ids)
    check_s = time.time() - started - gen_s - jvm_s

    cpus = int(params["cpus"])
    values = per_layer(res, cpus) if args.trace else end_to_end(res, ops, ok_ops)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds,
        "host": {**res["host"], "commit": commit(), "source_digest": digest,
                 "generate_s": gen_s},
        "ops": len(ops), "p90_resolved": stats.tail_resolved(len(ops), 0.9),
        "metrics": values, "problems": problems, "op_rows": op_rows(res),
        "spans": res["spans"],
    }
    runs = ROOT / ".bench_build" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1))
    for p in problems[:20]:
        log(p)
    log(f"{args.workload} seed {args.seed}: {len(ops)} ops in {res['measured_s']:.1f} s, "
        f"setup {res['setup_s']:.1f} s, checks {res['checks_s']:.1f} s, warm-up {res['warmup_s']:.1f} s, "
        f"cpu probe {res['host']['cpu_probe_start_s']:.3f}/{res['host']['cpu_probe_end_s']:.3f} s, "
        f"generate/jvm/check {gen_s:.1f}/{jvm_s:.1f}/{check_s:.1f} s")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": len(ops),
                      "failed": len(failed_ids), "metrics": metrics}))


if __name__ == "__main__":
    main()
