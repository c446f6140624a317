#!/usr/bin/env python3
"""The repository benchmark: closed-loop passes over the oracle-gated query surface.

One client runs one op at a time in a single JVM at local[4]; the next op
starts only when the previous one returned. An op is one registered query
(tune, DataFrame build, planning, `queryExecution.toRdd.count()`), as
`graft.Bench` runs it. Each workload is a fixed list of ops cut from one
layer of the repository (see WORKLOADS). The input is one fixed set of sf0.1
tables (perfbench/datagen.py); the seed permutes the op order of every pass.

A run builds the program from source when the tree changed, generates the
tables once per checkout, sets up (JVM start, session, two warm passes, the
first of which writes every op's result), measures timed passes for --seconds, then
compares each op's result with its DuckDB oracle (`SparkEntry.oracleSql`)
under the rules of tools/check.py.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 18 --trace 0

The last stdout line is one JSON object: {correct, attempted, failed,
metrics}. --trace 0 reports the end-to-end metrics, measured untraced;
--trace 1 runs untraced and traced passes (untraced, traced, traced,
untraced, ...) and reports the per-layer metrics, including the tracing
overhead. Per-op records (ops.jsonl), the
pass roll-ups (summary.json) and, when traced, the span trees (spans.json)
stay under .bench_build/out/<workload>-seed<n>-trace<t>/; every run's result
line is appended to .bench_build/results.jsonl for perfbench/compare.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(ROOT, ".bench_build")

CORES = 4
HEAP = "4g"
SF = 0.1
ORACLE_TIMEOUT_S = 60

# Each workload is a fixed op list, so passes of different seeds do the
# same work; the seed changes only the order. The lists are
# cut small enough that a whole run, set-up (JVM start plus two warm passes)
# included, stays near one minute.
WORKLOADS = {
    # one op per family of the 135 non-t_*/st_* queries: the pricing-summary
    # aggregate, del-ins, the interval-join rule, the Avro sink, a lake
    # export, an unpartitioned-window quality check, XDR decode (incl. the
    # Janino fallback of graft_xdr_u32) and current state; the versioned sink
    # is exercised by drains
    "warehouse": [
        "d1_del_ins", "j3_interval_binned", "k3_avro_export", "lake_ledgers",
        "q1_pricing_summary", "qa_ewma_volume", "s2_xdr_decode", "w1_current_state"],
    # watermarked dedup state, and versioned commits per micro-batch
    "drains": ["st_dedup", "st_versioned_ingest"],
}

# Process CPU per pass is a per-layer metric (jvm.process_cpu_s), not an
# end-to-end one: on a shared host, contention from other guests raised it
# by ~50% in a third of the runs (wall time by ~15%), a spread across seeds
# of 0.23-0.55.
END_TO_END = {  # name -> unit
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "heap_retained_mb": "MB",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, cwd, timeout, env=None):
    """Run a child to completion; its output goes to our stderr."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=timeout)
    except BaseException:  # time-out, SIGTERM (see main) or Ctrl-C: stop the child too
        p.kill()
        p.wait()
        raise


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            f for f in glob.glob(os.path.join(top, "**", "*"), recursive=True)
            if os.path.isfile(f) and f"{os.sep}target{os.sep}" not in f
            and f"{os.sep}project{os.sep}project{os.sep}" not in f)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness when their sources changed."""
    sources = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")] + [HARNESS]
    stamp = os.path.join(WORK, "build.stamp")
    launch = [os.path.join(HARNESS, "target", f) for f in ("classpath.txt", "jvm_options.txt")]
    digest = tree_digest(sources)
    if all(os.path.exists(f) for f in launch) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false").strip()
    log("building program and harness")
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                   HARNESS, timeout=800, env=env)
    if rc != 0:
        raise SystemExit(f"build failed (exit {rc})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return launch


def java_cmd(launch, tmp):
    classpath = open(launch[0]).read().strip()
    opts = [o for o in open(launch[1]).read().split("\n") if o and not o.startswith("-Xmx")]
    return (["java"] + opts + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", classpath, "perfbench.Harness"])


def run_harness(launch, workload, ops, data, out, seed, seconds, trace):
    tmp = os.path.join(out, "tmp")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    args = {"workload": workload, "ops": ",".join(ops), "data": data, "out": out,
            "seed": seed, "seconds": seconds, "trace": trace, "cores": CORES}
    cmd = java_cmd(launch, tmp) + [x for k, v in args.items() for x in (f"--{k}", str(v))]
    rc = run_child(cmd, ROOT, timeout=150)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        raise SystemExit(f"harness failed (exit {rc})")
    with open(os.path.join(out, "summary.json")) as f:
        return json.load(f)


# ---- output check -----------------------------------------------------------

def oracle_rows(con, sql, key, cache_dir):
    """The oracle's canonical rows for one op, cached by SQL and input."""
    import duckdb
    from check import canon
    path = os.path.join(cache_dir, hashlib.sha256((key + "\0" + sql).encode()).hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        odf = con.execute(sql).fetchdf()
        cols = sorted(odf.columns)
        res = {"columns": cols,
               "rows": [list(r) for r in canon(odf[cols].itertuples(index=False, name=None))]}
    except (duckdb.InterruptException, duckdb.OutOfMemoryException) as e:
        # out of time, memory or spill space: the op stays unchecked
        res = {"unchecked": str(e).splitlines()[0][:200]}
    except duckdb.Error as e:
        res = {"error": str(e).splitlines()[0][:200]}
    finally:
        timer.cancel()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(path + ".tmp", path)
    return res


def check_outputs(res_dir, data, input_key, warm_errors):
    """op -> 'pass' | 'fail: why' | 'unchecked: why', by tools/check.py's rules."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    from check import canon
    from datagen import TABLES
    con = duckdb.connect()
    spill = os.path.join(WORK, "duckdb_tmp")
    con.execute(f"SET temp_directory='{spill}'; SET max_temp_directory_size='2GB'; "
                f"SET memory_limit='3GB'; SET threads={CORES}")
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(res_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdicts = {}
    for name, sql in sorted(oracle.items()):
        if name in warm_errors:
            verdicts[name] = f"fail: warm pass threw: {warm_errors[name]}"
            continue
        o = oracle_rows(con, sql, input_key, os.path.join(WORK, "oracle"))
        if "unchecked" in o:
            verdicts[name] = f"unchecked: oracle did not finish: {o['unchecked']}"
            continue
        if "error" in o:
            verdicts[name] = f"fail: oracle error: {o['error']}"
            continue
        parts = sorted(glob.glob(os.path.join(res_dir, name, "*.parquet")))
        if not parts:
            verdicts[name] = "fail: no spark output"
            continue
        sdf = pd.concat([pq.read_table(p).to_pandas() for p in parts], ignore_index=True)
        scols = sorted(sdf.columns)
        if scols != o["columns"]:
            verdicts[name] = f"fail: columns differ: oracle {o['columns']} spark {scols}"
            continue
        s = [list(r) for r in canon(sdf[scols].itertuples(index=False, name=None))]
        if len(s) != len(o["rows"]):
            verdicts[name] = f"fail: rowcount oracle={len(o['rows'])} spark={len(s)}"
        elif s != o["rows"]:
            verdicts[name] = "fail: values differ"
        else:
            verdicts[name] = "pass"
    con.close()
    shutil.rmtree(spill, ignore_errors=True)
    return verdicts


# ---- metrics ----------------------------------------------------------------

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[1], q[2]


def percentile(xs, p):
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1] if len(xs) > 1 else xs[0]


def end_to_end(summary, records):
    """An op's wall in a run is its median over the untraced timed passes, so
    a burst of host contention that slows one pass of an op drops out; the
    pass and percentile metrics are taken over those per-op walls."""
    timed = {p["pass"] for p in summary["passes"] if not p["traced"]}
    by_op = {}
    for r in records:
        if r["pass"] in timed:
            by_op.setdefault(r["op"], []).append(r["wall_s"])
    walls = sorted(statistics.median(ws) for ws in by_op.values())
    return {
        "setup_s": summary["setup_s"],
        "pass_s": sum(walls),
        "op_p50_s": statistics.median(walls),
        "op_p90_s": percentile(walls, 90),
        "heap_retained_mb": max(r["heap_retained_mb"] for r in records if r["pass"] > 0),
    }, walls


def per_layer(summary):
    traced = [p for p in summary["passes"] if p["traced"]]
    untraced = [p for p in summary["passes"] if not p["traced"]]
    keys = sorted({k for p in traced for k, v in p.items()
                   if "." in k and isinstance(v, (int, float)) and not isinstance(v, bool)})
    out = {k: statistics.median(p.get(k, 0.0) for p in traced) for k in keys}
    renames = {"tune_s": "core.tune_s", "plan_s": "spark.plan_s", "exec_s": "spark.exec_s",
               "cpu_s": "jvm.process_cpu_s", "gc_s": "jvm.gc_s",
               "between_op_gc_s": "jvm.between_op_gc_s"}
    for k, name in renames.items():
        out[name] = statistics.median(p[k] for p in traced)
    for m in ("queries", "sources", "streaming"):
        out.setdefault(f"{m}.build_s", 0.0)
    out["op.remainder_s"] = statistics.median(p["remainder_s"] for p in traced)
    for k in ("core.session_s", "jvm.jit_s", "spark.codegen_compiles_setup"):
        out[k] = summary[k]
    out["trace.overhead_frac"] = (statistics.median(p["wall_s"] for p in traced)
                                  / statistics.median(p["wall_s"] for p in untraced) - 1.0)
    return out


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"not a graft checkout: {need} is missing under {ROOT}")
            return 2
    sys.path[:0] = [HERE, os.path.join(ROOT, "tools")]
    import datagen
    ops = WORKLOADS[a.workload]
    os.makedirs(WORK, exist_ok=True)
    launch = build()

    with open(datagen.__file__, "rb") as f:
        input_key = f"{hashlib.sha256(f.read()).hexdigest()[:16]}-sf{SF}"
    data = os.path.join(WORK, "data", input_key)
    if not os.path.exists(os.path.join(data, "done")):
        shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
        t0 = time.time()
        datagen.generate(data, SF)
        open(os.path.join(data, "done"), "w").close()
        log(f"generated sf{SF} tables in {time.time() - t0:.1f} s")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(WORK, "out", tag)
    t0 = time.time()
    summary = run_harness(launch, a.workload, ops, data, out, a.seed, a.seconds, a.trace)
    log(f"harness ran in {time.time() - t0:.1f} s")
    with open(os.path.join(out, "ops.jsonl")) as f:
        records = [json.loads(line) for line in f if line.strip()]

    t0 = time.time()
    verdicts = check_outputs(os.path.join(out, "results"), data, input_key, summary["warm_errors"])
    log(f"checked outputs in {time.time() - t0:.1f} s")
    shutil.rmtree(os.path.join(out, "results"), ignore_errors=True)
    timed = [r for r in records if r["pass"] > 0]
    wrong = {n for n, v in verdicts.items() if v.startswith("fail")}
    unchecked = sorted(n for n, v in verdicts.items() if v.startswith("unchecked"))
    failed = sum(1 for r in timed if not r["ok"] or r["op"] in wrong)
    threw = sorted({r["op"] for r in timed if not r["ok"]})

    e2e, walls = end_to_end(summary, records)
    q1, q2, q3 = quartiles(walls)
    n_passes = len([p for p in summary["passes"] if not p["traced"]])
    print(f"workload {a.workload}: {len(ops)} ops, seed {a.seed}, local[{CORES}], "
          f"sf{SF}, closed loop with one client, {n_passes} untraced timed passes")
    for k, unit in END_TO_END.items():
        print(f"  {k:18s} {e2e[k]:12.4f} {unit}")
    print(f"  per-op median walls over {n_passes} passes: n={len(walls)} q1={q1:.4f} "
          f"median={q2:.4f} q3={q3:.4f} s; {sum(1 for w in walls if w > e2e['op_p90_s'])} "
          "ops beyond p90")
    print(f"  failed_frac {failed / max(1, len(timed)):.4f} ratio ({failed}/{len(timed)})")
    print(f"  failed ops: {', '.join(sorted(wrong | set(threw))) or 'none'}")
    for n in sorted(wrong):
        print(f"    {n}: {verdicts[n]}")
    print(f"  unchecked ops: {', '.join(unchecked) or 'none'}")
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(per_layer(summary).items())}
        for k, v in metrics.items():
            print(f"  {k:32s} {v['value']:14.4f} {v['unit']}")
    result = {"correct": not wrong and not unchecked and not threw,
              "attempted": len(timed), "failed": failed, "metrics": metrics}
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, **result}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # SIGTERM unwinds like an exit, so run_child stops the build or the harness
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main(sys.argv[1:]))
